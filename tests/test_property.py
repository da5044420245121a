"""Property-based tests (hypothesis) over the pure-python/numpy kernels:
union-find vs a BFS reference, BPE grammar exhaustiveness, the Jaro-Winkler
and simmetrics trigram kernels vs their scalars. No SparkSession — this
module is fast and exercises the kernels across a much wider input space
than the fixture tests."""

from __future__ import annotations

import re
from collections import deque

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mapping_analysis_spark.functions.text import BPE_ISH_PATTERN
from mapping_analysis_spark.operators.clustering import UnionFind


@settings(max_examples=50, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=60
    )
)
def test_union_find_matches_bfs_reference(edges):
    """UnionFind component ids == min reachable node id, per an independent
    BFS — the invariant the whole dedup/clustering stack keys on."""
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    got = uf.components()

    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for start in adj:
        if start in want:
            continue
        seen, q = {start}, deque([start])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    q.append(v)
        root = min(seen)
        for u in seen:
            want[u] = root
    assert got == want


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.text(max_size=200))
def test_bpe_grammar_is_exhaustive(s):
    """The BPE-ish pre-tokenizer partitions the input: concatenating the
    matches reconstructs the original string exactly (every character class
    is covered by some alternative), so token counts are a true partition
    statistic. Python re shares leftmost-first semantics with Java/RE2 (the
    engine-parity of the split itself is pinned in test_functions)."""
    toks = re.findall(BPE_ISH_PATTERN, s)
    assert "".join(toks) == s


def _jw_scalar_reference(x: str, y: str) -> float:
    """Literal Jaro-Winkler from the scalar Jaro (the spec both vectorized
    kernels claim to be bit-identical to)."""
    from mapping_analysis_spark.functions.simfns import _jaro

    j = _jaro(x, y)
    if j > 0.7:
        l = 0
        for cx, cy in zip(x[:4], y[:4]):
            if cx == cy:
                l += 1
            else:
                break
        j = j + l * 0.1 * (1 - j)
    return j


@settings(max_examples=150, deadline=None, derandomize=True)
@given(
    x=st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=40),
    y=st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=40),
)
def test_jaro_winkler_bit_kernel_matches_scalar(x, y):
    """The bit-parallel ASCII kernel must be bit-identical to the scalar
    Jaro-Winkler on arbitrary ASCII inputs (the oracle depends on it)."""
    import pandas as pd

    from mapping_analysis_spark.functions.simfns import jaro_winkler

    got = float(jaro_winkler.func(pd.Series([x]), pd.Series([y])).iloc[0])
    assert got == _jw_scalar_reference(x, y)


@settings(max_examples=80, deadline=None, derandomize=True)
@given(
    x=st.text(max_size=30),
    y=st.text(max_size=30),
)
def test_jaro_winkler_masked_kernel_matches_scalar(x, y):
    """Non-ASCII (and NUL-bearing) inputs route to the masked-matrix kernel
    — same bit-identity contract vs the scalar reference."""
    import pandas as pd

    from mapping_analysis_spark.functions.simfns import jaro_winkler

    got = float(jaro_winkler.func(pd.Series([x]), pd.Series([y])).iloc[0])
    assert got == _jw_scalar_reference(x, y)


@settings(max_examples=120, deadline=None, derandomize=True)
@given(x=st.text(max_size=25), y=st.text(max_size=25))
@example("", "#")
def test_simmetrics_trigram_kernel_matches_counter_scalar(x, y):
    """The vectorized simmetrics trigram-cosine (the metric every real-data
    quality anchor rests on) must be bit-identical to the Counter-based
    scalar across arbitrary strings, not just the fixture labels."""
    import pandas as pd

    from mapping_analysis_spark.music import (
        _simmetrics_cosine,
        _trigrams,
        trigram_cosine_simmetrics,
    )

    got = float(trigram_cosine_simmetrics.func(pd.Series([x]), pd.Series([y])).iloc[0])
    ta, tb = _trigrams(x), _trigrams(y)
    want = _simmetrics_cosine(ta, sum(ta.values()), tb, sum(tb.values()))
    assert got == want
