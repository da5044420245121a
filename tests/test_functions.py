"""Unit tests for text/sim kernels, incl. Spark↔DuckDB fragment parity
(the engine's oracle depends on these being bit-identical)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.functions import sqlgen
from mapping_analysis_spark.functions.simfns import (
    make_minhash_udf,
    make_simhash_udf,
    trigram_cosine,
)
from mapping_analysis_spark.functions.text import (
    blocking_key,
    normalize_text,
    sim_e6,
    token_set_jaccard,
    tokens,
)

SAMPLES = [
    "Hello, World!",
    "THE  Quick   brown fox!!",
    "the lazy dog",
    "a",
    "",
    "123 abc !@# def",
    "ümlaut Ünïcode",
    "x" * 300,
    "the ",
    "  padded  ",
]


@pytest.fixture(scope="module")
def sample_df(spark):
    return spark.createDataFrame([(s,) for s in SAMPLES], ["s"])


def _duck(expr_sql: str):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in SAMPLES])
    return [r[0] for r in con.execute(f"SELECT {expr_sql} FROM t").fetchall()]


def test_normalize_parity(spark, sample_df):
    got = [r[0] for r in sample_df.select(normalize_text(F.col("s"))).collect()]
    want = _duck(sqlgen.norm_sql("s"))
    assert got == want


def test_blocking_key_parity(spark, sample_df):
    got = [r[0] for r in sample_df.select(blocking_key(F.col("s"))).collect()]
    want = _duck(sqlgen.blocking_key_sql("s"))
    assert got == want
    # reference semantics: 4 chars, '#'-padded, leading "the " stripped
    assert dict(zip(SAMPLES, got))["the lazy dog"] == "lazy"
    assert dict(zip(SAMPLES, got))[""] == "####"
    assert dict(zip(SAMPLES, got))["a"] == "a###"


def test_tokens_parity(spark, sample_df):
    got = [list(r[0]) for r in sample_df.select(tokens(F.col("s"))).collect()]
    want = _duck(sqlgen.tokens_sql("s"))
    assert got == [list(w) for w in want]


def test_bpe_ish_tokens_grammar_and_parity(spark):
    """BPE-ish pre-tokenizer: hand-checked grammar cases (contraction
    suffixes, 1-3-digit groups, punctuation runs, space folding) plus
    Spark↔DuckDB parity — the ``doc_bpe_tokens`` oracle depends on the
    Java and RE2 regex engines splitting identically."""
    from mapping_analysis_spark.functions.text import BPE_ISH_PATTERN, bpe_ish_tokens

    cases = {
        "don't stop": ["don", "'t", " stop"],
        "I'll we've": ["I", "'ll", " we", "'ve"],
        "12345 x": ["123", "45", " x"],  # cl100k-style 3-digit grouping
        "hello,world!!": ["hello", ",", "world", "!!"],
        # no lookahead in RE2, so a multi-space run folds into one ' +'
        # token (GPT-2's '\\s+(?!\\S)' would instead leave ' b')
        "a  b": ["a", "  ", "b"],
        "": [],
    }
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    got = [list(r[0]) for r in df.select(bpe_ish_tokens(F.col("s"))).collect()]
    assert got == list(cases.values())

    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in [*cases, *SAMPLES]])
    pat = BPE_ISH_PATTERN.replace("'", "''")
    want = [
        list(r[0])
        for r in con.execute(
            f"SELECT regexp_extract_all(s, '{pat}') FROM t"
        ).fetchall()
    ]
    df_all = spark.createDataFrame([(s,) for s in [*cases, *SAMPLES]], ["s"])
    got_all = [
        list(r[0]) for r in df_all.select(bpe_ish_tokens(F.col("s"))).collect()
    ]
    assert got_all == want


def test_trigram_cosine_known_values(spark):
    # identical strings → 1.0; disjoint → 0.0; hand-computed small case
    df = spark.createDataFrame(
        [("abc", "abc"), ("abc", "xyz"), ("ab", "ab"), ("", "abc"), (None, "x")],
        ["a", "b"],
    )
    got = [r[0] for r in df.select(trigram_cosine("a", "b")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == 0.0
    assert got[2] == pytest.approx(1.0)
    assert got[4] == 0.0


def test_trigram_cosine_multiset(spark):
    # 'aaaa' padded: ##aaaa## → trigram 'aaa' appears twice → multiset math
    df = spark.createDataFrame([("aaaa", "aa")], ["a", "b"])
    got = df.select(trigram_cosine("a", "b")).collect()[0][0]
    # a: ##a #aa aaa aaa aa# a## ; b: ##a #aa aa# a##
    # dot = 4, |a|² = 4+2² = 8? → counts a: {##a:1,#aa:1,aaa:2,aa#:1,a##:1} → na=1+1+4+1+1=8
    # nb = 4 → cos = 4/sqrt(32) = 0.70710678...
    assert got == pytest.approx(4 / (32 ** 0.5))


def test_sim_e6_floor_half_up(spark):
    df = spark.createDataFrame([(0.1234565,), (0.9999999,), (0.0,)], ["x"])
    got = [r[0] for r in df.select(sim_e6(F.col("x"))).collect()]
    assert got == [123457, 1000000, 0]


def test_minhash_deterministic_across_udf_instances(spark):
    df = spark.createDataFrame([(["a", "b", "c"],), (["x"],), ([],)], ["t"])
    u1 = make_minhash_udf(num_hashes=8)
    u2 = make_minhash_udf(num_hashes=8)  # fresh instance, same seed
    s1 = [r[0] for r in df.select(u1(F.col("t"))).collect()]
    s2 = [r[0] for r in df.select(u2(F.col("t"))).collect()]
    assert s1 == s2
    assert len(s1[0]) == 8
    assert s1[2] == [0] * 8  # empty tokens → zero signature


def test_minhash_similarity_correlates(spark):
    """Signature agreement rate approximates Jaccard."""
    a = [f"tok{i}" for i in range(100)]
    b = a[:70] + [f"other{i}" for i in range(30)]  # jaccard ≈ 70/130 ≈ 0.54
    df = spark.createDataFrame([(a,), (b,)], ["t"])
    u = make_minhash_udf(num_hashes=128)
    s1, s2 = [r[0] for r in df.select(u(F.col("t"))).collect()]
    agree = sum(x == y for x, y in zip(s1, s2)) / 128
    assert 0.35 <= agree <= 0.75


def test_simhash_near_duplicates_close(spark):
    a = [f"tok{i}" for i in range(64)]
    b = a[:60] + ["x1", "x2", "x3", "x4"]
    c = [f"zzz{i}" for i in range(64)]
    df = spark.createDataFrame([(a,), (b,), (c,)], ["t"])
    u = make_simhash_udf()
    # tokens are hashed JVM-side — the kernel consumes int64 arrays
    hashed = F.transform(F.col("t"), lambda x: F.xxhash64(x))
    h = [r[0] for r in df.select(u(hashed)).collect()]
    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(h[0], h[1]) < ham(h[0], h[2])
    assert ham(h[0], h[1]) <= 16


def test_min_perm_exact():
    """The MinHash modmul must equal exact big-int (a*x+b) mod p — the
    universal-hash guarantee the LSH miss-probability math assumes."""
    import numpy as np

    from mapping_analysis_spark.functions.simfns import MERSENNE_P, _min_perm

    rng = np.random.default_rng(7)
    a = rng.integers(1, MERSENNE_P, size=16, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=16, dtype=np.int64)
    # include the overflow-triggering regime: hi >= 2^32 happens for most x
    x = rng.integers(0, 1 << 32, size=64, dtype=np.int64)
    got = _min_perm(x, a, b)
    for i in range(16):
        want = min((int(a[i]) * int(v) + int(b[i])) % MERSENNE_P for v in x)
        assert int(got[i]) == want


def test_union_find_deep_chain():
    """A path-shaped component longer than the recursion limit must not
    crash (find is iterative with path halving)."""
    from mapping_analysis_spark.operators.clustering import UnionFind

    uf = UnionFind()
    n = 20000
    for i in range(n - 1, 0, -1):  # descending order builds the worst chain
        uf.union(i, i + 1)
    comps = uf.components()
    assert set(comps.values()) == {1}


def test_connected_components_preserves_id_dtype(spark):
    """Empty and non-empty results must agree on the id column type
    (callers union/join on it)."""
    from pyspark.sql.types import LongType

    from mapping_analysis_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    empty = spark.createDataFrame([], "a long, b long")
    got = connected_components(edges)
    got_empty = connected_components(empty)
    assert got.schema["node"].dataType == LongType()
    assert got_empty.schema == got.schema
    assert {(r.node, r.comp) for r in got.collect()} == {(1, 1), (2, 1)}


def test_short_doc_shingle_parity(spark):
    """Documents shorter than the shingle width: Spark's concat_ws skips the
    NULL out-of-range element_at; the DuckDB oracle must do the same."""
    import duckdb as _duckdb

    from __spark_entry__ import _DOC_SHINGLES_SQL

    from mapping_analysis_spark.operators.dedup import word_shingles

    rows = [(1, "a b"), (2, "only"), (3, "a b c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: sorted(r.sg)
        for r in df.withColumn("_tk", F.split("text", " "))
        .select("doc_id", word_shingles(F.col("_tk"), 3).alias("sg"))
        .collect()
    }
    con = _duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: sorted(r[1])
        for r in con.execute(f"WITH {_DOC_SHINGLES_SQL} SELECT doc_id, sg FROM sh").fetchall()
    }
    assert got == want
    assert got[1] == ["a b"]


def test_token_jaccard_values(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["b", "c"]), (["a"], ["a"]), ([], [])],
        ["x", "y"],
    )
    got = [r[0] for r in df.select(token_set_jaccard(F.col("x"), F.col("y"))).collect()]
    assert got == [pytest.approx(1 / 3), 1.0, 0.0]


def test_xxhash64_replica(spark):
    """The pure-Python oracle-side xxhash64 must be bit-exact with Spark's
    (strings, chained longs, null-skip)."""
    from pyspark.sql import functions as F

    from mapping_analysis_spark.data.oracle_features import (
        xxhash64_longs,
        xxhash64_str,
    )

    samples = ["", "a", "hello world", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
               "v" * 100, "ümlaut", "##aa##"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [xxhash64_str(s) for s in samples]
    longs = [(1, 2, 3), (0, 0, 0), (-1, -2, -3), (2**62, -(2**62), 7)]
    df2 = spark.createDataFrame(longs, ["a", "b", "c"])
    got2 = [r[0] for r in df2.select(F.xxhash64("a", "b", "c")).collect()]
    assert got2 == [xxhash64_longs(list(t)) for t in longs]
    df3 = spark.createDataFrame([(1, None)], "a long, b long")
    assert df3.select(F.xxhash64("a", "b")).collect()[0][0] == xxhash64_longs([1])


def test_band_table_matches_spark(spark):
    """The oracle-side LSH band table must equal the engine's banding
    row-for-row (this pins the conv_dedup_full oracle's shared parquet)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapping_analysis_spark.data.oracle_features import band_table
    from mapping_analysis_spark.data.transcripts import ensure_transcripts
    from mapping_analysis_spark.functions.simfns import band_keys
    from mapping_analysis_spark.pipeline import (
        DEFAULT_LSH_BANDS,
        conversation_records,
        featurize_records,
    )

    p = ensure_transcripts("/root/testdata/sf0.001")
    rec = featurize_records(conversation_records(spark.read.parquet(p)))
    got = (
        rec.select(
            "rid",
            F.posexplode(band_keys("minhash", DEFAULT_LSH_BANDS)).alias("band_idx", "band_hash"),
        )
        .toPandas()
        .sort_values(["rid", "band_idx"])
        .reset_index(drop=True)
    )
    want = band_table(pd.read_parquet(p)).sort_values(["rid", "band_idx"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got["rid"].to_numpy() == want["rid"].to_numpy()).all()
    assert (got["band_hash"].to_numpy().astype("int64") == want["band_hash"].to_numpy().astype("int64")).all()


def test_session_memo_keys_on_application_and_evicts_other_apps():
    """One build per (applicationId, args); a lookup under another
    application evicts the old one's entries from every memoized function."""
    from types import SimpleNamespace

    from __spark_entry__ import _session_memo

    calls = []

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    @_session_memo
    def build(spark, sf_dir):
        calls.append((spark.sparkContext.applicationId, sf_dir))
        return object()

    @_session_memo
    def other(spark):
        calls.append((spark.sparkContext.applicationId, "other"))
        return object()

    first = build(session("app-1"), "sf0.01")
    assert build(session("app-1"), "sf0.01") is first
    build(session("app-1"), "sf0.1")
    other(session("app-1"))
    assert calls == [("app-1", "sf0.01"), ("app-1", "sf0.1"), ("app-1", "other")]

    build(session("app-2"), "sf0.01")
    assert build(session("app-1"), "sf0.01") is not first
    other(session("app-1"))
    assert calls[3:] == [("app-2", "sf0.01"), ("app-1", "sf0.01"), ("app-1", "other")]
