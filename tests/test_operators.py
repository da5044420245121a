"""Operator unit tests with exact asserts (the reference's test style:
hand-checked fixtures, exact counts/values — SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.operators.blocking import (
    block_pairs,
    lsh_band_pairs,
    salted_block_pairs,
    top_rank_per_group,
)
from mapping_analysis_spark.operators.clustering import (
    connected_components,
    greedy_merge,
    large_star_small_star,
    representatives,
)
from mapping_analysis_spark.operators.matching import _hungarian, hungarian_matches, max_both

import numpy as np


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        ("r1", 1, "blk1"),
        ("r2", 2, "blk1"),
        ("r3", 3, "blk1"),
        ("r4", 1, "blk1"),  # same source as r1 → never paired with r1
        ("r5", 1, "blk2"),
        ("r6", 2, "blk2"),
        ("r7", 1, "blk3"),  # alone in its block → no pairs
    ]
    return spark.createDataFrame(rows, ["rid", "source", "block_key"])


def _pairset(df):
    return {(r["a_rid"], r["b_rid"]) for r in df.collect()}


EXPECTED_PAIRS = {
    ("r1", "r2"), ("r1", "r3"), ("r2", "r3"), ("r2", "r4"), ("r3", "r4"),
    ("r5", "r6"),
}


def test_block_pairs_exact(spark, records):
    assert _pairset(block_pairs(records)) == EXPECTED_PAIRS


@pytest.mark.parametrize("cap", [1, 2, 100])
def test_salted_block_pairs_equal_plain(spark, records, cap):
    """Salting must never change the pair set, for any split factor."""
    assert _pairset(salted_block_pairs(records, cap=cap)) == EXPECTED_PAIRS


def test_connected_components_min_id(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("y", "z")], ["a", "b"]
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_large_star_small_star_matches_label_prop(spark):
    import random

    rnd = random.Random(7)
    edges = [(f"n{rnd.randrange(40)}", f"n{rnd.randrange(40)}") for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["a", "b"])
    c1 = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    c2 = {r["node"]: r["comp"] for r in large_star_small_star(df).collect()}
    assert c1 == c2


def test_large_star_small_star_raises_when_not_converged(spark):
    """An iteration cap reached before the fixpoint must raise, not return
    labels that split a component."""
    path = spark.createDataFrame([(i, i + 1) for i in range(64)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, driver_threshold=0, max_iter=1).collect()


def test_max_both_mutual_best(spark):
    # r1's best is r2 (0.9) and r2's best is r1 → kept.
    # r3's best is r2 (0.8) but r2's best is r1 → dropped.
    pairs = spark.createDataFrame(
        [("r1", "r2", 0.9), ("r3", "r2", 0.8), ("r3", "r4", 0.5), ("r4", "r3", 0.5)],
        ["a_rid", "b_rid", "sim"],
    )
    got = {(r["a_rid"], r["b_rid"]) for r in max_both(pairs).collect()}
    assert ("r1", "r2") in got
    assert ("r3", "r2") not in got


def test_hungarian_algorithm_optimal():
    cost = np.array([[4.0, 1.0, 3.0], [2.0, 0.0, 5.0], [3.0, 2.0, 2.0]])
    matches = dict(_hungarian(cost))
    total = sum(cost[i, j] for i, j in matches.items())
    assert total == 5.0  # known optimum for this classic matrix


def test_hungarian_matches_operator(spark):
    pairs = spark.createDataFrame(
        [
            ("blk", "a1", "b1", 0.9),
            ("blk", "a1", "b2", 0.8),
            ("blk", "a2", "b1", 0.85),
            ("blk", "a2", "b2", 0.2),
        ],
        ["block", "a_rid", "b_rid", "sim"],
    )
    got = {(r["a_rid"], r["b_rid"]) for r in hungarian_matches(pairs).collect()}
    # optimal total: a1-b2 (0.8) + a2-b1 (0.85) = 1.65 > a1-b1 + a2-b2 = 1.1
    assert got == {("a1", "b2"), ("a2", "b1")}


def test_greedy_merge_source_restrictions(spark):
    """Pair mergeable iff no source overlap and combined count <= max
    (CheckRestrictionsFilterFunction.java:48-52 semantics)."""
    pairs = spark.createDataFrame(
        [
            ("blk", "c1", "c2", 0.95, 1, 2),   # masks 1 & 2 → mergeable
            ("blk", "c1", "c3", 0.90, 1, 1),   # overlap → never merged
            ("blk", "c2", "c4", 0.85, 2, 4),   # c2 gone after merge → re-pointed
        ],
        ["block", "a_rid", "b_rid", "sim", "a_smask", "b_smask"],
    )
    got = {(r["rid"], r["cluster_rid"]) for r in greedy_merge(
        pairs, a_sources="a_smask", b_sources="b_smask", threshold=0.8
    ).collect()}
    # c1+c2 merge first (0.95) → cluster c1 (min id); then c1(mask 3)+c4(mask 4)
    # merge via the re-pointed 0.85 edge → all of c1,c2,c4 → c1; c3 stays.
    assert got == {("c1", "c1"), ("c2", "c1"), ("c4", "c1"), ("c3", "c3")}


def test_greedy_merge_max_sources_cap(spark):
    pairs = spark.createDataFrame(
        [("blk", "c1", "c2", 0.99, 1, 2), ("blk", "c2", "c3", 0.98, 2, 4)],
        ["block", "a_rid", "b_rid", "sim", "a_smask", "b_smask"],
    )
    got = {(r["rid"], r["cluster_rid"]) for r in greedy_merge(
        pairs, a_sources="a_smask", b_sources="b_smask",
        threshold=0.9, max_sources=2,
    ).collect()}
    # c1+c2 merge (2 sources). c1c2+c3 would be 3 sources > cap → blocked.
    assert got == {("c1", "c1"), ("c2", "c1"), ("c3", "c3")}


def test_representatives_majority_and_ties(spark):
    assign = spark.createDataFrame(
        [("cv1", "k"), ("cv2", "k"), ("cv3", "k")], ["conv_id", "cluster_id"]
    )
    turns = spark.createDataFrame(
        [
            ("cv1", 0, "hello world"),
            ("cv2", 0, "hello world"),
            ("cv3", 0, "hello wrld"),   # minority → loses
            ("cv1", 1, "aa"),
            ("cv2", 1, "bbb"),          # tie on votes → longer wins
            ("cv3", 1, "cc"),
        ],
        ["conv_id", "turn_idx", "text"],
    )
    got = {(r["turn_idx"], r["text"]) for r in representatives(assign, turns).collect()}
    assert got == {(0, "hello world"), (1, "bbb")}


def test_lsh_band_pairs_identical_docs_always_candidates(spark):
    from mapping_analysis_spark.functions.simfns import make_minhash_udf

    df = spark.createDataFrame(
        [("d1", ["a", "b", "c"]), ("d2", ["a", "b", "c"]), ("d3", ["x", "y"])],
        ["rid", "toks"],
    )
    u = make_minhash_udf(num_hashes=8)
    sig = df.select("rid", u(F.col("toks")).alias("minhash"))
    got = {(r["a_rid"], r["b_rid"]) for r in lsh_band_pairs(sig, bands=8).collect()}
    assert ("d1", "d2") in got


def test_top_rank_per_group(spark):
    df = spark.createDataFrame(
        [("g1", "x", 5), ("g1", "y", 9), ("g2", "z", 1)], ["g", "v", "n"]
    )
    got = {(r["g"], r["v"]) for r in top_rank_per_group(df, ["g"], [F.col("n").desc()]).collect()}
    assert got == {("g1", "y"), ("g2", "z")}


def test_candidate_creator_chain(spark):
    """CandidateCreator stages 2-6 (``CandidateCreator.java:90-275``):
    threshold, uncovered-cluster recovery as self-triplets, CC block ids,
    per-block optimal assignment."""
    from pyspark.sql import functions as F

    from mapping_analysis_spark.operators.candidates import candidate_creator

    clusters = spark.createDataFrame([(c,) for c in "ABCDEXY"], ["cid"])
    scored = spark.createDataFrame(
        [("A", "B", 0.9), ("A", "C", 0.8), ("X", "Y", 0.2)],
        ["a_cid", "b_cid", "sim"],
    )
    out = candidate_creator(scored, clusters, threshold=0.7)
    rows = {(r["block"], r["a_cid"], r["b_cid"], r["sim"]) for r in out.collect()}
    # block A: A can match only one of B/C → optimal picks the 0.9 edge
    assert ("A", "A", "B", 0.9) in rows
    assert not any(a == "A" and b == "C" for _, a, b, _ in rows)
    # X-Y fell below threshold → X, Y recovered alongside D, E
    selfs = {a for _, a, b, _ in rows if a == b}
    assert selfs == {"D", "E", "X", "Y"}
    assert len(rows) == 5


def test_candidate_creator_lsh_branch(spark):
    """The reference's LSH branch: LshCandidateCreator candidates →
    MergeGeoSimilarity-style scoring → the same recovery/CC/Hungarian tail
    (``CandidateCreator.java:132-275``), composed on a fixture with planted
    near-duplicate labels."""
    from pyspark.sql import functions as F

    from mapping_analysis_spark.functions.simfns import make_minhash_udf, trigram_cosine
    from mapping_analysis_spark.operators.blocking import lsh_band_pairs
    from mapping_analysis_spark.operators.candidates import candidate_creator

    labels = [
        ("c1", "grand hotel continental berlin"),
        ("c2", "grand hotel continental berlim"),  # near-dup of c1
        ("c3", "mount aurora research station"),
        ("c4", "mount aurora research statien"),  # near-dup of c3
        ("c5", "completely unrelated entity"),
    ]
    df = spark.createDataFrame(labels, ["cid", "label"])
    mh = make_minhash_udf(num_hashes=12, shingle_width=2)
    sig = df.select(
        F.col("cid").alias("rid"), mh(F.split("label", " ")).alias("minhash")
    )
    cand = lsh_band_pairs(sig, bands=12, rows_per_band=1).select(
        F.col("a_rid").alias("a_cid"), F.col("b_rid").alias("b_cid")
    )
    la = df.select(F.col("cid").alias("a_cid"), F.col("label").alias("a_label"))
    lb = df.select(F.col("cid").alias("b_cid"), F.col("label").alias("b_label"))
    scored = (
        cand.join(la, "a_cid").join(lb, "b_cid")
        .select("a_cid", "b_cid", trigram_cosine("a_label", "b_label").alias("sim"))
    )
    out = candidate_creator(scored, df.select("cid"), threshold=0.7)
    got = {(r["a_cid"], r["b_cid"]) for r in out.collect() if r["a_cid"] != r["b_cid"]}
    selfs = {r["a_cid"] for r in out.collect() if r["a_cid"] == r["b_cid"]}
    assert got == {("c1", "c2"), ("c3", "c4")}
    assert selfs == {"c5"}


def test_idf_blocking_fast_path_equals_general(spark):
    """With support == top_k the identical-top-set fast path must reproduce
    the general window + share-join + CC formulation exactly."""
    import collections

    from mapping_analysis_spark.functions.text import distinct_tokens
    from mapping_analysis_spark.operators.decomposition import idf_blocking

    t = spark.read.parquet(
        "/root/repo/_synth/sf0.01/transcripts.parquet"
    )
    from mapping_analysis_spark.pipeline import conversation_records

    rec = conversation_records(t).withColumn(
        "toks", distinct_tokens(F.col("doc"))
    ).select("rid", "toks")
    fast = {
        (r["rid"], r["idf_block"])
        for r in idf_blocking(rec, top_k=2, support=2, tokens_distinct=True).collect()
    }
    # independent general-path replay in pure python
    rows = rec.collect()
    df_counts = collections.Counter()
    for r in rows:
        df_counts.update(set(r["toks"]))
    top = {
        r["rid"]: tuple(
            t for _, t in sorted((df_counts[t], t) for t in set(r["toks"]))[:2]
        )
        for r in rows
    }
    groups = collections.defaultdict(list)
    for rid, tp in top.items():
        if len(tp) == 2:
            groups[tp].append(rid)
    expected = {
        (rid, min(members))
        for members in groups.values()
        if len(members) >= 2
        for rid in members
    }
    assert fast == expected and len(fast) > 0
