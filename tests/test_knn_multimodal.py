"""ANN search tests (exact, IVF and LSH top-k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.operators.knn import brute_topk, hyperplane_lsh_topk, ivf_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_brute_topk_shape_and_order(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = brute_topk(emb, queries, k=3).collect()
    assert len(got) == 15
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["sim"], r["nn_id"]))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s, _ in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(nn != q for _, _, nn in rows)


def test_lsh_topk_recall_vs_brute(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["nn_id"])
        for r in brute_topk(emb, queries, k=3).collect()
    }
    # This corpus has weak NN structure (top-1 cosine ≈ 0.35), so bucket
    # collision probability per bit is only ~0.6 — short sketches + several
    # tables is the measured operating point (recall 0.67 at 4 bits × 8).
    approx = {
        (r["q_id"], r["nn_id"])
        for r in hyperplane_lsh_topk(emb, queries, dim=64, k=3, bits=4, tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_ivf_probe_all_cells_equals_brute(spark, emb):
    """Probing every cell makes IVF exhaustive: the inverted-list union is
    the whole corpus, so the rerank must reproduce brute_topk exactly —
    bounding the IVF approximation to the probe policy alone."""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sorted(map(tuple, brute_topk(emb, queries, k=3).collect()))
    ivf = sorted(
        map(tuple, ivf_topk(emb, queries, k=3, n_cells=4, n_probe=4, iters=1).collect())
    )
    assert ivf == exact


def test_ivf_partial_probe_recall_and_determinism(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["nn_id"]) for r in brute_topk(emb, queries, k=3).collect()
    }
    run1 = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=3, iters=1).collect()
    run2 = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=3, iters=1).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))
    approx = {(r["q_id"], r["nn_id"]) for r in run1}
    recall = len(exact & approx) / len(exact)
    # weak-NN corpus (top-1 cosine ≈ 0.35): probing 3/8 cells still recovers
    # a usable share of true neighbors; exactness is pinned by probe-all above
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_md5_lsh_topk_deterministic_and_recall(spark, emb):
    """The oracle-replayable LSH variant: md5-derived ±1 planes, integer
    sketches. Deterministic across runs; candidates within shared buckets
    recover a usable share of the true neighbors."""
    from mapping_analysis_spark.operators.knn import md5_lsh_topk

    queries = emb.filter(F.col("vec_id") < 10)
    r1 = md5_lsh_topk(emb, queries, dim=64, k=3, bits=4, tables=12).collect()
    r2 = md5_lsh_topk(emb, queries, dim=64, k=3, bits=4, tables=12).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    exact = {(r["q_id"], r["nn_id"]) for r in brute_topk(emb, queries, k=3).collect()}
    approx = {(r["q_id"], r["nn_id"]) for r in r1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"md5-LSH recall too low: {recall}"


def test_lsh_deterministic(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, hyperplane_lsh_topk(emb, queries, dim=64).collect()))
    b = sorted(map(tuple, hyperplane_lsh_topk(emb, queries, dim=64).collect()))
    assert a == b


def test_md5_lsh_null_embedding_survives(spark, emb):
    from pyspark.sql.types import ArrayType, FloatType

    from mapping_analysis_spark.operators.knn import md5_lsh_topk

    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None).cast(ArrayType(FloatType()))).otherwise(
            F.col("embedding")
        ),
    )
    out = md5_lsh_topk(
        with_null.filter(F.col("vec_id") > 0),
        with_null.filter(F.col("vec_id").isin(1, 2)),
        dim=64,
        k=3,
        bits=4,
        tables=4,
    ).collect()
    assert len(out) > 0  # no task kill from the NULL row
