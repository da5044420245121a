"""Tests for the P/R/F1 evaluation operator and the exactly-once state table."""

from __future__ import annotations

import os

from mapping_analysis_spark.operators.evaluation import cluster_pairs, pair_quality
from mapping_analysis_spark.streaming.sinks import CommitLog, SnapshotStateTable


def test_cluster_pairs_explosion(spark):
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g1", "c"), ("g2", "x")], ["g", "m"]
    )
    got = {(r["a"], r["b"]) for r in cluster_pairs(df, "g", "m").collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_pair_quality_counts(spark):
    pred = spark.createDataFrame(
        [("c1", "a"), ("c1", "b"), ("c2", "c"), ("c2", "d")], ["cluster_id", "conv_id"]
    )
    gold = spark.createDataFrame(
        [("e1", "a"), ("e1", "b"), ("e1", "c"), ("e2", "d")], ["entity_id", "conv_id"]
    )
    row = pair_quality(pred, gold).collect()[0]
    # pred pairs: (a,b), (c,d); gold pairs: (a,b), (a,c), (b,c); tp = 1
    assert row["tp"] == 1 and row["n_pred"] == 2 and row["n_gold"] == 3
    assert row["precision_e6"] == 500000
    assert row["recall_e6"] == 333333


def test_snapshot_state_table_exactly_once(spark, tmp_path):
    """A batch shows once its marker commits; ``discard`` deletes an
    uncommitted batch; merge-on-read, tombstones, compaction and prune work
    on committed batches."""
    log = CommitLog(str(tmp_path))
    st = SnapshotStateTable(spark, log, "t", ["k"], compact_every=3)

    def view():
        return {(r["k"], r["v"]) for r in st.read().collect()}

    st.upsert(spark.createDataFrame([("k1", 1), ("k2", 2)], ["k", "v"]), ["k"], 0)
    assert st.versions() == [] and st.read() is None  # no marker yet
    log.commit(0)
    assert view() == {("k1", 1), ("k2", 2)}
    # a killed attempt of batch 1 stays invisible; discard deletes it
    st.upsert(spark.createDataFrame([("k1", 99)], ["k", "v"]), ["k"], 1)
    assert st.versions() == [0] and view() == {("k1", 1), ("k2", 2)}
    st.discard()
    assert os.listdir(st.root) == ["d0000000000"]
    # batch 1 upserts k1 and adds k3
    st.upsert(spark.createDataFrame([("k1", 10), ("k3", 3)], ["k", "v"]), ["k"], 1)
    log.commit(1)
    assert view() == {("k1", 10), ("k2", 2), ("k3", 3)}
    assert st.versions() == [0, 1]
    # batch 2: delete tombstone for k2 — also triggers compaction
    # (compact_every=3) → a fresh base snapshot b2
    st.apply_delta(None, spark.createDataFrame([("k2",)], ["k"]), ["k"], 2)
    log.commit(2)
    want = {("k1", 10), ("k3", 3)}
    assert view() == want
    assert "b0000000002" in os.listdir(st.root)
    # an empty batch writes only the marker
    log.commit(3)
    assert st.versions() == [0, 1, 2] and view() == want
    # prune drops history superseded by the base snapshot
    st.prune(keep_last=1)
    assert st.versions() == [2]
    assert view() == want
    # the in-flight batch sees its own writes before its marker
    log.in_flight = 4
    st.upsert(spark.createDataFrame([("k4", 4)], ["k", "v"]), ["k"], 4)
    assert view() == want | {("k4", 4)}
    log.in_flight = None
    assert view() == want


def test_upsert_writes_are_delta_sized(spark, tmp_path):
    """Per-batch bytes written must be O(batch), not O(total state) —
    the Iceberg MERGE cost model this table stands in for."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path))
    st = SnapshotStateTable(spark, log, "t", ["k"], compact_every=1000)
    big = spark.range(20000).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    st.upsert(big, ["k"], batch_id=0)
    small = spark.range(50).select(
        F.col("id").cast("string").alias("k"), (F.col("id") + 1_000_000).alias("v")
    )
    st.upsert(small, ["k"], batch_id=1)
    log.commit(1)

    def dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
        )

    b0 = dir_bytes(os.path.join(str(tmp_path), "t", "d0000000000"))
    b1 = dir_bytes(os.path.join(str(tmp_path), "t", "d0000000001"))
    assert b1 < b0 * 0.2, (b0, b1)
    out = st.read()
    assert out.count() == 20000
    assert out.filter(F.col("v") >= 1_000_000).count() == 50


def test_bucketed_state_table_pruned_reads(spark, tmp_path):
    """read_for returns exactly the requested keys' rows and scans only the
    touched buckets (Iceberg bucket-partition pruning analogue)."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path))
    st = SnapshotStateTable(
        spark, log, "bt", ["k"], num_buckets=8, track_scans=True,
        compact_every=1000,
    )
    df = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    st.upsert(df, ["k"], batch_id=0)
    # update a few keys in a second delta — merge-on-read must resolve
    upd = spark.createDataFrame([("k5", 500), ("k7", 700)], ["k", "v"])
    st.upsert(upd, ["k"], batch_id=1)
    log.commit(1)
    keys = spark.createDataFrame([("k5",), ("k7",), ("k123",)], ["k"])
    got = {(r["k"], r["v"]) for r in st.read_for(keys).collect()}
    assert got == {("k5", 500), ("k7", 700), ("k123", 123)}
    # pruned read touched far fewer rows than the 202 in state
    assert 0 < st.scan_stats["read_rows"] <= 60, st.scan_stats
    # deletes tombstone within the right bucket
    st.apply_delta(None, spark.createDataFrame([("k5",)], ["k"]), ["k"], 2)
    log.commit(2)
    got = {(r["k"], r["v"]) for r in st.read_for(keys).collect()}
    assert got == {("k7", 700), ("k123", 123)}
    # full read still resolves everything
    assert st.read().count() == 199

