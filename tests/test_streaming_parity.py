"""Streaming vs batch parity — the north-rule correctness invariant.

The final streaming state must equal the batch pipeline row-for-row for the
same input (BASELINE.json north_rule), and a job restarted from checkpoint
must converge to the same table (the reference's incremental replay fixtures,
``data/musicbrainz/split/``, re-expressed as arriving micro-batches).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.pipeline import match_conversations
from mapping_analysis_spark.streaming.job import IncrementalClusteringJob
from mapping_analysis_spark.streaming.windows import (
    session_turn_stats,
    sliding_tool_rate,
    tumbling_role_counts,
)

N_ARRIVAL_FILES = 5


@pytest.fixture()
def arrival_dir(spark, transcripts_smoke, tmp_path):
    """Split sf0.001 transcripts into N arrival files (seeded shuffle → turns
    of one conversation arrive across different micro-batches)."""
    d = str(tmp_path / "arrivals")
    df = transcripts_smoke.withColumn(
        "_slice", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(N_ARRIVAL_FILES))
    )
    for i in range(N_ARRIVAL_FILES):
        (
            df.filter(F.col("_slice") == i)
            .drop("_slice")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/part{i}")
        )
    # flatten: one file per arrival slice, named in arrival order
    os.makedirs(d, exist_ok=True)
    for i in range(N_ARRIVAL_FILES):
        src = glob.glob(f"{d}/part{i}/part-*.parquet")[0]
        shutil.move(src, f"{d}/arrival_{i:03d}.parquet")
        shutil.rmtree(f"{d}/part{i}")
    return d


def _run_job(spark, input_dir, tmp_path, tag):
    state = str(tmp_path / f"state_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    job = IncrementalClusteringJob(spark, state)
    q = job.start(input_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(600)
    return job


def _assign_set(df):
    return {(r["conv_id"], r["cluster_id"]) for r in df.collect()}


def test_streaming_equals_batch(spark, transcripts_smoke, arrival_dir, tmp_path):
    job = _run_job(spark, arrival_dir, tmp_path, "full")
    got = _assign_set(job.result())
    want = _assign_set(match_conversations(transcripts_smoke))
    assert got == want
    # metrics were logged every micro-batch with lineage + throughput
    assert os.path.exists(job.metrics_path)
    lines = open(job.metrics_path).read().strip().splitlines()
    assert len(lines) >= N_ARRIVAL_FILES


def test_streaming_resume_from_checkpoint(spark, transcripts_smoke, arrival_dir, tmp_path):
    """Kill-and-restart: stage files in two tranches against the same state +
    checkpoint dirs; the second (restarted) job must converge to the batch
    result, replaying nothing twice (exactly-once sink)."""
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    files = sorted(glob.glob(f"{arrival_dir}/*.parquet"))
    for f in files[:2]:
        shutil.copy(f, staged)
    state = str(tmp_path / "state_resume")
    ckpt = str(tmp_path / "ckpt_resume")

    job1 = IncrementalClusteringJob(spark, state)
    q1 = job1.start(staged, ckpt, max_files_per_trigger=1)
    q1.awaitTermination(600)
    partial = _assign_set(job1.result())
    assert partial  # something was clustered in the first tranche

    for f in files[2:]:
        shutil.copy(f, staged)
    job2 = IncrementalClusteringJob(spark, state)  # fresh instance = restart
    q2 = job2.start(staged, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(600)

    got = _assign_set(job2.result())
    want = _assign_set(match_conversations(transcripts_smoke))
    assert got == want


def test_batch_replay_is_idempotent(spark, transcripts_smoke, tmp_path):
    """Re-invoking the kernel with an already-committed batch_id is a no-op;
    an empty batch writes only the commit marker."""
    state = str(tmp_path / "state_idem")
    job = IncrementalClusteringJob(spark, state)
    batch = transcripts_smoke.limit(500)
    job.process_batch(batch, 0)
    before = _assign_set(job.result())
    job.process_batch(batch, 0)  # replay
    job.process_batch(batch.limit(0), 1)  # empty batch
    job.process_batch(batch.limit(0), 1)  # its replay
    assert all(st.versions() == [0] for st in job._tables)
    assert _assign_set(job.result()) == before
    # one metrics.jsonl schema for every line, the replayed ones included
    lines = [json.loads(x) for x in open(job.metrics_path)]
    assert [x["replayed"] for x in lines] == [False, True, False, True]
    assert lines[2]["rows"] == 0
    keys = {
        "batch_id", "rows", "seconds", "rows_per_sec", "replayed",
        "lineage_files", "spark_jobs",
    }
    assert all(set(x) == keys for x in lines), lines


def _run_windowed(spark, arrival_dir, builder, name, **kw):
    from mapping_analysis_spark.streaming.job import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrival_dir)
    )
    q = (
        builder(stream, **kw)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(f"win_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return {tuple(r) for r in spark.sql(f"select * from win_{name}").collect()}


def test_windowed_queries_streaming_parity(spark, transcripts_smoke, arrival_dir):
    """Tumbling, sliding and session window queries: streaming equals batch
    when the watermark exceeds the maximum event lateness (no drops
    possible)."""
    for name, builder in [
        ("tumbling", tumbling_role_counts),
        ("sliding", sliding_tool_rate),
        ("sessions", session_turn_stats),
    ]:
        got = _run_windowed(spark, arrival_dir, builder, name, watermark="48 hours")
        want = {tuple(r) for r in builder(transcripts_smoke).collect()}
        assert got == want, f"{name}: {len(got)} streaming vs {len(want)} batch rows"


def test_session_watermark_drops_late_rows(spark, transcripts_smoke, arrival_dir):
    """With a tight watermark, Spark drops the planted late rows (ts shifted
    -1h): streaming emits no *extra* sessions, and strictly fewer turns are
    aggregated than in the watermark-free batch run."""
    got = _run_windowed(
        spark, arrival_dir, session_turn_stats, "late", watermark="30 minutes"
    )
    want = {tuple(r) for r in session_turn_stats(transcripts_smoke).collect()}
    got_turns = sum(r[-1] for r in got)
    want_turns = sum(r[-1] for r in want)
    assert got_turns < want_turns  # late rows were dropped
    assert len(got) > 0
