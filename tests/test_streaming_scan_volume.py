"""Per-batch scan volume must be O(batch), not O(total state).

The round-2 architectural scale-killer: each micro-batch re-read the full
records/bands/edges state (re-aggregated block sizes, unpruned band joins,
full merge-on-read windows). With bucket-partitioned state tables +
incrementally-maintained block sizes, per-batch *read* rows must stay flat
while the total state grows linearly — the property that keeps batch latency
constant at 10^12 turns.

Design: every batch inserts the same number of brand-new entities (each
duplicated across two sources so real matching/clustering work happens), so
per-batch work is constant by construction while state grows linearly. The
instrumented state tables count rows surviving bucket pruning + key
filtering on every pruned read. Compaction rows are tracked separately —
they are the amortized Iceberg rewrite_data_files maintenance cost, not
per-batch compute.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.pipeline import match_conversations
from mapping_analysis_spark.streaming.job import TRANSCRIPT_SCHEMA, IncrementalClusteringJob

N_BATCHES = 12
ENTITIES_PER_BATCH = 6
TURNS_PER_CONV = 4


def _batch_rows(b: int) -> list[tuple]:
    """Deterministic batch: ENTITIES_PER_BATCH new entities, each emitted by
    two sources with slight corruption (dropped last word on source 2).

    Entities are token-disjoint (wide synthetic vocabulary + a per-entity
    leading token, so blocking keys and LSH bands are private to each
    entity): per-batch matching work is constant BY CONSTRUCTION — any
    growth in scanned rows is state-scan leakage, the thing under test.
    (Genuinely-shared hot keys are a different, bounded story: oversized
    blocks are stop-block-pruned by ``max_block_size``.)"""
    rows = []
    t0 = datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=b)
    for e in range(ENTITIES_PER_BATCH):
        seed = b * ENTITIES_PER_BATCH + e
        texts = []
        # 4-letter base-26 entity code: the 4-char prefix blocking key is
        # entity-private (an "e0001"-style id shares the "e000" prefix block
        # with every other entity and the test would measure real, unbounded
        # shared-block growth instead of scan leakage)
        code = "".join(
            chr(97 + (seed // 26**p) % 26) for p in range(3, -1, -1)
        )
        for t in range(TURNS_PER_CONV):
            ws = [f"w{(seed * 997 + t * 37 + j * 13) % 100000}" for j in range(8)]
            # leading token makes the prefix blocking key entity-private;
            # trailing token ties the entity together across sources
            texts.append(f"{code}t{t} " + " ".join(ws) + f" entity{seed:05d}")
        for s in (1, 2):
            conv = f"conv{seed:05d}_s{s}"
            for t, txt in enumerate(texts):
                body = txt if s == 1 else " ".join(txt.split()[:-2] + [f"entity{seed:05d}"])
                rows.append(
                    (conv, t, "user", body, None, t0 + datetime.timedelta(minutes=t))
                )
    return rows


@pytest.fixture(scope="module")
def scan_run(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("scanvol") / "state")
    job = IncrementalClusteringJob(spark, state, track_scans=True)
    per_batch, all_rows = [], []
    for b in range(N_BATCHES):
        rows = _batch_rows(b)
        all_rows.extend(rows)
        df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
        job.process_batch(df, b)
        per_batch.append(job.scan_stats(reset=True))
    return job, per_batch, all_rows


def test_scan_volume_is_flat_as_state_grows(spark, scan_run):
    _, per_batch, _ = scan_run
    reads = [s["read_rows"] for s in per_batch]
    # state grew ~N_BATCHES×; per-batch pruned-read volume must not follow.
    early = sum(reads[2:5]) / 3
    late = sum(reads[-3:]) / 3
    assert late <= early * 1.6, (
        f"per-batch scan grew with state size: early={early:.0f} late={late:.0f} "
        f"all={reads}"
    )
    # sanity: a full-state scan per batch would read >= cumulative turns
    total_state_rows = N_BATCHES * ENTITIES_PER_BATCH * 2 * TURNS_PER_CONV
    assert late < total_state_rows * 3


def test_scan_instrumentation_counts_reads(scan_run):
    _, per_batch, _ = scan_run
    assert all(s["read_calls"] > 0 for s in per_batch[1:])


def test_incremental_result_matches_batch_pipeline(spark, scan_run):
    job, _, all_rows = scan_run
    full = spark.createDataFrame(all_rows, TRANSCRIPT_SCHEMA)
    want = {
        (r["conv_id"], r["cluster_id"])
        for r in match_conversations(full).collect()
    }
    got = {(r["conv_id"], r["cluster_id"]) for r in job.result().collect()}
    assert got == want
    # the planted cross-source duplicates actually clustered
    n_nontrivial = len({c for _, c in got if sum(1 for _, c2 in got if c2 == c) > 1})
    assert n_nontrivial >= ENTITIES_PER_BATCH * N_BATCHES * 0.9


def test_streaming_bands_state_equals_batch_band_keys(spark, scan_run):
    """The ``bands`` the streaming job keeps on its ``records`` state are the
    batch band keys of the batch signature: both paths call one kernel."""
    from mapping_analysis_spark.functions.simfns import band_keys
    from mapping_analysis_spark.pipeline import (
        DEFAULT_LSH_BANDS,
        conversation_records,
        featurize_records,
    )

    job, _, all_rows = scan_run
    full = spark.createDataFrame(all_rows, TRANSCRIPT_SCHEMA)
    want = {
        r["rid"]: list(r["bands"])
        for r in featurize_records(conversation_records(full))
        .select("rid", band_keys("minhash", DEFAULT_LSH_BANDS).alias("bands"))
        .collect()
    }
    got = {r["rid"]: list(r["bands"]) for r in job.records.read().select("rid", "bands").collect()}
    assert len(got) == len(want) > 0
    assert got == want
