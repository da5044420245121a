"""Mid-batch crash + replay correctness.

The exactly-once contract ("killed at ANY point, resume produces the
identical final table") rests on one commit marker per micro-batch: a crash
after any subset of a batch's table writes leaves no table exposing that
batch, and the replay discards those writes and re-derives them from the
pre-batch state. These tests kill the kernel before each table write and
after every table write but before the marker, and assert the resumed run
converges to the uninterrupted result.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.streaming.job import IncrementalClusteringJob

N_ROWS = 900


def _assign_set(df):
    return {(r["conv_id"], r["cluster_id"]) for r in df.collect()}


def _hashable(v):
    return tuple(_hashable(x) for x in v) if isinstance(v, list) else v


def _state_fingerprint(job):
    """Full logical state of every table (order-free)."""
    out = {}
    for st in job._tables:
        name = st.root.rsplit("/", 1)[-1]
        df = st.read()
        out[name] = (
            frozenset(tuple(_hashable(v) for v in r) for r in df.collect())
            if df is not None
            else frozenset()
        )
    return out


def _batches(transcripts, n=3):
    """Deterministic n-way split; turns of one conversation span batches."""
    df = transcripts.limit(N_ROWS).withColumn(
        "_s", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n))
    )
    return [
        df.filter(F.col("_s") == i).drop("_s").localCheckpoint(eager=True)
        for i in range(n)
    ]


class _Boom(RuntimeError):
    pass


def _boom(*a, **kw):
    raise _Boom()


def _crash(job, crash_at, batch, batch_id):
    """Run ``batch`` with the ``crash_at`` table's write (``"marker"``: the
    commit marker) raising; afterwards no table exposes the batch."""
    victim, method = (
        (job.commits, "commit")
        if crash_at == "marker"
        else (getattr(job, crash_at), "apply_delta")
    )
    setattr(victim, method, _boom)
    with pytest.raises(_Boom):
        job.process_batch(batch, batch_id)
    delattr(victim, method)
    assert all(batch_id not in st.versions() for st in job._tables)


@pytest.fixture(scope="module")
def reference_run(spark, transcripts_smoke, tmp_path_factory):
    """Uninterrupted 3-batch run — the convergence target for every crash
    point — and a copy of its state after batch 0, on which every crash
    point restarts (batch 0 runs once per module)."""
    state = str(tmp_path_factory.mktemp("ref_state"))
    after0 = str(tmp_path_factory.mktemp("after0") / "state")
    ref = IncrementalClusteringJob(spark, state)
    for i, b in enumerate(_batches(transcripts_smoke)):
        ref.process_batch(b, i)
        if i == 0:
            shutil.copytree(state, after0)
    return _assign_set(ref.result()), _state_fingerprint(ref), after0


# every state table written strictly after `records` — a crash before each
# one leaves a distinct set of written tables — and the commit marker, after
# every table write
CRASH_POINTS = [
    "blocks", "bands", "block_sizes", "edges", "node_comp", "comp_members",
    "assignments", "marker",
]


@pytest.mark.parametrize("crash_at", CRASH_POINTS)
def test_mid_batch_crash_replay_converges(
    spark, transcripts_smoke, tmp_path, reference_run, crash_at
):
    """Kill batch 1 just before the ``crash_at`` table writes (every table
    written earlier has written), replay it, run batch 2 — final state of
    every table must equal the uninterrupted run's."""
    want_assign, want_state, after0 = reference_run
    batches = _batches(transcripts_smoke)

    shutil.copytree(after0, str(tmp_path / "crash"))
    job = IncrementalClusteringJob(spark, str(tmp_path / "crash"))
    _crash(job, crash_at, batches[1], 1)
    # the killed attempt's upstream writes are on disk, yet invisible
    assert "d0000000001" in os.listdir(job.records.root)
    job.process_batch(batches[1], 1)  # replay
    job.process_batch(batches[2], 2)

    assert _assign_set(job.result()) == want_assign
    got_state = _state_fingerprint(job)
    for name in want_state:
        assert got_state[name] == want_state[name], f"state diverged: {name}"


def test_mid_batch_crash_replay_with_compaction(spark, transcripts_smoke, tmp_path):
    """Crash mid-batch when every table compacts every 2 batches (base
    rewrites in the history the replay reads): the replay must still
    converge."""
    batches = _batches(transcripts_smoke, 4)

    def mk(tag):
        j = IncrementalClusteringJob(spark, str(tmp_path / tag))
        for st in j._tables:
            st.compact_every = 2
        return j

    ref = mk("ref")
    for i, b in enumerate(batches):
        ref.process_batch(b, i)
        if i == 1:
            shutil.copytree(str(tmp_path / "ref"), str(tmp_path / "crash"))
    want = _assign_set(ref.result())
    want_state = _state_fingerprint(ref)

    job = mk("crash")  # restarts on the reference's state after batch 1
    _crash(job, "blocks", batches[2], 2)
    job.process_batch(batches[2], 2)
    job.process_batch(batches[3], 3)

    assert _assign_set(job.result()) == want
    got_state = _state_fingerprint(job)
    for name in want_state:
        assert got_state[name] == want_state[name], f"state diverged: {name}"
