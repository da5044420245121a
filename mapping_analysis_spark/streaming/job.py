"""Structured Streaming incremental entity-matching + clustering job.

This is the streaming re-expression of the reference's incremental loop
(``benchmark/musicbrainz/IncrementalMusicBenchmark.java:93-189``: save
clusters to JSON, start a new Flink job per source increment, re-match, save
again). Micro-batches + versioned state tables + Spark checkpointing replace
the save-to-JSON-and-reload cycle (SURVEY.md §3.2).

Per-batch cost is **O(batch), not O(total state)**: every state table is
bucket-partitioned on its key (Iceberg ``bucket(N, key)`` analogue — see
``streaming/sinks.py``) and every per-batch read is a pruned ``read_for``
touching only the buckets of the keys this batch needs:

* ``turns``        (conv_id, turn_idx) — read only affected conversations
* ``records``      (rid)               — read only affected/candidate rids
* ``blocks``       (bk, rid)           — posting list: members of touched
  blocking keys only
* ``block_sizes``  (bk)                — per-block counts maintained
  INCREMENTALLY (old + delta), never re-aggregated over all records
* ``bands``        (band_idx, band_hash, rid) — LSH posting list, read only
  the batch's band hashes
* ``edges``        (u, v) doubled      — incident-edge lookup = one bucket
  read per endpoint
* ``node_comp`` / ``comp_members``     — node→component and its secondary
  index component→members (dirty-component membership without scanning)

Algorithm per micro-batch (``foreachBatch``):

1. upsert new turns into ``turns`` state, keyed ``(conv_id, turn_idx)``
2. A = conversations touched by this batch
3. rebuild conversation records for A only; delta the ``records`` /
   ``blocks`` / ``bands`` posting state and the incremental ``block_sizes``
4. candidate pairs touching A = prefix-block join ∪ LSH-band join against
   the *pruned current* index (the reference's SOURCE_ADDITION step,
   ``SourceAdditionClustering.java:62-191``)
5. verify with token-set Jaccard >= threshold → new edges; **replace** all
   edges incident to A (a changed conversation re-derives its whole edge
   set, so the final edge set equals the batch pipeline's on final records)
6. incremental connected components with *dirty-component recompute*: only
   components containing an affected node are re-solved; untouched
   components are carried over unchanged — deletions (an edge that no
   longer clears the threshold) are handled correctly because every removed
   edge touches A and therefore lives in a dirty component
7. emit ``(conv_id, cluster_id)`` upserts through the exactly-once keyed
   sink

One atomic marker per micro-batch commits every state table at once, so a
job killed at any point resumes from the Spark checkpoint and produces the
identical final table — verified by ``tests/test_streaming_parity.py``
against the batch oracle and by ``tests/test_streaming_crash_replay.py``.
Flat per-batch scan volume on a growing state is asserted by
``tests/test_streaming_scan_volume.py``. That protocol is ``ExactlyOnceJob``,
written once here for this job and the music and geo wave jobs of
``streaming/wave_job.py``.

Invariant (BASELINE.json north_rule): for the same input stream the final
sink equals the batch pipeline row-for-row under stable
``(conv_id, turn_idx)`` ordering.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mapping_analysis_spark.functions.simfns import band_keys
from mapping_analysis_spark.operators.clustering import connected_components
from mapping_analysis_spark.pipeline import (
    DEFAULT_BLOCK_LENGTH,
    DEFAULT_LSH_BANDS,
    DEFAULT_MAX_BLOCK_SIZE,
    DEFAULT_THRESHOLD,
    conversation_records,
    featurize_records,
    jaccard_ge,
)
from mapping_analysis_spark.streaming.sinks import CommitLog, SnapshotStateTable

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

_STATE_BUCKETS = 16
# history pruning is pure-filesystem maintenance — amortized
_PRUNE_EVERY = 4


class ExactlyOnceJob:
    """The exactly-once micro-batch protocol under every streaming job.

    A job declares four things: the arrival-file ``schema``, the batch dedup
    ``key``, its state ``tables`` as ``(name, bucket_by)`` (each becomes an
    attribute of that name; the output table is ``assignments``) and the
    per-batch kernel ``_apply``. All tables share one ``CommitLog``, whose
    marker is the batch's only commit point and replay gate."""

    schema: StructType | str
    key: list[str]
    tables: list[tuple[str, list[str]]]

    def __init__(
        self, spark: SparkSession, state_dir: str, track_scans: bool = False
    ) -> None:
        self.spark = spark
        self.commits = CommitLog(state_dir)
        self._tables: list[SnapshotStateTable] = []
        for name, bucket_by in self.tables:
            st = SnapshotStateTable(
                spark,
                self.commits,
                name,
                bucket_by,
                num_buckets=_STATE_BUCKETS,
                track_scans=track_scans,
            )
            setattr(self, name, st)
            self._tables.append(st)
        self.metrics_path = os.path.join(state_dir, "metrics.jsonl")

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        """Write one non-empty, deduplicated batch to every state table."""
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch; one commit marker makes all of its writes visible.

        * A batch at or below the last committed id is a replay: a no-op.
        * Any other batch first discards what a killed attempt wrote, so each
          read in ``_apply`` sees a table's pre-batch state until the batch
          writes that table, on a first run and on replay alike (a read
          captures its directory list at call time; writes only add
          directories).
        * The row-count and lineage-sample actions fuse into one ``agg``.
        * The marker is written last (an empty batch writes nothing else);
          history pruning runs after it every ``_PRUNE_EVERY`` batches.

        ``metrics.jsonl`` records ``spark_jobs`` per batch, so the fixed
        driver cost is observable per micro-batch."""
        t0 = time.time()
        jobs0 = self._job_counter()
        if batch_id <= self.commits.last():
            self._log(batch_id, 0, t0, jobs0, replayed=True)
            return  # exactly-once: replay after restart is a no-op
        for st in self._tables:
            st.discard()

        batch_df = (
            batch_df.withColumn("_file", F.input_file_name())
            .dropDuplicates(self.key)
            .localCheckpoint(eager=True)  # streaming source: consume in-call
        )
        # one fused job: row count + per-partition lineage sample
        head = batch_df.agg(
            F.count("*").alias("n"),
            F.slice(F.array_sort(F.collect_set("_file")), 1, 20).alias("files"),
        ).collect()[0]
        n_rows = int(head["n"])
        input_files = [f for f in head["files"] if f]
        if n_rows:
            self.commits.in_flight = batch_id
            try:
                self._apply(batch_df.drop("_file"), batch_id)
            finally:
                self.commits.in_flight = None
        self.commits.commit(batch_id)
        if batch_id % _PRUNE_EVERY == _PRUNE_EVERY - 1:
            for st in self._tables:
                st.prune(keep_last=3)
        self._log(batch_id, n_rows, t0, jobs0, input_files)

    # -- metrics (north rule: per-partition lineage + throughput per batch) --

    def scan_stats(self, reset: bool = False) -> dict:
        """Aggregated pruned-read volume across all state tables."""
        tot = {"read_rows": 0, "read_calls": 0, "compact_rows": 0}
        for st in self._tables:
            s = st.reset_scan_stats() if reset else st.scan_stats
            for k in tot:
                tot[k] += s[k]
        return tot

    def _job_counter(self) -> int | None:
        """Monotonic count of Spark jobs submitted so far this session."""
        try:
            return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
        except Exception:
            return None

    def _log(
        self,
        batch_id: int,
        n_rows: int,
        t0: float,
        jobs0: int | None,
        input_files: list[str] | None = None,
        replayed: bool = False,
    ) -> None:
        """One ``metrics.jsonl`` line, the same keys for every batch."""
        dur = time.time() - t0
        # fixed driver overhead per micro-batch = Spark jobs submitted during
        # this batch (monotonic DAGScheduler job-id counter delta — a scoped
        # job group misattributes inside foreachBatch callback threads)
        jobs = self._job_counter()
        rec = {
            "batch_id": batch_id,
            "rows": n_rows,
            "seconds": round(dur, 3),
            "rows_per_sec": round(n_rows / dur, 1) if dur > 0 else None,
            "replayed": replayed,
            "lineage_files": (input_files or [])[:20],
            "spark_jobs": None if jobs is None or jobs0 is None else jobs - jobs0,
        }
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    # -- stream wiring --------------------------------------------------------

    def start(
        self, input_dir: str, checkpoint_dir: str, max_files_per_trigger: int = 1
    ):
        """Wire the parquet file stream (Iceberg-source stand-in, one file
        per increment) to the batch kernel — the reference's per-increment
        Flink job restarts become micro-batch triggers."""
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def result(self) -> DataFrame | None:
        """Final assignment table."""
        return self.assignments.read()


class IncrementalClusteringJob(ExactlyOnceJob):
    """Stateful incremental transcript matcher/clusterer."""

    schema = TRANSCRIPT_SCHEMA
    key = ["conv_id", "turn_idx"]
    tables = [
        ("turns", ["conv_id"]),
        ("records", ["rid"]),
        ("blocks", ["bk"]),
        ("bands", ["band_hash"]),
        ("block_sizes", ["bk"]),
        ("edges", ["u"]),  # doubled: (u,v) and (v,u)
        ("node_comp", ["node"]),
        ("comp_members", ["comp"]),
        ("assignments", ["conv_id"]),
    ]

    @staticmethod
    def _canon(df: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
        return df.select(
            F.least(u, v).alias("a"), F.greatest(u, v).alias("b")
        ).dropDuplicates(["a", "b"])

    @staticmethod
    def _double(df: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
        fwd = df.select(F.col(a).alias("u"), F.col(b).alias("v"))
        return fwd.union(df.select(F.col(b).alias("u"), F.col(a).alias("v")))

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        # 1-2. turn state + affected conversations (pruned read: only the
        # buckets holding the affected conversations are scanned; turns and
        # records share the bucket-id job — same key values)
        affected = (
            batch_df.select("conv_id").distinct().localCheckpoint(eager=False)
        )
        affected_r = affected.withColumnRenamed("conv_id", "rid")
        aff_buckets = self.turns.bucket_ids_for(affected)
        # pre-upsert snapshot: del_post/del_bands/dn derive from the
        # PRE-batch records
        old_recs = self.records.read_for(affected_r, buckets=aff_buckets)
        if old_recs is not None:
            old_recs = old_recs.localCheckpoint(eager=False)
        self.turns.upsert(batch_df, ["conv_id", "turn_idx"], batch_id)
        turns_aff = self.turns.read_for(affected, buckets=aff_buckets)

        # 3. re-derive records for affected conversations only — identical
        # featurization to the batch pipeline (featurize_records), plus the
        # per-record LSH band keys (the batch band_keys encoding, position =
        # band index) stored ON the record so old postings are recoverable
        # without scanning the posting lists.
        recs_full = featurize_records(
            conversation_records(turns_aff),
            lsh_bands=DEFAULT_LSH_BANDS,
            block_length=DEFAULT_BLOCK_LENGTH,
        )
        recs_full = recs_full.select(
            "rid", "source", "bks", "toks",
            band_keys("minhash", DEFAULT_LSH_BANDS).alias("bands"),
        ).localCheckpoint(eager=False)
        self.records.upsert(recs_full, ["rid"], batch_id)

        # 3b. posting-list deltas (blocks, bands) + INCREMENTAL block sizes
        new_post = recs_full.select("rid", F.explode("bks").alias("bk"))
        if old_recs is not None:
            old_post = old_recs.select("rid", F.explode("bks").alias("bk"))
            old_bands = old_recs.select(
                "rid",
                F.posexplode("bands").alias("band_idx", "band_hash"),
            )
        else:
            old_post = self._empty("rid string, bk string")
            old_bands = self._empty("rid string, band_idx int, band_hash long")
        del_post = old_post.join(new_post, ["bk", "rid"], "left_anti")
        self.blocks.apply_delta(new_post, del_post, ["bk", "rid"], batch_id)

        new_bands = recs_full.select(
            "rid", F.posexplode("bands").alias("band_idx", "band_hash")
        )
        del_bands = old_bands.join(
            new_bands, ["band_idx", "band_hash", "rid"], "left_anti"
        )
        self.bands.apply_delta(
            new_bands, del_bands, ["band_idx", "band_hash", "rid"], batch_id
        )

        # block sizes: old + delta, only for blocks whose membership changed —
        # never re-aggregated over the full records state
        dn = (
            new_post.groupBy("bk").agg(F.count("*").alias("n_add"))
            .join(
                old_post.groupBy("bk").agg(F.count("*").alias("n_del")),
                "bk",
                "full_outer",
            )
            .fillna({"n_add": 0, "n_del": 0})
            .withColumn("dn", F.col("n_add") - F.col("n_del"))
            .select("bk", "dn")
            .localCheckpoint(eager=False)
        )
        old_sz = self.block_sizes.read_for(dn.select("bk"))
        if old_sz is None:
            old_sz = self._empty("bk string, n long")
        sized = (
            dn.join(old_sz, "bk", "left")
            .fillna({"n": 0})
            .withColumn("n_new", F.col("n") + F.col("dn"))
            .withColumnRenamed("n", "n_old")
            .localCheckpoint(eager=False)
        )
        self.block_sizes.apply_delta(
            sized.filter(F.col("n_new") > 0).select(
                "bk", F.col("n_new").alias("n")
            ),
            sized.filter(F.col("n_new") <= 0).select("bk"),
            ["bk"],
            batch_id,
        )

        # 4a. cap-crossing detection: when a block's size crosses
        # max_block_size (either direction), every member's edge set must be
        # re-derived so the final edge set equals the batch pipeline's on the
        # final records (prefix pairs appear/disappear).
        cap = DEFAULT_MAX_BLOCK_SIZE
        crossed = sized.filter(
            (F.col("n_old") <= cap) != (F.col("n_new") <= cap)
        ).select("bk")
        crossed_members = self.blocks.read_for(crossed)
        if crossed_members is None:
            crossed_members = self._empty("bk string, rid string")
        extra = (
            crossed_members.select("rid")
            .distinct()
            .join(F.broadcast(affected_r), "rid", "left_anti")
        )
        a_ids = (
            affected_r.union(extra).distinct().localCheckpoint(eager=False)
        )
        # shared by the records read here and the incident-edge read below
        a_buckets = self.records.bucket_ids_for(a_ids)

        # featurized rows for the full re-derive set (post-upsert state)
        recs_a = self.records.read_for(a_ids, buckets=a_buckets)
        recs_a = recs_a.localCheckpoint(eager=False)

        # 4b. candidates touching the re-derive set: prefix blocks ∪ LSH
        # bands, joined against the PRUNED current index (only buckets of the
        # a-side's keys are read), oversized blocks excluded on both sides
        a_post = recs_a.select("rid", F.explode("bks").alias("bk"))
        a_bks = a_post.select("bk").distinct()
        # ok_bks ⊆ a_bks, so a_bks's bucket ids cover both block reads
        bk_buckets = self.block_sizes.bucket_ids_for(a_bks)
        sz_a = self.block_sizes.read_for(a_bks, buckets=bk_buckets)
        if sz_a is None:
            sz_a = self._empty("bk string, n long")
        ok_bks = sz_a.filter(F.col("n") <= cap).select("bk").localCheckpoint(
            eager=False
        )
        b_post = self.blocks.read_for(ok_bks, buckets=bk_buckets)
        if b_post is None:
            b_post = self._empty("bk string, rid string")
        p_block = (
            a_post.join(F.broadcast(ok_bks), "bk", "left_semi")
            .alias("a")
            .join(b_post.alias("b"), "bk")
            .filter(F.col("a.rid") != F.col("b.rid"))
            .select(
                F.least("a.rid", "b.rid").alias("a_rid"),
                F.greatest("a.rid", "b.rid").alias("b_rid"),
            )
        )
        a_bands = recs_a.select(
            "rid", F.posexplode("bands").alias("band_idx", "band_hash")
        )
        b_bands = self.bands.read_for(a_bands.select("band_hash").distinct())
        if b_bands is None:
            b_bands = self._empty("band_idx int, band_hash long, rid string")
        p_band = (
            a_bands.alias("a")
            .join(b_bands.alias("b"), ["band_idx", "band_hash"])
            .filter(F.col("a.rid") != F.col("b.rid"))
            .select(
                F.least("a.rid", "b.rid").alias("a_rid"),
                F.greatest("a.rid", "b.rid").alias("b_rid"),
            )
        )
        cand = p_block.union(p_band).dropDuplicates(["a_rid", "b_rid"])

        # 5. verify + replace edges incident to A — payloads come from a
        # pruned read of exactly the candidate rids
        cand = cand.localCheckpoint(eager=False)
        cand_rids = (
            cand.select(F.col("a_rid").alias("rid"))
            .union(cand.select(F.col("b_rid").alias("rid")))
            .distinct()
        )
        recs_c = self.records.read_for(cand_rids)
        if recs_c is None:
            recs_c = recs_a.limit(0)
        ra = recs_c.select(
            F.col("rid").alias("a_rid"),
            F.col("source").alias("a_source"),
            F.col("toks").alias("a_toks"),
        )
        rb = recs_c.select(
            F.col("rid").alias("b_rid"),
            F.col("source").alias("b_source"),
            F.col("toks").alias("b_toks"),
        )
        e_new = (
            cand.join(ra, "a_rid")
            .join(rb, "b_rid")
            .filter(
                (F.col("a_source") != F.col("b_source"))
                & jaccard_ge(F.col("a_toks"), F.col("b_toks"), DEFAULT_THRESHOLD)
            )
            .select(F.col("a_rid").alias("a"), F.col("b_rid").alias("b"))
        )
        e_new = e_new.dropDuplicates(["a", "b"]).localCheckpoint(eager=False)

        # incident edges of the re-derive set: doubled storage → one pruned
        # bucket read covers both endpoint directions (bucket ids shared
        # with the records read over the same a_ids values)
        old_inc_d = self.edges.read_for(
            a_ids.withColumnRenamed("rid", "u"), buckets=a_buckets
        )
        if old_inc_d is None:
            old_inc_d = self._empty("u string, v string")
        old_inc = self._canon(old_inc_d)
        removed = old_inc.join(e_new, ["a", "b"], "left_anti")
        self.edges.apply_delta(
            self._double(e_new), self._double(removed), ["u", "v"], batch_id
        )

        # 6. dirty-component recompute (scope: full re-derive set + new-edge
        # endpoints — includes cap-crossing block members). comp_members is
        # the secondary index: membership of a dirty component without
        # scanning the full node→comp state.
        dirty_nodes = (
            a_ids.withColumnRenamed("rid", "node")
            .union(e_new.select(F.col("a").alias("node")))
            .union(e_new.select(F.col("b").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        old_nc = self.node_comp.read_for(dirty_nodes)
        if old_nc is not None:
            dirty_comp_ids = old_nc.select("comp").distinct()
            dirty_members = self.comp_members.read_for(dirty_comp_ids)
        else:
            dirty_members = None
        if dirty_members is None:
            dirty_members = self._empty("comp string, node string")
        dirty_members = dirty_members.localCheckpoint(eager=False)
        scope = (
            dirty_members.select("node")
            .union(dirty_nodes)
            .distinct()
            .localCheckpoint(eager=False)
        )
        sub_d = self.edges.read_for(scope.withColumnRenamed("node", "u"))
        if sub_d is None:
            sub_d = self._empty("u string, v string")
        sub_edges = self._canon(sub_d)
        recomputed = connected_components(sub_edges)
        # nodes in scope with no edges → singleton components
        singles = scope.join(
            recomputed.select("node"), "node", "left_anti"
        ).withColumn("comp", F.col("node"))
        new_part = recomputed.union(singles).localCheckpoint(eager=False)
        # delta commit: only the recomputed (dirty) partition is written —
        # clean components carry over untouched in the state table
        self.node_comp.apply_delta(new_part, None, ["node"], batch_id)
        self.comp_members.apply_delta(
            new_part.select("comp", "node"),
            dirty_members.select("comp", "node"),
            ["comp", "node"],
            batch_id,
        )

        # 7. exactly-once assignment upsert for the recomputed scope
        updates = new_part.select(
            F.col("node").alias("conv_id"), F.col("comp").alias("cluster_id")
        )
        self.assignments.upsert(updates, ["conv_id"], batch_id)
