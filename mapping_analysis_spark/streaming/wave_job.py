"""Structured Streaming incremental representative clustering: one
dirty-block wave job, run over the music and the geography domain.

The streaming re-expression of the reference's incremental loop
(``benchmark/musicbrainz/IncrementalMusicBenchmark.java:93-189``,
``integration/IncrementalMusicClusteringTest.java:117-245``,
``IncrementalGeoClusteringTest.java::incrementalVertexAdditionClusteringTest``
and ``MultiIncrementalClusteringFunction.java:84-133``): record waves arrive
as micro-batches through ``foreachBatch``; per wave, the current
representatives re-block with the new singletons, admitted > 0.6 edges
(music: trigram cosine; geo: GeoSimilarityFunction mean) are selected
source-disjointly and components collapse into merged representatives —
exactly the batch driver loops ``music.music_incremental_quality`` and
``geo.geo_incremental_quality``, but with versioned exactly-once state tables
instead of the reference's save-to-JSON-and-restart cycle.

Per-batch cost is **O(dirty blocks), not O(total state)** — and the pruning
is EXACT, not approximate, because of two structural facts:

* every representative carries exactly ONE blocking label (music:
  ``Utils.getMusicBlockingLabel`` of its ATA; geo: ``getGeoBlockingLabel`` of
  its label), so candidate edges only ever connect same-block
  representatives and the source-disjoint union-find components are
  block-confined;
* the greedy selection is deterministic on its input, so a block whose
  representatives are unchanged since the previous wave and whose previous
  pass produced no merges is at a FIXPOINT — re-running it (as the batch
  driver does wholesale each phase) provably yields "no merges" again.

A block is therefore *dirty* iff it holds a new singleton this wave or held
any member of a component that merged last wave (old labels of the merged
constituents + the merged output's new label, which can differ — the
majority vote can move the representative to another block). Only dirty
blocks are read, scored, and re-selected; everything else carries over
untouched in the state tables. Final-table parity with the batch loops is
asserted by ``tests/test_music_streaming.py`` and
``tests/test_geo_streaming.py``.

The one semantic wrinkle of geo vs music: the reference applies the
untyped→Settlement type default ONLY to VERTEX_ADDITION waves, not to the
initial wave — the geo job reproduces that with ``batch_id > 0``
(``MultiIncrementalClusteringFunction.java:92-103``).

State tables (``SnapshotStateTable`` — bucket-partitioned, delta-committed;
the Iceberg merge-on-read stand-in of ``streaming/sinks``):

* ``reps``        (cluster_rid) — current representatives (the domain's
  representative schema, always with ``members``)
* ``rep_blocks``  (block, cluster_rid) — blocking-label posting list, the
  pruned path from a dirty label to its representative ids
* ``assignments`` (rid) — record → cluster, the exactly-once output sink
* ``dirty``       (block) — labels to re-examine next wave (small: shrinks
  to ∅ at fixpoint; read whole)

The four tables of a wave become visible together through the job's one
commit marker, so a kill at any point replays to the identical state. The
commit marker and replay gate, batch prologue, pruning, ``metrics.jsonl``
and stream wiring are ``streaming/job.py``'s ``ExactlyOnceJob``, shared with
the transcript job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapping_analysis_spark.geo import (
    geo_blocking_label,
    geo_cluster_wave,
    geo_singletons,
)
from mapping_analysis_spark.music import (
    DEFAULT_BLOCKING_LENGTH,
    _merge_reps,
    _rep_blocked_scored_edges,
    music_blocking_label,
)
from mapping_analysis_spark.streaming.job import ExactlyOnceJob


class RepresentativeWaveJob(ExactlyOnceJob):
    """Incremental MULTI representative clustering driven by foreachBatch.
    A domain subclass supplies the schemas, the blocking label and the
    ``_singles`` / ``_merge`` steps of the batch loop."""

    rep_schema: str  # DDL of the ``reps`` table, keyed ``cluster_rid``
    label_col: str
    key = ["rid"]
    tables = [
        ("reps", ["cluster_rid"]),
        ("rep_blocks", ["block"]),
        ("assignments", ["rid"]),
        ("dirty", ["block"]),
    ]

    def _block(self, df: DataFrame) -> DataFrame:
        return df.select(self._label(F.col(self.label_col)).alias("block"))

    # -- domain hooks ----------------------------------------------------------

    def _label(self, col: Column) -> Column:
        raise NotImplementedError

    def _singles(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """A wave → singleton representatives (``rep_schema``)."""
        raise NotImplementedError

    def _merge(self, workset: DataFrame) -> DataFrame:
        """One wave over a representative workset → merged representatives."""
        raise NotImplementedError

    # -- per-batch kernel ----------------------------------------------------

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        singles = self._singles(batch_df, batch_id)

        # dirty labels = this wave's singleton labels ∪ labels left dirty by
        # the previous wave's merges
        prev_dirty = self.dirty.read()
        if prev_dirty is None:
            prev_dirty = self._empty("block string")
        touched = (
            self._block(singles)
            .union(prev_dirty.select("block"))
            .distinct()
            .localCheckpoint(eager=False)
        )

        # pruned path to the affected representatives: posting list → ids →
        # rep rows
        post = self.rep_blocks.read_for(touched)
        if post is None:
            post = self._empty("block string, cluster_rid long")
        rep_ids = post.select("cluster_rid").distinct()
        reps_tchd = self.reps.read_for(rep_ids)
        if reps_tchd is None:
            reps_tchd = self._empty(self.rep_schema)
        workset = reps_tchd.unionByName(singles).localCheckpoint(eager=False)

        # the batch kernel itself (identical code path to the batch loop)
        merged = self._merge(workset).localCheckpoint(eager=True)

        # deltas vs the pre-batch state
        removed = (
            workset.select("cluster_rid")
            .join(merged.select("cluster_rid"), "cluster_rid", "left_anti")
            .localCheckpoint(eager=False)
        )
        # a component merged iff its kept id gained members or lost ids
        changed_kept = (
            merged.alias("m")
            .join(
                workset.select(
                    "cluster_rid", F.size("members").alias("_n_old")
                ).alias("w"),
                "cluster_rid",
                "left",
            )
            .filter(
                F.col("_n_old").isNull()
                | (F.size(F.col("m.members")) != F.col("_n_old"))
            )
            .select("cluster_rid", self.label_col)
            .localCheckpoint(eager=False)
        )

        self.reps.apply_delta(merged, removed, ["cluster_rid"], batch_id)

        new_post = merged.select(
            self._label(F.col(self.label_col)).alias("block"), "cluster_rid"
        )
        del_post = post.join(new_post, ["block", "cluster_rid"], "left_anti")
        self.rep_blocks.apply_delta(
            new_post, del_post, ["block", "cluster_rid"], batch_id
        )

        # exactly-once output: every member of the workset's final reps
        self.assignments.upsert(
            merged.select(
                F.col("cluster_rid"), F.explode("members").alias("rid")
            ).select("rid", "cluster_rid"),
            ["rid"],
            batch_id,
        )

        # next wave's dirty labels: old labels of every member of a merged
        # component + the merged outputs' (possibly moved) new labels.
        # Unmerged blocks are at a deterministic fixpoint — exact pruning.
        merged_members = removed.union(changed_kept.select("cluster_rid"))
        next_dirty = (
            self._block(workset.join(merged_members, "cluster_rid", "left_semi"))
            .union(self._block(changed_kept))
            .distinct()
        )
        consumed = prev_dirty.join(next_dirty, "block", "left_anti")
        self.dirty.apply_delta(next_dirty, consumed, ["block"], batch_id)


class MusicIncrementalJob(RepresentativeWaveJob):
    """MusicBrainz waves: blocked trigram-cosine admission, majority ATA."""

    schema = "rid long, ata string, smask long"
    rep_schema = "cluster_rid long, ata string, smask long, members array<long>"
    label_col = "ata"

    def _label(self, col: Column) -> Column:
        return music_blocking_label(col, DEFAULT_BLOCKING_LENGTH)

    def _singles(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.select(
            F.col("rid").alias("cluster_rid"),
            "ata",
            "smask",
            F.array(F.col("rid")).alias("members"),
        )

    def _merge(self, workset: DataFrame) -> DataFrame:
        # blocked salted pair gen → vectorized trigram admission > 0.6 →
        # source-disjoint greedy selection → merged representatives
        return _merge_reps(
            workset, _rep_blocked_scored_edges(workset, DEFAULT_BLOCKING_LENGTH)
        )


class GeoIncrementalJob(RepresentativeWaveJob):
    """Settlement waves: GeoSimilarityFunction admission, GeographicMajority."""

    schema = "rid long, label string, lat double, lon double, source string"
    rep_schema = (
        "cluster_rid long, label string, lat double, lon double, "
        "sources array<string>, members array<long>, types array<string>"
    )
    label_col = "label"

    def _label(self, col: Column) -> Column:
        return geo_blocking_label(col)

    def _singles(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        # the Settlement default fires for every wave EXCEPT the initial one
        return geo_singletons(
            batch_df.withColumn("types", F.array(F.lit("no_type"))),
            settlement_default=batch_id > 0,
        ).withColumnRenamed("rid", "cluster_rid")

    def _merge(self, workset: DataFrame) -> DataFrame:
        ws = workset.withColumnRenamed("cluster_rid", "rid")
        # source→bit map from this workset (encoding only — selection needs
        # source-SET disjointness, any stable per-batch assignment works)
        srcs = sorted(
            r[0] for r in ws.select(F.explode("sources")).distinct().collect()
        )
        bit_map = F.create_map(
            *[c for i, s in enumerate(srcs) for c in (F.lit(s), F.lit(1 << i))]
        )
        return geo_cluster_wave(ws, bit_map).withColumnRenamed("rid", "cluster_rid")
