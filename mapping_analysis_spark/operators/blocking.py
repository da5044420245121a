"""Candidate generation (blocking) operators.

Re-creates the reference's blocking strategies (enum at
``model/functions/blocking/BlockingStrategy.java:6-12``) Spark-first:

* ``block_pairs`` — STANDARD_BLOCKING: self-join on the blocking key
  (``model/functions/merge/MergeMusicTripletCreator.java:26-49`` semantics:
  all cross-source pairs within a block, ``a < b``).
* ``salted_block_pairs`` — BLOCK_SPLIT analogue
  (``model/functions/blocking/blocksplit/BlockSplitTripletCreator.java:49-117``):
  the reference computes pair-count prefix sums and assigns reducers so every
  reducer gets an equal pair share. Spark-first equivalent: split each hot
  block into ceil(n/cap) salt groups and emit each *pair of salt groups*
  (i <= j, the "triangle") as an independent task key, so one mega-block's
  O(n²) pair generation spreads over many tasks instead of one straggler.
  Every pair is produced by exactly one (i, j) task → no dedup needed.
* ``lsh_band_pairs`` — LSH_BLOCKING analogue (MinHash banding instead of the
  reference's Bloom-filter bit sampling,
  ``model/functions/blocking/lsh/LshCandidateCreator.java:23-29``):
  posexplode the signature's ``functions.simfns.band_keys`` → self-join on
  (band_idx, band_hash) → dropDuplicates.

All emitted pair frames have columns ``a_<col>, b_<col>`` for every record
column, ready for similarity scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mapping_analysis_spark.functions.simfns import band_keys


def _pair_schema(records: DataFrame) -> StructType:
    fields = []
    for side in ("a", "b"):
        for f in records.schema.fields:
            fields.append(StructField(f"{side}_{f.name}", f.dataType, True))
    return StructType(fields)


def block_pairs(
    records: DataFrame,
    block_col: str = "block_key",
    id_col: str = "rid",
    cross_source_only: bool = True,
    source_col: str = "source",
) -> DataFrame:
    """STANDARD_BLOCKING pair generation via equi-self-join on the block key.

    Catalyst plans this as one shuffle on the block key; AQE skew-join splits
    oversized blocks at runtime. Use ``salted_block_pairs`` when a block can
    be pathologically hot (mega-conversations).
    """
    a = records.select([F.col(c).alias(f"a_{c}") for c in records.columns])
    b = records.select([F.col(c).alias(f"b_{c}") for c in records.columns])
    cond = (F.col(f"a_{block_col}") == F.col(f"b_{block_col}")) & (
        F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    )
    if cross_source_only:
        cond = cond & (F.col(f"a_{source_col}") != F.col(f"b_{source_col}"))
    return a.join(b, cond)


def with_partition_id(df: DataFrame, col: str = "partition_id") -> DataFrame:
    """Tag each row with its physical partition id
    (``blocking/blocksplit/TuplePartitionIdMapper.java`` — the block-split
    load-statistics input). ``spark_partition_id()`` is evaluated where the
    row physically lives, exactly like the reference's
    ``getRuntimeContext().getIndexOfThisSubtask()``."""
    return df.withColumn(col, F.spark_partition_id())


def salted_block_pairs(
    records: DataFrame,
    block_col: str = "block_key",
    id_col: str = "rid",
    cross_source_only: bool = True,
    source_col: str = "source",
    cap: int = 1024,
) -> DataFrame:
    """BLOCK_SPLIT-style skew-aware pair generation — pure JVM.

    1. Per-block sizes (broadcast — block-key cardinality is small relative
       to records).
    2. Each record gets salt ``s = hash(id) mod m``, ``m = ceil(size/cap)``.
    3. Each record is replicated to every triangle task ``(i, j)`` it
       participates in (``i == s`` or ``j == s``; i <= j) — at most ``m``
       copies, and only for genuinely hot blocks (m == 1 → one copy).
    4. A self-join keyed on (block, i, j) — the left side playing role i,
       the right side role j — emits every pair exactly once, entirely
       inside whole-stage codegen (the earlier ``applyInPandas`` kernel
       shipped every pair through Arrow + a Python loop).

    At 100 TB this bounds the largest task at ~cap² pair evaluations and lets
    1000 executors chew one mega-block concurrently, which a plain self-join
    cannot do (all same-key rows meet in one task).
    """
    sizes = records.groupBy(block_col).agg(F.count("*").alias("_block_n"))
    rec = records.join(F.broadcast(sizes), block_col)
    m = F.greatest(F.lit(1), F.ceil(F.col("_block_n") / F.lit(cap))).cast("int")
    rec = rec.withColumn("_m", m).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("_m")).cast("int")
    )
    # Replicate to triangle tasks: for j in 0..m-1 → task (min(s,j), max(s,j)).
    rec = rec.withColumn("_j", F.explode(F.sequence(F.lit(0), F.col("_m") - 1)))
    rec = rec.withColumn("_ti", F.least("_salt", "_j")).withColumn(
        "_tj", F.greatest("_salt", "_j")
    )
    # A record with salt s appears in task (i,j) once unless i==j==s (once).
    rec = rec.dropDuplicates([id_col, block_col, "_ti", "_tj"])
    rec = rec.localCheckpoint(eager=False)  # both join sides read this subtree

    payload_cols = records.columns
    a = rec.filter(F.col("_salt") == F.col("_ti")).select(
        block_col, "_ti", "_tj", *[F.col(c).alias(f"a_{c}") for c in payload_cols]
    )
    b = rec.filter(F.col("_salt") == F.col("_tj")).select(
        block_col, "_ti", "_tj", *[F.col(c).alias(f"b_{c}") for c in payload_cols]
    )
    joined = a.join(b.hint("shuffle_hash"), [block_col, "_ti", "_tj"]).filter(
        F.col(f"a_{id_col}") != F.col(f"b_{id_col}")
    )
    # Intra-group tasks (i == j) see each unordered pair twice (both rows in
    # both roles) — keep the a<b orientation only. Cross-group tasks see it
    # once with arbitrary orientation — normalize via least/greatest.
    intra = F.col("_ti") == F.col("_tj")
    joined = joined.filter(~intra | (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")))
    if cross_source_only:
        joined = joined.filter(F.col(f"a_{source_col}") != F.col(f"b_{source_col}"))
    swap = F.col(f"a_{id_col}") > F.col(f"b_{id_col}")
    out_cols = []
    for c in payload_cols:
        out_cols.append(
            F.when(swap, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}")
        )
    for c in payload_cols:
        out_cols.append(
            F.when(swap, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}")
        )
    return joined.select(*out_cols)


def lsh_band_pairs(
    records: DataFrame,
    sig_col: str = "minhash",
    id_col: str = "rid",
    bands: int = 16,
    rows_per_band: int = 1,
    broadcast_ok: bool = False,
    size_col: str | None = None,
    min_size_ratio: float | None = None,
) -> DataFrame:
    """MinHash-LSH banding: records sharing any band hash become a candidate
    pair. Returns distinct (a_<id>, b_<id>) — join payloads back afterwards.

    ``broadcast_ok=True`` (caller has verified the record table is
    dimension-sized, e.g. ``pipeline.BROADCAST_MAX_RECORDS``): the band
    table's build side is broadcast and the pre-join repartition is skipped —
    at micro-batch scale both are pure overhead. Default keeps the shuffled
    bucket join, the 100 TB shape.

    With ``rows_per_band=1`` and b bands the miss probability for a pair of
    Jaccard j is (1-j)^b — at j=0.7, b=16 → 4e-9, so exact-verification after
    banding reproduces the brute-force result at test scale while staying
    subquadratic at 100 TB.

    ``size_col`` + ``min_size_ratio``: an EXACT size-ratio prune applied
    inside the bucket join, before the pair dedup — Jaccard ≥ t forces
    min(|A|,|B|)/max(|A|,|B|) ≥ t, so filtering at ratio = threshold can
    never drop a qualifying pair, and on low-entropy inputs (hot-bucket
    worst case) it cuts the pre-dedup pair volume before the shuffle.
    """
    banded = records.select(
        F.col(id_col),
        *([F.col(size_col)] if size_col else []),
        F.posexplode(band_keys(sig_col, bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    # pin the bucket-join parallelism: the banded table compresses to a few
    # MB, so AQE coalesces the join to ~4 tasks while the join itself fans
    # out quadratically inside hot buckets (measured 20 s 3-core stall)
    if not broadcast_ok:
        n_part = records.sparkSession.sparkContext.defaultParallelism * 2
        banded = banded.repartition(n_part, "band_idx", "band_hash")
    a = banded.alias("a")
    b = F.broadcast(banded.alias("b")) if broadcast_ok else banded.alias("b")
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if size_col is not None and min_size_ratio is not None:
        sa, sb = F.col(f"a.{size_col}"), F.col(f"b.{size_col}")
        cond = cond & (
            F.least(sa, sb) >= F.lit(float(min_size_ratio)) * F.greatest(sa, sb)
        )
    pairs = (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias(f"a_{id_col}"), F.col(f"b.{id_col}").alias(f"b_{id_col}"))
        .dropDuplicates([f"a_{id_col}", f"b_{id_col}"])
    )
    return pairs


def top_rank_per_group(df: DataFrame, part_cols: list[str], order_cols: list) -> DataFrame:
    """row_number()==1 helper (the reference's groupBy().max().min() idiom)."""
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
