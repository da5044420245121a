"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would pass to ``spark-submit`` on a real cluster (AQE, skew-join,
Arrow). Shuffle partitions default to the core count locally — on a cluster
they should be sized to ~2-3x total cores (set via ``shuffle_partitions``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapping-analysis-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    aqe: bool = False,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Notes on the flags:

    * AQE **off by default**: this engine pins its physical plan explicitly
      (user repartitions, triangle salting, stop-block pruning, explicit
      ``F.broadcast`` hints), so AQE's per-shuffle stage-materialization
      barriers only serialize the DAG — measured 54s → 30s on the fused
      flagship edge job at sf1.0. Pass ``aqe=True`` for ad-hoc workloads
      whose skew/sizes the engine has not planned for.
    * Auto-broadcast off (``-1``): size estimates through localCheckpoint +
      explode are wildly wrong (a 6M-row exploded band table was estimated
      broadcastable); every join that *should* broadcast carries an explicit
      ``F.broadcast`` hint, which still works with the auto threshold off.
    * ``spark.sql.session.timeZone=UTC``: required so timestamp semantics
      match the DuckDB correctness oracle (duckdb timestamps are UTC-naive).
    * Arrow enabled: all pandas UDFs ride the Arrow batch path (the engine
      contains no row-at-a-time Python UDFs).
    * ``master`` override: pass ``local-cluster[W,C,MEM_MB]`` for
      process-isolated executor JVMs (the scaling bench uses this so an
      N → 4N step multiplies actual executor processes), or a real
      ``spark://`` / ``yarn`` master in production.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # Pin BLAS to one thread per Python worker: every task slot runs its own
    # worker process, so N concurrent workers x multi-threaded OpenBLAS
    # oversubscribes the host (measured on the dense GEMM pair scan: ~10 %
    # worse wall plus a fatter straggler tail). Workers inherit this through
    # the JVM environment; setdefault so an operator may override it.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", str(aqe).lower())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # long multi-query sessions accumulate localCheckpoint blocks from
        # COMPLETED queries; the ContextCleaner only frees them on driver
        # GC events, which a big mostly-idle heap rarely triggers — force a
        # periodic sweep so block-manager memory stays flat (measured: the
        # 45-query bench drifted ~20-40% slower in its later passes without)
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        # locality wait: the 3s default serializes stages on many few-core
        # executors (checkpoint-block locality), but 0 forces remote fetches
        # of localCheckpoint blocks; 500ms balances both (measured on the
        # local-cluster scaling matrix, see BENCH.md)
        .config("spark.locality.wait", "500ms")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
