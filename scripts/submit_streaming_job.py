"""spark-submit driver for the streaming entity-matching job (north rule:
"run via spark-submit --py-files on multi-executor clusters").

Stages the transcripts into arrival files, streams them through
``IncrementalClusteringJob`` (maxFilesPerTrigger=1, checkpointed), then
verifies the final exactly-once sink equals the batch
pipeline row-for-row — the BASELINE.json invariant.

Launch (see scripts/submit.sh):
    spark-submit --master local[8] --py-files /tmp/mapping_analysis_spark.zip \\
        scripts/submit_streaming_job.py /root/testdata/sf0.001 /tmp/stream_run
On a cluster, swap --master for yarn/k8s and size --num-executors; the job
code is identical.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time


def main(sf_dir: str, work_dir: str) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("mapping-analysis-streaming")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "8"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from mapping_analysis_spark.data.transcripts import ensure_transcripts
    from mapping_analysis_spark.pipeline import dedup_conversations
    from mapping_analysis_spark.streaming.job import IncrementalClusteringJob

    shutil.rmtree(work_dir, ignore_errors=True)
    in_dir = os.path.join(work_dir, "arrivals")
    os.makedirs(in_dir)
    t = spark.read.parquet(ensure_transcripts(sf_dir))
    # stage 4 arrival files split by conversation hash — each micro-batch
    # adds a slice of the stream
    from pyspark.sql import functions as F

    for i in range(4):
        part = t.filter(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == i)
        tmp = os.path.join(work_dir, f"w{i}")
        part.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(src, os.path.join(in_dir, f"arrival_{i:02d}.parquet"))

    job = IncrementalClusteringJob(spark, os.path.join(work_dir, "state"))
    t0 = time.time()
    q = job.start(in_dir, os.path.join(work_dir, "ckpt"), max_files_per_trigger=1)
    q.awaitTermination()
    dur = time.time() - t0

    got = job.result().withColumnRenamed("cluster_id", "stream_cluster")
    want = dedup_conversations(t).select("conv_id", "cluster_id")
    n = want.count()
    mismatches = (
        want.join(got, "conv_id", "left")
        .filter(
            (F.col("stream_cluster").isNull())
            | (F.col("stream_cluster") != F.col("cluster_id"))
        )
        .count()
    )
    thr = n / dur if dur > 0 else 0
    print(
        f"RESULT streamed {n} conversations in {dur:.1f}s "
        f"({thr:.0f} conv/s), batch-parity mismatches: {mismatches}"
    )
    spark.stop()
    return 0 if mismatches == 0 else 1


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wd = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_run"
    raise SystemExit(main(sf, wd))
