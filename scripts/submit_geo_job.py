"""spark-submit driver: real settlement splits through the streaming engine.

Settlement twin of ``submit_music_job.py``: stages the reference's
80/10/FB/10 geography split waves as parquet arrival files, streams them
through ``GeoIncrementalJob``, writes the final assignment table to
``<work_dir>/final_assignments`` and prints wall/throughput plus pair
P/R/F1 vs the settlement-benchmark gold.

Run at two cluster sizes and diff the two final tables:

    SPARK_MASTER=local-cluster[2,1,3072] scripts/submit_geo.sh /tmp/geo_N
    SPARK_MASTER=local-cluster[8,1,3072] scripts/submit_geo.sh /tmp/geo_4N
"""

from __future__ import annotations

import os
import shutil
import sys
import time

GEO_VERTICES = (
    "/root/reference/analysis-core/src/test/resources/data/geography/"
    "vertices/vertices.json"
)
GOLD_CLUSTERS = (
    "/root/reference/analysis-core/src/test/resources/data/"
    "settlement-benchmark/gold/vertices/clusters.json"
)
JAVA_TEST = (
    "/root/reference/analysis-core/src/test/java/org/mappinganalysis/"
    "integration/IncrementalGeoClusteringTest.java"
)

WAVES = [
    ["GN_EIGHTY", "NYT_EIGHTY", "DBP_EIGHTY"],
    ["GN_PLUS_TEN", "NYT_PLUS_TEN", "DBP_PLUS_TEN"],
    ["FB_EIGHTY", "FB_PLUS_TEN", "FB_FINAL"],
    ["GN_FINAL", "DBP_FINAL", "NYT_FINAL"],
]


def main(work_dir: str) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("mapping-analysis-geo-streaming")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "8")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from mapping_analysis_spark.geo import parse_geo_splits, read_geo_vertices
    from mapping_analysis_spark.operators.evaluation import pair_quality
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    shutil.rmtree(work_dir, ignore_errors=True)
    waves_dir = os.path.join(work_dir, "waves")
    os.makedirs(waves_dir)

    splits = parse_geo_splits(JAVA_TEST)
    raw = read_geo_vertices(spark, GEO_VERTICES, map_types=False).localCheckpoint(
        eager=True
    )
    n_records = 0
    for i, names in enumerate(WAVES):
        ids = [x for n in names for x in splits[n]]
        n_records += len(ids)
        w = raw.join(
            spark.createDataFrame([(x,) for x in ids], "rid long"),
            "rid",
            "left_semi",
        )
        tmp = os.path.join(work_dir, f"_w{i}")
        (
            w.select("rid", "label", "lat", "lon", "source")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        final = os.path.join(waves_dir, f"wave_{i}.parquet")
        os.replace(os.path.join(tmp, part), final)
        os.utime(final, (1_000_000_000 + i * 1000,) * 2)
        shutil.rmtree(tmp)

    job = GeoIncrementalJob(spark, os.path.join(work_dir, "state"))
    t0 = time.time()
    q = job.start(waves_dir, os.path.join(work_dir, "ckpt"))
    q.awaitTermination()
    dur = time.time() - t0

    got = job.result()
    assert got is not None
    got.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(work_dir, "final_assignments")
    )
    n_assigned = got.count()

    gold = spark.read.json(GOLD_CLUSTERS).select(
        F.col("id").alias("gold_id"),
        F.explode("data.clusteredVertices").alias("rid"),
    )
    q_row = pair_quality(
        got, gold, pred_group="cluster_rid", gold_group="gold_id", member_col="rid"
    ).collect()[0]
    f1 = q_row["f1_e6"] / 1e6
    thr = n_records / dur if dur > 0 else 0
    print(
        f"RESULT streamed {n_records} settlement records (4 waves) in {dur:.1f}s "
        f"({thr:.0f} rec/s), {n_assigned} assignments, "
        f"P {q_row['precision_e6'] / 1e6:.5f} R {q_row['recall_e6'] / 1e6:.5f} "
        f"F1 {f1:.5f}"
    )
    spark.stop()
    # round-5 pinned 0.967092 (reference's published 0.9676)
    return 0 if abs(f1 - 0.967092) < 0.002 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/geo_stream_run"))
