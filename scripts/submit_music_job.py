"""spark-submit driver: real MusicBrainz splits through the streaming engine.

North-rule evidence for the round-5 flagship (real data × exactly-once
streaming): stages the reference's 80/10/source-5/10 split waves
(``IncrementalMusicBenchmark.java:93-189`` semantics) as parquet arrival
files, streams them through ``MusicIncrementalJob`` (foreachBatch +
versioned state tables), writes the final assignment table to
``<work_dir>/final_assignments`` and prints wall/throughput plus pair
P/R/F1 vs the gold CID labels.

Run it at two cluster sizes (one 1-core executor JVM per unit of
parallelism) and diff the two final tables — identical output at both
sizes plus the pinned anchor F1 is the claim:

    SPARK_MASTER=local-cluster[2,1,3072] scripts/submit_music.sh /tmp/mus_N
    SPARK_MASTER=local-cluster[8,1,3072] scripts/submit_music.sh /tmp/mus_4N
"""

from __future__ import annotations

import os
import shutil
import sys
import time

MUSIC_CSV = (
    "/root/reference/analysis-core/src/test/resources/data/musicbrainz/input/"
    "musicbrainz-20000-A01.csv.dapo"
)
SPLIT_DIR = (
    "/root/reference/analysis-core/src/test/resources/data/musicbrainz/split"
)


def main(work_dir: str) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("mapping-analysis-music-streaming")
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

    from mapping_analysis_spark.music import music_records
    from mapping_analysis_spark.operators.evaluation import pair_quality
    from mapping_analysis_spark.streaming.wave_job import MusicIncrementalJob

    shutil.rmtree(work_dir, ignore_errors=True)
    waves_dir = os.path.join(work_dir, "waves")
    os.makedirs(waves_dir)

    records = music_records(spark, MUSIC_CSV).localCheckpoint(eager=True)

    def ids_from(fname: str):
        return spark.read.csv(os.path.join(SPLIT_DIR, fname), schema="rid long")

    waves = [
        records.join(ids_from("initialEighty.txt"), "rid", "left_semi"),
        records.join(ids_from("addTen.txt"), "rid", "left_semi"),
        records.filter(F.col("source") == "5"),
        records.join(ids_from("lastTen.txt"), "rid", "left_semi"),
    ]
    for i, w in enumerate(waves):
        tmp = os.path.join(work_dir, f"_w{i}")
        (
            w.select("rid", F.col("artist_title_album").alias("ata"), "smask")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        final = os.path.join(waves_dir, f"wave_{i}.parquet")
        os.replace(os.path.join(tmp, part), final)
        # mtime-ordered so the file stream triggers the phases in order
        os.utime(final, (1_000_000_000 + i * 1000,) * 2)
        shutil.rmtree(tmp)

    n_records = sum(w.count() for w in waves)
    job = MusicIncrementalJob(spark, os.path.join(work_dir, "state"))
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

    gold = records.select("rid", "cid")
    q_row = pair_quality(
        got, gold, pred_group="cluster_rid", gold_group="cid", member_col="rid"
    ).collect()[0]
    f1 = q_row["f1_e6"] / 1e6
    thr = n_records / dur if dur > 0 else 0
    print(
        f"RESULT streamed {n_records} music records (4 waves) in {dur:.1f}s "
        f"({thr:.0f} rec/s), {n_assigned} assignments, "
        f"P {q_row['precision_e6'] / 1e6:.5f} R {q_row['recall_e6'] / 1e6:.5f} "
        f"F1 {f1:.5f}"
    )
    spark.stop()
    # pinned round-4 anchor 0.93394 (reference's published 0.93364)
    return 0 if abs(f1 - 0.93394) < 0.002 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/music_stream_run"))
