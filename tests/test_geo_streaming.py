"""Real settlement splits through the ACTUAL streaming engine.

The geography analogue of ``test_music_streaming.py``: the reference's
80/10/FB/10 split waves stream as parquet micro-batches through
``GeoIncrementalJob`` (foreachBatch + versioned state tables) and the final
sink table must equal the batch driver loop
(``geo.geo_incremental_quality``) row-for-row, landing on the published
incremental anchor (P 0.9961 / R 0.9406 / F1 0.9676). Only that test needs
the reference fixture; the stream == batch, replay and crash-replay tests on
the inline waves run everywhere."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

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

needs_fixture = pytest.mark.skipif(
    not os.path.exists(GEO_VERTICES), reason="reference geography fixture not available"
)

WAVES = [
    (["GN_EIGHTY", "NYT_EIGHTY", "DBP_EIGHTY"], False),
    (["GN_PLUS_TEN", "NYT_PLUS_TEN", "DBP_PLUS_TEN"], True),
    (["FB_EIGHTY", "FB_PLUS_TEN", "FB_FINAL"], True),
    (["GN_FINAL", "DBP_FINAL", "NYT_FINAL"], True),
]


def _write_arrivals(waves, out_dir: str) -> None:
    """One parquet file per wave, mtime-ordered so the file stream triggers
    them in wave order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, w in enumerate(waves):
        tmp = os.path.join(out_dir, f"_w{i}")
        w.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        final = os.path.join(out_dir, f"wave_{i}.parquet")
        os.replace(os.path.join(tmp, part), final)
        os.utime(final, (1_000_000_000 + i * 1000,) * 2)
        shutil.rmtree(tmp)


def _write_waves(spark, out_dir: str) -> None:
    from mapping_analysis_spark.geo import parse_geo_splits, read_geo_vertices

    splits = parse_geo_splits(JAVA_TEST)
    raw = read_geo_vertices(spark, GEO_VERTICES, map_types=False)
    waves = []
    for names, _ in WAVES:
        ids = [x for n in names for x in splits[n]]
        w = raw.join(
            spark.createDataFrame([(x,) for x in ids], "rid long"),
            "rid",
            "left_semi",
        )
        waves.append(w.select("rid", "label", "lat", "lon", "source"))
    _write_arrivals(waves, out_dir)


@needs_fixture
def test_geo_splits_stream_to_batch_parity(spark, tmp_path):
    from mapping_analysis_spark.geo import (
        geo_cluster_wave,
        geo_singletons,
        parse_geo_splits,
        read_geo_vertices,
    )
    from mapping_analysis_spark.operators.evaluation import pair_quality
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    waves_dir = str(tmp_path / "waves")
    _write_waves(spark, waves_dir)

    job = GeoIncrementalJob(spark, str(tmp_path / "state"))
    q = job.start(waves_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(1800)

    got = job.result()
    assert got is not None
    stream_assign = {
        (int(r["rid"]), int(r["cluster_rid"])) for r in got.collect()
    }

    # batch driver loop on the identical splits
    splits = parse_geo_splits(JAVA_TEST)
    raw = read_geo_vertices(spark, GEO_VERTICES, map_types=False).localCheckpoint(
        eager=True
    )
    sources = [r[0] for r in sorted(raw.select("source").distinct().collect())]
    bit_map = F.create_map(
        *[c for i, s in enumerate(sources) for c in (F.lit(s), F.lit(1 << i))]
    )
    reps = None
    for names, settlement_default in WAVES:
        ids = [x for n in names for x in splits[n]]
        wave = raw.join(
            spark.createDataFrame([(x,) for x in ids], "rid long"),
            "rid",
            "left_semi",
        )
        singles = geo_singletons(wave, settlement_default)
        workset = singles if reps is None else reps.unionByName(singles)
        reps = geo_cluster_wave(workset, bit_map).localCheckpoint(eager=True)

    batch_assign = {
        (int(r["rid"]), int(r["cluster_rid"]))
        for r in reps.select(
            F.col("rid").alias("cluster_rid"), F.explode("members").alias("rid")
        )
        .select("rid", "cluster_rid")
        .collect()
    }

    # EXACT final-table parity: streaming == batch, 0 mismatches
    assert stream_assign == batch_assign
    assert len(stream_assign) == 3054

    # and the quality lands on the published incremental anchor
    assign_df = spark.createDataFrame(
        [(r, c) for r, c in stream_assign], "rid long, cluster_rid long"
    )
    gold = spark.read.json(GOLD_CLUSTERS).select(
        F.col("id").alias("gold_id"),
        F.explode("data.clusteredVertices").alias("rid"),
    )
    q_row = pair_quality(
        assign_df, gold, pred_group="cluster_rid", gold_group="gold_id", member_col="rid"
    ).collect()[0]
    assert q_row["f1_e6"] == 967092  # round-5 pinned (published 0.9676)


def test_geo_job_replay_is_noop(spark, tmp_path):
    """Exactly-once: re-invoking a committed batch does not change state."""
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    job = GeoIncrementalJob(spark, str(tmp_path / "state2"))
    wave = spark.createDataFrame(
        [
            (1, "Petra", 30.3167, 35.4833, "http://dbpedia.org/"),
            (2, "Petra (Jordan)", 30.3167, 35.4833, "http://data.nytimes.com/"),
            (3, "Elsewhere Entirely", None, None, "http://sws.geonames.org/"),
        ],
        "rid long, label string, lat double, lon double, source string",
    )
    job.process_batch(wave, 0)
    before = {
        (int(r["rid"]), int(r["cluster_rid"])) for r in job.result().collect()
    }
    assert before == {(1, 1), (2, 1), (3, 3)}
    job.process_batch(wave, 0)  # replay
    after = {
        (int(r["rid"]), int(r["cluster_rid"])) for r in job.result().collect()
    }
    assert after == before
    # second wave merges into the dirty block
    wave2 = spark.createDataFrame(
        [(4, "Petra", 30.3168, 35.4834, "http://rdf.freebase.com/")],
        "rid long, label string, lat double, lon double, source string",
    )
    job.process_batch(wave2, 1)
    final = {
        (int(r["rid"]), int(r["cluster_rid"])) for r in job.result().collect()
    }
    assert final == {(1, 1), (2, 1), (3, 3), (4, 1)}
    # one metrics.jsonl schema for every line, the replayed one included
    lines = [json.loads(x) for x in open(job.metrics_path)]
    assert [x["replayed"] for x in lines] == [False, True, False]
    keys = {
        "batch_id", "rows", "seconds", "rows_per_sec", "replayed",
        "lineage_files", "spark_jobs",
    }
    assert all(set(x) == keys for x in lines), lines


class _Boom(RuntimeError):
    pass


def _boom(*a, **kw):
    raise _Boom()


def _geo_waves(spark):
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "rid long, label string, lat double, lon double, source string"
    )
    return [
        mk(
            [
                (1, "Blue Lake", 10.0, 10.0, "http://dbpedia.org/"),
                (2, "Blue Lake", 10.0001, 10.0001, "http://sws.geonames.org/"),
                (3, "Unrelated Words", None, None, "http://dbpedia.org/"),
                (4, "Green Hill", -20.0, 30.0, "http://dbpedia.org/"),
                (5, "Green Hill", -20.0001, 30.0001, "http://data.nytimes.com/"),
            ]
        ),
        mk(
            [
                (6, "Blue Lake", 10.0002, 10.0, "http://data.nytimes.com/"),
                (7, "Crimson Ridge", 45.0, 45.0, "http://rdf.freebase.com/"),
            ]
        ),
        mk(
            [
                (8, "Green Hill", -20.0002, 30.0, "http://rdf.freebase.com/"),
                (9, "Crimson Ridge Apex", 45.0001, 45.0, "http://dbpedia.org/"),
            ]
        ),
    ]


def _geo_state(job):
    out = {}
    for st in job._tables:
        name = st.root.rsplit("/", 1)[-1]
        df = st.read()
        out[name] = (
            frozenset(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            )
            if df is not None
            else frozenset()
        )
    return out


def test_geo_synthetic_waves_stream_to_batch_parity(spark, tmp_path):
    """The inline waves as arrival files through ``start()`` (file stream,
    one wave per trigger) end on the batch loop's final assignment."""
    from mapping_analysis_spark.geo import geo_cluster_wave, geo_singletons
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    waves = _geo_waves(spark)
    waves_dir = str(tmp_path / "waves")
    _write_arrivals(waves, waves_dir)

    job = GeoIncrementalJob(spark, str(tmp_path / "state"))
    job.start(waves_dir, str(tmp_path / "ckpt")).awaitTermination(600)
    stream_assign = {
        (int(r["rid"]), int(r["cluster_rid"])) for r in job.result().collect()
    }

    sources = sorted(
        {r["source"] for w in waves for r in w.select("source").collect()}
    )
    bit_map = F.create_map(
        *[c for i, s in enumerate(sources) for c in (F.lit(s), F.lit(1 << i))]
    )
    reps = None
    for i, w in enumerate(waves):
        singles = geo_singletons(
            w.withColumn("types", F.array(F.lit("no_type"))),
            settlement_default=i > 0,
        )
        workset = singles if reps is None else reps.unionByName(singles)
        reps = geo_cluster_wave(workset, bit_map).localCheckpoint(eager=True)
    batch_assign = {
        (int(r["rid"]), int(r["cluster_rid"]))
        for r in reps.select(
            F.col("rid").alias("cluster_rid"), F.explode("members").alias("rid")
        )
        .select("rid", "cluster_rid")
        .collect()
    }

    assert stream_assign == batch_assign
    # later waves join earlier clusters: 6 → 1, 8 → 4, 9 → 7
    assert stream_assign == {
        (1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 1), (7, 7), (8, 4), (9, 7)
    }


@pytest.fixture(scope="module")
def geo_ref_state(spark, tmp_path_factory):
    """Full state of the uninterrupted run over ``_geo_waves``, and a copy of
    its state after wave 0, on which every crash point restarts."""
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    root = str(tmp_path_factory.mktemp("geo_ref"))
    after0 = str(tmp_path_factory.mktemp("geo_ref_after0") / "state")
    ref = GeoIncrementalJob(spark, root)
    for i, w in enumerate(_geo_waves(spark)):
        ref.process_batch(w, i)
        if i == 0:
            shutil.copytree(root, after0)
    return _geo_state(ref), after0


@pytest.mark.parametrize(
    "crash_at", ["reps", "rep_blocks", "assignments", "dirty", "marker"]
)
def test_geo_job_mid_batch_crash_replay(spark, tmp_path, crash_at, geo_ref_state):
    """Kill geo batch 1 just before the ``crash_at`` table writes
    (``marker``: before the commit marker); replay + batch 2 must converge
    to the uninterrupted run's full state."""
    from mapping_analysis_spark.streaming.wave_job import GeoIncrementalJob

    waves = _geo_waves(spark)
    want, after0 = geo_ref_state

    shutil.copytree(after0, str(tmp_path / "crash"))
    job = GeoIncrementalJob(spark, str(tmp_path / "crash"))
    victim, method = (
        (job.commits, "commit")
        if crash_at == "marker"
        else (getattr(job, crash_at), "apply_delta")
    )
    setattr(victim, method, _boom)
    with pytest.raises(_Boom):
        job.process_batch(waves[1], 1)
    delattr(victim, method)
    assert all(1 not in st.versions() for st in job._tables)
    job.process_batch(waves[1], 1)  # replay
    job.process_batch(waves[2], 2)
    got = _geo_state(job)
    for name in want:
        assert got[name] == want[name], f"state diverged: {name}"
