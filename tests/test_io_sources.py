"""EPGM source + partition-id mapper (SURVEY §2 rows #4, #23)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def _write_epgm(tmp_path):
    d = str(tmp_path / "epgm")
    os.makedirs(d, exist_ok=True)
    vertices = [
        # NC recIds are "<rec>s<src>"-shaped; Utils.getIdFromNcId
        # reverse-concatenates the 's'-split parts: "101s1" -> 1101
        {"id": "g1", "data": {"recId": "101s1", "surname": "smith", "name": "anna", "postcod": "4000", "type": "src1"}, "meta": {"label": "record"}},
        {"id": "g2", "data": {"recId": "102s2", "surname": "smyth", "name": "ann", "postcod": "4000", "type": "src2"}, "meta": {"label": "record"}},
        {"id": "g3", "data": {"field": "queen bohemian rhapsody a night at the opera", "type": "src3"}, "meta": {"label": "record"}},
        # non-parsing recIds (reference would throw NumberFormatException)
        # hash the FULL string — an original and its duplicate must NOT
        # collapse into one vertex (round-4 ADVICE item)
        {"id": "g4", "data": {"recId": "rec-201-org", "surname": "jones", "type": "src1"}, "meta": {"label": "record"}},
        {"id": "g5", "data": {"recId": "rec-201-dup-0", "surname": "jonse", "type": "src2"}, "meta": {"label": "record"}},
    ]
    edges = [
        {"id": "e1", "source": "g1", "target": "g2", "data": {}, "meta": {"label": "link"}},
        {"id": "e2", "source": "g2", "target": "g3", "data": {}, "meta": {"label": "link"}},
        {"id": "e3", "source": "g4", "target": "g5", "data": {}, "meta": {"label": "link"}},
    ]
    heads = [{"id": "h1", "data": {}, "meta": {"label": "graph"}}]
    for name, rows in [("vertices", vertices), ("edges", edges), ("graphHeads", heads)]:
        with open(os.path.join(d, f"{name}.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
    return d


def test_epgm_source_resolves_vertices_and_edges(spark, tmp_path):
    from mapping_analysis_spark.io.epgm_source import read_epgm_graph

    v, e = read_epgm_graph(spark, _write_epgm(tmp_path))
    rows = {r["rid"]: r for r in v.collect()}
    assert len(rows) == 5
    # recId-derived numeric ids (Utils.getIdFromNcId reverse-concat of
    # 's'-split parts: "101s1" -> "1" + "101" = 1101)
    assert 1101 in rows and 2102 in rows
    assert rows[1101]["label"] == "smith" and rows[1101]["artist"] == "anna"
    assert rows[1101]["number"] == "4000" and rows[1101]["source"] == "src1"
    # recId-less vertex falls back to a deterministic gradoop-id hash
    by_label = {r["label"]: r["rid"] for r in v.collect() if r["label"]}
    hashed = [
        rid for rid in rows
        if rid not in (1101, 2102, by_label.get("jones"), by_label.get("jonse"))
    ]
    assert len(hashed) == 1
    assert rows[hashed[0]]["artist_title_album"] == (
        "queen bohemian rhapsody a night at the opera"
    )
    # non-parsing recIds hash the full string: org + dup stay distinct
    assert by_label["jones"] != by_label["jonse"]
    # edges resolved to vertex rids through the id map
    edges = {(r["a"], r["b"]) for r in e.collect()}
    assert (1101, 2102) in edges and (2102, hashed[0]) in edges
    assert (by_label["jones"], by_label["jonse"]) in edges


def test_partition_id_mapper(spark):
    from mapping_analysis_spark.operators.blocking import with_partition_id

    df = spark.range(100).repartition(4)
    out = with_partition_id(df)
    pids = {r["partition_id"] for r in out.select("partition_id").distinct().collect()}
    assert pids <= set(range(4)) and len(pids) > 1
    # per-partition counts = the block-split statistics input
    per = with_partition_id(df).groupBy("partition_id").count()
    assert per.agg(F.sum("count")).collect()[0][0] == 100
