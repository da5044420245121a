"""Clustering operators: connected components, greedy block-local merge,
representative creation.

Reference parity:

* ``connected_components`` — the reference runs Gelly GSAConnectedComponents
  (min-id label propagation,
  ``graph/utils/ConnectedComponentIdAdder.java:33-43``). Here: iterative
  min-label propagation over DataFrames with localCheckpoint lineage cuts.
  Entity-resolution components are tiny (bounded by the source count), so
  convergence is a handful of supersteps; for adversarially deep graphs at
  100 TB switch to ``large_star_small_star`` (same module), the
  O(log n)-round algorithm of Kiveris et al., "Connected Components in
  MapReduce and Beyond" (SoCC'14).
* ``greedy_merge`` — the delta-iteration merge kernel
  (``model/functions/merge/DeltaIterateMergeMusicStepFunction.java:104-137``):
  per block, repeatedly merge the max-sim pair (ties → asc ids) subject to
  source restrictions (no overlap, count <= max_sources,
  ``CheckRestrictionsFilterFunction.java:48-52``), re-scoring the merged
  cluster against survivors, until no pair >= threshold. All merge decisions
  are block-local in the reference (the per-superstep max is per blocking
  key), so the whole Flink delta iteration collapses to one
  ``applyInPandas`` group function.
* ``representatives`` — majority vote per attribute, ties → longer string
  (``util/Utils.java:63-84`` getFinalValue), cluster id = min member id
  (``RepresentativeCreatorMultiMerge.java:31-47``).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


class UnionFind:
    """Plain union-find with path compression — shared by the batch driver
    loop reconciliation and the streaming per-key state function."""

    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        # Iterative with path halving: a chain-shaped component (near-dup
        # chains, LSH share graphs) can exceed Python's recursion limit.
        parent = self.parent
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if rb < ra:  # min-id root → deterministic cluster ids
            ra, rb = rb, ra
        self.parent[rb] = ra

    def components(self) -> dict:
        return {x: self.find(x) for x in list(self.parent)}


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    input_distinct: bool = False,
) -> DataFrame:
    """Connected components → (node, component = min reachable id).

    Scale-aware hybrid: after blocking+thresholding the *edge* set is orders
    of magnitude smaller than the input (pairs within tiny entity groups).
    Micro-batch-sized edge sets (<= driver_threshold) are collected in ONE
    job (``limit(T+1).toPandas()`` doubles as the size probe — no separate
    ``count()`` barrier) and union-found in O(E α(E)). Anything larger runs
    the distributed O(log n)-round ``large_star_small_star`` — the default
    100 TB path, so driver time never grows with data size.

    The 1M-edge default threshold is ~30 MB of driver memory and ~3 s of
    union-find — cheaper than the 5-8 distributed rounds the same set costs
    (each round is 2 jobs + a lineage cut; measured ~12 s of fixed per-job
    latency at sf2.0). Parity between the two paths at realistic size is
    pinned by
    ``tests/test_pipeline_batch.py::test_distributed_cc_parity_at_scale``.
    """
    dtype = dict(zip(edges.schema.names, edges.schema.fields))[src].dataType
    out_schema = StructType(
        [StructField("node", dtype, True), StructField("comp", dtype, True)]
    )
    spark = edges.sparkSession
    # self-loops dropped up front so the edge set matches large-star's
    # (u != v)-filtered one exactly; union-find treats them as no-ops
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # ONE action: limit(T+1).toPandas() is both the size probe and (on the
    # driver path) the collect itself. The input plan executes exactly once
    # — this matters when it is expensive and un-checkpointed, e.g. the
    # streaming job's merge-on-read dirty-subgraph read, where a separate
    # count/signature action re-ran the whole resolve and the per-batch
    # Spark-job cost of CC doubled with the live-delta-dir count. The
    # (count, hash-sum) convergence seed is only worth a job on the
    # distributed path, which computes it itself.
    # limit() takes a JVM int — a huge force-driver threshold (tests use
    # 1<<40) must not overflow it. If the probe comes back exactly at the
    # cap, the edge set may have been truncated AT the cap — union-find on
    # a truncated set would silently split components, so that case must
    # also take the distributed path. (On the > threshold branch the probe
    # transfer is discarded — a bounded ~30 MB cost at the 1M default,
    # accepted so the small/streaming path stays one action.)
    cap = min(driver_threshold + 1, 2**31 - 1)
    pdf = e.limit(cap).toPandas()
    if len(pdf) > driver_threshold or len(pdf) == cap:
        return large_star_small_star(
            edges, src, dst, max_iter, input_distinct=input_distinct
        )
    # Arrow both ways: toPandas for the collect, createDataFrame(pdf) for the
    # result (a plain python-list createDataFrame pickles row-by-row —
    # measured as a ~26 s single-core stall at 125k components).
    uf = UnionFind()
    for a, b in zip(pdf["u"], pdf["v"]):
        uf.union(a, b)
    comp = uf.components()
    if not comp:
        return spark.createDataFrame([], out_schema)
    out = pd.DataFrame({"node": list(comp.keys()), "comp": list(comp.values())})
    # The driver path only runs when the edge set fit in driver memory, so
    # the component map is broadcast-sized by construction — the hint turns
    # every downstream node-assignment join (assign_cluster_ids) into a
    # shuffle-free broadcast join. The distributed path above returns an
    # unhinted frame and keeps its shuffle join.
    return F.broadcast(spark.createDataFrame(out, schema=out_schema))


def _edge_sig(df: DataFrame) -> tuple:
    """Order-independent multiset signature of an edge frame (u, v):
    (count, sum of row hashes). For deduplicated frames equal signatures ⟺
    equal sets up to a 2^-64 hash-sum collision. Decimal accumulator: an
    int64 sum of 64-bit hashes overflows ANSI."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def large_star_small_star(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
    input_distinct: bool = False,
    init_sig: tuple | None = None,
) -> DataFrame:
    """Kiveris et al. alternating large-star/small-star CC — O(log n) rounds,
    the 100 TB-scale path. Returns (node, component).

    large-star: every node connects its larger neighbors to its min neighbor;
    small-star: every node connects its smaller-or-equal neighbors to the min.
    Fixpoint → every node points at its component's min id. Raises
    ``RuntimeError`` if no round reproduces its input edge set within
    ``max_iter`` rounds: unconverged labels would silently split components.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if not input_distinct:  # callers that pre-deduped skip this shuffle
        e = e.dropDuplicates()
        init_sig = None  # dedup changes the set — the seed no longer applies
    if init_sig is None:
        e = e.localCheckpoint(eager=False)
        prev_sig = _edge_sig(e)  # materializes the checkpoint — one job
    else:
        # caller already aggregated the signature (connected_components'
        # size probe) — start iterating with zero extra jobs
        prev_sig = init_sig
    for _ in range(max_iter):
        # ---- large-star ----
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(nbr_min, "u")
            .withColumn("m", F.least(F.col("mn"), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star ---- (no dedup shuffles mid-round: min() is
        # duplicate-insensitive and the final dropDuplicates cleans the set)
        ss_in = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        nbr_min2 = ss_in.groupBy("u").agg(F.min("v").alias("mn"))
        ss = (
            ss_in.join(nbr_min2, "u")
            .withColumn("m", F.least(F.col("mn"), F.col("u")))
            .select(F.col("v").alias("n"), F.col("m"), F.col("u").alias("self_u"))
        )
        new_e = (
            ss.select(F.col("n").alias("u"), F.col("m").alias("v"))
            .union(ss.select(F.col("self_u").alias("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
            # lazy: the signature aggregate below is the materializing
            # action, so each round runs ONE job (eager would run two)
            .localCheckpoint(eager=False)
        )
        sig = _edge_sig(new_e)
        e = new_e
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"large_star_small_star did not converge in max_iter={max_iter} rounds"
        )
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = comp.select(F.col("comp").alias("node"), F.col("comp"))
    return comp.union(roots).groupBy("node").agg(F.min("comp").alias("comp"))


def assign_cluster_ids(
    nodes: DataFrame, edges: DataFrame, id_col: str, edges_distinct: bool = False
) -> DataFrame:
    """nodes + CC over edges → (id_col, cluster_id); singletons keep own id."""
    comp = connected_components(edges, input_distinct=edges_distinct)
    return (
        nodes.join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("comp"), F.col(id_col)))
        .drop("comp")
    )


def greedy_merge(
    scored_pairs: DataFrame,
    block_col: str = "block",
    a_col: str = "a_rid",
    b_col: str = "b_rid",
    sim_col: str = "sim",
    a_sources: str = "a_smask",
    b_sources: str = "b_smask",
    threshold: float = 0.8,
    max_sources: int = 5,
    rescore: Callable[[frozenset, frozenset], float] | None = None,
) -> DataFrame:
    """Block-local greedy agglomerative merge (the reference delta iteration).

    Returns (rid, cluster_rid) for every record id seen in the block's pairs.
    Tie-breaks mirror ``DeltaIterateMergeMusicStepFunction.java:113-131``:
    max sim, then asc a id, then asc b id; merged cluster id = min member id.
    Without ``rescore`` the merged cluster inherits the max of its members'
    pair sims to outsiders (single-linkage), which matches the reference's
    recompute-against-survivors loop for mean-of-max metrics at pair level.
    """
    out_schema = StructType(
        [
            StructField("rid", StringType()),
            StructField("cluster_rid", StringType()),
        ]
    )

    def merge_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sims: dict[tuple[str, str], float] = {}
        masks: dict[str, int] = {}
        members: dict[str, frozenset] = {}
        for r in pdf.itertuples(index=False):
            a, b = getattr(r, a_col), getattr(r, b_col)
            sims[(a, b)] = getattr(r, sim_col)
            masks.setdefault(a, int(getattr(r, a_sources)))
            masks.setdefault(b, int(getattr(r, b_sources)))
            members.setdefault(a, frozenset([a]))
            members.setdefault(b, frozenset([b]))
        parent = {x: x for x in masks}

        def ok(x: str, y: str) -> bool:
            return (masks[x] & masks[y]) == 0 and bin(masks[x] | masks[y]).count("1") <= max_sources

        while True:
            cand = [
                (s, a, b)
                for (a, b), s in sims.items()
                if s >= threshold and ok(a, b)
            ]
            if not cand:
                break
            # max sim; ties → asc a then asc b
            s, a, b = min(cand, key=lambda t: (-t[0], t[1], t[2]))
            keep, gone = (a, b) if a < b else (b, a)
            for x, root in list(parent.items()):
                if root == gone:
                    parent[x] = keep
            parent[gone] = keep
            masks[keep] = masks[keep] | masks[gone]
            members[keep] = members[keep] | members[gone]
            # Re-point pair sims at the surviving id (single-linkage max).
            new_sims: dict[tuple[str, str], float] = {}
            for (x, y), sv in sims.items():
                nx = keep if x == gone else x
                ny = keep if y == gone else y
                if nx == ny:
                    continue
                if nx > ny:
                    nx, ny = ny, nx
                if rescore is not None:
                    sv2 = rescore(members[nx] if nx in members else frozenset([nx]),
                                  members[ny] if ny in members else frozenset([ny]))
                else:
                    sv2 = sv
                prev = new_sims.get((nx, ny))
                new_sims[(nx, ny)] = sv2 if prev is None else max(prev, sv2)
            sims = new_sims
            del masks[gone]
        rows = [(x, parent[x]) for x in parent]
        return pd.DataFrame(rows, columns=["rid", "cluster_rid"])

    cols = [block_col, a_col, b_col, sim_col, a_sources, b_sources]
    return scored_pairs.select(cols).groupBy(block_col).applyInPandas(merge_block, out_schema)


def representatives(
    assignments: DataFrame,
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Majority-vote representative transcript per cluster.

    Per (cluster, turn_idx): the most frequent member text wins; ties → the
    longer text, then lexicographically smaller (reference getFinalValue,
    ``util/Utils.java:63-84``, plus a total-order tiebreak for determinism).
    """
    joined = transcripts.join(assignments, conv_col)
    counted = joined.groupBy(cluster_col, "turn_idx", "text").agg(
        F.count("*").alias("n_votes")
    )
    # winner per (cluster, turn) via a map-side-combinable min(struct):
    # min over (-votes, -len, text) == the rank-1 row of the window ordered
    # by (votes DESC, len DESC, text ASC), without the full sort a ranking
    # window pays
    win = counted.groupBy(cluster_col, "turn_idx").agg(
        F.min(
            F.struct(
                (-F.col("n_votes")).alias("_nv"),
                (-F.length("text")).alias("_nl"),
                F.col("text").alias("text"),
            )
        ).alias("_w")
    )
    return win.select(
        cluster_col,
        "turn_idx",
        F.col("_w.text").alias("text"),
        (-F.col("_w._nv")).alias("n_votes"),
    )
