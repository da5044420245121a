"""MusicBrainz end-to-end pipeline — the reference's real-data benchmark.

Composes the already-oracled operators into the exact batch flow the
reference runs on its 19,375-record / 5-source MusicBrainz-20000 CSV
(``MusicBrainzTest.java:112-199`` csimqTest + testMusicDataSim):

1.  CSV source (``io/impl/csv/CSVDataSource.java:96-118``) — vertices carry
    the gold cluster id as ``cid``; the *input graph* is the SIMPLE spanning
    star inside each gold block (``MusicBrainzTest.java:58-64``: 9,375 edges
    on the 20k file).
2.  DefaultPreprocessing (``preprocessing/DefaultPreprocessing.java:44-60``):
    IntraSourceLinkRemover -> BasicEdgeSimilarityComputation (MUSIC = trigram
    cosine on simplified artist+title+album,
    ``simcomputation/BasicEdgeSimilarityComputation.java:104-110``, admission
    cutoff sim > 0.6) -> BasicLinkFilter (best link per vertex per partner
    source).
3.  Decomposition: connected components (music vertices are all untyped, so
    TypeGroupBy's hash-cc collapse ≡ plain CC over the admitted edges) ->
    SimSort eviction at the csimq threshold 0.4
    (``MusicBrainzTest.java:121-124``) -> MergeInitialization singleton
    rejoin at 0.5 (``merge/MergeInitialization.java:88-96``).
4.  RepresentativeCreatorMultiMerge (``decomposition/representative/
    MusicMajorityPropertiesGroupReduceFunction.java:40-90``): per cluster the
    majority-vote artist_title_album (ties -> longer string,
    ``util/Utils.java:63-84``), min member id as representative id, the
    source set and the member list.
5.  MergeExecution (``merge/MergeExecution.java:289-296`` MUSIC branch):
    prefix-4 blocking label over the representative's artist_title_album,
    per-block delta iteration — each step merges the max-sim admissible pair
    (ties -> asc ids, ``DeltaIterateMergeMusicStepFunction.java:104-131``),
    merged cluster id = min member id, merged attributes come from the
    *priority* side (more members, ties -> src;
    ``DualMergeMusicMapper.java:23-40``), restrictions re-checked against
    the grown source mask (``CheckRestrictionsFilterFunction.java:48-52``).
6.  Pair-level P/R/F1 against the gold ``cid``
    (``util/QualityUtils.java:172-242`` printMusicQuality). The reference's
    published sweep anchor: "0.55 best precision: 0.994 recall: 0.9436
    F1: 0.9681" (``MusicBrainzTest.java:169-171``).

Scale shape: every step is the same partition-friendly form as the
transcript pipeline — blocking bounds pair generation, the merge delta
iteration is block-local (the reference serializes per blocking key too, via
``groupBy(blocking label)`` inside the Flink delta iteration), and nothing
but the per-block kernels leaves the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

import math

import pandas as pd
from pyspark.sql.types import DoubleType

from mapping_analysis_spark.io.csv_source import read_music_csv
from mapping_analysis_spark.operators.clustering import (
    assign_cluster_ids,
    connected_components,
)
from mapping_analysis_spark.operators.decomposition import sim_sort
from mapping_analysis_spark.operators.evaluation import pair_quality
from mapping_analysis_spark.operators.preprocess import (
    all_edges_per_key,
    basic_link_filter,
    merge_initialization,
    remove_intra_source_links,
    simple_edges_per_key,
)
# BasicEdgeSimilarityComputation.java:110 — "music 0.6 or 0.65 could be
# better for f1"; the reference ships 0.6 (strict >).
MUSIC_EDGE_ADMISSION = 0.6
SIMSORT_THRESHOLD = 0.4  # csimq config, MusicBrainzTest.java:121
REJOIN_THRESHOLD = 0.5  # MergeInitialization.java:88-96
DEFAULT_SOURCES_COUNT = 5
DEFAULT_BLOCKING_LENGTH = 4


def _trigrams(s: str):
    """Padded 3-gram Counter (simmetrics ``Tokenizers.qGramWithPadding(3)``
    pads with q-1 = '##' on both sides)."""
    from collections import Counter

    p = "##" + s + "##"
    return Counter(p[i : i + 3] for i in range(len(p) - 2))


def _simmetrics_cosine(ta, la: int, tb, lb: int) -> float:
    """simmetrics-4.0.1 ``CosineSimilarity<T>`` over multisets (the metric
    the reference builds in ``util/Utils.java:869-873``): Σ min(ca, cb) /
    (sqrt(Σca) · sqrt(Σcb)) — min-sum intersection over total token counts,
    NOT the count-dot-product cosine — computed to float32 like the Java
    ``(float)`` cast, then 6-dp HALF_UP (``Utils.getExactDoubleResult``).

    Empty-multiset semantics match simmetrics: both empty → 1.0, one empty
    → 0.0 (callers pass padded trigram tables, where even "" tokenizes to
    {'###': 2}, so this branch is the string-level contract's backstop)."""
    import numpy as np

    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    if len(tb) < len(ta):
        ta, tb = tb, ta
    inter = sum(min(c, tb[g]) for g, c in ta.items() if g in tb)
    if not inter:
        return 0.0
    v = float(np.float32(inter / (math.sqrt(la) * math.sqrt(lb))))
    return math.floor(v * 1_000_000 + 0.5) / 1_000_000


@F.pandas_udf(DoubleType())
def trigram_cosine_simmetrics(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched simmetrics trigram cosine over already-simplified
    strings — vectorized like ``functions.simfns.trigram_cosine`` but with
    the min-sum intersection and total-count norms of simmetrics 4.0.1.

    ASCII pairs take the numpy path (per-unique trigram tables via
    ``_trigram_table``, one sorted-key intersection per batch, min() of the
    two count columns, norms = trigram totals = len+2); pairs touching a
    non-ASCII string (accents are KEPT by the music simplify) fall back to
    the exact Counter math — identical results, pinned by
    ``tests/test_musicbrainz.py::test_simmetrics_kernel_paths_agree``."""
    import numpy as np

    from mapping_analysis_spark.functions.simfns import _trigram_table

    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return pd.Series(out)
    av = a.to_numpy(dtype=object)
    bv = b.to_numpy(dtype=object)
    valid = np.fromiter(
        (
            x is not None and y is not None and x != "" and y != ""
            and x.isascii() and y.isascii()
            for x, y in zip(av, bv)
        ),
        dtype=bool,
        count=n,
    )
    tri: dict = {}
    for i in np.flatnonzero(~valid):
        x, y = av[i], bv[i]
        if x is None or y is None:
            continue
        # "" pads to '####' = {'###': 2}, which a non-empty string's padded
        # grams can share (e.g. '#' → '#####'), so empties take the exact
        # Counter math too
        for s in (x, y):
            if s not in tri:
                c = _trigrams(s)
                tri[s] = (c, sum(c.values()))
        ta, la = tri[x]
        tb, lb = tri[y]
        out[i] = _simmetrics_cosine(ta, la, tb, lb)
    idx = np.flatnonzero(valid)
    if len(idx) == 0:
        return pd.Series(out)
    ua, ia = np.unique(av[idx].astype(str), return_inverse=True)
    ub, ib = np.unique(bv[idx].astype(str), return_inverse=True)
    pa, ca_codes, ca_counts, _ = _trigram_table(list(ua))
    pb, cb_codes, cb_counts, _ = _trigram_table(list(ub))
    # simmetrics norms are TOTAL trigram counts: padded length − 2 = len + 2
    la = np.fromiter((len(s) + 2 for s in ua), dtype=np.int64, count=len(ua))
    lb = np.fromiter((len(s) + 2 for s in ub), dtype=np.int64, count=len(ub))

    def expand(indptr, codes, counts, inv):
        seg = indptr[inv + 1] - indptr[inv]
        row = np.repeat(np.arange(len(inv), dtype=np.int64), seg)
        ofs = np.arange(seg.sum(), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(seg)[:-1])), seg
        )
        pos = np.repeat(indptr[inv], seg) + ofs
        return (row << 24) | codes[pos], counts[pos]

    ka, wa = expand(pa, ca_codes, ca_counts, ia)
    kb, wb = expand(pb, cb_codes, cb_counts, ib)
    dots = np.zeros(len(idx), dtype=np.int64)
    if len(ka) and len(kb):
        pos = np.searchsorted(ka, kb)
        pos[pos == len(ka)] = 0
        hit = ka[pos] == kb
        dots = np.bincount(
            kb[hit] >> 24,
            weights=np.minimum(wa[pos[hit]], wb[hit]).astype(np.float64),
            minlength=len(idx),
        ).astype(np.int64)
    # Java computes in double then casts to float; match: double division,
    # THEN float32, then 6-dp HALF_UP
    # sqrt(la) * sqrt(lb), NOT sqrt(la*lb) — mirrors the Java expression
    # bit-for-bit (the two differ in the last ulp)
    resd = dots.astype(np.float64) / (
        np.sqrt(la[ia].astype(np.float64)) * np.sqrt(lb[ib].astype(np.float64))
    )
    res = np.floor(resd.astype(np.float32).astype(np.float64) * 1_000_000 + 0.5) / 1_000_000
    res[dots == 0] = 0.0
    out[idx] = res
    return pd.Series(out)


def music_blocking_label(col, length: int = DEFAULT_BLOCKING_LENGTH):
    """``Utils.getMusicBlockingLabel`` (``util/Utils.java:682-733``): on the
    lowercase (already simplified) label, strip a leading "the" plus one
    char and trim, take the first ``length`` chars (SPACES KEPT, no
    padding); if that leaves nothing, fall back to the unstripped prefix."""
    lab = F.lower(col)
    stripped = F.when(
        lab.startswith("the") & (F.length(lab) > 3),
        F.trim(F.substring(lab, 5, 2_000_000)),
    ).otherwise(lab)
    key = F.substring(stripped, 1, length)
    return F.when(key == "", F.substring(lab, 1, length)).otherwise(key)


def music_records(spark: SparkSession, csv_path: str) -> DataFrame:
    """CSV vertices + source bitmask (sources are 1..5). ``ata_norm`` is the
    artist_title_album itself — the CSV source already stores it simplified
    (``createSimpleArtistTitleAlbum``), and ``simplify`` is idempotent."""
    v = read_music_csv(spark, csv_path)
    return v.withColumn("ata_norm", F.col("artist_title_album")).withColumn(
        "smask", F.expr("cast(shiftleft(1L, cast(source as int) - 1) as long)")
    )


def music_input_edges(records: DataFrame) -> DataFrame:
    """SIMPLE spanning star per gold block — the reference's input graph
    (EdgeComputationOnVerticesForKeySelector(CcIdKeySelector, SIMPLE))."""
    return simple_edges_per_key(records, "cid", id_col="rid")


def music_scored_edges(records: DataFrame, edges: DataFrame) -> DataFrame:
    """DefaultPreprocessing: intra-source removal, trigram edge sim with the
    > 0.6 admission cutoff, then the BASIC 1:n link filter."""
    # the MusicBrainz record table is a checkpointed ~19k-row fixture —
    # broadcast every (rid, payload) lookup side, removing four shuffle
    # exchanges from a plan whose data fits in one partition
    e = remove_intra_source_links(
        edges, records, id_col="rid", source_col="source", broadcast_vertices=True
    )
    ata = records.select("rid", "ata_norm")
    scored = (
        e.join(F.broadcast(ata.select(F.col("rid").alias("a"), F.col("ata_norm").alias("_na"))), "a")
        .join(F.broadcast(ata.select(F.col("rid").alias("b"), F.col("ata_norm").alias("_nb"))), "b")
        .withColumn("sim", trigram_cosine_simmetrics(F.col("_na"), F.col("_nb")))
        .filter(F.col("sim") > F.lit(MUSIC_EDGE_ADMISSION))
        .drop("_na", "_nb")
    )
    return basic_link_filter(
        scored, records, id_col="rid", source_col="source", sim_col="sim",
        broadcast_vertices=True,
    )


def music_components(records: DataFrame, scored: DataFrame) -> DataFrame:
    """CC over admitted edges (untyped music ≡ TypeGroupBy hash-cc), SimSort
    eviction at 0.4 on the REBUILT per-component all-pairs graph
    (``SimSort.java:46-61``: EdgeComputationOnVerticesForKeySelector ALL +
    re-scored ``> 0.6`` admission — on the MusicBrainz-20000 file this is
    quality-identical to evicting on the link-filtered edges, F1 0.98047 vs
    0.98050, but it is the reference's input shape), then MergeInitialization
    singleton rejoin at 0.5. Returns (rid, comp)."""
    base = assign_cluster_ids(records.select("rid"), scored.select("a", "b"), "rid")
    pre = base.select("rid", F.col("cluster_id").alias("comp"))
    vc = records.select("rid", "ata_norm").join(pre, "rid")
    comp_pairs = all_edges_per_key(vc, "comp", id_col="rid")
    side = records.select("rid", "ata_norm")
    rescored = (
        comp_pairs.join(
            side.select(F.col("rid").alias("a"), F.col("ata_norm").alias("_na")), "a"
        )
        .join(side.select(F.col("rid").alias("b"), F.col("ata_norm").alias("_nb")), "b")
        .withColumn("sim", trigram_cosine_simmetrics(F.col("_na"), F.col("_nb")))
        .filter(F.col("sim") > F.lit(MUSIC_EDGE_ADMISSION))
        .select("a", "b", "sim")
        .localCheckpoint(eager=True)
    )
    post = sim_sort(
        rescored,
        pre.select(F.col("rid").alias("node"), "comp"),
        threshold=SIMSORT_THRESHOLD,
    ).select(F.col("node").alias("rid"), "comp", "evicted")
    return merge_initialization(
        pre, post, rescored, id_col="rid", comp_col="comp",
        threshold=REJOIN_THRESHOLD,
    )


def music_representatives(records: DataFrame, assign: DataFrame) -> DataFrame:
    """Majority-vote representative per component: rep id = min member rid,
    ATA = most frequent (ties -> longer, then lexicographically smaller for
    determinism), source mask = OR of member masks, members kept for the
    final expansion. Returns (cluster_rid, ata, smask, members)."""
    j = records.join(assign, "rid")
    votes = j.groupBy("comp", "artist_title_album").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("comp").orderBy(
        F.col("_n").desc(),
        F.length("artist_title_album").desc(),
        F.col("artist_title_album").asc(),
    )
    best_ata = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("comp", F.col("artist_title_album").alias("ata"))
    )
    agg = j.groupBy("comp").agg(
        F.min("rid").alias("cluster_rid"),
        F.bit_or("smask").alias("smask"),
        F.collect_list("rid").alias("members"),
    )
    return agg.join(best_ata, "comp").select("cluster_rid", "ata", "smask", "members")


def music_merge(
    reps: DataFrame,
    merge_threshold: float,
    sources_count: int = DEFAULT_SOURCES_COUNT,
    blocking_length: int = DEFAULT_BLOCKING_LENGTH,
    pair_cap: int = 1024,
) -> DataFrame:
    """MergeExecution (MUSIC): block-local greedy delta iteration.

    Per blocking label (prefix-``blocking_length`` of the normalized ATA):
    repeatedly merge the highest-sim admissible cluster pair (sim = trigram
    cosine on normalized ATA; admissible = sim >= threshold, disjoint source
    masks, combined sources <= sources_count; ties -> asc src id then asc trg
    id). The merged cluster keeps the min member id; its ATA comes from the
    priority side (more members, ties -> the smaller-id side), so sims
    against survivors are recomputed from the priority ATA exactly as
    ``ChangesMusicOperation`` + ``ComputePrepareMusicOperation`` re-run
    ``MergeMusicSimilarity`` in the reference.

    Sequential-within-block greedy is equivalent to the reference's
    per-superstep "all non-conflicting max triplets" schedule except for ties
    across id-disjoint pairs, where both orders merge the same pair set.

    Scale shape (round-4 What's wrong #2): the O(k²) initial featurization +
    scoring runs DISTRIBUTIVELY — a BLOCK_SPLIT-style salted triangle
    self-join (``blocksplit/BlockSplitTripletCreator.java:49-117``, largest
    task ≈ ``pair_cap``² sims) feeds the vectorized Arrow trigram kernel,
    and only admitted pairs (disjoint masks, combined sources ≤ count,
    sim ≥ threshold) reach the per-block Python kernel via cogroup. The
    kernel keeps only the greedy delta iteration itself, re-scoring
    merged-survivor pairs in-kernel (bounded by merges × live clusters, not
    k²) — the same consume-pre-scored-pairs shape as the transcript path's
    ``operators/clustering.py::greedy_merge``.

    Returns (rid, cluster_rid) — every input member mapped to its final
    merged cluster.
    """
    out_schema = StructType(
        [StructField("rid", LongType()), StructField("cluster_rid", LongType())]
    )
    threshold = float(merge_threshold)
    max_sources = int(sources_count)

    def merge_block(key, pdf: "pd.DataFrame", pairs: "pd.DataFrame") -> "pd.DataFrame":
        ids = [int(x) for x in pdf["cluster_rid"]]
        pdf = pdf.assign(cluster_rid=ids)
        ata = dict(zip(pdf["cluster_rid"], pdf["ata_norm"]))
        mask = {i: int(m) for i, m in zip(pdf["cluster_rid"], pdf["smask"])}
        members = {i: [int(x) for x in m] for i, m in zip(pdf["cluster_rid"], pdf["members"])}
        members0 = {i: list(m) for i, m in members.items()}
        tri: dict[str, tuple] = {}

        def tab(s: str):
            t = tri.get(s)
            if t is None:
                c = _trigrams(s)
                t = (c, sum(c.values()))
                tri[s] = t
            return t

        def sim(x: str, y: str) -> float:
            sx, sy = ata[x], ata[y]
            if not sx or not sy:
                return 1.0 if not sx and not sy else 0.0
            ta, la = tab(sx)
            tb, lb = tab(sy)
            return _simmetrics_cosine(ta, la, tb, lb)

        def ok(x: str, y: str) -> bool:
            return (mask[x] & mask[y]) == 0 and bin(mask[x] | mask[y]).count("1") <= max_sources

        # workset: the distributively pre-scored admissible pairs (triplet
        # creation + MinThresholdFilterFunction ran in the salted self-join)
        live = set(ids)
        sims: dict[tuple[int, int], float] = {
            (int(a), int(b)): float(s)
            for a, b, s in zip(pairs["a"], pairs["b"], pairs["sim"])
        }
        parent = {x: x for x in ids}
        while sims:
            (a, b), s = min(sims.items(), key=lambda kv: (-kv[1], kv[0]))
            keep, gone = (a, b) if a < b else (b, a)
            # priority side = more members, ties -> src (the smaller id = a)
            pri = a if len(members[a]) >= len(members[b]) else b
            ata[keep] = ata[pri] if ata[pri] else ata[a if pri == b else b]
            mask[keep] = mask[a] | mask[b]
            members[keep] = members[a] + members[b]
            for x, root in list(parent.items()):
                if root == gone:
                    parent[x] = keep
            parent[gone] = keep
            live.discard(gone)
            # drop pairs touching either merged endpoint, re-score keep vs
            # survivors under the new mask/ATA
            sims = {
                (x, y): sv
                for (x, y), sv in sims.items()
                if keep != x and keep != y and gone != x and gone != y
            }
            for other in live:
                if other == keep:
                    continue
                x, y = (keep, other) if keep < other else (other, keep)
                if ok(x, y):
                    s2 = sim(x, y)
                    if s2 >= threshold:
                        sims[(x, y)] = s2
        # cluster ids are min-member ids, and each merge keeps min(a, b), so
        # the union-find root IS the merged cluster's min member id
        rows = []
        for cid in ids:
            final = parent[cid]
            while parent[final] != final:
                final = parent[final]
            for m in members0[cid]:
                rows.append((m, final))
        return pd.DataFrame(rows, columns=["rid", "cluster_rid"])

    prepared = reps.withColumn("ata_norm", F.col("ata")).withColumn(
        "block", music_blocking_label(F.col("ata"), blocking_length)
    ).select(
        F.col("cluster_rid").cast("long").alias("cluster_rid"),
        "ata_norm",
        "smask",
        F.col("members").cast("array<long>").alias("members"),
        "block",
    )
    # distributed triplet creation + scoring: salted triangle self-join
    # (bounds the hottest block's largest task at ~pair_cap² sims) →
    # admissibility (CheckRestrictionsFilterFunction) → vectorized Arrow
    # trigram kernel → MinThresholdFilterFunction. Only admitted pairs reach
    # the Python kernel.
    from mapping_analysis_spark.operators.blocking import salted_block_pairs

    thin = prepared.select("block", "cluster_rid", "ata_norm", "smask")
    cand = salted_block_pairs(
        thin,
        block_col="block",
        id_col="cluster_rid",
        cross_source_only=False,
        cap=pair_cap,
    )
    scored = (
        cand.filter(
            (F.col("a_smask").bitwiseAND(F.col("b_smask")) == 0)
            & (
                F.bit_count(F.col("a_smask").bitwiseOR(F.col("b_smask")))
                <= F.lit(max_sources)
            )
        )
        .withColumn(
            "sim", trigram_cosine_simmetrics(F.col("a_ata_norm"), F.col("b_ata_norm"))
        )
        .filter(F.col("sim") >= F.lit(threshold))
        .select(
            F.col("a_block").alias("block"),
            F.col("a_cluster_rid").alias("a"),
            F.col("b_cluster_rid").alias("b"),
            "sim",
        )
    )
    return (
        prepared.groupBy("block")
        .cogroup(scored.groupBy("block"))
        .applyInPandas(merge_block, out_schema)
    )


def music_block_load(
    reps: DataFrame,
    blocking_length: int = DEFAULT_BLOCKING_LENGTH,
    top: int = 10,
) -> DataFrame:
    """Per-block merge-load statistics: the ``top`` hottest blocking labels
    by candidate-pair count (k·(k−1)/2 over the block's representatives) —
    the skew visibility the reference gets from its job accumulators
    (``util/Constants.java:33-87``). One groupBy + a driver-side top-k; cheap
    enough to log on every quality run."""
    sizes = (
        reps.select(music_blocking_label(F.col("ata"), blocking_length).alias("block"))
        .groupBy("block")
        .agg(F.count("*").alias("n_reps"))
    )
    return (
        sizes.withColumn(
            "n_pairs",
            (F.col("n_reps") * (F.col("n_reps") - 1) / 2).cast("long"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("block"))
        .limit(top)
    )


def _rep_blocked_scored_edges(reps: DataFrame, blocking_length: int) -> DataFrame:
    """Blocked ALL-pairs candidate edges between representatives with
    trigram admission > 0.6, plus both sides' source masks.

    The MULTI incremental flow (``clusterstrategies/
    MultiIncrementalClusteringFunction.java:66-133``): blocking-key edges →
    DefaultPreprocessing; IntraSourceLinkRemover is a documented NO-OP in
    incremental mode (``IntraSourceLinkRemover.java:128-131``); the 1:n
    selection happens in :func:`greedy_source_link_selection`.

    Pair generation is the BLOCK_SPLIT-style salted triangle self-join
    (payload carried through; largest task bounded at ~cap² sims) — a plain
    per-key self-join puts a hot prefix block's whole O(k²) in one task."""
    from mapping_analysis_spark.operators.blocking import salted_block_pairs

    prepared = reps.select(
        F.col("cluster_rid").alias("rid"),
        F.col("ata").alias("ata_norm"),
        "smask",
        music_blocking_label(F.col("ata"), blocking_length).alias("block"),
    ).select("block", "rid", "ata_norm", "smask")
    cand = salted_block_pairs(
        prepared, block_col="block", id_col="rid", cross_source_only=False
    )
    return (
        cand.withColumn(
            "sim", trigram_cosine_simmetrics(F.col("a_ata_norm"), F.col("b_ata_norm"))
        )
        .filter(F.col("sim") > F.lit(MUSIC_EDGE_ADMISSION))
        .select(
            F.col("a_rid").alias("a"),
            F.col("b_rid").alias("b"),
            "sim",
            F.col("a_smask").alias("a_mask"),
            F.col("b_smask").alias("b_mask"),
        )
    )


def greedy_source_link_selection(scored: DataFrame) -> DataFrame:
    """The faithful BASIC link filter
    (``preprocessing/utils/LinkSelectionWithCcIdFunction.java:20-120`` +
    ``BasicLinkFilterFunction.java:31-58``): group admitted edges by
    connected component, walk them in (sim DESC, a ASC, b ASC) order, and
    keep an edge only when the two evolving clusters' accumulated source
    masks are DISJOINT — merging them and OR-ing the masks when kept. The
    result clusters never hold two entities of one source ("we also detect
    and handle indirect 1:n like a -> b -> c -> a").

    Input: (a, b, sim, a_mask, b_mask). Output: (rid, comp) for every
    vertex incident to an input edge — comp = min member id of its final
    source-disjoint cluster (the reference re-runs CC over the kept edges,
    which is exactly the union-find partition built here). Components are
    block-bounded (candidates come from blocking), so the per-component
    kernel is small; the groupBy ships each component to one task like the
    reference's ``groupBy(ccId).reduceGroup``."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    comp = connected_components(scored.select("a", "b"))
    e = (
        scored.join(
            comp.select(F.col("node").alias("a"), F.col("comp").alias("_g")), "a"
        )
    )

    out_schema = StructType(
        [StructField("rid", LongType()), StructField("comp", LongType())]
    )

    def select_block(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["sim", "a", "b"], ascending=[False, True, True], kind="mergesort"
        )
        parent: dict[int, int] = {}
        mask: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b, am, bm in zip(
            pdf["a"].astype("int64"),
            pdf["b"].astype("int64"),
            pdf["a_mask"].astype("int64"),
            pdf["b_mask"].astype("int64"),
        ):
            a, b, am, bm = int(a), int(b), int(am), int(bm)
            if a not in parent:
                parent[a], mask[a] = a, am
            if b not in parent:
                parent[b], mask[b] = b, bm
            ra, rb = find(a), find(b)
            if ra == rb or (mask[ra] & mask[rb]):
                continue  # overlap (or already together) — edge rejected
            keep, gone = (ra, rb) if ra < rb else (rb, ra)
            parent[gone] = keep
            mask[keep] = mask[ra] | mask[rb]
        rows = [(x, find(x)) for x in parent]
        return pd.DataFrame(rows, columns=["rid", "comp"])

    return e.groupBy("_g").applyInPandas(select_block, out_schema)


def _merge_reps(reps: DataFrame, scored: DataFrame) -> DataFrame:
    """Source-disjoint greedy link selection over admitted rep edges →
    merged representatives (``RepresentativeCreatorMultiMerge``: majority
    ata — one vote per constituent representative, ties -> longer then
    lexicographically smaller — min member id, OR of source masks, union of
    members)."""
    sel = greedy_source_link_selection(scored)
    comp = (
        reps.select("cluster_rid")
        .join(sel.withColumnRenamed("rid", "cluster_rid"), "cluster_rid", "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("cluster_rid")))
    )
    j = reps.join(comp, "cluster_rid")
    votes = j.groupBy("comp", "ata").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("comp").orderBy(
        F.col("_n").desc(), F.length("ata").desc(), F.col("ata").asc()
    )
    best = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("comp", "ata")
    )
    agg = j.groupBy("comp").agg(
        F.min("cluster_rid").alias("cluster_rid"),
        F.bit_or("smask").alias("smask"),
        F.flatten(F.collect_list("members")).alias("members"),
    )
    return agg.join(best, "comp").select("cluster_rid", "ata", "smask", "members")


def music_incremental_quality(
    spark: SparkSession,
    csv_path: str,
    split_dir: str,
    blocking_length: int = DEFAULT_BLOCKING_LENGTH,
) -> DataFrame:
    """The reference's incremental MULTI benchmark on the real splits
    (``integration/IncrementalMusicClusteringTest.java:117-245``
    musicIncrementalTest): initial clustering on the 80% id list, then three
    VERTEX_ADDITION increments — +10% ids, +source "5", +final 10% ids —
    each increment re-blocking current representatives with the new
    singletons, admitting trigram > 0.6 edges and collapsing components.

    Published anchor on this exact file (test docstring, lines 104-115):
    P 0.98926 / R 0.88394 / F1 0.93364 (artistTitleAlbum metric).

    Returns one row per phase with cluster counts and final-phase pairwise
    P/R/F1 vs the gold CID."""
    records = music_records(spark, csv_path).localCheckpoint(eager=True)

    def ids_from(fname: str) -> DataFrame:
        return spark.read.csv(
            os.path.join(split_dir, fname), schema="rid long"
        )

    def singletons(subset: DataFrame) -> DataFrame:
        return subset.select(
            F.col("rid").alias("cluster_rid"),
            F.col("artist_title_album").alias("ata"),
            "smask",
            F.array(F.col("rid")).alias("members"),
        )

    eighty = records.join(ids_from("initialEighty.txt"), "rid", "left_semi")
    add_ten = records.join(ids_from("addTen.txt"), "rid", "left_semi")
    last_ten = records.join(ids_from("lastTen.txt"), "rid", "left_semi")
    source5 = records.filter(F.col("source") == "5")

    reps = _merge_reps(
        singletons(eighty),
        _rep_blocked_scored_edges(singletons(eighty), blocking_length),
    ).localCheckpoint(eager=True)
    rows = [("initial_80", reps.count())]
    for tag, inc in [
        ("add_10", add_ten),
        ("add_source_5", source5),
        ("add_last_10", last_ten),
    ]:
        workset = reps.unionByName(singletons(inc))
        reps = _merge_reps(
            workset, _rep_blocked_scored_edges(workset, blocking_length)
        ).localCheckpoint(eager=True)
        rows.append((tag, reps.count()))

    assign = reps.select(
        F.col("cluster_rid"), F.explode("members").alias("rid")
    )
    gold = records.select("rid", "cid")
    q = pair_quality(
        assign, gold, pred_group="cluster_rid", gold_group="cid", member_col="rid"
    ).collect()[0]
    out = [
        (tag, n, None, None, None, None, None, None) for tag, n in rows[:-1]
    ] + [
        (
            rows[-1][0],
            rows[-1][1],
            q["tp"],
            q["n_pred"],
            q["n_gold"],
            q["precision_e6"],
            q["recall_e6"],
            q["f1_e6"],
        )
    ]
    return spark.createDataFrame(
        out,
        "phase string, n_clusters bigint, tp bigint, n_pred bigint, "
        "n_gold bigint, precision_e6 bigint, recall_e6 bigint, f1_e6 bigint",
    )


def music_quality_sweep(
    spark: SparkSession,
    csv_path: str,
    thresholds: tuple[float, ...] = (0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70),
) -> DataFrame:
    """Full pipeline + merge-threshold sweep on the gold-labeled CSV.

    One row per threshold: (threshold_e2, tp, n_pred, n_gold, precision_e6,
    recall_e6, f1_e6) — the reference's csimq sweep
    (``MusicBrainzTest.java:169-199``, thresholds 0.40..0.70 step 0.05).
    The shared prefix (preprocessing + decomposition + representatives) runs
    once and is reused across thresholds via localCheckpoint.
    """
    records = music_records(spark, csv_path)
    edges = music_input_edges(records)
    scored = music_scored_edges(records, edges).localCheckpoint(eager=True)
    assign = music_components(records, scored)
    reps = music_representatives(records, assign).localCheckpoint(eager=True)
    gold = records.select("rid", "cid").localCheckpoint(eager=True)
    rows = []
    for t in thresholds:
        merged = music_merge(reps, t)
        q = pair_quality(
            merged, gold, pred_group="cluster_rid", gold_group="cid", member_col="rid"
        ).collect()[0]
        rows.append(
            (
                int(t * 100 + 0.5),
                q["tp"],
                q["n_pred"],
                q["n_gold"],
                q["precision_e6"],
                q["recall_e6"],
                q["f1_e6"],
            )
        )
    return spark.createDataFrame(
        rows,
        "threshold_e2 int, tp bigint, n_pred bigint, n_gold bigint, "
        "precision_e6 bigint, recall_e6 bigint, f1_e6 bigint",
    )
