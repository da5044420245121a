"""Training-data deduplication suite over document-shaped tables.

First-class large-pipeline operators (beyond reference parity): exact dedup,
MinHash-LSH, SimHash banding, n-gram Jaccard, embedding-cosine near-dup.
Every variant is LSH/blocked first (subquadratic at 100 TB) and exact-verified
second, so small-scale output equals the brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapping_analysis_spark.functions.simfns import (
    make_simhash_udf,
    minhash,
    shingle_hashes,
)
from mapping_analysis_spark.functions.text import token_set_jaccard
from mapping_analysis_spark.operators.blocking import lsh_band_pairs

# Dense-bitset route gates (see minhash_lsh_dedup): the route is taken only
# when the corpus' distinct-shingle vocabulary is small enough that every
# document's shingle set fits in a short bitmask AND the whole mask table
# fits in one comfortable broadcast. The *decision* only picks between two
# exact plans, so it can never change results.
DENSE_VOCAB_MAX = 32768
DENSE_MASK_MB = 256
# Always-dense floor: below this GEMM work (n²/2 × |vocab| multiply-adds)
# the dense scan is trivially cheap and is taken without estimating LSH's
# cost; above it the sample-based cost comparison decides (see
# _dense_vocab_or_none). Plan choice only — both plans are exact.
DENSE_GEMM_GFLOP_MAX = 50.0
# cost-model exchange rate above the always-cheap GEMM budget: one banded-LSH
# candidate pair costs ~the same wall time as this many GEMM flops (hash-set
# intersection + shuffle vs dense fused multiply-add); used to pick the
# cheaper of the two exact plans when both are expensive
DENSE_FLOP_PER_CAND = 7500.0
# per-worker budget for caching the fully-unpacked float32 mask matrix
# across tasks AND invocations (reused Python workers, guide §4.5); keyed by
# a content digest so a stale cache can never serve wrong data
DENSE_UNPACK_CACHE_MB = 512
_DENSE_UNPACK_CACHE: dict = {}
# sample this many docs for the cheap pre-gate; a high-entropy corpus blows
# the vocab budget within the sample and skips the full distinct pass
_DENSE_SAMPLE_DOCS = 1024


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one keeper (min id) per identical text.
    Returns (keeper, n_copies, member) — map-side combine comes free."""
    groups = df.groupBy(text_col).agg(
        F.min(id_col).alias("keeper"), F.count("*").alias("n_copies")
    )
    return (
        df.select(F.col(id_col).alias("member"), text_col)
        .join(groups, text_col)
        .select("keeper", "n_copies", "member")
    )


def word_shingles(tokens, width: int = 3) -> Column:
    """Distinct word ``width``-shingles (strings) of an ordered token array
    — the engine's one Catalyst string shingler, no Python. A doc shorter
    than ``width`` tokens yields one truncated shingle: ``try_element_at``
    returns NULL out of range (no ANSI error) and ``concat_ws`` skips it.

    Pass a *bound column* (``withColumn("_tk", split(...))`` first), for the
    reason given in ``functions.simfns.shingle_hashes``."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(tokens) - (width - 1))),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(tokens, i + j) for j in range(width)]
            ),
        )
    )


def _py_shingles(text: str, width: int) -> set:
    """Distinct word w-shingles of ``text``, bit-identical to the
    ``word_shingles`` Catalyst expression (split on single space; a doc
    shorter than ``width`` tokens yields one truncated shingle — concat_ws
    skips the out-of-range NULLs)."""
    tk = (text or "").split(" ")
    n = max(1, len(tk) - (width - 1))
    return {" ".join(tk[i : i + width]) for i in range(n)}


def _dense_fits(n_docs: int, vocab_size: int) -> bool:
    """Feasibility gates, monotone in vocab_size: vocabulary bound and
    mask-table bytes within budget."""
    return (
        vocab_size <= DENSE_VOCAB_MAX
        and n_docs * ((vocab_size + 7) // 8 + 32) <= DENSE_MASK_MB * 2**20
    )


def _lsh_candidates_est(
    sample_sets: list, n_docs: int, bands: int, rows_per_band: int
) -> float:
    """Expected banded-LSH candidate-pair count for the corpus, estimated
    from the sample's pairwise Jaccard distribution: a pair with Jaccard s
    becomes a candidate with prob 1-(1-s^r)^b. Computed with a tiny numpy
    bitmask GEMM over the sample (<= 1024 docs, vocab <= DENSE_VOCAB_MAX
    when called)."""
    import numpy as np

    n = len(sample_sets)
    if n < 2:
        return 0.0
    vi: dict = {}
    for s in sample_sets:
        for g in s:
            vi.setdefault(g, len(vi))
    bits = np.zeros((n, len(vi)), dtype=np.float32)
    sizes = np.zeros(n, dtype=np.float64)
    for r, s in enumerate(sample_sets):
        bits[r, [vi[g] for g in s]] = 1.0
        sizes[r] = len(s)
    inter = (bits @ bits.T).astype(np.float64)
    union = sizes[:, None] + sizes[None, :] - inter
    np.maximum(union, 1.0, out=union)
    sim = inter / union
    iu = np.triu_indices(n, k=1)
    p_cand = 1.0 - (1.0 - sim[iu] ** rows_per_band) ** bands
    return float(p_cand.mean()) * (n_docs * (n_docs - 1) / 2)


def _dense_vocab_or_none(
    df: DataFrame,
    text_col: str,
    width: int,
    n_docs: int,
    bands: int,
    rows_per_band: int,
) -> list[str] | None:
    """The dense-route gate: the sorted distinct-shingle vocabulary if the
    dense plan is feasible AND cheaper, else None.

    Decision structure (pure plan choice — both plans are exact):
    1. a <=1k-doc sample is collected; its distinct-shingle count is a
       lower bound on the corpus vocabulary, and the feasibility gates are
       monotone decreasing in vocab size, so ineligible (high-entropy)
       corpora bail out here without a full pass;
    2. one distributed distinct pass collects the exact vocabulary
       (bounded at DENSE_VOCAB_MAX + 1 rows) and re-checks feasibility;
    3. admission: GEMM work n²/2·|vocab| below the always-cheap budget
       (DENSE_GEMM_GFLOP_MAX) admits outright; above it, the expected
       banded-LSH candidate count — estimated from the sample's pairwise
       Jaccard distribution — decides on cost: dense wins when its FLOPs
       are under DENSE_FLOP_PER_CAND x the candidates LSH would have to
       verify (a candidate costs ~hundreds of ns of hashing/intersection
       vs ~fractions of ns per GEMM flop). This is what keeps the dense
       plan selected on low-entropy corpora at any scale factor (where
       banding degenerates toward all-pairs) while high-entropy corpora
       keep LSH even when the vocabulary technically fits.
    """
    import pandas as pd

    sample_rows = df.select(F.col(text_col)).limit(_DENSE_SAMPLE_DOCS).collect()
    sample_sets = [_py_shingles(r[0], width) for r in sample_rows]
    sample_vocab: set = set().union(*sample_sets) if sample_sets else set()
    if not _dense_fits(n_docs, len(sample_vocab)):
        return None
    # early cost rejection on the sample's vocab LOWER bound: GEMM work only
    # grows with the true vocabulary, so losing the cost comparison already
    # at the lower bound proves the full corpus loses too — skip the full
    # distinct pass (saves ~2 s per invocation on the 3-gram documents path)
    gemm_lb = (n_docs * n_docs / 2) * len(sample_vocab)
    if gemm_lb > DENSE_GEMM_GFLOP_MAX * 1e9:
        cand = _lsh_candidates_est(sample_sets, n_docs, bands, rows_per_band)
        if gemm_lb > cand * DENSE_FLOP_PER_CAND:
            return None

    def part_vocab(batches):
        seen: set = set()
        for pdf in batches:
            for text in pdf[text_col]:
                seen.update(_py_shingles(text, width))
                if len(seen) > DENSE_VOCAB_MAX:  # already over budget
                    yield pd.DataFrame({"s": list(seen)[: DENSE_VOCAB_MAX + 1]})
                    return
        yield pd.DataFrame({"s": list(seen)})

    vocab_rows = (
        df.select(F.col(text_col))
        .mapInPandas(part_vocab, "s string")
        .distinct()
        .limit(DENSE_VOCAB_MAX + 1)
        .collect()
    )
    if not _dense_fits(n_docs, len(vocab_rows)):
        return None
    gemm_flops = (n_docs * n_docs / 2) * len(vocab_rows)
    if gemm_flops > DENSE_GEMM_GFLOP_MAX * 1e9:
        cand = _lsh_candidates_est(sample_sets, n_docs, bands, rows_per_band)
        if gemm_flops > cand * DENSE_FLOP_PER_CAND:
            return None
    return sorted(r.s for r in vocab_rows)


def _dense_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int,
    threshold: float,
    vocab: list[str],
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold over a small shingle vocabulary.

    On a low-entropy corpus (e.g. documents drawn from a ~31-word vocab:
    931 possible word-2-grams) MinHash banding degenerates — at sf0.1 the
    band join emitted 49 % of ALL pairs as candidates, each paying a hashed
    set intersection — while every document's distinct-shingle set fits in a
    |vocab|-bit mask and the whole corpus' masks fit in a few MB. This route
    therefore shuffles *metadata instead of payloads* (guide §2.3/§8):

    1. one distributed pass over raw text builds (rid, n, packed-bitmask)
       per doc (no string-shingle arrays are ever materialized);
    2. the mask table (gated <= DENSE_MASK_MB) is collected and broadcast;
    3. pair scan = blocked float32 GEMM over the 0/1 mask matrix — the
       intersection size of two sets is the dot product of their bit
       vectors, exact in float32 for |vocab| < 2^24 — with a size-ratio
       window (sorted by set size, a partner needs n_b <= n_a / t), split
       into equal-work chunks across the cluster.

    Exactness: bit vectors are built from the *string* shingles via a
    collected vocabulary (no hashing anywhere), intersections are integer
    dot products, and sim = inter / union in float64 — identical arithmetic
    to the Catalyst `size(array_intersect)/size(union)` plan, so the output
    EQUALS the brute-force oracle with no LSH miss probability at all.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    sc = spark.sparkContext
    v = len(vocab)
    vindex = {s: i for i, s in enumerate(vocab)}
    bc_vocab = sc.broadcast(vindex)

    def build_masks(batches):
        vi = bc_vocab.value
        nbits = len(vi)
        for pdf in batches:
            bits = np.zeros((len(pdf), nbits), dtype=np.uint8)
            ns = np.zeros(len(pdf), dtype=np.int64)
            for r, text in enumerate(pdf[text_col]):
                idx = [vi[s] for s in _py_shingles(text, width)]
                bits[r, idx] = 1
                ns[r] = len(idx)
            packed = np.packbits(bits, axis=1)
            yield pd.DataFrame(
                {
                    "rid": pdf[id_col].astype(np.int64),
                    "n": ns,
                    "mask": [row.tobytes() for row in packed],
                }
            )

    mt = (
        df.select(F.col(id_col), F.col(text_col))
        .mapInPandas(build_masks, "rid long, n long, mask binary")
        .toPandas()
    )
    n_docs = len(mt)
    if n_docs == 0:
        return spark.createDataFrame([], "a_doc long, b_doc long, sim double")
    order = np.lexsort((mt["rid"].to_numpy(), mt["n"].to_numpy()))
    rids = mt["rid"].to_numpy()[order]
    sizes = mt["n"].to_numpy()[order]
    m8 = np.vstack([np.frombuffer(b, dtype=np.uint8) for b in mt["mask"]])[order]
    # size-ratio window: Jaccard >= t forces min(n)/max(n) >= t, so row i
    # (sizes ascending) only pairs with rows < jhi[i]
    jhi = np.searchsorted(sizes, sizes / threshold, side="right").astype(np.int64)
    work = np.maximum(jhi - np.arange(n_docs) - 1, 0)
    cum = np.concatenate([[0], np.cumsum(work)])
    total = int(cum[-1])
    if total == 0:
        return spark.createDataFrame([], "a_doc long, b_doc long, sim double")
    # 4 chunks per core, equal-work split: the worker pool is bounded by the
    # task-slot count (= cores), so oversplitting does not spawn extra
    # Python workers (whose per-worker setup — the cached-matrix unpack —
    # dwarfs the GEMM), while FIFO draining rebalances around slow cores
    # (measured: 32 equal chunks wall 6.7 s with one 4x-slow straggler; 128
    # chunks wall 3.8 s, same 32 workers, zero cache misses)
    n_chunks = max(1, min(sc.defaultParallelism * 4, (total // 200_000) + 1))
    marks = np.linspace(0, total, n_chunks + 1)
    bounds = np.unique(np.searchsorted(cum, marks, side="left"))
    chunks = [
        (int(lo), int(hi)) for lo, hi in zip(bounds[:-1], bounds[1:]) if hi > lo
    ]
    import hashlib

    digest = hashlib.blake2b(
        m8.tobytes() + sizes.tobytes(), digest_size=16
    ).hexdigest()
    bc = sc.broadcast((digest, m8, sizes, rids, jhi))
    t = float(threshold)
    t32 = np.float32(threshold)
    nbits = v
    # probe rows are unpacked to float32 in fixed-grid slabs cached per
    # (reused) worker process: grid alignment makes slabs shareable across
    # tasks and invocations (digest-keyed, so a stale entry can never serve
    # wrong data), and a pool-churned fresh worker only unpacks the 2-3
    # slabs its chunk touches instead of the whole matrix. Grid height
    # scales with vocab width so one unpacked slab stays ~64 MB — a fixed
    # 8192-row grid at a 23k-bit vocab made 750 MB slabs that blew the
    # worker cache cap and thrashed (measured 13 s vs 2 s at sf0.1)
    slab_rows = max(1024, (64 * 2**20) // max(1, nbits * 4))
    cache_cap = DENSE_UNPACK_CACHE_MB * 2**20

    def scan(batches):
        digest_, m8_, sizes_, rids_, jhi_ = bc.value
        sizes32 = sizes_.astype(np.float32)
        n_rows = len(m8_)

        def unpack(lo, hi):
            return np.unpackbits(m8_[lo:hi], axis=1)[:, :nbits].astype(np.float32)

        def slab(k):
            key = (digest_, k)
            val = _DENSE_UNPACK_CACHE.get(key)
            if val is None:
                held = sum(a.nbytes for a in _DENSE_UNPACK_CACHE.values())
                if held > cache_cap:
                    _DENSE_UNPACK_CACHE.clear()
                val = unpack(k * slab_rows, min((k + 1) * slab_rows, n_rows))
                _DENSE_UNPACK_CACHE[key] = val
            return val

        out_a, out_b, out_s = [], [], []

        def rect(i, j, s, e, base, probe, off_p):
            # float32 GEMM over 0/1 bit vectors: exact integer intersections
            # (|vocab| < 2^24). Pre-filter in float32 with a 0.5 margin —
            # i >= t*u - 0.5 can only over-select (fp error << 0.5 for
            # |vocab| <= 2^15) — then confirm the sparse survivors with the
            # exact float64 i/u >= t and the window bounds.
            g = base @ probe[s - off_p : e - off_p].T
            rhs = (sizes32[i:j, None] + sizes32[None, s:e] - g) * t32
            ri, ci = np.nonzero(g >= rhs - np.float32(0.5))
            if not len(ri):
                return
            gi = ri + i
            gj = ci + s
            keep = (gj > gi) & (gj < jhi_[gi])
            if not keep.any():
                return
            gi, gj = gi[keep], gj[keep]
            inter = g[ri[keep], ci[keep]].astype(np.int64)
            union = sizes_[gi] + sizes_[gj] - inter
            sim = inter / union  # float64, union >= 1 always (sets nonempty)
            k2 = sim >= t
            if not k2.any():
                return
            me, others = rids_[gi[k2]], rids_[gj[k2]]
            out_a.append(np.minimum(me, others))
            out_b.append(np.maximum(me, others))
            out_s.append(sim[k2])

        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                # 64-row base groups whose rectangles hug the size-ratio
                # windows (jhi monotone); probe columns ride the slab grid
                i = lo
                while i < hi:
                    j = min(i + 64, hi)
                    s, e = i + 1, int(jhi_[j - 1])
                    if e > s:
                        base = unpack(i, j)
                        for k in range(s // slab_rows, (e - 1) // slab_rows + 1):
                            p = max(s, k * slab_rows)
                            q = min(e, (k + 1) * slab_rows)
                            rect(i, j, p, q, base, slab(k), k * slab_rows)
                    i = j
        if out_a:
            yield pd.DataFrame(
                {
                    "a_doc": np.concatenate(out_a),
                    "b_doc": np.concatenate(out_b),
                    "sim": np.concatenate(out_s),
                }
            )

    cdf = spark.createDataFrame(
        pd.DataFrame({"lo": [c[0] for c in chunks], "hi": [c[1] for c in chunks]})
    ).repartition(len(chunks))
    return cdf.mapInPandas(scan, "a_doc long, b_doc long, sim double")


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_width: int = 3,
    bands: int = 32,
    rows_per_band: int = 1,
) -> DataFrame:
    """MinHash-LSH candidates over word shingles, exact-verified Jaccard >=
    threshold. Miss probability per true pair at sim = threshold:
    (1 - threshold^rows_per_band)^bands.

    No string shingles are ever materialized on the hot path: the shingle
    universe is hashed directly from *token hashes* by the shared
    ``shingle_hashes`` → ``minhash`` → ``band_keys`` kernel
    (``functions.simfns``), the same one the batch pipeline and the
    streaming job use. One checkpointed table of distinct int64 shingle-hash
    arrays feeds the MinHash signature AND the hashed verify stage.

    ``rows_per_band > 1`` (the default call shape is 2 rows x ``bands``
    bands) is what keeps the candidate set output-shaped on corpora where
    unrelated documents share a nonzero background Jaccard b: a single-row
    band fires on a false pair with prob ~bands*b (measured 20.9M candidates
    = 3.3 % of the size-windowed pairs on the documents table at sf1.0),
    while a 2-row band needs the same pair to agree twice — prob ~bands*b²
    (measured 41k candidates, 500x fewer, same output).

    Verification is two-stage. Stage 1 intersects the *hashed* (int64)
    shingle sets — an 8-byte compare instead of a string compare — and keeps
    every pair whose hashed-set Jaccard clears ``threshold - 0.05`` (both
    the size-ratio prune and the sim cutoff carry the margin, so a
    within-doc hash collision perturbing set sizes by a shingle or two
    cannot dismiss a true pair; a false dismissal now needs the hashed sim
    to sit > 0.05 below the true sim, probability ~|sg|²/2⁶⁴ per doc —
    orders of magnitude below the LSH miss budget already accepted). Stage 2
    re-verifies the surviving pairs — the output-sized set, not the
    candidate-sized one — by rebuilding the exact *string* shingle sets from
    the raw text of just those rows, so emitted sims are
    hash-basis-independent.
    """
    from mapping_analysis_spark.pipeline import BROADCAST_MAX_RECORDS

    # A small parquet input arrives as a single split, which would pin the
    # shingle / mask-build stages (the CPU-heavy part) to ONE core — fan it
    # out to the cluster's parallelism first. No-op at scale: a 100 TB table
    # already has orders of magnitude more splits than cores.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    # Low-entropy corpora (tiny shingle vocabulary) defeat MinHash banding —
    # nearly every pair collides in some band — but admit an exact dense
    # bitset plan instead; see _dense_jaccard_pairs. Identical output either
    # way (both plans are exact-verified >= threshold), so the gate is pure
    # plan choice. Gated BEFORE any shingle materialization: the dense route
    # never builds string-shingle arrays at all.
    n_docs = df.count()
    vocab = _dense_vocab_or_none(
        df, text_col, shingle_width, n_docs, bands, rows_per_band
    )
    if vocab is not None:
        return _dense_jaccard_pairs(
            df, text_col, id_col, shingle_width, threshold, vocab
        )
    txt = df.select(F.col(id_col).cast("string").alias("rid"), F.col(text_col).alias("_txt"))
    # distinct int64 shingle hashes straight from token hashes (_th bound
    # first — see shingle_hashes)
    feat = (
        txt.withColumn(
            "_th", F.transform(F.split(F.col("_txt"), " "), lambda tkn: F.xxhash64(tkn))
        )
        .withColumn("hs", shingle_hashes(F.col("_th"), shingle_width))
        .select("rid", "hs")
        .localCheckpoint(eager=True)
    )
    small = n_docs <= BROADCAST_MAX_RECORDS
    sig = feat.select(
        "rid",
        F.size("hs").alias("n_sg"),
        minhash(F.col("hs"), bands * rows_per_band).alias("minhash"),
    )
    # in-join exact size-ratio prune at ratio = threshold (Jaccard >= t
    # forces min/max >= t) — cuts the hot-bucket pair volume before the
    # candidate dedup shuffle
    cand = lsh_band_pairs(
        sig,
        bands=bands,
        rows_per_band=rows_per_band,
        broadcast_ok=small,
        size_col="n_sg",
        min_size_ratio=threshold,
    )

    margin = max(0.0, threshold - 0.05)
    ha = feat.select(
        F.col("rid").alias("a_rid"), F.col("hs").alias("a_hs"), F.size("hs").alias("a_n")
    )
    hb = feat.select(
        F.col("rid").alias("b_rid"), F.col("hs").alias("b_hs"), F.size("hs").alias("b_n")
    )
    if small:
        ha, hb = F.broadcast(ha), F.broadcast(hb)
    inter = F.size(F.array_intersect("a_hs", "b_hs"))
    survivors = (
        cand.join(ha, "a_rid")
        .join(hb, "b_rid")
        # exact size-ratio prune (with margin) runs before the intersect
        .filter(F.least("a_n", "b_n") >= F.lit(margin) * F.greatest("a_n", "b_n"))
        .withColumn("i", inter)
        .filter(
            F.col("i").cast("double") / (F.col("a_n") + F.col("b_n") - F.col("i"))
            >= F.lit(margin)
        )
        .select("a_rid", "b_rid")
    )
    # exact string-shingle verify, built from raw text for the output-sized
    # survivor set only
    a = txt.select(F.col("rid").alias("a_rid"), F.col("_txt").alias("a_txt"))
    b = txt.select(F.col("rid").alias("b_rid"), F.col("_txt").alias("b_txt"))
    if small:
        a, b = F.broadcast(a), F.broadcast(b)

    v = (
        survivors.join(a, "a_rid")
        .join(b, "b_rid")
        .withColumn("_atk", F.split(F.col("a_txt"), " "))
        .withColumn("_btk", F.split(F.col("b_txt"), " "))
        .withColumn("a_sg", word_shingles(F.col("_atk"), shingle_width))
        .withColumn("b_sg", word_shingles(F.col("_btk"), shingle_width))
        .withColumn("sim", token_set_jaccard(F.col("a_sg"), F.col("b_sg")))
        .filter(F.col("sim") >= threshold)
    )
    an, bn = F.col("a_rid").cast("long"), F.col("b_rid").cast("long")
    return v.select(
        F.least(an, bn).alias("a_doc"), F.greatest(an, bn).alias("b_doc"), F.col("sim")
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    token_hash=None,
    remix: bool = True,
    combo_bands: int = 1,
) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints, banded into ``n_bands``
    chunks — by (generalized) pigeonhole, any pair within
    ``n_bands - combo_bands`` bit flips keeps at least ``combo_bands`` bands
    intact, so it agrees on at least one of the C(n_bands, combo_bands)
    band-combination keys → candidate; verified by exact Hamming distance.

    Whenever ``max_hamming <= n_bands - combo_bands`` the banded output
    EQUALS the brute-force "all pairs at Hamming <= max_hamming" set —
    which is what makes the operator oracle-checkable without replicating
    the banding in SQL.

    ``combo_bands > 1`` is the candidate-volume lever on corpora whose
    fingerprints cluster (correlated bit votes from a small vocabulary):
    a single 15-bit chunk fired 27.9M candidate pairs at sf1.0 while
    3-of-6 10-bit combos (30 agreeing bits per key) fire 1.3M for the same
    provably-complete output.

    ``token_hash`` overrides the per-token hash (default ``F.xxhash64``);
    pass a Catalyst expression builder reproducible in the oracle engine
    (e.g. an md5-prefix hash) together with ``remix=False`` to make the
    fingerprints engine-portable.
    """
    import itertools

    # combo_bands == 1 keeps the historical permissive mode (banding may be
    # recall-lossy when max_hamming >= n_bands and callers accept that);
    # multi-band combos are only offered with the completeness guarantee
    if combo_bands > 1 and max_hamming > n_bands - combo_bands:
        raise ValueError(
            f"completeness requires max_hamming <= n_bands - combo_bands "
            f"({max_hamming} > {n_bands} - {combo_bands})"
        )
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    sh = df.select(
        F.col(id_col).alias("rid"),
        # tokens hashed JVM-side: the Arrow batch ships int64 arrays and the
        # Python kernel is one vectorized bit-vote pass per batch
        make_simhash_udf(remix=remix)(
            F.transform(toks, lambda t: hash_fn(t))
        ).alias("fp"),
    )
    width = 64 // n_bands
    mask = (1 << width) - 1
    chunk = [
        F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(F.lit(mask))
        for i in range(n_bands)
    ]

    def combo_key(combo: tuple) -> F.Column:
        key = F.lit(0).cast("long")
        for bi in combo:
            key = F.shiftleft(key, width).bitwiseOR(chunk[bi])
        return key

    keys = F.array(
        *[combo_key(c) for c in itertools.combinations(range(n_bands), combo_bands)]
    )
    banded = sh.select("rid", "fp", F.posexplode(keys).alias("band_idx", "chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .select(
            F.col("a.rid").alias("a_doc"),
            F.col("b.rid").alias("b_doc"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .dropDuplicates(["a_doc", "b_doc"])
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_doc", "b_doc", "hamming")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Alias of the shingle pipeline with explicit n — kept as its own entry
    point because the reference treats n-gram Jaccard as a distinct metric."""
    return minhash_lsh_dedup(df, text_col, id_col, threshold, shingle_width=n)


def embedding_neardup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    quantize: float = 10000.0,
    method: str = "lsh",
    bits: int = 16,
    tables: int = 24,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= threshold), exact cosine via
    integer quantization (deterministic doubles across engines).

    ``method='lsh'`` (default, the 100 TB path): random-hyperplane sketches
    (``operators/knn.make_hyperplane_sketch_udf``, seeded) bucket the
    corpus; only pairs sharing a (table, bucket) are exactly verified — the
    plan contains no O(n²) join. Recall: a pair at cosine s collides per
    table with prob (1−acos(s)/π)^bits; at the planted near-dup similarity
    (~0.995) the miss probability with 16 bits × 24 tables is ~4e-10, and
    corpus pairs below the threshold gap can't be missed because they are
    filtered by the exact verify anyway — LSH-vs-brute equality is pinned by
    tests/test_dedup_suite.py. ``method='exact'`` keeps the brute-force
    theta join for small inputs/verification.
    """
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * quantize + 0.5).cast("long")
    )
    base = df.select(F.col(id_col), F.col(vec_col), q.alias("q"))
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    base = base.withColumn("n2", dot(F.col("q"), F.col("q")))
    if method == "lsh":
        from mapping_analysis_spark.operators.knn import make_hyperplane_sketch_udf

        sk = make_hyperplane_sketch_udf(dim=dim, bits=bits, tables=tables)
        sketched = base.select(
            F.col(id_col), "q", "n2",
            F.posexplode(sk(F.col(vec_col))).alias("table_idx", "bucket"),
        )
        n_part = df.sparkSession.sparkContext.defaultParallelism * 2
        sketched = sketched.repartition(n_part, "table_idx", "bucket")
        a = sketched.select(
            F.col("table_idx"), F.col("bucket"),
            F.col(id_col).alias("a_id"), F.col("q").alias("qa"), F.col("n2").alias("na"),
        )
        b = sketched.select(
            F.col("table_idx"), F.col("bucket"),
            F.col(id_col).alias("b_id"), F.col("q").alias("qb"), F.col("n2").alias("nb"),
        )
        pairs = (
            a.join(
                b.hint("shuffle_hash"),
                ["table_idx", "bucket"],
            )
            .filter(F.col("a_id") < F.col("b_id"))
            .dropDuplicates(["a_id", "b_id"])
        )
    else:
        a = base.select(
            F.col(id_col).alias("a_id"), F.col("q").alias("qa"), F.col("n2").alias("na")
        )
        b = base.select(
            F.col(id_col).alias("b_id"), F.col("q").alias("qb"), F.col("n2").alias("nb")
        )
        pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    sim = dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", "sim")
    )
