"""Batch entity-matching pipeline over the transcripts table.

This is the batch *oracle* for the streaming engine (SURVEY.md §7 step 2) and
the flagship query: conversations are the entities; near-duplicate
conversations (same logical entity emitted by different "sources") are
matched, clustered, and reduced to one representative — the reference's
match → cluster → representative flow
(``benchmark/musicbrainz/MusicbrainzBenchmark.java:84-154``) re-expressed as
a declarative DataFrame plan:

    transcripts
      → conversation records (label = first-turn text, doc = full text)
      → featurize: prefix blocking keys    (Utils.getBlockingKey semantics)
                   + MinHash over word 3-shingles (functions.simfns kernel)
      → candidates = stop-block-pruned prefix self-join ∪ LSH band join,
        token-set Jaccard >= threshold scored inside the joins (match_edges)
      → connected components (min-id)      (GSAConnectedComponents semantics)
      → majority-vote representatives      (getFinalValue semantics)

Every step is Catalyst-visible (joins, groupBys, windows); the only Python is
inside Arrow-batched group/pair kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapping_analysis_spark.functions.simfns import minhash, shingle_hashes
from mapping_analysis_spark.functions.text import blocking_key, normalize_text
from mapping_analysis_spark.operators.blocking import lsh_band_pairs
from mapping_analysis_spark.operators.clustering import assign_cluster_ids

# Measured on the seeded corpus (scripts in git history): false-pair token
# Jaccard tops out ~0.15, true pairs start ~0.46 (p01) — 0.35 separates with
# wide margin (cf. the reference's measured per-domain cutoffs, e.g. 0.6 at
# BasicEdgeSimilarityComputation.java:110). The LSH recall path bands MinHash
# over word 3-shingles, which are sequence-sensitive, so unrelated records
# from a shared vocabulary do not collide (measured: false-pair 3-shingle
# Jaccard 0.0000 at p99.9, true pairs from ~0.10) — subquadratic at scale
# because random pairs almost never share a band.
DEFAULT_THRESHOLD = 0.35
DEFAULT_BLOCK_LENGTH = 4
DEFAULT_LSH_BANDS = 24
# Multi-key blocking: one prefix key per early turn (reference NC strategy —
# several key variants per record, ``util/Utils.java:208-233``). Corruption
# hits each turn independently, so a duplicate pair escapes all k keys with
# prob ~(1-0.64)^k — at k=4 ≈ 1.7% — and the LSH path catches the rest.
N_BLOCK_TURNS = 4
# Stop-block pruning: blocks larger than this generate no prefix pairs (they
# are head-of-Zipf stop-prefixes — at sf0.1 one 4-char prefix already holds
# 6965 records = 24M pairs, quadratic death at 100 TB). Recall for records in
# pruned blocks rides the LSH path. The reference's
# BlockSplit balances load *within* blocks; stop-block pruning bounds the
# total — both are required at scale.
DEFAULT_MAX_BLOCK_SIZE = 256
# Size-gated broadcast: with AQE off by design (its stage barriers serialize
# the fused featurize→join jobs — see session.py), the engine makes the one
# decision AQE would have made at runtime itself: when the materialized
# record checkpoint is dimension-sized (row count known EXACTLY and for free
# from the eager checkpoint), the self-join build sides and payload lookups
# are broadcast instead of shuffled — at micro-batch / CI scale the data is
# tiny and the shuffles are pure scheduling overhead (measured: the LSH
# verify join drops 3.2 s → <1 s at sf0.1). Above the gate the plan is the
# shuffle_hash one, which is the correct 100 TB shape. 100k records ≈ 70 MB
# of token arrays — well inside executor broadcast budgets.
BROADCAST_MAX_RECORDS = 100_000


def block_keys_array(block_length: int = DEFAULT_BLOCK_LENGTH):
    """Column expr: the record's ``N_BLOCK_TURNS`` prefix keys as an array —
    '<k>:<prefix-of-normalized-early-turn-k>'. Requires the ``early`` column
    from ``conversation_records``."""
    return F.array(
        *[
            F.concat_ws(
                ":", F.lit(str(k)), blocking_key(F.element_at("early", k + 1), block_length)
            )
            for k in range(N_BLOCK_TURNS)
        ]
    )


def conversation_records(transcripts: DataFrame) -> DataFrame:
    """Collapse turns into one record per conversation.

    label = first-turn text (blocking basis, the reference's entity label);
    doc   = all turn texts concatenated in turn order (similarity basis);
    source = the trailing ``_s<k>`` of conv_id (the reference's dataSource,
    bitmask-encoded like ``util/AbstractionUtils.java:36-61``).
    """
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "text"))), lambda x: x.text
    )
    early = [
        F.max(F.when(F.col("turn_idx") == k, F.col("text"))).alias(f"early{k}_raw")
        for k in range(N_BLOCK_TURNS)
    ]
    rec = transcripts.groupBy("conv_id").agg(
        F.min_by("text", "turn_idx").alias("label_raw"),
        F.array_join(ordered_texts, " ").alias("doc_raw"),
        F.count("*").alias("n_turns"),
        *early,
    )
    source = F.coalesce(
        F.nullif(F.regexp_extract("conv_id", "_s([0-9]+)$", 1), F.lit("")), F.lit("0")
    ).cast("int")
    return rec.select(
        F.col("conv_id").alias("rid"),
        source.alias("source"),
        normalize_text(F.col("label_raw")).alias("label"),
        normalize_text(F.col("doc_raw")).alias("doc"),
        F.col("n_turns"),
        F.array(
            *[
                normalize_text(F.coalesce(F.col(f"early{k}_raw"), F.lit("")))
                for k in range(N_BLOCK_TURNS)
            ]
        ).alias("early"),
    ).withColumn("smask", F.expr("shiftleft(1, source)"))


def featurize_records(
    records: DataFrame,
    lsh_bands: int = DEFAULT_LSH_BANDS,
    block_length: int = DEFAULT_BLOCK_LENGTH,
) -> DataFrame:
    """Featurized record table (rid, source, bks, toks, minhash), eagerly
    materialized — it feeds many consumers (block sizes, self-join, LSH
    banding, payload joins).

    Bytes are the budget: this checkpoint is re-scanned by every downstream
    stage and the workload is memory-bandwidth-bound at high core counts, so
    the stored row keeps only what downstream needs — the MinHash signature
    (lsh_bands longs) instead of the ~150-element shingle array it derives
    from, and the 4 final blocking keys instead of the raw early-turn
    strings. Tokens are hashed to int64 JVM-side (collision odds 2^-64 per
    token pair are irrelevant to set sizes); tokens = split + drop empties is
    identical to distinct_tokens(doc) since normalize is idempotent, but ~2x
    cheaper. The signature is the shared ``shingle_hashes`` → ``minhash``
    kernel over word 3-shingles of those token hashes; the streaming job and
    ``oracle_features.band_table`` derive the same signature and band keys.
    """
    rec = records.withColumn(
        "_th",  # ordered token hashes (duplicates kept — shingles need order)
        F.transform(
            F.filter(F.split(F.col("doc"), " "), lambda t: t != F.lit("")),
            lambda t: F.xxhash64(t),
        ),
    )
    rec = rec.withColumn("toks", F.array_distinct(F.col("_th")))
    rec = rec.withColumn("_sg", shingle_hashes(F.col("_th"), 3)).drop("_th")
    rec = rec.select(
        "rid",
        "source",
        block_keys_array(block_length).alias("bks"),
        "toks",
        minhash(F.col("_sg"), lsh_bands).alias("minhash"),
    )
    # lazy: the first consumer (pruned_block_rows' eager checkpoint) is the
    # materializing action — one job computes both, later consumers hit the
    # cached blocks
    return rec.localCheckpoint(eager=False)


def pruned_block_rows(
    rec: DataFrame,
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE,
    payload: list[str] | None = None,
) -> DataFrame:
    """(bk, rid, source[, payload...]) rows with stop-blocks pruned, eagerly
    materialized — the block self-join consumes it on BOTH sides, and
    without the checkpoint Catalyst re-executes the explode+groupBy+semi-join
    subtree twice (measured 2x the stage time at sf0.5). ``rec`` must carry
    the precomputed ``bks`` key array (see ``featurize_records``)."""
    cols = ["rid", "source"] + (payload or [])
    blk = rec.select(*cols, F.explode(F.col("bks")).alias("bk"))
    sizes = blk.groupBy("bk").agg(F.count("*").alias("_bn"))
    ok_blocks = sizes.filter(F.col("_bn") <= max_block_size).select("bk")
    slim = blk.join(F.broadcast(ok_blocks), "bk", "left_semi")
    return slim.localCheckpoint(eager=True)


def jaccard_ge(a_toks, b_toks, threshold: float):
    """Boolean column: token-set Jaccard(a, b) >= threshold, with
    ``array_intersect`` evaluated exactly ONCE.

    ``token_set_jaccard(...) >= t`` references the intersect size 3-4 times
    after projection collapse and Catalyst re-evaluates it each time
    (measured 40 s vs 8 s on 4.7M pairs at sf0.5). Algebra fixes it:
    J = i/(sa+sb-i) >= t  ⟺  i*q >= p*(sa+sb-i) with t = p/q. The fraction
    is ``Fraction(t).limit_denominator(1e6)`` — within 1e-12 of the double,
    and ratios of small ints (token-set sizes) are spaced >= 1/u², so no
    real pair's Jaccard can land between the fraction and the double: the
    integer comparison decides every pair exactly as the IEEE
    divide-then-compare does. All int64, no overflow (i,u <= ~1e5).
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1_000_000)
    p, q = fr.numerator, fr.denominator
    # i*q >= p*(s-i)  ⟺  i*(p+q) >= p*s — the intersect appears exactly once
    # (each extra reference is a full re-evaluation after projection collapse)
    inter = F.size(F.array_intersect(a_toks, b_toks))
    s = F.size(a_toks) + F.size(b_toks)
    return (s > F.lit(0)) & (inter * F.lit(p + q) >= F.lit(p) * s)


def match_edges(
    rec: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    lsh_bands: int = DEFAULT_LSH_BANDS,
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE,
    n_records: int | None = None,
) -> DataFrame:
    """Above-threshold match edges (a, b) from featurized records — the
    flagship's hot path, scored *inside* the joins.

    ``n_records``: exact row count of ``rec`` if the caller already knows it
    (None → one cached-scan ``count()`` on the checkpoint, ~50 ms). At or
    below ``BROADCAST_MAX_RECORDS`` every build side is broadcast (see the
    constant's rationale); above it the shuffle_hash plan runs unchanged.

    Identical pair set to generating all candidates, deduping, then scoring
    (the score of a pair doesn't depend on which key produced it, so
    score-then-dedup ≡ dedup-then-score), but a fundamentally cheaper plan:
    the block self-join carries token arrays through the join and computes
    Jaccard in the same stage, so the ~97% of pairs below threshold die
    inside the join task and the fat arrays are never shuffled again
    (the dedup-ids-then-rejoin-payload plan moved ~11 GB of token arrays at
    sf0.5 to keep 138k edges). LSH-band candidates (id-only) are anti-joined
    against nothing — they are few; their payload join is cheap.
    """
    if n_records is None:
        n_records = rec.count()  # materializes the lazy checkpoint once
    small = n_records <= BROADCAST_MAX_RECORDS
    slim = pruned_block_rows(rec, max_block_size, payload=["toks"])
    a = slim.select(
        F.col("bk"), F.col("rid").alias("a_rid"), F.col("source").alias("a_source"),
        F.col("toks").alias("a_toks"),
    )
    b = slim.select(
        F.col("bk"), F.col("rid").alias("b_rid"), F.col("source").alias("b_source"),
        F.col("toks").alias("b_toks"),
    )
    # The jaccard predicate lives INSIDE the join condition, after the cheap
    # conjuncts: a separate .filter() gets ANDed in FRONT of the residual
    # during pushdown and Spark then evaluates array_intersect for every
    # same-block row pair including a>=b and same-source ones (~4x the
    # evaluations — observed in the event log as 224 core-s for this stage).
    e_prefix = (
        a.join(
            F.broadcast(b) if small else b.hint("shuffle_hash"),
            (a.bk == b.bk)
            & (F.col("a_rid") < F.col("b_rid"))
            & (F.col("a_source") != F.col("b_source"))
            & jaccard_ge(F.col("a_toks"), F.col("b_toks"), threshold),
        )
        .select("a_rid", "b_rid")
    )
    edges = e_prefix
    if lsh_bands:
        sig = rec.select("rid", "minhash")
        lp = lsh_band_pairs(sig, bands=lsh_bands, rows_per_band=1, broadcast_ok=small)
        ra = rec.select(
            F.col("rid").alias("a_rid"), F.col("source").alias("a_source"),
            F.col("toks").alias("a_toks"),
        )
        rb = rec.select(
            F.col("rid").alias("b_rid"), F.col("source").alias("b_source"),
            F.col("toks").alias("b_toks"),
        )
        if small:
            ra, rb = F.broadcast(ra), F.broadcast(rb)
        else:
            ra, rb = ra.hint("shuffle_hash"), rb.hint("shuffle_hash")
        e_lsh = (
            lp.join(ra, "a_rid")
            .join(rb, "b_rid")
            .filter(F.col("a_source") != F.col("b_source"))
            .filter(jaccard_ge(F.col("a_toks"), F.col("b_toks"), threshold))
            .select("a_rid", "b_rid")
        )
        edges = edges.union(e_lsh)
    return edges.dropDuplicates(["a_rid", "b_rid"]).select(
        F.col("a_rid").alias("a"), F.col("b_rid").alias("b")
    )


def match_conversations(
    transcripts: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    block_length: int = DEFAULT_BLOCK_LENGTH,
) -> DataFrame:
    """Full batch pipeline → (conv_id, cluster_id); singletons keep own id.
    Pairs are scored in-join (see ``match_edges``)."""
    rec = featurize_records(conversation_records(transcripts), block_length=block_length)
    n_rec = rec.count()  # materializes the checkpoint; drives broadcast gating
    edges = match_edges(rec, threshold=threshold, n_records=n_rec)
    # materialize once: CC consumes the edge set twice (probe-collect + loop)
    edges = edges.localCheckpoint(eager=True)
    # nodes come from the checkpoint — no transcript re-agg
    nodes = rec.select(F.col("rid").alias("conv_id"))
    return assign_cluster_ids(nodes, edges, "conv_id", edges_distinct=True)


def dedup_conversations(
    transcripts: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Flagship query: cluster assignment + cluster size per conversation,
    stable (cluster_id, conv_id) output order columns."""
    assign = match_conversations(transcripts, threshold=threshold).localCheckpoint(
        eager=True
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    if assign.count() <= BROADCAST_MAX_RECORDS:  # cached-scan count on the ckpt
        sizes = F.broadcast(sizes)
    return assign.join(sizes, "cluster_id").select(
        "conv_id", "cluster_id", "cluster_size"
    )
