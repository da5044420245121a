"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator/pipeline from SURVEY.md §2
re-expressed Spark-first; ``oracle_sql()`` holds the equivalent DuckDB SQL.
The transcripts table (the engine's primary input per BASELINE.json
input_hint) is synthesized deterministically (seed=42) and cached under
``_synth/``; both Spark and DuckDB read the *same parquet file*, so value
hashes are exact. Similarities are emitted as integer millionths
(``floor(sim*1e6+0.5)``) because float-round dialects differ between engines
while floor/multiply are exact IEEE ops.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapping_analysis_spark.data.transcripts import SYNTH_ROOT, ensure_transcripts
from mapping_analysis_spark.functions import sqlgen
from mapping_analysis_spark.functions.simfns import trigram_cosine
from mapping_analysis_spark.functions.text import (
    blocking_key,
    distinct_tokens,
    normalize_text,
    sim_e6,
    token_set_jaccard,
)
from mapping_analysis_spark.operators.clustering import connected_components
from mapping_analysis_spark.pipeline import (
    BROADCAST_MAX_RECORDS,
    DEFAULT_MAX_BLOCK_SIZE,
    DEFAULT_THRESHOLD,
    conversation_records,
    dedup_conversations,
)

# The driver compares at sf=0.01 — the oracle reads the same cached parquet.
_T001 = ensure_transcripts("/root/testdata/sf0.001")
_T01 = ensure_transcripts("/root/testdata/sf0.01")
T_SQL = f"read_parquet('{os.path.join(SYNTH_ROOT, 'sf0.01', 'transcripts.parquet')}')"


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_transcripts(sf_dir))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Shared SQL building blocks (mirror mapping_analysis_spark.pipeline exactly)
# ---------------------------------------------------------------------------

_EARLY_RAW = ",\n         ".join(
    f"max(CASE WHEN turn_idx = {k} THEN text END) AS early{k}_raw" for k in range(4)
)
_EARLY_NORM = ",\n         ".join(
    sqlgen.norm_sql(f"coalesce(early{k}_raw, '')") + f" AS early{k}" for k in range(4)
)
_REC_SQL = f"""
rec0 AS (
  SELECT conv_id AS rid,
         arg_min(text, turn_idx) AS label_raw,
         string_agg(text, ' ' ORDER BY turn_idx) AS doc_raw,
         count(*) AS n_turns,
         {_EARLY_RAW}
  FROM {T_SQL} GROUP BY conv_id
),
rec AS (
  SELECT rid,
         CAST(coalesce(nullif(regexp_extract(rid, '_s([0-9]+)$', 1), ''), '0') AS INT) AS source,
         {sqlgen.norm_sql('label_raw')} AS label,
         {sqlgen.norm_sql('doc_raw')} AS doc,
         n_turns,
         {_EARLY_NORM}
  FROM rec0
)
"""

_BKS_SQL = "[" + ", ".join(
    f"'{k}:' || " + sqlgen.blocking_key_sql(f"early{k}") for k in range(4)
) + "]"
_BLOCKED_PAIRS_SQL = f"""
{_REC_SQL},
rtk AS MATERIALIZED (  -- per-record features, attached after pair dedup
  SELECT rid, list_distinct({sqlgen.tokens_sql('doc')}) AS toks, label FROM rec
),
blk0 AS MATERIALIZED (
  SELECT rid, source, unnest({_BKS_SQL}) AS bk FROM rec
),
bsz AS (SELECT bk, count(*) AS bn FROM blk0 GROUP BY bk),
blk AS (  -- stop-block pruning: oversized prefix blocks generate no pairs
  SELECT blk0.* FROM blk0 JOIN bsz USING (bk) WHERE bn <= {DEFAULT_MAX_BLOCK_SIZE}
),
keyed_pairs AS MATERIALIZED (  -- one row per (shared key, pair) — ids only
  SELECT a.bk AS bk, a.rid AS a_rid, b.rid AS b_rid
  FROM blk a JOIN blk b
    ON a.bk = b.bk AND a.rid < b.rid AND a.source <> b.source
),
pair_ids AS MATERIALIZED (SELECT DISTINCT a_rid, b_rid FROM keyed_pairs),
pairs AS MATERIALIZED (  -- deduped pairs with features joined back once
  SELECT p.a_rid, p.b_rid, ra.toks AS a_toks, rb.toks AS b_toks,
         ra.label AS a_label, rb.label AS b_label
  FROM pair_ids p
  JOIN rtk ra ON p.a_rid = ra.rid
  JOIN rtk rb ON p.b_rid = rb.rid
),
-- relational Jaccard: per-row list_intersect is quadratic per pair in
-- DuckDB; unnest + hash-join computes all intersections in one pass
tokx AS MATERIALIZED (SELECT rid, unnest(toks) AS tok FROM rtk),
lens AS MATERIALIZED (SELECT rid, len(toks) AS n FROM rtk),
isz AS MATERIALIZED (
  SELECT p.a_rid, p.b_rid, count(*) AS inter
  FROM pair_ids p
  JOIN tokx ta ON ta.rid = p.a_rid
  JOIN tokx tb ON tb.rid = p.b_rid AND tb.tok = ta.tok
  GROUP BY p.a_rid, p.b_rid
),
jac AS MATERIALIZED (
  SELECT p.a_rid, p.b_rid,
    CASE WHEN la.n + lb.n - coalesce(i.inter, 0) = 0 THEN 0.0
         ELSE CAST(coalesce(i.inter, 0) AS DOUBLE)
              / (la.n + lb.n - coalesce(i.inter, 0)) END AS sim
  FROM pair_ids p
  JOIN lens la ON la.rid = p.a_rid
  JOIN lens lb ON lb.rid = p.b_rid
  LEFT JOIN isz i ON i.a_rid = p.a_rid AND i.b_rid = p.b_rid
)
"""

_JACCARD = sqlgen.token_jaccard_sql("a_toks", "b_toks")


# ---------------------------------------------------------------------------
# Conversation / transcripts queries
# ---------------------------------------------------------------------------

def q_conv_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_records(_t(spark, sf_dir)).select(
        "rid", "source", "smask", "label", "doc", "n_turns"
    )


SQL_CONV_RECORDS = f"""
WITH {_REC_SQL}
SELECT rid, source, CAST(1 << source AS INT) AS smask, label, doc, n_turns FROM rec
"""


_MEMOS: list[dict] = []


def _session_memo(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Memoize ``fn(spark, *args)`` per SparkContext; ``fn`` materializes its
    own result (``localCheckpoint(eager=True)``).

    Keyed on ``(applicationId, *args)`` — ``applicationId`` is unique per
    SparkContext, whereas a stopped session's ``id(spark)`` can be reused by
    a new one, handing back DataFrames bound to a dead context. Every lookup
    evicts the entries of other (dead) applications from all memoized
    functions, so checkpointed RDDs / broadcasts from prior sessions don't
    accumulate."""
    memo: dict[tuple, DataFrame] = {}
    _MEMOS.append(memo)

    @functools.wraps(fn)
    def memoized(spark: SparkSession, *args):
        key = (spark.sparkContext.applicationId, *args)
        for m in _MEMOS:
            for stale in [k for k in m if k[0] != key[0]]:
                del m[stale]
        if key not in memo:
            memo[key] = fn(spark, *args)
        return memo[key]

    return memoized


@_session_memo
def _blocked_key_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (record, blocking key): (bk, rid, source, toks, label),
    stop-blocks pruned — mirrors the ``blk`` CTE of _BLOCKED_PAIRS_SQL.

    Memoized per (session, sf_dir) with an eager localCheckpoint: six
    contract queries replan this identical subtree (records → featurize →
    explode → prune); sharing the materialization cuts the bench total by
    the five redundant recomputes (VERDICT r01 measured ~30s each at
    sf0.1)."""
    from mapping_analysis_spark.pipeline import block_keys_array

    rec = conversation_records(_t(spark, sf_dir))
    rec = rec.withColumn("toks", distinct_tokens(F.col("doc")))
    rec = rec.select(
        "rid", "source", "toks", "label", F.explode(block_keys_array()).alias("bk")
    )
    sizes = rec.groupBy("bk").agg(F.count("*").alias("_bn"))
    ok = sizes.filter(F.col("_bn") <= DEFAULT_MAX_BLOCK_SIZE).select("bk")
    return rec.join(F.broadcast(ok), "bk", "left_semi").localCheckpoint(eager=True)


@_session_memo
def _blocked_pair_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped cross-source candidate id pairs (a_rid, b_rid), memoized:
    shared by the jaccard/trigram/max_both/attr-sim queries."""
    from mapping_analysis_spark.operators.blocking import block_pairs

    thin = _blocked_key_rows(spark, sf_dir).select("rid", "source", "bk")
    return (
        block_pairs(thin, block_col="bk")
        .select("a_rid", "b_rid")
        .dropDuplicates(["a_rid", "b_rid"])
        .localCheckpoint(eager=True)
    )


def _blocked_pairs(spark: SparkSession, sf_dir: str, payload: list[str]) -> DataFrame:
    """Deduped cross-source candidate pairs with a_/b_ payload columns; the
    payload columns join back from the memoized blocked rows, so each query
    only pays its own payload join."""
    ids = _blocked_pair_ids(spark, sf_dir)
    if not payload:
        return ids
    rows = _blocked_key_rows(spark, sf_dir)
    rec = rows.dropDuplicates(["rid"]).select(["rid"] + payload)
    a = rec.select([F.col(c).alias(f"a_{c}") for c in rec.columns])
    b = rec.select([F.col(c).alias(f"b_{c}") for c in rec.columns])
    return ids.join(a, "a_rid").join(b, "b_rid")


def q_conv_blocking_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = conversation_records(_t(spark, sf_dir))
    return rec.select("rid", blocking_key(F.col("label")).alias("block_key"))


SQL_CONV_BLOCKING_KEYS = f"""
WITH {_REC_SQL}
SELECT rid, {sqlgen.blocking_key_sql('label')} AS block_key FROM rec
"""


def q_conv_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDARD_BLOCKING candidate pairs (cross-source, a<b) — salted path."""
    from mapping_analysis_spark.operators.blocking import salted_block_pairs

    slim = _blocked_key_rows(spark, sf_dir).select("rid", "source", "bk")
    return salted_block_pairs(slim, block_col="bk", cap=64).select(
        F.col("a_bk").alias("block_key"), "a_rid", "b_rid"
    )


SQL_CONV_CANDIDATE_PAIRS = f"""
WITH {_BLOCKED_PAIRS_SQL}
SELECT bk AS block_key, a_rid, b_rid FROM keyed_pairs
"""


def q_conv_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard per blocked pair, as integer millionths."""
    pairs = _blocked_pairs(spark, sf_dir, ["toks"])
    return pairs.select(
        "a_rid",
        "b_rid",
        sim_e6(token_set_jaccard(F.col("a_toks"), F.col("b_toks"))).alias("sim_e6"),
    )


SQL_CONV_PAIR_JACCARD = f"""
WITH {_BLOCKED_PAIRS_SQL}
SELECT a_rid, b_rid, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM jac
"""


def q_conv_pair_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE_TRIGRAM metric (reference ``util/Utils.java:853-873``) on labels
    of blocked pairs — multiset cosine over padded 3-grams."""
    pairs = _blocked_pairs(spark, sf_dir, ["label"])
    return pairs.select(
        "a_rid",
        "b_rid",
        sim_e6(trigram_cosine(F.col("a_label"), F.col("b_label"))).alias("sim_e6"),
    )


SQL_CONV_PAIR_TRIGRAM = f"""
WITH {_BLOCKED_PAIRS_SQL},
tg AS (
  SELECT a_rid, b_rid,
         {sqlgen.trigrams_sql('a_label')} AS ga,
         {sqlgen.trigrams_sql('b_label')} AS gb
  FROM pairs
),
ca AS (
  SELECT a_rid, b_rid, t, count(*) AS c
  FROM (SELECT a_rid, b_rid, unnest(ga) AS t FROM tg) GROUP BY a_rid, b_rid, t
),
cb AS (
  SELECT a_rid, b_rid, t, count(*) AS c
  FROM (SELECT a_rid, b_rid, unnest(gb) AS t FROM tg) GROUP BY a_rid, b_rid, t
),
dots AS (
  SELECT ca.a_rid, ca.b_rid, sum(ca.c * cb.c) AS dot
  FROM ca JOIN cb ON ca.a_rid = cb.a_rid AND ca.b_rid = cb.b_rid AND ca.t = cb.t
  GROUP BY ca.a_rid, ca.b_rid
),
na AS (SELECT a_rid, b_rid, sum(c*c) AS n FROM ca GROUP BY a_rid, b_rid),
nb AS (SELECT a_rid, b_rid, sum(c*c) AS n FROM cb GROUP BY a_rid, b_rid)
SELECT tg.a_rid, tg.b_rid,
  {sqlgen.sim_e6_sql('coalesce(CAST(dots.dot AS DOUBLE) / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 0.0)')} AS sim_e6
FROM tg
JOIN na ON tg.a_rid = na.a_rid AND tg.b_rid = na.b_rid
JOIN nb ON tg.a_rid = nb.a_rid AND tg.b_rid = nb.b_rid
LEFT JOIN dots ON tg.a_rid = dots.a_rid AND tg.b_rid = dots.b_rid
"""


def q_conv_max_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BOTH mutual-best selection (MaxBothSelection.java:27-82) over
    blocked Jaccard pairs >= threshold."""
    from mapping_analysis_spark.operators.matching import max_both

    scored = (
        _keyed_scored_pairs(spark, sf_dir)
        .dropDuplicates(["a_rid", "b_rid"])
        .select("a_rid", "b_rid", "sim")
        .filter(F.col("sim") >= DEFAULT_THRESHOLD)
    )
    return max_both(scored).select("a_rid", "b_rid", sim_e6(F.col("sim")).alias("sim_e6"))


SQL_CONV_MAX_BOTH = f"""
WITH {_BLOCKED_PAIRS_SQL},
scored AS (
  SELECT a_rid, b_rid, sim FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
ranked AS (
  SELECT a_rid, b_rid, sim,
    row_number() OVER (PARTITION BY a_rid ORDER BY sim DESC, b_rid ASC) AS ra,
    row_number() OVER (PARTITION BY b_rid ORDER BY sim DESC, a_rid ASC) AS rb
  FROM scored
)
SELECT a_rid, b_rid, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM ranked WHERE ra = 1 AND rb = 1
"""


@_session_memo
def q_conv_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (oracle-checkable variant): prefix-blocked pairs → Jaccard >=
    threshold → connected components → (conv_id, cluster_id, cluster_size).
    The oracle replays the closure with a recursive CTE.

    Memoized per (session, sf_dir): match_quality, type_overlap_cc and
    candidate_creator all start from this assignment — sharing the
    materialized frame drops three full re-derives (pair gen + Jaccard +
    CC, ~7 s each at sf0.1) from the bench."""
    edges = (
        _keyed_scored_pairs(spark, sf_dir)
        .filter(F.col("sim") >= DEFAULT_THRESHOLD)
        .select(F.col("a_rid").alias("a"), F.col("b_rid").alias("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    comp = connected_components(edges)
    all_recs = conversation_records(_t(spark, sf_dir))
    assign = (
        all_recs.select(F.col("rid").alias("conv_id"))
        .join(comp.withColumnRenamed("node", "conv_id"), "conv_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("comp"), F.col("conv_id")))
        .drop("comp")
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return assign.join(sizes, "cluster_id").select(
        "conv_id", "cluster_id", "cluster_size"
    ).localCheckpoint(eager=True)


SQL_CONV_DEDUP_BLOCKED = f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
edges AS MATERIALIZED (
  SELECT a_rid AS a, b_rid AS b FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
  SELECT u AS node, least(min(v), u) AS cluster_id FROM reach GROUP BY u
),
assign AS (
  SELECT rid AS conv_id, coalesce(comp.cluster_id, rid) AS cluster_id
  FROM rec LEFT JOIN comp ON rec.rid = comp.node
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM assign GROUP BY cluster_id)
SELECT a.conv_id, a.cluster_id, s.cluster_size
FROM assign a JOIN sizes s ON a.cluster_id = s.cluster_id
"""


def q_conv_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship full pipeline (prefix blocking ∪ MinHash-LSH recall path).

    Hard-oracled: the LSH band table (rid, band_idx, band_hash) is
    materialized once to a shared parquet by a pure-Python bit-exact replica
    of the engine's featurization (``data/oracle_features.py`` — pinned
    against Spark in tests), and the DuckDB oracle replays banding, the
    prefix path, Jaccard verification and the transitive closure in SQL."""
    return dedup_conversations(_t(spark, sf_dir))


_BANDS_SQL = None  # set lazily below (generation takes a few seconds once)


def _bands_parquet_sql() -> str:
    from mapping_analysis_spark.data.oracle_features import ensure_band_table

    return f"read_parquet('{ensure_band_table('/root/testdata/sf0.01')}')"


def _sql_conv_dedup_full() -> str:
    return f"""
WITH RECURSIVE {_REC_SQL},
rtk AS MATERIALIZED (
  SELECT rid, source, list_distinct({sqlgen.tokens_sql('doc')}) AS toks FROM rec
),
blk0 AS MATERIALIZED (SELECT rid, source, unnest({_BKS_SQL}) AS bk FROM rec),
bsz AS (SELECT bk, count(*) AS bn FROM blk0 GROUP BY bk),
blk AS (SELECT blk0.* FROM blk0 JOIN bsz USING (bk) WHERE bn <= {DEFAULT_MAX_BLOCK_SIZE}),
prefix_pairs AS (
  SELECT DISTINCT a.rid AS a_rid, b.rid AS b_rid
  FROM blk a JOIN blk b ON a.bk = b.bk AND a.rid < b.rid AND a.source <> b.source
),
bands AS (SELECT * FROM {_bands_parquet_sql()}),
band_pairs AS (
  SELECT DISTINCT a.rid AS a_rid, b.rid AS b_rid
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.rid < b.rid
),
band_cs AS (  -- cross-source only (the engine filters both paths)
  SELECT p.a_rid, p.b_rid FROM band_pairs p
  JOIN rtk ra ON ra.rid = p.a_rid JOIN rtk rb ON rb.rid = p.b_rid
  WHERE ra.source <> rb.source
),
pair_ids AS MATERIALIZED (
  SELECT a_rid, b_rid FROM prefix_pairs UNION SELECT a_rid, b_rid FROM band_cs
),
tokx AS MATERIALIZED (SELECT rid, unnest(toks) AS tok FROM rtk),
lens AS (SELECT rid, len(toks) AS n FROM rtk),
isz AS MATERIALIZED (
  SELECT p.a_rid, p.b_rid, count(*) AS inter
  FROM pair_ids p
  JOIN tokx ta ON ta.rid = p.a_rid
  JOIN tokx tb ON tb.rid = p.b_rid AND tb.tok = ta.tok
  GROUP BY p.a_rid, p.b_rid
),
edges AS MATERIALIZED (
  SELECT p.a_rid AS a, p.b_rid AS b
  FROM pair_ids p
  JOIN lens la ON la.rid = p.a_rid JOIN lens lb ON lb.rid = p.b_rid
  LEFT JOIN isz i ON i.a_rid = p.a_rid AND i.b_rid = p.b_rid
  WHERE la.n + lb.n - coalesce(i.inter, 0) > 0
    AND CAST(coalesce(i.inter, 0) AS DOUBLE)
        / (la.n + lb.n - coalesce(i.inter, 0)) >= {DEFAULT_THRESHOLD}
),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (SELECT u AS node, least(min(v), u) AS cluster_id FROM reach GROUP BY u),
assign AS (
  SELECT rid AS conv_id, coalesce(comp.cluster_id, rid) AS cluster_id
  FROM rec LEFT JOIN comp ON rec.rid = comp.node
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM assign GROUP BY cluster_id)
SELECT a.conv_id, a.cluster_id, s.cluster_size FROM assign a JOIN sizes s USING (cluster_id)
"""


def q_conv_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote representative per (cluster, turn) — getFinalValue
    semantics (``util/Utils.java:63-84``): most votes, then longer text,
    then lexicographic."""
    from mapping_analysis_spark.operators.clustering import representatives

    t = _t(spark, sf_dir)
    assign = q_conv_dedup_blocked(spark, sf_dir).select("conv_id", "cluster_id")
    return representatives(assign, t)


SQL_CONV_REPRESENTATIVES = f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
edges AS MATERIALIZED (
  SELECT a_rid AS a, b_rid AS b FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (SELECT u AS node, least(min(v), u) AS cluster_id FROM reach GROUP BY u),
assign AS (
  SELECT rid AS conv_id, coalesce(comp.cluster_id, rid) AS cluster_id
  FROM rec LEFT JOIN comp ON rec.rid = comp.node
),
counted AS (
  SELECT a.cluster_id, t.turn_idx, t.text, count(*) AS n_votes
  FROM {T_SQL} t JOIN assign a ON t.conv_id = a.conv_id
  GROUP BY a.cluster_id, t.turn_idx, t.text
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id, turn_idx
    ORDER BY n_votes DESC, len(text) DESC, text ASC) AS rn
  FROM counted
)
SELECT cluster_id, turn_idx, text, n_votes FROM ranked WHERE rn = 1
"""


def q_conv_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of turns per conversation (batch analogue of
    streaming session_window; 300 s gap)."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gapped = t.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 300 SECOND")),
            1,
        ).otherwise(0),
    )
    sess = gapped.withColumn(
        "session_idx", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("conv_id", "session_idx").agg(
        F.count("*").alias("n_turns"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_CONV_SESSIONS = f"""
WITH g AS (
  SELECT conv_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 300
         THEN 1 ELSE 0 END AS new_sess
  FROM {T_SQL}
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
s AS (
  SELECT conv_id, ts,
    CAST(sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM g
)
SELECT conv_id, session_idx, count(*) AS n_turns,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY conv_id, session_idx
"""


def q_conv_role_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window counts per role."""
    t = _t(spark, sf_dir)
    return t.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "role"
    ).agg(F.count("*").alias("n_turns"))


SQL_CONV_ROLE_HOURLY = f"""
SELECT date_trunc('hour', ts) AS hour, role, count(*) AS n_turns
FROM {T_SQL} GROUP BY 1, 2
"""


def q_turn_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over turn texts: groups of identical texts across
    conversations (hash-groupBy dedup baseline)."""
    t = _t(spark, sf_dir)
    return (
        t.groupBy("text")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))).alias("keeper"),
        )
        .filter(F.col("n_copies") > 1)
    )


SQL_TURN_EXACT_DEDUP = f"""
SELECT text, count(*) AS n_copies,
       min(conv_id || '#' || CAST(turn_idx AS VARCHAR)) AS keeper
FROM {T_SQL} GROUP BY text HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# Documents: near-dup detection + text analysis
# ---------------------------------------------------------------------------

_DOC_SHINGLES_SQL = """
sh AS (
  -- concat_ws skips NULL out-of-range elements in BOTH engines, so a
  -- 2-token doc yields the shingle 'a b' here exactly like Spark's
  -- concat_ws over element_at (|| would yield NULL) — pinned by
  -- tests/test_functions.py::test_short_doc_shingle_parity.
  SELECT doc_id,
    list_distinct([concat_ws(' ', tk[i], tk[i+1], tk[i+2])
                   for i in range(1, greatest(1, len(tk)-2) + 1)]) AS sg
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
)
"""


def q_doc_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over 3-word shingles, exact-verified at
    Jaccard >= 0.5. LSH (48 bands × 2 rows) misses a 0.5-Jaccard pair with
    probability (1-0.5²)^48 ≈ 1e-6 — negligible against the exact verify —
    while a 2-row band needs a false pair to agree twice, keeping the
    candidate set output-shaped on this corpus' nonzero background Jaccard
    (~500x fewer candidates than 1-row bands, measured at sf1.0)."""
    from mapping_analysis_spark.operators.dedup import minhash_lsh_dedup

    docs = _tbl(spark, sf_dir, "documents")
    v = minhash_lsh_dedup(docs, text_col="text", id_col="doc_id", threshold=0.5,
                          shingle_width=3, bands=48, rows_per_band=2)
    return v.select("a_doc", "b_doc", sim_e6(F.col("sim")).alias("sim_e6"))


SQL_DOC_NEARDUP = f"""
WITH {_DOC_SHINGLES_SQL},
shx AS MATERIALIZED (SELECT doc_id, unnest(sg) AS s FROM sh),
lens AS (SELECT doc_id, len(sg) AS n FROM sh),
isz AS (  -- pairs sharing no shingle cannot reach the threshold
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS inter
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.a_doc, i.b_doc,
    CAST(i.inter AS DOUBLE) / (la.n + lb.n - i.inter) AS sim
  FROM isz i
  JOIN lens la ON la.doc_id = i.a_doc
  JOIN lens lb ON lb.doc_id = i.b_doc
)
SELECT a_doc, b_doc, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM jac WHERE sim >= 0.5
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / doc statistics (training-data text analysis)."""
    docs = _tbl(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_text"),
    )


SQL_DOC_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       len(text) AS n_chars_text
FROM documents
"""


_STOPWORDS = ["a", "the", "of", "and", "to"]


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: type-token ratio, stopword ratio, mean token length
    (integer-millionth outputs for engine-exact comparison)."""
    docs = _tbl(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n = F.size(tk)
    n_stop = F.size(F.filter(tk, lambda t: t.isin(_STOPWORDS)))
    total_len = F.aggregate(tk, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        sim_e6(F.size(F.array_distinct(tk)).cast("double") / n.cast("double")).alias("ttr_e6"),
        sim_e6(n_stop.cast("double") / n.cast("double")).alias("stopword_ratio_e6"),
        sim_e6(total_len.cast("double") / n.cast("double")).alias("mean_token_len_e6"),
    )


_SW_LIST = "['" + "','".join(_STOPWORDS) + "']"
SQL_DOC_QUALITY = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
SELECT doc_id,
  {sqlgen.sim_e6_sql('CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)')} AS ttr_e6,
  {sqlgen.sim_e6_sql(f'CAST(len(list_filter(tk, x -> list_contains({_SW_LIST}, x))) AS DOUBLE) / len(tk)')} AS stopword_ratio_e6,
  {sqlgen.sim_e6_sql('CAST(list_sum([len(x) for x in tk]) AS DOUBLE) / len(tk)')} AS mean_token_len_e6
FROM t
"""


# ---------------------------------------------------------------------------
# Events: sessionization + windows
# ---------------------------------------------------------------------------

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user over the events stream table."""
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 1800 SECOND")),
            1,
        ).otherwise(0),
    )
    sess = gapped.withColumn(
        "session_idx", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_idx
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: counts + exact value sums
    (element-wise decimal cast → order-independent sums → double)."""
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Relational census (TPC-H-ish): agg, join, anti-join, top-k
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(14,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-10 (broadcast dim join)."""
    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    joined = rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
    return (
        joined.select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join idiom (replaces the reference's leftOuterJoin+null-check,
    ``TypeGroupBy.java:51-60``)."""
    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_convs_without_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join with non-trivial output: conversations that never call a
    tool (left_anti replaces the reference's leftOuterJoin+isNull idiom)."""
    t = _t(spark, sf_dir)
    tool_convs = t.filter(F.col("role") == "tool").select("conv_id").distinct()
    return (
        t.select("conv_id")
        .distinct()
        .join(tool_convs, "conv_id", "left_anti")
    )


SQL_CONVS_WITHOUT_TOOL = f"""
SELECT DISTINCT conv_id FROM {T_SQL}
WHERE conv_id NOT IN (SELECT conv_id FROM {T_SQL} WHERE role = 'tool')
"""


# ---------------------------------------------------------------------------
# Embeddings: ANN top-k (quantized-exact cosine)
# ---------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10).

    Embeddings are quantized to integer ten-thousandths first, making dot
    products exact integers → deterministic doubles → engine-exact ranks.
    """
    emb = _tbl(spark, sf_dir, "embeddings")
    qexpr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 10000.0 + 0.5).cast("long"),
    )
    base = emb.select(F.col("vec_id"), qexpr.alias("q"))
    norm = F.aggregate(
        F.zip_with(F.col("q"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = base.withColumn("n2", norm)
    queries = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qv"), F.col("n2").alias("qn")
    )
    joined = base.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("q_id"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = dot.cast("double") / (
        F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    scored = joined.withColumn("sim", sim)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("vec_id").alias("nn_id"), "rank", sim_e6(F.col("sim")).alias("sim_e6"))
    )


SQL_ANN_TOPK = f"""
WITH q0 AS (
  SELECT vec_id,
    [CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) for x in embedding] AS q
  FROM embeddings
),
base AS (
  SELECT vec_id, q, list_sum([x * x for x in q]) AS n2 FROM q0
),
queries AS (SELECT vec_id AS q_id, q AS qv, n2 AS qn FROM base WHERE vec_id < 10),
scored AS (
  SELECT b.vec_id, q.q_id,
    CAST(list_sum([q.qv[i] * b.q[i] for i in range(1, len(b.q) + 1)]) AS DOUBLE)
      / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
  FROM base b CROSS JOIN queries q
  WHERE b.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, sim,
    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id AS nn_id, rank, {sqlgen.sim_e6_sql('sim')} AS sim_e6
FROM ranked WHERE rank <= 5
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (the indexed scale path next to brute ``ann_topk``):
    deterministic k-means coarse quantizer (8 cells, min-id seeds, one exact
    integer-mean Lloyd step), queries probe their 2 nearest cells, exact
    quantized-cosine rerank inside the probed inverted lists. Every step is
    integer-exact or IEEE-identical, so DuckDB replays the whole index
    build + probe and the outputs match value-exactly."""
    from mapping_analysis_spark.operators.knn import ivf_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    res = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=8, n_probe=2, iters=1
    )
    return res.select("q_id", "nn_id", "rank", sim_e6(F.col("sim")).alias("sim_e6"))


_IVF_ASSIGN_SQL = """
  SELECT vec_id, q, n2, cell,
    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rk
  FROM (
    SELECT b.vec_id, b.q, b.n2, s.cell,
      CAST(list_sum([b.q[i] * s.c[i] for i in range(1, len(b.q) + 1)]) AS DOUBLE)
        / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(s.cn AS DOUBLE))) AS sim
    FROM base b CROSS JOIN {cents} s
  )
"""

SQL_ANN_IVF_TOPK = f"""
WITH q0 AS (
  SELECT vec_id,
    [CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) for x in embedding] AS q
  FROM embeddings
),
base AS (
  SELECT vec_id, q, list_sum([x * x for x in q]) AS n2 FROM q0
),
seeds AS (  -- deterministic min-id seed centroids, cell ids 0..7
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, q AS c, n2 AS cn
  FROM (SELECT * FROM base ORDER BY vec_id ASC LIMIT 8)
),
assign0 AS ({_IVF_ASSIGN_SQL.format(cents='seeds')}),
members AS (SELECT cell, q FROM assign0 WHERE rk = 1),
comp AS (  -- one Lloyd step: element-wise floor(mean) in quantized space
  SELECT cell, i, CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM (SELECT cell, unnest(range(1, len(q) + 1)) AS i, unnest(q) AS x FROM members)
  GROUP BY cell, i
),
cents0 AS (SELECT cell, list(m ORDER BY i) AS c FROM comp GROUP BY cell),
cents AS (SELECT cell, c, list_sum([x * x for x in c]) AS cn FROM cents0),
lists AS (  -- final inverted lists
  SELECT cell, vec_id AS nn_id, q AS v, n2
  FROM ({_IVF_ASSIGN_SQL.format(cents='cents')}) WHERE rk = 1
),
probes AS (  -- queries probe their 2 nearest cells
  SELECT cell, vec_id AS q_id, q AS qv, n2 AS qn
  FROM ({_IVF_ASSIGN_SQL.format(cents='cents')})
  WHERE vec_id < 10 AND rk <= 2
),
scored AS (
  SELECT p.q_id, l.nn_id,
    CAST(list_sum([p.qv[i] * l.v[i] for i in range(1, len(l.v) + 1)]) AS DOUBLE)
      / (sqrt(CAST(p.qn AS DOUBLE)) * sqrt(CAST(l.n2 AS DOUBLE))) AS sim
  FROM lists l JOIN probes p USING (cell)
  WHERE l.nn_id <> p.q_id
),
ranked AS (
  SELECT q_id, nn_id, sim,
    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id ASC) AS rank
  FROM scored
)
SELECT q_id, nn_id, rank, {sqlgen.sim_e6_sql('sim')} AS sim_e6
FROM ranked WHERE rank <= 5
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 with md5-derived ±1 planes: sketches are
    integer-exact (sign of an int dot over the quantized vectors), so DuckDB
    regenerates the identical planes from md5() and replays bucketing +
    rerank — the LSH path's own driver-gated oracle next to brute
    (``ann_topk``) and IVF (``ann_ivf_topk``)."""
    from mapping_analysis_spark.operators.knn import md5_lsh_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    res = md5_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, bits=4, tables=12
    )
    return res.select("q_id", "nn_id", "rank", sim_e6(F.col("sim")).alias("sim_e6"))


SQL_ANN_LSH_TOPK = f"""
WITH q0 AS (
  SELECT vec_id,
    [CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) for x in embedding] AS q
  FROM embeddings
),
base AS (
  SELECT vec_id, q, list_sum([x * x for x in q]) AS n2 FROM q0
),
planes AS (  -- md5-derived ±1 hyperplanes: first hex digit < '8' → +1
  SELECT t, b,
    list(CASE WHEN substr(md5(t || ':' || b || ':' || i), 1, 1) < '8'
              THEN 1 ELSE -1 END ORDER BY i) AS s
  FROM range(12) r1(t), range(4) r2(b), range(64) r3(i)
  GROUP BY t, b
),
sk AS (  -- sign-bit sketch: integer dot >= 0 per plane, bits packed by b
  SELECT v.vec_id, p.t,
    CAST(SUM(CASE WHEN list_sum([p.s[i] * v.q[i] for i in range(1, len(v.q) + 1)]) >= 0
             THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS BIGINT) AS bucket
  FROM base v CROSS JOIN planes p
  GROUP BY v.vec_id, p.t
),
cq AS (SELECT vec_id, t, bucket FROM sk WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT c.vec_id AS nn_id, qq.vec_id AS q_id
  FROM sk c JOIN cq qq ON c.t = qq.t AND c.bucket = qq.bucket
  WHERE c.vec_id <> qq.vec_id
),
scored AS (
  SELECT cand.q_id, cand.nn_id,
    CAST(list_sum([a.q[i] * b.q[i] for i in range(1, len(a.q) + 1)]) AS DOUBLE)
      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
  FROM cand
  JOIN base a ON a.vec_id = cand.q_id
  JOIN base b ON b.vec_id = cand.nn_id
),
ranked AS (
  SELECT q_id, nn_id, sim,
    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id ASC) AS rank
  FROM scored
)
SELECT q_id, nn_id, rank, {{sim_e6}} AS sim_e6
FROM ranked WHERE rank <= 5
""".format(sim_e6=sqlgen.sim_e6_sql("sim"))


# ---------------------------------------------------------------------------
# Documents: SimHash near-dup (engine-portable md5 hash basis) and
# word-2-gram Jaccard dedup
# ---------------------------------------------------------------------------

def _md5_60(t):
    """60-bit token hash from the md5 hex prefix — bit-identical in Spark
    (conv base16→10) and DuckDB (strpos fold), unlike xxhash64/splitmix64
    whose wrap-around arithmetic DuckDB cannot express."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def q_doc_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 3 over 60-bit md5-basis
    fingerprints (remix off → oracle-replicable bit votes). With
    max_hamming (3) <= n_bands (6) - combo_bands (3) the 3-of-6-band
    candidate keys provably cover every qualifying pair (generalized
    pigeonhole), so the LSH-shaped plan equals the brute-force oracle
    exactly — while 30-bit combo agreement keeps the candidate set ~20x
    smaller than single 15-bit chunks on this clustered-fingerprint corpus."""
    from mapping_analysis_spark.operators.dedup import simhash_dedup

    docs = _tbl(spark, sf_dir, "documents")
    pairs = simhash_dedup(
        docs, max_hamming=3, n_bands=6, combo_bands=3, token_hash=_md5_60,
        remix=False,
    )
    return pairs.select(
        "a_doc", "b_doc", F.col("hamming").cast("int").alias("hamming")
    )


SQL_DOC_SIMHASH_NEARDUP = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
    list_reduce(
      [CAST(strpos('0123456789abcdef', substr(hx, i, 1)) - 1 AS BIGINT)
       for i in range(1, 16)],
      (acc, x) -> acc * 16 + x
    ) AS h
  FROM (SELECT doc_id, md5(tok) AS hx FROM toks)
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
         COUNT(*) AS n
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) bits
  GROUP BY doc_id, bit
),
fp0 AS (  -- majority vote: bit set iff strictly more than half the tokens set it
  SELECT doc_id,
    CAST(SUM(CASE WHEN 2 * ones > n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
         AS BIGINT) AS fp
  FROM votes GROUP BY doc_id
),
fps AS (
  SELECT d.doc_id, COALESCE(f.fp, 0) AS fp
  FROM documents d LEFT JOIN fp0 f USING (doc_id)
)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-2-gram Jaccard dedup (the n-gram metric entry point) at >= 0.6,
    MinHash-LSH candidates (32 bands → miss prob (1-0.6)^32 ≈ 2e-13) with
    exact verification on the string shingle sets."""
    from mapping_analysis_spark.operators.dedup import ngram_jaccard_dedup

    docs = _tbl(spark, sf_dir, "documents")
    v = ngram_jaccard_dedup(docs, text_col="text", id_col="doc_id", n=2, threshold=0.6)
    return v.select("a_doc", "b_doc", sim_e6(F.col("sim")).alias("sim_e6"))


SQL_DOC_NGRAM_JACCARD = f"""
WITH sh AS (
  -- concat_ws skips the NULL out-of-range element, so a 1-token doc yields
  -- the degenerate shingle 'a' exactly like Spark's try_element_at path
  SELECT doc_id,
    list_distinct([concat_ws(' ', tk[i], tk[i+1])
                   for i in range(1, greatest(1, len(tk)-1) + 1)]) AS sg
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
),
shx AS MATERIALIZED (SELECT doc_id, unnest(sg) AS s FROM sh),
lens AS (SELECT doc_id, len(sg) AS n FROM sh),
isz AS (
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS inter
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.a_doc, i.b_doc,
    CAST(i.inter AS DOUBLE) / (la.n + lb.n - i.inter) AS sim
  FROM isz i
  JOIN lens la ON la.doc_id = i.a_doc
  JOIN lens lb ON lb.doc_id = i.b_doc
)
SELECT a_doc, b_doc, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM jac WHERE sim >= 0.6
"""


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: a GPT-2/cl100k-style pre-tokenizer regex
    (contractions, letter runs, 1-3-digit groups, punctuation runs) counted
    per document next to the whitespace count, plus the chars-per-BPE-token
    compression ratio (integer-millionth, exact in both engines). The
    pre-tokenizer split dominates token-count statistics, which is the
    number a corpus-sizing pass needs. Pure Catalyst — one projection, no
    shuffle, scale-free."""
    from mapping_analysis_spark.functions.text import bpe_ish_tokens

    docs = _tbl(spark, sf_dir, "documents")
    return docs.withColumn("bpe", bpe_ish_tokens(F.col("text"))).select(
        "doc_id",
        F.size("bpe").alias("n_bpe_tokens"),
        F.size(F.array_distinct("bpe")).alias("n_distinct_bpe_tokens"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit("")))
        .alias("n_ws_tokens"),
        # DIV / '//' = integer division in Spark / DuckDB — identical
        # truncation (a double-division + cast would round differently)
        F.expr(
            "CAST(length(text) AS BIGINT) * 1000000 DIV NULLIF(size(bpe), 0)"
        ).alias("chars_per_bpe_e6"),
    )


_BPE_SQL_PAT = "''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9 ]+| +"

SQL_DOC_BPE_TOKENS = f"""
WITH tk AS (
  SELECT doc_id, text, regexp_extract_all(text, '{_BPE_SQL_PAT}') AS bpe
  FROM documents
)
SELECT doc_id,
  len(bpe) AS n_bpe_tokens,
  len(list_distinct(bpe)) AS n_distinct_bpe_tokens,
  len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_ws_tokens,
  CAST(len(text) AS BIGINT) * 1000000 // NULLIF(len(bpe), 0)
    AS chars_per_bpe_e6
FROM tk
"""


# ---------------------------------------------------------------------------
# Additional operators: fingerprints, language ID, IDF blocking, merge ops,
# embedding near-dup, sliding windows
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash (base 31, mod 2^31-1)
    over the raw text characters — pure Catalyst fold, exact in both engines."""
    docs = _tbl(spark, sf_dir, "documents")
    chars = F.expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(2147483647).cast("long"),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
  list_reduce(
    [CAST(0 AS BIGINT)] || [CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
                            for i in range(1, len(text) + 1)],
    (acc, x) -> (acc * 31 + x) % 2147483647
  ) AS fingerprint
FROM documents
"""


_LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "q1": ["table", "row", "column"],
    "q2": ["stream", "batch", "window"],
}


def q_doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language/domain ID heuristic: argmax of marker-list hit
    counts (ties → lexicographically first list name), 'und' when no hits.

    Counting marker tokens per language list is the classic stopword-profile
    n-gram LID scheme; marker lists here are tuned to the synthetic corpus."""
    docs = _tbl(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    names = sorted(_LANG_MARKERS)
    hits = {
        n: F.size(F.filter(tk, lambda t: t.isin(_LANG_MARKERS[n]))) for n in names
    }
    best = F.greatest(*[hits[n] for n in names])
    guess = F.when(best == 0, F.lit("und"))
    for n in names:  # alphabetical order = deterministic tie-break
        guess = guess.when(hits[n] == best, F.lit(n))
    return docs.select(
        "doc_id", guess.alias("lang_guess"), best.alias("marker_hits")
    )


def _lang_sql() -> tuple[str, str]:
    counts = {
        n: f"len(list_filter(tk, t -> list_contains(['"
        + "','".join(_LANG_MARKERS[n])
        + "'], t)))"
        for n in sorted(_LANG_MARKERS)
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for n in sorted(_LANG_MARKERS):
        case += f"WHEN {counts[n]} = {best} THEN '{n}' "
    case += "END"
    return case, best


_LANG_CASE, _LANG_BEST = _lang_sql()
SQL_DOC_LANGUAGE_ID = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
SELECT doc_id, {_LANG_CASE} AS lang_guess, {_LANG_BEST} AS marker_hits FROM t
"""


@_session_memo
def _record_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (rid, toks) featurization — unpruned (every record present,
    unlike `_blocked_key_rows`, whose stop-block pruning may drop records
    whose keys are all stop blocks)."""
    return (
        conversation_records(_t(spark, sf_dir))
        .withColumn("toks", distinct_tokens(F.col("doc")))
        .select("rid", "toks")
        .localCheckpoint(eager=True)
    )


def q_conv_idf_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF blocking (reference tfidf package, 690 LoC → DataFrame ops):
    records sharing >= 2 of their top-2 rarest tokens are connected; CC over
    the share graph gives block ids."""
    from mapping_analysis_spark.operators.decomposition import idf_blocking

    return idf_blocking(
        _record_tokens(spark, sf_dir), top_k=2, support=2, tokens_distinct=True
    )


SQL_CONV_IDF_BLOCKING = f"""
WITH RECURSIVE {_REC_SQL},
tok AS MATERIALIZED (
  SELECT DISTINCT rid, unnest(list_distinct({sqlgen.tokens_sql('doc')})) AS tok FROM rec
),
dfc AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
ranked AS (
  SELECT rid, tok, row_number() OVER (PARTITION BY rid ORDER BY df ASC, tok ASC) AS rn
  FROM tok JOIN dfc USING (tok)
),
top AS (SELECT rid, tok FROM ranked WHERE rn <= 2),
share AS MATERIALIZED (
  SELECT a.rid AS a, b.rid AS b
  FROM top a JOIN top b ON a.tok = b.tok AND a.rid < b.rid
  GROUP BY a.rid, b.rid HAVING count(*) >= 2
),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM share UNION SELECT b, a FROM share),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS rid, least(min(v), u) AS idf_block FROM reach GROUP BY u
"""


_GREEDY_PAIRS_SQL = None  # composed lazily (needs _BLOCKED_PAIRS_SQL)


def _greedy_pairs_sql() -> str:
    """Per-block scored pairs with source masks — the greedy replay input."""
    return f"""
WITH {_BLOCKED_PAIRS_SQL}
SELECT k.bk AS block, k.a_rid AS a, k.b_rid AS b, j.sim,
       CAST(1 << ra.source AS INT) AS a_smask,
       CAST(1 << rb.source AS INT) AS b_smask
FROM keyed_pairs k
JOIN jac j ON j.a_rid = k.a_rid AND j.b_rid = k.b_rid
JOIN rec ra ON ra.rid = k.a_rid
JOIN rec rb ON rb.rid = k.b_rid
WHERE j.sim >= {DEFAULT_THRESHOLD}
"""


def _ensure_greedy_expected() -> str:
    """Run the independent greedy replay once for sf0.01 and cache the
    expected (rid, cluster_rid) parquet the oracle reads."""
    import duckdb

    from mapping_analysis_spark.data.oracle_features import greedy_replay

    out = os.path.join(SYNTH_ROOT, "sf0.01", "greedy_expected.parquet")
    if os.path.exists(out):
        return out
    pairs = duckdb.connect().execute(_greedy_pairs_sql()).df()
    expected = greedy_replay(pairs, threshold=DEFAULT_THRESHOLD, max_sources=5)
    tmp = out + ".tmp"
    expected.to_parquet(tmp, index=False)
    os.replace(tmp, out)
    return out


def q_conv_greedy_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-local greedy agglomerative merge (the reference's delta-iteration
    kernel, DeltaIterateMergeMusicStepFunction.java:104-137) under source
    restrictions.

    Hard-oracled via an executable oracle: an independent single-threaded
    replay of the same published semantics (``data/oracle_features.py::
    greedy_replay`` — separate code from the distributed applyInPandas
    kernel) materializes the expected assignment to a shared parquet; the
    DuckDB side reads it. The iterative tie-broken loop itself is not
    expressible in one SQL query."""
    from mapping_analysis_spark.operators.clustering import greedy_merge

    scored = (
        _keyed_scored_pairs(spark, sf_dir)
        .filter(F.col("sim") >= DEFAULT_THRESHOLD)
        .withColumn("a_smask", F.expr("shiftleft(1, a_source)"))
        .withColumn("b_smask", F.expr("shiftleft(1, b_source)"))
    )
    merged = greedy_merge(
        scored,
        block_col="bk",
        threshold=DEFAULT_THRESHOLD,
        max_sources=5,
    )
    # A rid in several blocks can get different block-local cluster ids;
    # min() makes the cross-block reconciliation deterministic (dropDuplicates
    # would keep an arbitrary one).
    return merged.groupBy("rid").agg(F.min("cluster_rid").alias("cluster_rid"))


_HUNGARIAN_THRESHOLD = 0.5
_HUNGARIAN_MAX_EDGES = 12


@_session_memo
def _keyed_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-keyed scored candidate pairs (bk, a_rid, b_rid, a_source,
    b_source, sim) at the lowest consumer threshold (0.5), memoized per
    (session, sf_dir) and shared by the greedy-merge / Hungarian /
    decomposition queries.

    Shape matters: Jaccard runs ONCE over the DEDUPED id-pair set with the
    token payload joined after the thin self-join (the `_blocked_pairs`
    fast path — payload arrays carried through the block self-join tripled
    the shuffle bytes and re-scored multi-block duplicate pairs); the
    surviving ~0.5-threshold pairs (a few 10k rows) then re-attach their
    block keys with one semi-filtered join against the thin keyed id set."""
    from mapping_analysis_spark.operators.blocking import block_pairs

    pairs = _blocked_pairs(spark, sf_dir, ["toks"])
    scored = (
        pairs.withColumn("sim", token_set_jaccard(F.col("a_toks"), F.col("b_toks")))
        .filter(F.col("sim") >= _HUNGARIAN_THRESHOLD)
        .select("a_rid", "b_rid", "sim")
        .localCheckpoint(eager=True)
    )
    rows = _blocked_key_rows(spark, sf_dir)
    thin = rows.select("rid", "source", "bk")
    keyed_ids = block_pairs(thin, block_col="bk").select(
        F.col("a_bk").alias("bk"), "a_rid", "b_rid", "a_source", "b_source"
    )
    # broadcast only while the admitted pair set is genuinely small — it
    # grows with SF, and an unconditional hint is a driver-OOM at scale.
    # count() is one cheap job over the already-checkpointed RDD.
    if scored.count() <= 2_000_000:
        scored = F.broadcast(scored)
    return keyed_ids.join(scored, ["a_rid", "b_rid"]).localCheckpoint(eager=True)


def q_conv_hungarian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block optimal 1:1 assignment (HungarianAlgorithmReduceFunction
    semantics) — pure-numpy O(n³) Hungarian in applyInPandas.

    Hard-oracled: emits each block's optimal total similarity. Similarities
    are quantized to integer millionths BEFORE the assignment, so the engine
    and the oracle maximize the identical integer objective (the optimum
    VALUE is unique even when multiple optimal assignments exist). Restricted
    to blocks with <= 12 scored edges so DuckDB can brute-force all
    2^k edge subsets; the unrestricted operator is pinned by
    tests/test_operators.py optimality checks."""
    from mapping_analysis_spark.operators.matching import hungarian_matches

    scored = (
        _keyed_scored_pairs(spark, sf_dir)
        .select(
            "bk",
            "a_rid",
            "b_rid",
            sim_e6(F.col("sim")).cast("double").alias("sim"),
        )
        .dropDuplicates(["bk", "a_rid", "b_rid"])
    )
    w = Window.partitionBy("bk")
    small = scored.withColumn("_n", F.count("*").over(w)).filter(
        F.col("_n") <= _HUNGARIAN_MAX_EDGES
    )
    matched = hungarian_matches(small.select("bk", "a_rid", "b_rid", "sim"), block_col="bk")
    return matched.groupBy(F.col("bk").alias("block_key")).agg(
        F.sum(F.col("sim")).cast("long").alias("total_sim_e6")
    )


SQL_CONV_HUNGARIAN = None  # composed below (needs _BLOCKED_PAIRS_SQL)


def _sql_conv_hungarian() -> str:
    return f"""
WITH {_BLOCKED_PAIRS_SQL},
scored AS (
  SELECT DISTINCT k.bk, k.a_rid, k.b_rid, {sqlgen.sim_e6_sql('j.sim')} AS sim_e6
  FROM jac j JOIN keyed_pairs k ON j.a_rid = k.a_rid AND j.b_rid = k.b_rid
  WHERE j.sim >= {_HUNGARIAN_THRESHOLD}
),
eidx AS (
  SELECT bk, a_rid, b_rid, sim_e6,
         row_number() OVER (PARTITION BY bk ORDER BY a_rid, b_rid) - 1 AS idx,
         count(*) OVER (PARTITION BY bk) AS n_edges
  FROM scored
),
small AS (SELECT * FROM eidx WHERE n_edges <= {_HUNGARIAN_MAX_EDGES}),
blocks AS (SELECT bk, max(n_edges) AS n FROM small GROUP BY bk),
masks AS (
  SELECT bk, unnest(range(0, 1 << n)) AS m FROM blocks
),
sel AS (
  SELECT s.bk, m.m, s.a_rid, s.b_rid, s.sim_e6
  FROM small s JOIN masks m ON s.bk = m.bk AND ((m.m >> s.idx) & 1) = 1
),
valid AS (  -- a subset is a matching iff no endpoint repeats on its side
  SELECT bk, m, sum(sim_e6) AS total
  FROM sel GROUP BY bk, m
  HAVING count(DISTINCT a_rid) = count(*) AND count(DISTINCT b_rid) = count(*)
)
SELECT bk AS block_key, CAST(max(total) AS BIGINT) AS total_sim_e6
FROM valid GROUP BY bk
"""


_CAND_THRESHOLD_E6 = 400_000  # corpus-measured (operator default stays 0.7)
_CAND_BLOCK_CAP = 64


def q_conv_candidate_creator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packaged incremental CandidateCreator chain
    (``model/functions/CandidateCreator.java:90-275``; test anchor
    ``IncrementalClusteringTest.java:49-98``): live clusters (blocked dedup
    assignment) → representative payload → prefix blocking
    (``Utils.getBlockingKey`` on the representative label) →
    MergeGeoSimilarity (null-aware mean of trigram label sim e6 and
    haversine geo sim e4×100) → MERGE threshold → uncovered-cluster
    recovery as self-triplets → CC block ids → per-block Hungarian.

    Output: one row per block with the assignment's optimal total similarity
    ×2 (doubled so the half-integer means stay exact integers — no
    engine-dependent rounding); recovered clusters emit (own id, 0). Blocks
    with > 12 scored triplets are excluded on BOTH sides (the DuckDB oracle
    brute-forces 2^k subsets). Threshold 0.4 instead of the reference's 0.7
    default is corpus-measured (the synthetic labels' similarity
    distribution sits lower than GeoNames') — a documented parameter, not a
    semantic change."""
    from mapping_analysis_spark.functions.attr_sims import geo_similarity, sim_e4
    from mapping_analysis_spark.functions.text import blocking_key
    from mapping_analysis_spark.operators.candidates import candidate_creator

    assign = q_conv_dedup_blocked(spark, sf_dir).select("conv_id", "cluster_id")
    # the assignment is checkpointed by its producer — its exact count gates
    # the dimension-sized broadcast plan (pipeline.BROADCAST_MAX_RECORDS)
    small = assign.count() <= BROADCAST_MAX_RECORDS
    clusters = assign.select(F.col("cluster_id").alias("cid")).distinct()
    # label and coordinates both come off the memoized attr checkpoint —
    # no second full conversation aggregation
    rec = _attr_records(spark, sf_dir).select("rid", "label")
    attrs = _attr_records(spark, sf_dir).select("rid", "lat", "lon")
    rec_c = rec.withColumnRenamed("rid", "cid")
    attrs_c = attrs.withColumnRenamed("rid", "cid")
    if small:
        rec_c, attrs_c = F.broadcast(rec_c), F.broadcast(attrs_c)
    reps = (
        clusters.join(rec_c, "cid")
        .join(attrs_c, "cid")
        .withColumn("cbk", blocking_key(F.col("label"), 4))
    )
    ok = (
        reps.groupBy("cbk").count()
        .filter(F.col("count") <= _CAND_BLOCK_CAP)
        .select("cbk")
    )
    # checkpoint: the block self-join consumes r2 on BOTH sides — without it
    # Catalyst re-executes the 3-join representative subtree twice
    r2 = reps.join(F.broadcast(ok), "cbk", "left_semi").localCheckpoint(eager=True)
    cols = ("cid", "label", "lat", "lon")
    a = r2.select("cbk", *[F.col(c).alias(f"a_{c}") for c in cols])
    b = r2.select("cbk", *[F.col(c).alias(f"b_{c}") for c in cols])
    if small:
        b = F.broadcast(b)
    pr = a.join(b, "cbk").filter(F.col("a_cid") < F.col("b_cid"))
    l = sim_e6(trigram_cosine(F.col("a_label"), F.col("b_label")))
    g = sim_e4(
        geo_similarity(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    )
    scored = pr.select(
        "a_cid",
        "b_cid",
        F.when(g.isNull(), l.cast("double")).otherwise((l + g * 100) / 2.0).alias("sim"),
    ).localCheckpoint(eager=True)
    # admitted pair set + its CC block labels, computed ONCE and shared with
    # the operator (which would otherwise re-derive both internally) and the
    # oracle-tractability restriction below
    t = (
        scored.filter(F.col("sim") >= _CAND_THRESHOLD_E6)
        .dropDuplicates(["a_cid", "b_cid"])
        .localCheckpoint(eager=True)
    )
    comp = connected_components(
        t.select(F.col("a_cid").alias("a"), F.col("b_cid").alias("b"))
    )
    # checkpoint: consumed twice below (cross pairs + self-triplets) — without
    # it the whole operator chain (per-block Hungarian) executes twice
    out = candidate_creator(
        scored, clusters, threshold=float(_CAND_THRESHOLD_E6),
        admitted=t, blocks=comp,
    ).localCheckpoint(eager=True)

    # oracle-tractability restriction (both engines): only blocks with <= 12
    # scored triplets are emitted; self-triplet blocks always qualify
    small = (
        t.join(
            comp.select(F.col("node").alias("a_cid"), F.col("comp").alias("block")),
            "a_cid",
        )
        .groupBy("block")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= _HUNGARIAN_MAX_EDGES)
        .select("block")
    )
    cross = out.filter(F.col("a_cid") != F.col("b_cid")).join(
        F.broadcast(small), "block", "left_semi"
    )
    final = cross.unionByName(out.filter(F.col("a_cid") == F.col("b_cid")))
    return final.groupBy(F.col("block").alias("block_key")).agg(
        (F.sum("sim") * 2).cast("long").alias("total_sim_x2_e6")
    )


def _sql_conv_candidate_creator() -> str:
    return f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
{_ATTRS_SQL},
ccm_edges AS MATERIALIZED (
  SELECT a_rid AS a, b_rid AS b FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
ccm_sym AS MATERIALIZED (SELECT a AS u, b AS v FROM ccm_edges UNION SELECT b, a FROM ccm_edges),
ccm_reach AS (
  SELECT u, v FROM ccm_sym
  UNION
  SELECT r.u, s.v FROM ccm_reach r JOIN ccm_sym s ON r.v = s.u
),
ccm_comp AS (SELECT u AS node, least(min(v), u) AS cluster_id FROM ccm_reach GROUP BY u),
cl AS MATERIALIZED (
  SELECT DISTINCT coalesce(ccm_comp.cluster_id, rid) AS cid
  FROM rec LEFT JOIN ccm_comp ON rec.rid = ccm_comp.node
),
creps AS MATERIALIZED (
  SELECT cl.cid, r.label, att.lat, att.lon, {sqlgen.blocking_key_sql('r.label')} AS cbk
  FROM cl JOIN rec r ON r.rid = cl.cid JOIN attrs att ON att.rid = cl.cid
),
cbsz AS (SELECT cbk, count(*) AS n FROM creps GROUP BY cbk),
creps2 AS (SELECT creps.* FROM creps JOIN cbsz USING (cbk) WHERE n <= {_CAND_BLOCK_CAP}),
cp AS MATERIALIZED (
  SELECT a.cid AS a_cid, b.cid AS b_cid, a.label AS a_label, b.label AS b_label,
         a.lat AS a_lat, a.lon AS a_lon, b.lat AS b_lat, b.lon AS b_lon
  FROM creps2 a JOIN creps2 b ON a.cbk = b.cbk AND a.cid < b.cid
),
ctg AS (
  SELECT a_cid, b_cid,
         {sqlgen.trigrams_sql('a_label')} AS ga,
         {sqlgen.trigrams_sql('b_label')} AS gb
  FROM cp
),
cga AS (
  SELECT a_cid, b_cid, t, count(*) AS c
  FROM (SELECT a_cid, b_cid, unnest(ga) AS t FROM ctg) GROUP BY a_cid, b_cid, t
),
cgb AS (
  SELECT a_cid, b_cid, t, count(*) AS c
  FROM (SELECT a_cid, b_cid, unnest(gb) AS t FROM ctg) GROUP BY a_cid, b_cid, t
),
cdots AS (
  SELECT cga.a_cid, cga.b_cid, sum(cga.c * cgb.c) AS dot
  FROM cga JOIN cgb ON cga.a_cid = cgb.a_cid AND cga.b_cid = cgb.b_cid AND cga.t = cgb.t
  GROUP BY cga.a_cid, cga.b_cid
),
cna AS (SELECT a_cid, b_cid, sum(c*c) AS n FROM cga GROUP BY a_cid, b_cid),
cnb AS (SELECT a_cid, b_cid, sum(c*c) AS n FROM cgb GROUP BY a_cid, b_cid),
clab AS (
  SELECT ctg.a_cid, ctg.b_cid,
    {sqlgen.sim_e6_sql('coalesce(CAST(cdots.dot AS DOUBLE) / sqrt(CAST(cna.n AS DOUBLE) * CAST(cnb.n AS DOUBLE)), 0.0)')} AS l
  FROM ctg
  JOIN cna ON ctg.a_cid = cna.a_cid AND ctg.b_cid = cna.b_cid
  JOIN cnb ON ctg.a_cid = cnb.a_cid AND ctg.b_cid = cnb.b_cid
  LEFT JOIN cdots ON ctg.a_cid = cdots.a_cid AND ctg.b_cid = cdots.b_cid
),
cgeo AS (
  SELECT a_cid, b_cid,
    CAST(floor(gsim * 10000.0 + 0.5) AS BIGINT) AS g
  FROM (
    SELECT a_cid, b_cid,
      CASE WHEN abs(a_lat) <= 90 AND abs(a_lon) <= 180
            AND abs(b_lat) <= 90 AND abs(b_lon) <= 180
      THEN (CASE WHEN d >= 150000.0 THEN 0.0 ELSE 1.0 - d / 150000.0 END)
      END AS gsim
    FROM (
      SELECT *,
        6371.0 * (2 * atan2(
          sqrt(pow(sin(radians(b_lat - a_lat) / 2), 2)
               + cos(radians(a_lat)) * cos(radians(b_lat))
               * pow(sin(radians(b_lon - a_lon) / 2), 2)),
          sqrt(1 - (pow(sin(radians(b_lat - a_lat) / 2), 2)
               + cos(radians(a_lat)) * cos(radians(b_lat))
               * pow(sin(radians(b_lon - a_lon) / 2), 2))))) * 1000.0 AS d
      FROM cp
    )
  )
),
cscored AS MATERIALIZED (
  SELECT clab.a_cid, clab.b_cid,
         CASE WHEN cgeo.g IS NULL THEN CAST(clab.l AS DOUBLE)
              ELSE (clab.l + cgeo.g * 100) / 2.0 END AS sim
  FROM clab JOIN cgeo ON clab.a_cid = cgeo.a_cid AND clab.b_cid = cgeo.b_cid
),
ctrip AS MATERIALIZED (SELECT * FROM cscored WHERE sim >= {_CAND_THRESHOLD_E6}),
ccov AS (SELECT a_cid AS cid FROM ctrip UNION SELECT b_cid FROM ctrip),
cself AS (SELECT cid FROM cl WHERE cid NOT IN (SELECT cid FROM ccov)),
ctsym AS MATERIALIZED (
  SELECT a_cid AS u, b_cid AS v FROM ctrip UNION SELECT b_cid, a_cid FROM ctrip
),
ctreach AS (
  SELECT u, v FROM ctsym
  UNION
  SELECT r.u, s.v FROM ctreach r JOIN ctsym s ON r.v = s.u
),
ctblk AS (SELECT u AS node, least(min(v), u) AS block FROM ctreach GROUP BY u),
cte2 AS MATERIALIZED (
  SELECT tb.block, ct.a_cid, ct.b_cid, ct.sim,
         row_number() OVER (PARTITION BY tb.block ORDER BY ct.a_cid, ct.b_cid) - 1 AS idx,
         count(*) OVER (PARTITION BY tb.block) AS n_edges
  FROM ctrip ct JOIN ctblk tb ON ct.a_cid = tb.node
),
ctsmall AS (SELECT * FROM cte2 WHERE n_edges <= {_HUNGARIAN_MAX_EDGES}),
ctblocks AS (SELECT block, max(n_edges) AS n FROM ctsmall GROUP BY block),
ctmasks AS (SELECT block, unnest(range(0, 1 << n)) AS m FROM ctblocks),
ctsel AS (
  SELECT s.block, m.m, s.a_cid, s.b_cid, s.sim
  FROM ctsmall s JOIN ctmasks m ON s.block = m.block AND ((m.m >> s.idx) & 1) = 1
),
ctvalid AS (
  SELECT block, m, sum(sim) AS total
  FROM ctsel GROUP BY block, m
  HAVING count(DISTINCT a_cid) = count(*) AND count(DISTINCT b_cid) = count(*)
)
SELECT block AS block_key, CAST(max(total) * 2 AS BIGINT) AS total_sim_x2_e6
FROM ctvalid GROUP BY block
UNION ALL
SELECT cid AS block_key, 0 AS total_sim_x2_e6 FROM cself
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs >= 0.9 over a corpus with planted
    near-duplicates (``data/embeddings.ensure_neardup_embeddings`` — the
    driver's random embeddings have no near-dups, so a realistic threshold
    needs the derived shared table). Candidate stage: random-hyperplane LSH
    buckets + exact quantized verification — no O(n²) join in the plan; the
    brute-force DuckDB oracle pins that recall is exact on this corpus."""
    from mapping_analysis_spark.data.embeddings import ensure_neardup_embeddings
    from mapping_analysis_spark.operators.dedup import embedding_neardup

    emb = spark.read.parquet(ensure_neardup_embeddings(sf_dir))
    out = embedding_neardup(emb, threshold=0.9, method="lsh")
    return out.select("a_id", "b_id", sim_e6(F.col("sim")).alias("sim_e6"))


def _sql_embedding_neardup() -> str:
    from mapping_analysis_spark.data.embeddings import ensure_neardup_embeddings

    nd = ensure_neardup_embeddings("/root/testdata/sf0.01")
    return f"""
WITH q0 AS (
  SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*10000.0+0.5) AS BIGINT) for x in embedding] AS q
  FROM read_parquet('{nd}')
),
base AS (SELECT vec_id, q, list_sum([x*x for x in q]) AS n2 FROM q0),
s AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
    CAST(list_sum([a.q[i]*b.q[i] for i in range(1, len(a.q)+1)]) AS DOUBLE)
      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
  FROM base a JOIN base b ON a.vec_id < b.vec_id
)
SELECT a_id, b_id, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM s WHERE sim >= 0.9
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h width, 1h slide) per event_type — each event lands
    in exactly two windows; epoch-aligned starts in both engines."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


SQL_EVENTS_SLIDING = """
WITH e AS (
  SELECT event_type,
    unnest([
      CAST(to_timestamp((CAST(floor(epoch(ts) / 3600) AS BIGINT) - 1) * 3600) AS TIMESTAMP),
      CAST(to_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) AS TIMESTAMP)
    ]) AS window_start
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events
FROM e GROUP BY 1, 2
"""


def q_match_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level P/R/F1 of the blocked pipeline vs the planted gold entities
    (the reference's QualityUtils oracle, ``util/QualityUtils.java:385-403``);
    gold entity = conv_id prefix."""
    from mapping_analysis_spark.operators.evaluation import pair_quality

    assign = q_conv_dedup_blocked(spark, sf_dir).select("conv_id", "cluster_id")
    gold = assign.select(
        "conv_id", F.split(F.col("conv_id"), "_").getItem(0).alias("entity_id")
    )
    return pair_quality(assign, gold)


SQL_MATCH_QUALITY = f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
edges AS MATERIALIZED (
  SELECT a_rid AS a, b_rid AS b FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (SELECT u AS node, least(min(v), u) AS cluster_id FROM reach GROUP BY u),
assign AS (
  SELECT rid AS conv_id, coalesce(comp.cluster_id, rid) AS cluster_id
  FROM rec LEFT JOIN comp ON rec.rid = comp.node
),
pp AS (
  SELECT DISTINCT a.conv_id AS a, b.conv_id AS b
  FROM assign a JOIN assign b ON a.cluster_id = b.cluster_id AND a.conv_id < b.conv_id
),
gold AS (SELECT conv_id, split_part(conv_id, '_', 1) AS entity_id FROM assign),
gp AS (
  SELECT DISTINCT a.conv_id AS a, b.conv_id AS b
  FROM gold a JOIN gold b ON a.entity_id = b.entity_id AND a.conv_id < b.conv_id
),
counts AS (
  SELECT
    (SELECT count(*) FROM pp JOIN gp USING (a, b)) AS tp,
    (SELECT count(*) FROM pp) AS n_pred,
    (SELECT count(*) FROM gp) AS n_gold
)
SELECT tp, n_pred, n_gold,
  CAST(floor(CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/n_pred END * 1000000 + 0.5) AS BIGINT) AS precision_e6,
  CAST(floor(CASE WHEN n_gold = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/n_gold END * 1000000 + 0.5) AS BIGINT) AS recall_e6,
  CAST(floor(
    CASE WHEN tp = 0 THEN 0.0 ELSE
      2 * (CAST(tp AS DOUBLE)/n_pred) * (CAST(tp AS DOUBLE)/n_gold)
        / ((CAST(tp AS DOUBLE)/n_pred) + (CAST(tp AS DOUBLE)/n_gold))
    END * 1000000 + 0.5) AS BIGINT) AS f1_e6
FROM counts
"""


# ---------------------------------------------------------------------------
# Attribute similarities (geo / year / length / number / type / Jaro-Winkler)
# ---------------------------------------------------------------------------
# The transcripts table carries no geo/year/type attributes, so the queries
# derive them DETERMINISTICALLY from existing columns with pure integer
# arithmetic — bit-identical in both engines — including invalid/missing
# values to exercise each metric's null path (reference semantics: invalid
# coordinates, EMPTY_INT years, non-sane number strings).

_TYPE_NAMES = [
    "Settlement", "Country", "Mountain", "Island", "School",
    "ArchitecturalStructure", "AdministrativeRegion",
]


@_session_memo
def _attr_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived attribute table, memoized per (session, sf_dir) with an eager
    localCheckpoint: six contract queries (pair geo/attr/type sims,
    candidate creator, type-overlap CC, decomposition) consume it and each
    replan the full 2M-turn conversation aggregation without the memo
    (measured ~2 s per query at sf1.0)."""
    rec = conversation_records(_t(spark, sf_dir))
    dl = F.length("doc")
    ll = F.length("label")
    nt = F.col("n_turns")
    t_arr = F.array(*[F.lit(x) for x in _TYPE_NAMES])
    t1 = F.element_at(t_arr, (ll % 7 + 1).cast("int"))
    t2 = F.element_at(t_arr, (nt % 7 + 1).cast("int"))
    return rec.select(
        "rid",
        "source",
        F.when(nt % 17 == 0, F.lit(95.0))
        .otherwise((dl.cast("bigint") * 7919 % 18000) / F.lit(100.0) - 90.0)
        .alias("lat"),
        # bigint multiplies: length(doc) * 104729 overflows int32 on the
        # sf0.1 mega-conversation under ANSI (values are identical — the
        # mod result never exceeded int32 anyway)
        ((dl.cast("bigint") * 104729 % 36000) / F.lit(100.0) - 180.0).alias("lon"),
        F.when(nt % 13 == 0, F.lit(None)).otherwise(1950 + dl % 70).alias("year"),
        F.when(nt % 11 == 0, F.lit(None)).otherwise(ll % 30).alias("len_attr"),
        F.when(nt % 7 == 0, F.lit("")).otherwise((nt % 8).cast("string")).alias("number"),
        F.when(nt % 3 == 0, F.array_distinct(F.array(t1, t2)))
        .otherwise(F.array(t1))
        .alias("types"),
        "label",
    ).localCheckpoint(eager=True)


_TYPES_SQL_LIST = "['" + "','".join(_TYPE_NAMES) + "']"
_ATTRS_SQL = f"""
attrs AS MATERIALIZED (
  SELECT rid,
    CASE WHEN n_turns % 17 = 0 THEN 95.0
         ELSE (len(doc) * 7919 % 18000) / 100.0 - 90.0 END AS lat,
    (len(doc) * 104729 % 36000) / 100.0 - 180.0 AS lon,
    CASE WHEN n_turns % 13 = 0 THEN NULL ELSE 1950 + len(doc) % 70 END AS year,
    CASE WHEN n_turns % 11 = 0 THEN NULL ELSE len(label) % 30 END AS len_attr,
    CASE WHEN n_turns % 7 = 0 THEN '' ELSE CAST(n_turns % 8 AS VARCHAR) END AS number,
    CASE WHEN n_turns % 3 = 0
         THEN list_distinct([{_TYPES_SQL_LIST}[CAST(len(label) % 7 + 1 AS INT)],
                             {_TYPES_SQL_LIST}[CAST(n_turns % 7 + 1 AS INT)]])
         ELSE [{_TYPES_SQL_LIST}[CAST(len(label) % 7 + 1 AS INT)]] END AS types,
    label
  FROM rec
)
"""


def _attr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate id-pairs joined with both sides' derived attrs."""
    pairs = _blocked_pairs(spark, sf_dir, []).select("a_rid", "b_rid")
    at = _attr_records(spark, sf_dir)
    a = at.select([F.col(c).alias(f"a_{c}") for c in at.columns])
    b = at.select([F.col(c).alias(f"b_{c}") for c in at.columns])
    return pairs.join(a, "a_rid").join(b, "b_rid")


_ATTR_PAIRS_SQL = f"""
{_BLOCKED_PAIRS_SQL},
{_ATTRS_SQL},
apairs AS (
  SELECT p.a_rid, p.b_rid,
         a.lat AS a_lat, a.lon AS a_lon, b.lat AS b_lat, b.lon AS b_lon,
         a.year AS a_year, b.year AS b_year,
         a.len_attr AS a_len, b.len_attr AS b_len,
         a.number AS a_number, b.number AS b_number,
         a.types AS a_types, b.types AS b_types,
         a.label AS a_label, b.label AS b_label
  FROM pair_ids p JOIN attrs a ON a.rid = p.a_rid JOIN attrs b ON b.rid = p.b_rid
)
"""


def q_conv_pair_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine geo similarity (GeoDistance.java:20-46, Utils.java:443-459):
    1 − d/150km, 0 beyond, null for invalid coordinates (sentinel −1).
    Quantized to 1e-4 — the trig chain differs in the last ulp between
    engines (see functions/attr_sims.sim_e4)."""
    from mapping_analysis_spark.functions.attr_sims import geo_similarity, sim_e4

    p = _attr_pairs(spark, sf_dir)
    g = geo_similarity(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    return p.select(
        "a_rid", "b_rid", F.coalesce(sim_e4(g), F.lit(-1)).alias("geo_sim_e4")
    )


SQL_CONV_PAIR_GEO = f"""
WITH {_ATTR_PAIRS_SQL},
g AS (
  SELECT a_rid, b_rid,
    CASE WHEN abs(a_lat) <= 90 AND abs(a_lon) <= 180
          AND abs(b_lat) <= 90 AND abs(b_lon) <= 180
    THEN (
      CASE WHEN d >= 150000.0 THEN 0.0 ELSE 1.0 - d / 150000.0 END
    ) END AS sim
  FROM (
    SELECT *,
      6371.0 * (2 * atan2(
        sqrt(pow(sin(radians(b_lat - a_lat) / 2), 2)
             + cos(radians(a_lat)) * cos(radians(b_lat))
             * pow(sin(radians(b_lon - a_lon) / 2), 2)),
        sqrt(1 - (pow(sin(radians(b_lat - a_lat) / 2), 2)
             + cos(radians(a_lat)) * cos(radians(b_lat))
             * pow(sin(radians(b_lon - a_lon) / 2), 2))))) * 1000.0 AS d
    FROM apairs
  )
)
SELECT a_rid, b_rid,
  coalesce(CAST(floor(sim * 10000.0 + 0.5) AS BIGINT), -1) AS geo_sim_e4
FROM g
"""


def q_conv_pair_attr_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year/length/number attribute sims (SimCompUtils.java:12-64): equal →
    1, ±1 → 0.5 (year/length), else 0; null (sentinel −1) when a side is
    missing/not sane."""
    from mapping_analysis_spark.functions.attr_sims import (
        length_sim,
        number_sim,
        year_sim,
    )

    p = _attr_pairs(spark, sf_dir)
    return p.select(
        "a_rid",
        "b_rid",
        F.coalesce(sim_e6(year_sim(F.col("a_year"), F.col("b_year"))), F.lit(-1)).alias("year_sim_e6"),
        F.coalesce(sim_e6(length_sim(F.col("a_len_attr"), F.col("b_len_attr"))), F.lit(-1)).alias("length_sim_e6"),
        F.coalesce(sim_e6(number_sim(F.col("a_number"), F.col("b_number"))), F.lit(-1)).alias("number_sim_e6"),
    )


SQL_CONV_PAIR_ATTR_SIMS = f"""
WITH {_ATTR_PAIRS_SQL}
SELECT a_rid, b_rid,
  coalesce(CASE WHEN a_year IS NULL OR b_year IS NULL THEN NULL
    WHEN a_year = b_year THEN 1000000
    WHEN abs(a_year - b_year) = 1 THEN 500000 ELSE 0 END, -1) AS year_sim_e6,
  coalesce(CASE WHEN a_len IS NULL OR b_len IS NULL THEN NULL
    WHEN a_len = b_len THEN 1000000
    WHEN abs(a_len - b_len) = 1 THEN 500000 ELSE 0 END, -1) AS length_sim_e6,
  coalesce(CASE WHEN a_number <> '' AND b_number <> '' AND a_number = b_number
    THEN 1000000 END, -1) AS number_sim_e6
FROM apairs
"""


def q_conv_pair_type_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type similarity with TYPE_SHADINGS (Utils.java:636-667,
    TypeDictionary.java): shared type or shading pair → 1, else 0."""
    from mapping_analysis_spark.functions.attr_sims import type_sim

    p = _attr_pairs(spark, sf_dir)
    return p.select(
        "a_rid", "b_rid",
        sim_e6(type_sim(F.col("a_types"), F.col("b_types"))).alias("type_sim_e6"),
    )


_SHADING_SQL = " OR ".join(
    f"(list_contains(a_types, '{x}') AND list_contains(b_types, '{y}'))"
    f" OR (list_contains(a_types, '{y}') AND list_contains(b_types, '{x}'))"
    for x, y in [
        ("ArchitecturalStructure", "School"),
        ("Mountain", "Island"),
        ("Country", "Settlement"),
        ("Settlement", "AdministrativeRegion"),
        ("AdministrativeRegion", "Country"),
    ]
)
SQL_CONV_PAIR_TYPE_SIM = f"""
WITH {_ATTR_PAIRS_SQL}
SELECT a_rid, b_rid,
  CASE WHEN len(list_intersect(a_types, b_types)) > 0 OR {_SHADING_SQL}
       THEN 1000000 ELSE 0 END AS type_sim_e6
FROM apairs
"""


def q_conv_pair_jarowinkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler on labels (the reference's second core string metric,
    Utils.java:864-867, simmetrics defaults)."""
    from mapping_analysis_spark.functions.simfns import jaro_winkler

    pairs = _blocked_pairs(spark, sf_dir, ["label"])
    return pairs.select(
        "a_rid", "b_rid",
        sim_e6(jaro_winkler(F.col("a_label"), F.col("b_label"))).alias("jw_e6"),
    )


SQL_CONV_PAIR_JAROWINKLER = f"""
WITH {_BLOCKED_PAIRS_SQL}
SELECT a_rid, b_rid,
  {sqlgen.sim_e6_sql('jaro_winkler_similarity(a_label, b_label)')} AS jw_e6
FROM pairs
"""


def q_conv_type_overlap_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TypeOverlapCcCreator (TypeOverlapCcCreator.java:39-48 +
    HashCcIdOverlappingFunction.java:33-61): within each blocked-dedup
    component, vertices whose type sets overlap collapse into one refined
    component; label = min member id (deterministic stand-in for the
    reference's run-varying hash)."""
    from mapping_analysis_spark.operators.decomposition import type_overlap_cc

    assign = q_conv_dedup_blocked(spark, sf_dir).select(
        F.col("conv_id").alias("rid"), F.col("cluster_id").alias("comp")
    )
    attrs = _attr_records(spark, sf_dir).select("rid", "types")
    # checkpoint: type_overlap_cc consumes its vertex table twice (type-key
    # explode + final assignment join) — don't re-execute the join subtree
    vertices = assign.join(attrs, "rid").localCheckpoint(eager=True)
    return type_overlap_cc(vertices)


SQL_CONV_TYPE_OVERLAP_CC = f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
{_ATTRS_SQL},
edges0 AS MATERIALIZED (
  SELECT a_rid AS a, b_rid AS b FROM jac WHERE sim >= {DEFAULT_THRESHOLD}
),
sym0 AS MATERIALIZED (SELECT a AS u, b AS v FROM edges0 UNION SELECT b, a FROM edges0),
reach0 AS (
  SELECT u, v FROM sym0
  UNION
  SELECT r.u, s.v FROM reach0 r JOIN sym0 s ON r.v = s.u
),
comp0 AS (SELECT u AS node, least(min(v), u) AS cluster_id FROM reach0 GROUP BY u),
assign AS (
  SELECT rid, coalesce(comp0.cluster_id, rid) AS comp
  FROM rec LEFT JOIN comp0 ON rec.rid = comp0.node
),
keyed AS MATERIALIZED (
  SELECT a.rid, a.comp || '|' || t.t AS tk
  FROM assign a JOIN attrs at ON at.rid = a.rid, unnest(at.types) AS t(t)
),
hub AS (SELECT tk, min(rid) AS hub FROM keyed GROUP BY tk),
tedges AS MATERIALIZED (
  SELECT DISTINCT k.rid AS a, h.hub AS b FROM keyed k JOIN hub h USING (tk)
  WHERE k.rid <> h.hub
),
tsym AS MATERIALIZED (SELECT a AS u, b AS v FROM tedges UNION SELECT b, a FROM tedges),
treach AS (
  SELECT u, v FROM tsym
  UNION
  SELECT r.u, s.v FROM treach r JOIN tsym s ON r.v = s.u
),
tcomp AS (SELECT u AS node, least(min(v), u) AS tc FROM treach GROUP BY u)
SELECT a.rid, coalesce(tcomp.tc, a.rid) AS type_cc
FROM assign a LEFT JOIN tcomp ON a.rid = tcomp.node
"""


def q_conv_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point-C decomposition chain (SURVEY §3.3): blocked match edges →
    connected components → TypeOverlapCcCreator refinement →
    ClusteringLinkFilter post-CC 1:n re-elimination
    (``TypeOverlapCcCreator.java:39-48``,
    ``ClusteringLinkFilterFunction.java:30-60``). SimSort (iterative) is
    composed separately and pinned by pytest — it is not one-query
    SQL-expressible. Sims are quantized to millionths BEFORE the candidate
    ranking so both engines rank identical integers."""
    from mapping_analysis_spark.operators.decomposition import type_overlap_cc
    from mapping_analysis_spark.operators.preprocess import clustering_link_filter

    scored = (
        _keyed_scored_pairs(spark, sf_dir)
        .dropDuplicates(["a_rid", "b_rid"])
        .select("a_rid", "b_rid", sim_e6(F.col("sim")).cast("double").alias("sim"))
        .filter(F.col("sim") >= DEFAULT_THRESHOLD * 1_000_000)
    )
    edges = scored.select(F.col("a_rid").alias("a"), F.col("b_rid").alias("b")).localCheckpoint(
        eager=True
    )
    comp = connected_components(edges)
    rec = _attr_records(spark, sf_dir).select("rid", "source")
    assign = (
        rec.join(comp.withColumnRenamed("node", "rid"), "rid", "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("rid")))
    )
    attrs = _attr_records(spark, sf_dir).select("rid", "types")
    # checkpoint: type_overlap_cc consumes its vertex table twice
    vertices = assign.join(attrs, "rid").localCheckpoint(eager=True)
    tcc = type_overlap_cc(vertices, comp_col="comp").withColumnRenamed(
        "type_cc", "comp"
    )
    refined = clustering_link_filter(
        tcc.join(rec, "rid"),
        scored.select(F.col("a_rid").alias("a"), F.col("b_rid").alias("b"), "sim"),
    )
    return refined.withColumnRenamed("comp", "decomp_comp")


SQL_CONV_DECOMPOSITION = None  # composed lazily


def _sql_conv_decomposition() -> str:
    return f"""
WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
{_ATTRS_SQL},
scored AS MATERIALIZED (
  SELECT a_rid, b_rid, {sqlgen.sim_e6_sql('sim')} AS sim_e6 FROM jac
  WHERE {sqlgen.sim_e6_sql('sim')} >= {int(DEFAULT_THRESHOLD * 1_000_000)}
),
sym0 AS MATERIALIZED (
  SELECT a_rid AS u, b_rid AS v FROM scored UNION SELECT b_rid, a_rid FROM scored
),
reach0 AS (
  SELECT u, v FROM sym0
  UNION
  SELECT r.u, s.v FROM reach0 r JOIN sym0 s ON r.v = s.u
),
comp0 AS (SELECT u AS node, least(min(v), u) AS c FROM reach0 GROUP BY u),
assign AS (
  SELECT rid, source, coalesce(comp0.c, rid) AS comp
  FROM rec LEFT JOIN comp0 ON rec.rid = comp0.node
),
keyed AS MATERIALIZED (
  SELECT a.rid, a.comp || '|' || t.t AS tk
  FROM assign a JOIN attrs at ON at.rid = a.rid, unnest(at.types) AS t(t)
),
hub AS (SELECT tk, min(rid) AS hub FROM keyed GROUP BY tk),
tedges AS MATERIALIZED (
  SELECT DISTINCT k.rid AS a, h.hub AS b FROM keyed k JOIN hub h USING (tk)
  WHERE k.rid <> h.hub
),
tsym AS MATERIALIZED (SELECT a AS u, b AS v FROM tedges UNION SELECT b, a FROM tedges),
treach AS (
  SELECT u, v FROM tsym
  UNION
  SELECT r.u, s.v FROM treach r JOIN tsym s ON r.v = s.u
),
tcomp AS (SELECT u AS node, least(min(v), u) AS tc FROM treach GROUP BY u),
tassign AS (
  SELECT a.rid, a.source, coalesce(tcomp.tc, a.rid) AS comp
  FROM assign a LEFT JOIN tcomp ON a.rid = tcomp.node
),
symsim AS (
  SELECT a_rid AS rid, b_rid AS nbr, sim_e6 FROM scored
  UNION ALL
  SELECT b_rid, a_rid, sim_e6 FROM scored
),
agg AS (
  SELECT s.rid, sum(s.sim_e6) AS agg_sim
  FROM symsim s
  JOIN tassign v ON v.rid = s.rid
  JOIN tassign n ON n.rid = s.nbr AND n.comp = v.comp
  GROUP BY s.rid
),
ranked AS (
  SELECT t.rid, t.comp,
    row_number() OVER (
      PARTITION BY t.comp, t.source
      ORDER BY coalesce(a.agg_sim, 0) DESC, t.rid ASC) AS rn
  FROM tassign t LEFT JOIN agg a ON a.rid = t.rid
)
SELECT rid, CASE WHEN rn = 1 THEN comp ELSE rid END AS decomp_comp FROM ranked
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return dedup_conversations(_t(spark, "/root/testdata/sf0.001"))


_NC_CSIMQ_DIR = (
    "/root/reference/analysis-core/src/test/resources/data/nc/csimq"
)


def q_nc_csimq_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NC-domain DefaultPreprocessing on the reference's real csimq fixture
    (``NcBaseTest.java:247-283``): EPGM source → intra-source removal →
    NcSimilarityFunction (trigram label/artist/album + repaired-postcode
    exact match, null-aware mean, strict > 0.6 admission) → BASIC 1:n link
    filter. Ignores ``sf_dir`` — the input is the checked-in 14-record
    reference fixture, so the oracle exercises the multi-attribute NC path
    on real reference data. Output: (a, b, sim_e6)."""
    from mapping_analysis_spark.nc import nc_graph, nc_scored_edges

    v, e = nc_graph(spark, _NC_CSIMQ_DIR)
    return nc_scored_edges(v, e).select(
        "a", "b", sim_e6(F.col("sim")).alias("sim_e6")
    )


def _sql_nc_csimq_edges() -> str:
    """DuckDB replay of q_nc_csimq_edges: same simmetrics min-sum trigram
    cosine (double ÷, float32 cast, 6-dp HALF_UP — ``music.py``
    ``_simmetrics_cosine``), same fixed-order null-aware mean, same window
    link filter."""
    from mapping_analysis_spark.functions.sqlgen import norm_sql, trigrams_sql

    def sane(c: str) -> str:
        # Utils.isSane constants, case-sensitive (util/Constants.java:177-180)
        return (
            f"({c} IS NOT NULL AND {c} NOT IN "
            f"('no_label_found', 'no_value', '--'))"
        )

    def tri_cos(side_a: str, side_b: str, attr: str) -> str:
        xr, yr = f"{side_a}.{attr}", f"{side_b}.{attr}"
        xn, yn = norm_sql(xr), norm_sql(yr)
        A, B = trigrams_sql(xn), trigrams_sql(yn)
        dot = (
            f"COALESCE(list_sum(list_transform(list_distinct({A}), g -> "
            f"LEAST(len(list_filter({A}, t -> t = g)), "
            f"len(list_filter({B}, t -> t = g))))), 0)"
        )
        val = (
            f"CAST(CAST({dot} / (sqrt(length({xn}) + 2) * "
            f"sqrt(length({yn}) + 2)) AS REAL) AS DOUBLE)"
        )
        return (
            f"CASE WHEN {sane(xr)} AND {sane(yr)} "
            f"THEN floor({val} * 1000000 + 0.5) / 1000000 END"
        )

    v = f"read_json_auto('{_NC_CSIMQ_DIR}/vertices/vertices.json')"
    e = f"read_json_auto('{_NC_CSIMQ_DIR}/edges/edges.json')"
    sims = {
        "sl": tri_cos("va", "vb", "data.label"),
        "sar": tri_cos("va", "vb", "data.artist"),
        "sal": tri_cos("va", "vb", "data.album"),
        "sn": (
            "CASE WHEN translate(va.data.number, 'sl|zoqg', '5112049') = "
            "translate(vb.data.number, 'sl|zoqg', '5112049') THEN 1.0 END"
        ),
    }
    sim_cols = ", ".join(f"{expr} AS {name}" for name, expr in sims.items())
    n_present = " + ".join(
        f"CASE WHEN {n} IS NOT NULL THEN 1 ELSE 0 END" for n in sims
    )
    # fixed left-to-right sum (adding 0.0 is exact) = Spark's F.aggregate
    # over the null-filtered [label, artist, album, number] array
    ssum = " + ".join(f"COALESCE({n}, 0)" for n in sims)
    return f"""
WITH scored AS (
  SELECT e.source AS a, e.target AS b,
         va.data.dataSource AS sa, vb.data.dataSource AS sb,
         {sim_cols}
  FROM {e} e
  JOIN {v} va ON va.id = e.source
  JOIN {v} vb ON vb.id = e.target
  WHERE va.data.dataSource <> vb.data.dataSource
), admitted AS (
  SELECT a, b, sa, sb, ({ssum}) / ({n_present}) AS sim
  FROM scored
  WHERE ({n_present}) > 0 AND ({ssum}) / ({n_present}) > 0.6
), ranked AS (
  SELECT a, b, sim,
         ROW_NUMBER() OVER (PARTITION BY a, sb ORDER BY sim DESC, a, b) AS ra,
         ROW_NUMBER() OVER (PARTITION BY b, sa ORDER BY sim DESC, a, b) AS rb
  FROM admitted
)
SELECT a, b, CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
FROM ranked WHERE ra = 1 AND rb = 1
"""


_MUSIC_CSV = (
    "/root/reference/analysis-core/src/test/resources/data/musicbrainz/input/"
    "musicbrainz-20000-A01.csv.dapo"
)


@_session_memo
def _music_records(spark: SparkSession) -> DataFrame:
    """The MusicBrainz fixture's records, memoized. The 19k-row CSV arrives
    as ONE split and feeds five consumers (star edges, intra-source removal,
    both ata sides, link filter) — fan out to cluster parallelism and
    checkpoint so it parses once, distributed."""
    from mapping_analysis_spark.music import music_records

    return (
        music_records(spark, _MUSIC_CSV)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )


def q_music_csimq_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Music-domain DefaultPreprocessing on the reference's real gold-labeled
    MusicBrainz-20000 CSV (``MusicBrainzTest.java:112-141``): CSV source
    (``createSimpleArtistTitleAlbum`` attribute) → SIMPLE spanning-star input
    graph per gold CID → intra-source removal → simmetrics trigram cosine on
    the simplified artist+title+album with strict > 0.6 admission → BASIC
    1:n link filter. Ignores ``sf_dir`` — the input is the reference's
    checked-in 19,375-record fixture, putting the real-data music path under
    the driver's DuckDB gate like ``nc_csimq_edges``. Output: (a, b,
    sim_e6)."""
    from mapping_analysis_spark.music import music_input_edges, music_scored_edges

    records = _music_records(spark)
    scored = music_scored_edges(records, music_input_edges(records))
    return scored.select("a", "b", sim_e6(F.col("sim")).alias("sim_e6"))


def _sql_music_csimq_edges() -> str:
    """DuckDB replay of q_music_csimq_edges: same CSV parse, same
    ``createSimpleArtistTitleAlbum`` (sane-filtered concat → lowercase →
    ASCII punctuation → space → collapse), same simmetrics min-sum trigram
    cosine (double ÷, float32 cast, 6-dp HALF_UP), same spanning star,
    same window link filter. RE2's ``[[:punct:]]`` is the same ASCII class
    as Java's ``\\p{Punct}``."""
    from mapping_analysis_spark.functions.sqlgen import trigrams_sql

    def sane(c: str) -> str:
        return (
            f"({c} IS NOT NULL AND {c} NOT IN "
            f"('no_label_found', 'no_value', '--'))"
        )

    # Java toLowerCase maps U+0130 (İ) to 'i' + U+0307 (combining dot above)
    # — the one one-to-many lowercase mapping in Unicode SpecialCasing —
    # while DuckDB's lower() simple-folds it to plain 'i'; pre-substitute so
    # the oracle reproduces the JVM (and reference) normalization
    ata = (
        "trim(regexp_replace(regexp_replace(lower(replace(concat_ws(' ', "
        + ", ".join(
            f"CASE WHEN {sane(c)} THEN {c} END"
            for c in ("artist", "title", "album")
        )
        + "), 'İ', 'i̇')), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    A, B = trigrams_sql("va.ata"), trigrams_sql("vb.ata")
    dot = (
        f"COALESCE(list_sum(list_transform(list_distinct({A}), g -> "
        f"LEAST(len(list_filter({A}, t -> t = g)), "
        f"len(list_filter({B}, t -> t = g))))), 0)"
    )
    val = (
        f"CAST(CAST({dot} / (sqrt(length(va.ata) + 2) * "
        f"sqrt(length(vb.ata) + 2)) AS REAL) AS DOUBLE)"
    )
    sim = f"floor({val} * 1000000 + 0.5) / 1000000"
    return f"""
WITH v AS (
  SELECT TID AS rid, CID AS cid, SourceID AS source, {ata} AS ata
  FROM read_csv('{_MUSIC_CSV}', header = true, columns = {{
    'TID': 'BIGINT', 'CID': 'BIGINT', 'CTID': 'BIGINT', 'SourceID': 'INT',
    'id': 'VARCHAR', 'number': 'VARCHAR', 'title': 'VARCHAR',
    'length': 'VARCHAR', 'artist': 'VARCHAR', 'album': 'VARCHAR',
    'year': 'VARCHAR', 'language': 'VARCHAR'}})
), hubs AS (
  SELECT cid, min(rid) AS hub FROM v GROUP BY cid
), star AS (
  SELECT h.hub AS a, v.rid AS b FROM v JOIN hubs h ON v.cid = h.cid
  WHERE v.rid <> h.hub
), admitted AS (
  SELECT s.a, s.b, va.source AS sa, vb.source AS sb, {sim} AS sim
  FROM star s
  JOIN v va ON va.rid = s.a
  JOIN v vb ON vb.rid = s.b
  WHERE va.source <> vb.source
), filtered AS (
  SELECT a, b, sim FROM admitted WHERE sim > 0.6
), ranked AS (
  SELECT f.a, f.b, f.sim,
         ROW_NUMBER() OVER (PARTITION BY f.a, ad.sb
                            ORDER BY f.sim DESC, f.a, f.b) AS ra,
         ROW_NUMBER() OVER (PARTITION BY f.b, ad.sa
                            ORDER BY f.sim DESC, f.a, f.b) AS rb
  FROM filtered f JOIN admitted ad ON ad.a = f.a AND ad.b = f.b
)
SELECT a, b, CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
FROM ranked WHERE ra = 1 AND rb = 1
"""


_GEO_VERTICES = (
    "/root/reference/analysis-core/src/test/resources/data/geography/"
    "vertices/vertices.json"
)


@_session_memo
def _geo_vertices(spark: SparkSession) -> DataFrame:
    """The geography fixture's vertices, memoized. The single-split JSON
    feeds both sides of the block self-join — fan out + checkpoint so it
    parses once, distributed."""
    from mapping_analysis_spark.geo import read_geo_vertices

    return (
        read_geo_vertices(spark, _GEO_VERTICES)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )


def q_geo_settlement_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography-domain MULTI initial preprocessing on the reference's real
    4-source settlement graph (``IncrementalGeoClusteringTest.java``
    ``allSettlementsAtOnceTest`` front half): JSON vertices →
    InternalTypeMapFunction (TypeDictionary) → geo blocking label →
    same-block pairs → GeoSimilarityFunction (trigram label + 6-dp geo
    distance + type shading sims, present-only mean) → strict > 0.6
    admission. Ignores ``sf_dir`` — the input is the checked-in 3,054-vertex
    reference fixture. Output: (a, b, sim_e6). The greedy source-disjoint
    selection + CC + gold F1 0.976 live in
    ``tests/test_geo_settlement.py`` (union-find, not SQL-expressible)."""
    from mapping_analysis_spark.geo import geo_scored_edges

    return geo_scored_edges(_geo_vertices(spark)).select(
        "a", "b", sim_e6(F.col("sim")).alias("sim_e6")
    )


def _sql_geo_settlement_edges() -> str:
    """DuckDB replay of q_geo_settlement_edges: same JSON parse (mixed
    string/array ``type`` field), same TypeDictionary mapping, same
    blocking-label grammar, same simmetrics trigram / haversine-6dp / type
    shading sims and present-only mean (scale-10 HALF_UP)."""
    from mapping_analysis_spark.functions.sqlgen import trigrams_sql
    from mapping_analysis_spark.functions.attr_sims import TYPE_SHADINGS
    from mapping_analysis_spark.geo import _PRIMARY_TYPE, _SECONDARY_TYPE

    esc = lambda x: x.replace("'", "''")  # noqa: E731
    dict_vals = ", ".join(
        f"('{esc(k)}', '{esc(v)}')"
        for k, v in list(_PRIMARY_TYPE.items()) + list(_SECONDARY_TYPE.items())
    )
    # Utils.simplify — ASCII-punctuation-only (accents and non-ASCII quotes
    # kept), lowercase, collapse whitespace
    def simp(c: str) -> str:
        return (
            f"trim(regexp_replace(regexp_replace(lower({c}), "
            f"'[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
        )

    A, B = trigrams_sql("va.label_norm"), trigrams_sql("vb.label_norm")
    dot = (
        f"COALESCE(list_sum(list_transform(list_distinct({A}), g -> "
        f"LEAST(len(list_filter({A}, t -> t = g)), "
        f"len(list_filter({B}, t -> t = g))))), 0)"
    )
    tri = (
        f"CAST(CAST({dot} / (sqrt(length(va.label_norm) + 2) * "
        f"sqrt(length(vb.label_norm) + 2)) AS REAL) AS DOUBLE)"
    )
    sane = (
        lambda c: f"({c} IS NOT NULL AND {c} NOT IN "
        f"('no_label_found', 'no_value', '--'))"
    )
    sim_label = (
        f"CASE WHEN {sane('va.label')} AND {sane('vb.label')} "
        f"THEN floor({tri} * 1000000 + 0.5) / 1000000 END"
    )
    valid = (
        lambda p: f"({p}.lat IS NOT NULL AND {p}.lon IS NOT NULL "
        f"AND abs({p}.lat) <= 90 AND abs({p}.lon) <= 180)"
    )
    hav = (
        "(6371.0 * 2 * atan2(sqrt("
        "pow(sin(radians(vb.lat - va.lat) / 2), 2) + cos(radians(va.lat)) * "
        "cos(radians(vb.lat)) * pow(sin(radians(vb.lon - va.lon) / 2), 2)"
        "), sqrt(1 - ("
        "pow(sin(radians(vb.lat - va.lat) / 2), 2) + cos(radians(va.lat)) * "
        "cos(radians(vb.lat)) * pow(sin(radians(vb.lon - va.lon) / 2), 2)"
        "))) * 1000.0)"
    )
    sim_geo = (
        f"CASE WHEN {valid('va')} AND {valid('vb')} THEN "
        f"CASE WHEN {hav} >= 150000.0 THEN 0.0 "
        f"ELSE floor((1.0 - {hav} / 150000.0) * 1000000 + 0.5) / 1000000 END END"
    )
    shading = " OR ".join(
        f"(list_contains(va.types, '{x}') AND list_contains(vb.types, '{y}')) "
        f"OR (list_contains(va.types, '{y}') AND list_contains(vb.types, '{x}'))"
        for x, y in TYPE_SHADINGS
    )
    sim_type = (
        "CASE WHEN NOT list_contains(va.types, 'no_type') "
        "AND NOT list_contains(vb.types, 'no_type') THEN "
        f"CASE WHEN len(list_intersect(va.types, vb.types)) > 0 OR {shading} "
        "THEN 1.0 ELSE 0.0 END END"
    )
    block = (
        "rpad(regexp_replace(lower(substr(rpad(label, 4, '#'), 1, 4)), "
        "'[^a-z0-9#]+', '#', 'g'), 4, '#')"
    )
    return f"""
WITH raw AS (
  SELECT id AS rid,
    data."label" AS label,
    data.lat AS lat, data.lon AS lon,
    CASE WHEN data."type" IS NULL THEN NULL
         WHEN json_type(data."type") = 'ARRAY' THEN CAST(data."type" AS VARCHAR[])
         ELSE [json_extract_string(data."type", '$')] END AS types_raw,
    json_extract_string(data.typeDetail, '$') AS type_detail
  FROM read_json_auto('{_GEO_VERTICES}', format='newline_delimited')
), tdict(raw_t, intern) AS (VALUES {dict_vals}),
thits AS (
  SELECT u.rid, list_distinct(list(d.intern)) AS hits
  FROM (SELECT rid, unnest(types_raw) AS raw_t FROM raw) u
  JOIN tdict d USING (raw_t) GROUP BY u.rid
),
dhits AS (
  SELECT r.rid, list_distinct(list(d.intern)) AS hits
  FROM raw r JOIN tdict d ON r.type_detail = d.raw_t GROUP BY r.rid
),
v AS (
  SELECT r.rid, r.label, {simp('r.label')} AS label_norm, r.lat, r.lon,
    CASE WHEN r.type_detail IS NOT NULL AND dhits.hits IS NOT NULL
           THEN dhits.hits
         WHEN r.types_raw IS NOT NULL AND len(r.types_raw) > 0
           THEN coalesce(thits.hits, ['no_type'])
         ELSE ['no_type'] END AS types,
    {block} AS block
  FROM raw r
  LEFT JOIN dhits ON r.rid = dhits.rid
  LEFT JOIN thits ON r.rid = thits.rid
),
pairs AS (
  SELECT va.rid AS a, vb.rid AS b
  FROM v va JOIN v vb ON va.block = vb.block AND va.rid < vb.rid
),
scored AS (
  SELECT p.a, p.b, {sim_label} AS sl, {sim_geo} AS sg, {sim_type} AS st
  FROM pairs p JOIN v va ON va.rid = p.a JOIN v vb ON vb.rid = p.b
),
agg AS (
  SELECT a, b,
    floor(((coalesce(sl, 0) + coalesce(sg, 0) + coalesce(st, 0)) /
      (CASE WHEN sl IS NOT NULL THEN 1 ELSE 0 END +
       CASE WHEN sg IS NOT NULL THEN 1 ELSE 0 END +
       CASE WHEN st IS NOT NULL THEN 1 ELSE 0 END)) * 1e10 + 0.5) / 1e10 AS sim
  FROM scored
  WHERE sl IS NOT NULL OR sg IS NOT NULL OR st IS NOT NULL
)
SELECT a, b, CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
FROM agg WHERE sim > 0.6
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "conv_records": q_conv_records,
        "conv_blocking_keys": q_conv_blocking_keys,
        "conv_candidate_pairs": q_conv_candidate_pairs,
        "conv_pair_jaccard": q_conv_pair_jaccard,
        "conv_pair_trigram": q_conv_pair_trigram,
        "conv_max_both": q_conv_max_both,
        "conv_dedup_blocked": q_conv_dedup_blocked,
        "conv_dedup_full": q_conv_dedup_full,
        "conv_representatives": q_conv_representatives,
        "conv_sessions": q_conv_sessions,
        "conv_role_hourly": q_conv_role_hourly,
        "turn_exact_dedup": q_turn_exact_dedup,
        "doc_neardup": q_doc_neardup,
        "doc_stats": q_doc_stats,
        "doc_quality": q_doc_quality,
        "events_sessionize": q_events_sessionize,
        "events_hourly": q_events_hourly,
        "tpch_q1": q_tpch_q1,
        "top_customers": q_top_customers,
        "customers_no_orders": q_customers_no_orders,
        "convs_without_tool": q_convs_without_tool,
        "ann_topk": q_ann_topk,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_language_id": q_doc_language_id,
        "conv_idf_blocking": q_conv_idf_blocking,
        "conv_greedy_merge": q_conv_greedy_merge,
        "conv_hungarian": q_conv_hungarian,
        "embedding_neardup": q_embedding_neardup,
        "events_sliding": q_events_sliding,
        "match_quality": q_match_quality,
        "conv_pair_geo": q_conv_pair_geo,
        "conv_pair_attr_sims": q_conv_pair_attr_sims,
        "conv_pair_type_sim": q_conv_pair_type_sim,
        "conv_pair_jarowinkler": q_conv_pair_jarowinkler,
        "conv_type_overlap_cc": q_conv_type_overlap_cc,
        "conv_decomposition": q_conv_decomposition,
        "conv_candidate_creator": q_conv_candidate_creator,
        "nc_csimq_edges": q_nc_csimq_edges,
        "music_csimq_edges": q_music_csimq_edges,
        "geo_settlement_edges": q_geo_settlement_edges,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "doc_simhash_neardup": q_doc_simhash_neardup,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_bpe_tokens": q_doc_bpe_tokens,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "conv_records": SQL_CONV_RECORDS,
        "conv_blocking_keys": SQL_CONV_BLOCKING_KEYS,
        "conv_candidate_pairs": SQL_CONV_CANDIDATE_PAIRS,
        "conv_pair_jaccard": SQL_CONV_PAIR_JACCARD,
        "conv_pair_trigram": SQL_CONV_PAIR_TRIGRAM,
        "conv_max_both": SQL_CONV_MAX_BOTH,
        "conv_dedup_blocked": SQL_CONV_DEDUP_BLOCKED,
        "conv_dedup_full": _sql_conv_dedup_full(),
        "conv_representatives": SQL_CONV_REPRESENTATIVES,
        "conv_sessions": SQL_CONV_SESSIONS,
        "conv_role_hourly": SQL_CONV_ROLE_HOURLY,
        "turn_exact_dedup": SQL_TURN_EXACT_DEDUP,
        "doc_neardup": SQL_DOC_NEARDUP,
        "doc_stats": SQL_DOC_STATS,
        "doc_quality": SQL_DOC_QUALITY,
        "events_sessionize": SQL_EVENTS_SESSIONIZE,
        "events_hourly": SQL_EVENTS_HOURLY,
        "tpch_q1": SQL_TPCH_Q1,
        "top_customers": SQL_TOP_CUSTOMERS,
        "customers_no_orders": SQL_CUSTOMERS_NO_ORDERS,
        "convs_without_tool": SQL_CONVS_WITHOUT_TOOL,
        "ann_topk": SQL_ANN_TOPK,
        "doc_fingerprint": SQL_DOC_FINGERPRINT,
        "doc_language_id": SQL_DOC_LANGUAGE_ID,
        "conv_idf_blocking": SQL_CONV_IDF_BLOCKING,
        "conv_greedy_merge": (
            f"SELECT rid, cluster_rid FROM read_parquet('{_ensure_greedy_expected()}')"
        ),
        "conv_hungarian": _sql_conv_hungarian(),
        "embedding_neardup": _sql_embedding_neardup(),
        "events_sliding": SQL_EVENTS_SLIDING,
        "match_quality": SQL_MATCH_QUALITY,
        "conv_pair_geo": SQL_CONV_PAIR_GEO,
        "conv_pair_attr_sims": SQL_CONV_PAIR_ATTR_SIMS,
        "conv_pair_type_sim": SQL_CONV_PAIR_TYPE_SIM,
        "conv_pair_jarowinkler": SQL_CONV_PAIR_JAROWINKLER,
        "conv_type_overlap_cc": SQL_CONV_TYPE_OVERLAP_CC,
        "conv_decomposition": _sql_conv_decomposition(),
        "conv_candidate_creator": _sql_conv_candidate_creator(),
        "nc_csimq_edges": _sql_nc_csimq_edges(),
        "music_csimq_edges": _sql_music_csimq_edges(),
        "geo_settlement_edges": _sql_geo_settlement_edges(),
        "ann_ivf_topk": SQL_ANN_IVF_TOPK,
        "ann_lsh_topk": SQL_ANN_LSH_TOPK,
        "doc_simhash_neardup": SQL_DOC_SIMHASH_NEARDUP,
        "doc_ngram_jaccard": SQL_DOC_NGRAM_JACCARD,
        "doc_bpe_tokens": SQL_DOC_BPE_TOKENS,
    }
