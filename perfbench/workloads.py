"""The benchmark's workloads.

Each workload generates its inputs, builds its expected outputs, warms the
session, then repeats its job until the measurement window has elapsed
(at least once; the batch job at least three times). Every operation's output is checked; a failed check
or an exception counts the operation as failed and the run goes on.

* ``transcripts``: two phases over seeded transcripts in one session.
  - batch: ``pipeline.dedup_conversations`` then
    ``operators.clustering.representatives``; one operation is one job.
  - stream: a pre-staged arrival backlog drained by
    ``IncrementalClusteringJob`` one file per micro-batch; one operation is
    one micro-batch.
* ``doc_neardup``: ``operators.dedup``'s MinHash-LSH, n-gram Jaccard and
  SimHash near-duplicate calls over a seeded document corpus. One operation
  is one call.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import threading
import time
import traceback

from pyspark.sql import functions as F

import inputs
from spans import EventLog, Tracer

# One operation may take this long before its Spark jobs are cancelled and it
# counts as failed (a run must end within 180 s).
OP_TIMEOUT_S = 100.0
# Pair F1 below this against the planted entities fails the batch job check.
F1_FLOOR = 0.9

SCALES = {
    "full": {
        "batch_sf": 0.01,  # transcripts scale factor of the batch phase
        "batch_warm_rows": 2000,  # rows of its warm-up job
        # timed batch jobs per run at least: one job's time varies by up to ~15%
        # from job to job in the same session, so job_s is their median
        "batch_min_jobs": 3,
        "stream_sf": 0.001,  # transcripts scale factor of the stream phase
        "stream_files": 2,  # arrival files = micro-batches per drain
        "docs": 2000,
        "planted": 100,
        "warm_docs": 300,
    },
    "smoke": {
        "batch_sf": 0.001,
        "batch_warm_rows": 200,
        "batch_min_jobs": 2,
        "stream_sf": 0.0005,
        "stream_files": 2,
        "docs": 400,
        "planted": 16,
        "warm_docs": 100,
    },
}


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


class Context:
    """What every workload gets from ``run.py``: the session and the run's
    settings, plus the counters every operation reports into."""

    def __init__(self, spark, work_dir, seed, seconds, scale, wrong_expected, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.scale = SCALES[scale]
        self.wrong_expected = wrong_expected
        self.tracer: Tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.warmups = 0  # attempted operations that only warm the session

    def attempt(self, fn, n_ops: int = 1, warmup: bool = False):
        """Run ``fn`` as ``n_ops`` operations under the op timeout. ``fn``
        returns ``(result, n_failed)``; an exception fails all ``n_ops``.
        Returns ``(wall_s, result or None)``."""
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            result, n_failed = fn()
        except Exception:  # noqa: BLE001 — a failed operation must not end the run
            traceback.print_exc()
            result, n_failed = None, n_ops
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        self.attempted += n_ops
        self.failed += n_failed
        self.warmups += n_ops if warmup else 0
        return wall, result

    def window(self, min_count: int = 1):
        """Yield until the measurement window has elapsed, and at least
        ``min_count`` times."""
        t0 = time.perf_counter()
        i = 0
        while i < min_count or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _fingerprint(df, cols: list[str]) -> list:
    """Order-independent (rows, distinct first column, hash sum) of a frame."""
    row = df.agg(
        F.count("*"),
        F.countDistinct(cols[0]),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).collect()[0]
    return [int(row[0]), int(row[1]), str(row[2])]


def _wall(span) -> float:
    return span.t1 - span.t0


@contextlib.contextmanager
def _no_span(name: str):
    yield None


class BatchPhase:
    """Match → cluster → representative over one seeded transcript table."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.walls: list[float] = []
        self.f1 = 0.0
        self.fingerprint = None
        self.extra: dict[str, float] = {}

    def setup(self) -> dict[str, float]:
        ctx, sc = self.ctx, self.ctx.scale
        self.data, gen_s = _timed(lambda: inputs.write_transcripts(sc["batch_sf"], ctx.seed))
        self.transcripts = ctx.spark.read.parquet(self.data["path"])
        t0 = time.perf_counter()
        self.expected_n = self.data["n_conversations"] + (1 if ctx.wrong_expected else 0)
        # the fingerprint of a seed outlives the inputs, which every run rewrites
        self.fp_path = os.path.join(
            inputs.DATA_ROOT, f"batch-fingerprint-{sc['batch_sf']:g}-seed{ctx.seed}.json"
        )
        self.stored_fp = None
        if os.path.exists(self.fp_path):
            with open(self.fp_path) as f:
                self.stored_fp = json.load(f)
        # planted entity per conversation: the conv_id before its _s<k>
        self.gold = (
            self.transcripts.select("conv_id").distinct()
            .withColumn("entity_id", F.regexp_extract("conv_id", r"^(.*)_s[0-9]+$", 1))
            .localCheckpoint(eager=True)
        )
        expected_s = time.perf_counter() - t0
        # warm-up: the same job on the table's first rows, so code generation
        # and Python worker start-up are paid here, not in the first job
        warm = self.transcripts.limit(sc["batch_warm_rows"]).localCheckpoint(eager=True)
        _, warm_s = _timed(
            lambda: ctx.attempt(lambda: (self._job(warm), 0), warmup=True)
        )
        return {"data.generate_s": gen_s, "setup.expected_s": expected_s, "setup.warmup_s": warm_s}

    @staticmethod
    def _job(transcripts, tracer: Tracer | None = None):
        from mapping_analysis_spark import pipeline
        from mapping_analysis_spark.operators import clustering

        dedup = pipeline.dedup_conversations(transcripts)
        if tracer is None:
            out = dedup.localCheckpoint(eager=True)
        else:
            # dedup_conversations ends with a lazy join of the cluster sizes
            # onto the assignment; it runs here
            with tracer.span("pipeline.cluster_sizes") as s:
                out = dedup.localCheckpoint(eager=True)
            tracer.count_later(s, out)
        reps = clustering.representatives(
            out.select("conv_id", "cluster_id"), transcripts
        ).localCheckpoint(eager=True)
        return out, reps

    def _op(self, tracer: Tracer | None = None):
        return self._job(self.transcripts, tracer), 0

    def _check(self, out, reps) -> int:
        """Every conversation assigned once, and the same assignment and
        representatives as every other job on this seed; the first job of a
        run must also reach ``F1_FLOOR`` against the planted entities."""
        from mapping_analysis_spark.operators.evaluation import pair_quality

        fp = [_fingerprint(out, ["conv_id", "cluster_id", "cluster_size"]),
              _fingerprint(reps, ["cluster_id", "turn_idx", "text"])]
        ok = fp[0][0] == self.expected_n and fp[0][1] == fp[0][0]
        if self.fingerprint is None:
            self.fingerprint = fp
            q = pair_quality(out.select("conv_id", "cluster_id"), self.gold).collect()[0]
            self.f1 = q["f1_e6"] / 1e6
            ok = ok and self.f1 >= F1_FLOOR
        ok = ok and fp == self.fingerprint and self.stored_fp in (None, fp)
        if not ok:
            log(f"batch check failed: fingerprint {fp}, expected {self.expected_n} "
                f"conversations, first {self.fingerprint}, stored {self.stored_fp}, f1 {self.f1}")
        return 0 if ok else 1

    def measure(self, traced: bool) -> None:
        # a traced run prints no job_s: one untraced job is enough as the
        # baseline of trace.overhead_s, and keeps the run within its limit
        for _ in self.ctx.window(1 if traced else self.ctx.scale["batch_min_jobs"]):
            wall, res = self.ctx.attempt(self._op)
            self.walls.append(wall)
            if res is not None:
                self.ctx.failed += self._check(*res)
        if self.stored_fp is None and self.ctx.failed == 0 and not self.ctx.wrong_expected:
            with open(self.fp_path, "w") as f:
                json.dump(self.fingerprint, f)

    def trace(self) -> None:
        """One job with every layer's public functions wrapped in spans."""
        from mapping_analysis_spark import pipeline
        from mapping_analysis_spark.operators import blocking, clustering

        tr = self.ctx.tracer
        tr.patch(pipeline, "conversation_records", "pipeline.featurize")
        tr.patch(pipeline, "featurize_records", "pipeline.featurize", force="count")
        tr.patch(pipeline, "pruned_block_rows", "pipeline.block_rows")
        tr.patch(blocking, "lsh_band_pairs", "operators.blocking.band_candidates")
        tr.patch(pipeline, "match_edges", "pipeline.match_edges", force="checkpoint")
        # CC plus the join that gives every node its cluster id: the span
        # covers the driver collect and union-find (or large-star rounds)
        tr.patch(clustering, "assign_cluster_ids", "operators.clustering.cc", force="checkpoint")
        tr.patch(clustering, "large_star_small_star", "operators.clustering.large_star")
        tr.patch(clustering, "representatives", "operators.clustering.representatives",
                 force="checkpoint")
        try:
            with tr.span("job") as job:
                wall, res = self.ctx.attempt(lambda: self._op(tr))
            if res is not None:
                self.ctx.failed += self._check(*res)
            tr.settle()
            with tr.bookkeeping():
                self.extra["operators.blocking.prefix_candidates"] = self._prefix_candidates()
        finally:
            tr.unpatch()
        self.extra["trace.overhead_s"] = wall - statistics.median(self.walls)
        self.extra["trace.stage_coverage"] = tr.children_wall("job") / _wall(job)

    def _prefix_candidates(self) -> int:
        """Cross-source pairs sharing a surviving block key, before the
        Jaccard verify: the candidates of ``match_edges``' prefix join."""
        total = 0
        for s in self.ctx.tracer.spans:
            if s.name == "pipeline.block_rows":
                a = s.result.select("bk", F.col("rid").alias("a_rid"), F.col("source").alias("a_src"))
                b = s.result.select("bk", F.col("rid").alias("b_rid"), F.col("source").alias("b_src"))
                total += a.join(
                    b,
                    (a.bk == b.bk) & (F.col("a_rid") < F.col("b_rid")) & (F.col("a_src") != F.col("b_src")),
                ).count()
        return total

    def metrics(self) -> dict[str, float]:
        log(f"batch job s: {[round(x, 3) for x in self.walls]}")
        job_s = statistics.median(self.walls)
        return {"job_s": job_s, "turns_per_s": self.data["n_turns"] / job_s, "match_f1": self.f1}

    def layer_metrics(self, totals: dict) -> dict[str, float]:
        out = dict(self.extra)
        edges = totals.get("pipeline.match_edges", {}).get("rows_out", 0)
        band = totals.get("operators.blocking.band_candidates", {}).get("rows_out", 0)
        cands = out["operators.blocking.prefix_candidates"] + band
        out["operators.blocking.band_candidates"] = band
        out["pipeline.match_edges.edges_per_candidate"] = edges / cands if cands else 0.0
        out["operators.clustering.cc.edges_in"] = edges  # match_conversations feeds CC the edges
        out["operators.clustering.cc.path"] = 1 if "operators.clustering.large_star" in totals else 0
        return out


class StreamPhase:
    """A closed-loop drain of a pre-staged arrival backlog, one file per
    micro-batch, into fresh state each time."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.drains: list[dict] = []
        self.extra: dict[str, float] = {}

    def setup(self) -> dict[str, float]:
        from mapping_analysis_spark import pipeline

        ctx, sc = self.ctx, self.ctx.scale
        self.n_files = sc["stream_files"]
        self.data, gen_s = _timed(
            lambda: inputs.write_transcripts(sc["stream_sf"], ctx.seed, n_arrival_files=self.n_files)
        )
        self.listener = _progress_listener()
        ctx.spark.streams.addListener(self.listener)
        t0 = time.perf_counter()
        turns = ctx.spark.read.parquet(self.data["path"])
        want = pipeline.match_conversations(turns).select("conv_id", "cluster_id")
        if ctx.wrong_expected:
            want = want.filter(F.col("conv_id") != F.lit(turns.first()["conv_id"]))
        self.want = want.localCheckpoint(eager=True)
        expected_s = time.perf_counter() - t0
        return {"data.generate_s": gen_s, "setup.expected_s": expected_s}

    def _drain(self, tag: str, track_scans: bool = False) -> dict:
        """Drain the backlog into fresh state; check the final table against
        ``match_conversations`` on the same turns (no rows in either EXCEPT
        direction)."""
        from mapping_analysis_spark.streaming.job import IncrementalClusteringJob

        root = os.path.join(self.ctx.work_dir, f"stream-{tag}")
        rec: dict = {"state": os.path.join(root, "state")}

        def run():
            job = IncrementalClusteringJob(self.ctx.spark, rec["state"], track_scans=track_scans)
            rec["job"] = job
            rec["t0"] = time.time()
            q = job.start(self.data["arrivals"], os.path.join(root, "ckpt"), max_files_per_trigger=1)
            done = q.awaitTermination(OP_TIMEOUT_S)
            rec["t1"] = time.time()
            if not done:
                q.stop()
                raise TimeoutError(f"drain {tag} did not finish in {OP_TIMEOUT_S} s")
            batches = self._batches(str(q.runId))
            got = job.result().select("conv_id", "cluster_id")
            bad = got.exceptAll(self.want).count() + self.want.exceptAll(got).count()
            if bad:
                log(f"stream check failed: {bad} rows differ from match_conversations")
                return batches, self.n_files
            return batches, self.n_files - len(batches)

        rec["wall"], batches = self.ctx.attempt(run, n_ops=self.n_files)
        rec["batches"] = batches or []
        rec["state_files"] = [os.path.join(d, f) for d, _, fs in os.walk(rec["state"]) for f in fs]
        rec["state_bytes"] = sum(os.path.getsize(f) for f in rec["state_files"])
        shutil.rmtree(root, ignore_errors=True)
        return rec

    def _batches(self, run_id: str) -> list[tuple[int, float, int]]:
        """This query run's micro-batches with input rows; progress events
        arrive asynchronously, so wait briefly for the last one."""
        deadline = time.time() + 10
        while True:
            got = [b for b in self.listener.batches.get(run_id, []) if b[2] > 0]
            if len(got) >= self.n_files or time.time() > deadline:
                return sorted(got)
            time.sleep(0.05)

    def measure(self) -> None:
        for i in self.ctx.window():
            self.drains.append(self._drain(str(i)))

    def trace(self) -> None:
        """One more drain with the state tables counting the rows they read
        (extra Spark jobs, so the per-batch job counts come from the
        measured drains)."""
        rec = self._drain("traced", track_scans=True)
        if "job" in rec:
            self.extra["streaming.state.read_rows"] = rec["job"].scan_stats()["read_rows"]
        self.extra["streaming.state.files"] = len(rec["state_files"])
        self.extra["streaming.state.bytes"] = rec["state_bytes"]

    def metrics(self) -> dict[str, float]:
        # the batch phase has warmed the JVM, so every micro-batch counts
        durations = [b[1] for d in self.drains for b in d["batches"]]
        log(f"micro-batch s: {[round(x, 3) for x in durations]}")
        return {"microbatch_p50_s": statistics.median(durations) if durations else self.drains[0]["wall"]}

    def layer_metrics(self, events: EventLog | None) -> dict[str, float]:
        out = dict(self.extra)
        rec = self.drains[0]
        batches = rec["batches"]
        drain_s = statistics.median(d["wall"] for d in self.drains)
        out["streaming.drain_s"] = drain_s
        out["streaming.turns_per_s"] = self.data["n_turns"] / drain_s
        out["streaming.microbatch.wall_s"] = statistics.median(b[1] for b in batches) if batches else 0.0
        out["streaming.microbatch.first_s"] = batches[0][1] if batches else 0.0
        if events is not None and batches and "t1" in rec:
            w = events.within(rec["t0"], rec["t1"])
            out["streaming.microbatch.jobs"] = w["jobs"] / len(batches)
            out["streaming.microbatch.shuffle_bytes"] = w["shuffle_bytes"] / len(batches)
            out["streaming.microbatch.task_cpu_s"] = w["task_cpu_s"] / len(batches)
        return out


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """(batch id, trigger duration s, input rows) per query run, as Spark
        reports each micro-batch."""

        def __init__(self) -> None:
            self.batches: dict[str, list[tuple[int, float, int]]] = {}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.setdefault(str(p.runId), []).append(
                (p.batchId, p.durationMs.get("triggerExecution", 0) / 1000.0, p.numInputRows)
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


class Transcripts:
    """The batch phase, then the stream phase, in one session: the stream
    pays no session start of its own and its first micro-batch runs on a
    warm JVM."""

    name = "transcripts"

    def __init__(self, ctx: Context) -> None:
        self.batch = BatchPhase(ctx)
        self.stream = StreamPhase(ctx)

    def setup(self) -> dict[str, float]:
        # the stream's expected output runs the batch pipeline again: a second
        # warm pass before the first timed batch job, which needs it
        b, s = self.batch.setup(), self.stream.setup()
        return {k: b.get(k, 0.0) + s.get(k, 0.0) for k in b}

    def run(self, traced: bool) -> None:
        self.batch.measure(traced)
        if traced:
            self.batch.trace()
        self.stream.measure()
        if traced:
            self.stream.trace()

    def metrics(self) -> dict[str, float]:
        return {**self.batch.metrics(), **self.stream.metrics()}

    def layer_metrics(self, totals: dict, events: EventLog | None) -> dict[str, float]:
        return {**self.batch.layer_metrics(totals), **self.stream.layer_metrics(events)}


def _md5_60(t):
    """The oracle's SimHash token hash: the first 60 bits of md5, which
    DuckDB can reproduce (see ``SQL_DOC_SIMHASH_NEARDUP``)."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


DEDUP_CALLS = {
    # call -> its oracle query in __spark_entry__.oracle_sql()
    "minhash_lsh": "doc_neardup",
    "ngram_jaccard": "doc_ngram_jaccard",
    "simhash": "doc_simhash_neardup",
}


class DocNearDup:
    """The three near-duplicate detectors of ``operators.dedup`` over one
    seeded low-entropy document corpus."""

    name = "doc_neardup"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.walls: list[float] = []
        self.f1 = 0.0
        self.extra: dict[str, float] = {}

    def setup(self) -> dict[str, float]:
        import duckdb

        import __spark_entry__ as contract

        ctx, sc = self.ctx, self.ctx.scale
        (self.data, warm), gen_s = _timed(
            lambda: (
                inputs.write_documents(sc["docs"], sc["planted"], ctx.seed),
                inputs.write_documents(sc["warm_docs"], sc["planted"] // 8, ctx.seed),
            )
        )
        t0 = time.perf_counter()
        sql = contract.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            con.execute(f"SET temp_directory = '{os.path.join(ctx.work_dir, 'duckdb')}'")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.data['path']}')")
            self.want = {
                call: {(int(r[0]), int(r[1])) for r in con.execute(sql[query]).fetchall()}
                for call, query in DEDUP_CALLS.items()
            }
        finally:
            con.close()
        if ctx.wrong_expected:
            for pairs in self.want.values():
                pairs.add((-1, -1))
        expected_s = time.perf_counter() - t0
        self.docs = ctx.spark.read.parquet(self.data["path"])
        warm_docs = ctx.spark.read.parquet(warm["path"])
        t0 = time.perf_counter()
        for call in DEDUP_CALLS:
            ctx.attempt(lambda: (self._call(call, warm_docs), 0), warmup=True)
        warm_s = time.perf_counter() - t0
        return {"data.generate_s": gen_s, "setup.expected_s": expected_s, "setup.warmup_s": warm_s}

    @staticmethod
    def _call(call: str, docs) -> set[tuple[int, int]]:
        """One detector, called as the contract queries call it."""
        from mapping_analysis_spark.operators import dedup

        if call == "minhash_lsh":
            df = dedup.minhash_lsh_dedup(docs, threshold=0.5, shingle_width=3, bands=48, rows_per_band=2)
        elif call == "ngram_jaccard":
            df = dedup.ngram_jaccard_dedup(docs, n=2, threshold=0.6)
        else:
            df = dedup.simhash_dedup(docs, max_hamming=3, n_bands=6, combo_bands=3,
                                     token_hash=_md5_60, remix=False)
        return {(int(r[0]), int(r[1])) for r in df.select("a_doc", "b_doc").collect()}

    def _job(self, traced: bool = False) -> dict[str, set | None]:
        """The three calls; each one is an operation checked against its
        oracle pair set, and a span when ``traced``."""
        found = {}
        span = self.ctx.tracer.span if traced else _no_span
        for call in DEDUP_CALLS:
            with span(f"operators.dedup.{call}") as s:
                def op(call=call):
                    pairs = self._call(call, self.docs)
                    if pairs != self.want[call]:
                        log(f"doc_neardup {call} check failed: {len(pairs)} pairs, oracle "
                            f"{len(self.want[call])}, {len(pairs ^ self.want[call])} differ")
                        return pairs, 1
                    return pairs, 0

                _, found[call] = self.ctx.attempt(op)
                if s is not None and found[call] is not None:
                    s.rows = len(found[call])
        return found

    def run(self, traced: bool) -> None:
        for i in self.ctx.window():
            found, wall = _timed(self._job)
            self.walls.append(wall)
            if i == 0 and found["minhash_lsh"] is not None:
                got, planted = found["minhash_lsh"], self.data["planted"]
                self.f1 = 2 * len(got & planted) / (len(got) + len(planted))
        if traced:
            with self.ctx.tracer.span("job") as job:
                _, wall = _timed(lambda: self._job(traced=True))
            self.extra["trace.overhead_s"] = wall - statistics.median(self.walls)
            self.extra["trace.stage_coverage"] = self.ctx.tracer.children_wall("job") / _wall(job)

    def metrics(self) -> dict[str, float]:
        log(f"dedup job s: {[round(x, 3) for x in self.walls]}")
        job_s = statistics.median(self.walls)
        # no micro-batches here: the unit of incremental work is the whole job
        return {"job_s": job_s, "turns_per_s": self.data["n_docs"] / job_s,
                "microbatch_p50_s": job_s, "match_f1": self.f1}

    def layer_metrics(self, totals: dict, events: EventLog | None) -> dict[str, float]:
        out = dict(self.extra)
        for call in DEDUP_CALLS:
            out[f"operators.dedup.{call}.pairs_out"] = totals.get(f"operators.dedup.{call}", {}).get("rows_out", 0)
        return out


WORKLOADS = {w.name: w for w in (Transcripts, DocNearDup)}
