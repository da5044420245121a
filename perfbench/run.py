"""Benchmark of the matching engine: batch matching, incremental streaming
and near-duplicate detection, on ``local[4]``.

    python3 perfbench/run.py --workload transcripts --seed 7 --seconds 5 --trace 0

Run from the repository root. ``--workload`` is ``transcripts``,
``doc_neardup`` or ``all`` (both in one Spark session). The seed is the
only source of the inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs one
traced job (see ``spans.py``) and prints the per-layer metrics instead.
Human-readable ``name value unit`` lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. See ``README.md`` for what each workload and
metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_HEAP = "2g"  # small, so the benchmark fits on hosts with shared memory

# (name, unit); the JSON carries these with --trace 0
END_TO_END = [
    ("job_s", "s"),
    ("turns_per_s", "1/s"),
    ("microbatch_p50_s", "s"),
    ("match_f1", "ratio"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
_SPANNED = [
    "pipeline.featurize",
    "pipeline.block_rows",
    "pipeline.match_edges",
    "operators.clustering.cc",
    "pipeline.cluster_sizes",
    "operators.clustering.representatives",
    "operators.dedup.minhash_lsh",
    "operators.dedup.ngram_jaccard",
    "operators.dedup.simhash",
]
_SUFFIXES = [("wall_s", "s"), ("jobs", "count"), ("rows_out", "count"),
             ("shuffle_bytes", "B"), ("task_cpu_s", "s")]
# (name, unit); the JSON carries these with --trace 1. A layer a workload
# bypasses reads 0 on it.
PER_LAYER = [(f"{layer}.{sfx}", unit) for layer in _SPANNED for sfx, unit in _SUFFIXES] + [
    ("operators.dedup.minhash_lsh.pairs_out", "count"),
    ("operators.dedup.ngram_jaccard.pairs_out", "count"),
    ("operators.dedup.simhash.pairs_out", "count"),
    ("operators.blocking.prefix_candidates", "count"),
    ("operators.blocking.band_candidates", "count"),
    ("pipeline.match_edges.edges_per_candidate", "ratio"),
    ("operators.clustering.cc.edges_in", "count"),
    ("operators.clustering.cc.path", "0uf_1ls"),
    ("streaming.drain_s", "s"),
    ("streaming.turns_per_s", "1/s"),
    ("streaming.microbatch.wall_s", "s"),
    ("streaming.microbatch.first_s", "s"),
    ("streaming.microbatch.jobs", "count"),
    ("streaming.microbatch.shuffle_bytes", "B"),
    ("streaming.microbatch.task_cpu_s", "s"),
    ("streaming.state.read_rows", "count"),
    ("streaming.state.bytes", "B"),
    ("streaming.state.files", "count"),
    ("data.generate_s", "s"),
    ("session.start_s", "s"),
    ("setup.expected_s", "s"),
    ("setup.warmup_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.stage_coverage", "ratio"),
]


def pin_environment(work_dir: str) -> None:
    """Run the program in its default configuration: drop every engine knob
    the benchmark does not set itself, and keep every file the run writes
    inside the work directory."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
            del os.environ[k]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def environment() -> dict[str, str]:
    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": str(os.cpu_count()),
        "cores": str(CORES),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java.splitlines()[0] if java else "unknown",
        "duckdb": duckdb.__version__,
    }


def start_session(work_dir: str, event_log: str | None):
    from mapping_analysis_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # the whole 2 GB heap is committed and touched at start, so the
        # JVM's share of peak_rss_mb does not depend on when G1 grows it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["transcripts", "doc_neardup", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="input sizes; smoke is for the benchmark's own test")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="corrupt every expected output, to show that checks fail")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import mapping_analysis_spark  # noqa: F401 — fail fast when the program is absent

    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    pin_environment(work_dir)
    from spans import EventLog, RssSampler, Tracer
    from workloads import WORKLOADS, Context

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    event_dir = os.path.join(work_dir, "events") if args.trace else None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work_dir, event_dir)
            session_s = time.perf_counter() - t0
            runs = []
            try:
                for name in names:
                    tracer = Tracer()
                    ctx = Context(spark, work_dir, args.seed, args.seconds, args.scale,
                                  args.wrong_expected, tracer)
                    w = WORKLOADS[name](ctx)
                    setup = w.setup()
                    setup["session.start_s"] = session_s
                    w.run(traced=bool(args.trace))
                    runs.append((w, ctx, setup))
            finally:
                stop_session(spark)
        events = EventLog(event_dir) if event_dir else None
        results = [report(w, ctx, setup, rss.peak_bytes, events, bool(args.trace))
                   for w, ctx, setup in runs]
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    for k, v in environment().items():
        print(f"# env {k} {v}")
    if len(results) == 1:
        out = results[0]
    else:
        out = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


def report(w, ctx, setup: dict, peak_rss: int, events, traced: bool) -> dict:
    """Print the workload's metrics as ``name value unit`` lines and return
    its JSON result."""
    e2e = w.metrics()
    e2e["peak_rss_mb"] = peak_rss / 2**20
    e2e["setup_s"] = sum(setup.values())
    e2e["failed_frac"] = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    values = {name: e2e[name] for name, _ in END_TO_END}
    units = dict(END_TO_END + [("failed_frac", "ratio")])
    shown = [(name, e2e[name]) for name in units]
    if traced:
        totals = ctx.tracer.layer_totals(events)
        layer = dict(setup)
        for lname, t in totals.items():
            for sfx, v in t.items():
                layer[f"{lname}.{sfx}"] = v
        layer.update(w.layer_metrics(totals, events))
        values = {name: float(layer.get(name, 0)) for name, _ in PER_LAYER}
        units.update(PER_LAYER)
        shown += list(values.items())
    print(f"# workload {w.name}: {ctx.attempted} operations attempted "
          f"({ctx.warmups} warm-up), {ctx.failed} failed")
    for name, v in shown:
        print(f"{w.name} {name} {v:.6g} {units[name]}")
    metrics = {name: {"value": v, "unit": units[name]} for name, v in values.items()}
    return {"correct": ctx.failed == 0 and ctx.attempted > 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": metrics}


if __name__ == "__main__":
    raise SystemExit(main())
