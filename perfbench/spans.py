"""Spans recorded from outside the program, plus the run's resource probes.

A span is a wall-clock interval around a call into one of the program's
public functions, named after the layer it belongs to. Spans come from two
places: ``Tracer.span`` around calls the benchmark makes itself, and
``Tracer.patch``, which swaps a public function for a timing wrapper in
every ``mapping_analysis_spark`` module that bound it, so calls the program
makes internally (``match_edges`` → ``pruned_block_rows``) are timed too.

A span must cover the action that computes its layer, not just the call that
builds a lazy DataFrame: a wrapper can force its result (``count`` or an
eager ``checkpoint``) inside the span. Row counts that are pure bookkeeping
run after the job, inside ``Tracer.bookkeeping`` intervals, which are
excluded from every span's wall time, jobs and task metrics.

Spark jobs and task metrics are attributed to spans after the run, from the
Spark event log: a job belongs to every span whose interval contains its
submission time, a task to every span containing its finish time (the
driver thread runs spans one after another, so this is exact up to the
event log's millisecond stamps).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import threading
import time


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "rows", "result")

    def __init__(self, name: str, parent: str | None) -> None:
        self.name = name
        self.parent = parent
        self.t0 = time.time()
        self.t1: float | None = None
        self.rows = 0
        self.result = None  # the layer's output DataFrame, for bookkeeping


class Tracer:
    """The spans of one workload's traced job."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.excluded: list[tuple[float, float]] = []
        self._stack: list[Span] = []
        self._deferred: list[tuple[Span, object]] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.spans.append(s)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Work done only to observe the program (row counts): excluded from
        every span it overlaps."""
        t0 = time.time()
        try:
            yield
        finally:
            self.excluded.append((t0, time.time()))

    def count_later(self, span: Span, df) -> None:
        self._deferred.append((span, df))

    def settle(self) -> None:
        """Run the deferred row counts (after the traced job has ended)."""
        with self.bookkeeping():
            for s, df in self._deferred:
                s.rows += df.count()
        self._deferred.clear()

    # -- wrapping the program's public functions ------------------------------

    def patch(self, module, fname: str, layer: str, force: str | None = None) -> None:
        """Time every call of ``module.fname`` as a span named ``layer``.

        ``force``: ``"count"`` forces a lazy result inside the span with
        ``count()`` (which is also its row count); ``"checkpoint"`` forces it
        with an eager local checkpoint and hands the checkpoint on; ``None``
        leaves the result as it is (the function is eager by itself, or only
        builds a plan). Except for ``"count"``, rows are counted after the
        job."""
        orig = getattr(module, fname)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer) as s:
                out = orig(*args, **kwargs)
                if force == "count":
                    s.rows = out.count()
                elif force == "checkpoint":
                    out = out.localCheckpoint(eager=True)
                if force != "count":
                    tracer.count_later(s, out)
                s.result = out
            return out

        traced.__wrapped__ = orig
        for name, mod in list(sys.modules.items()):
            if name.startswith("mapping_analysis_spark") and getattr(mod, fname, None) is orig:
                setattr(mod, fname, traced)
                self._patched.append((mod, fname, orig))

    def unpatch(self) -> None:
        for mod, fname, orig in reversed(self._patched):
            setattr(mod, fname, orig)
        self._patched.clear()

    # -- reading the spans back -----------------------------------------------

    def _excluded_within(self, t0: float, t1: float) -> float:
        return sum(max(0.0, min(t1, b) - max(t0, a)) for a, b in self.excluded)

    def _is_excluded(self, t: float) -> bool:
        return any(a <= t <= b for a, b in self.excluded)

    def layer_totals(self, events: "EventLog | None") -> dict[str, dict[str, float]]:
        """Per layer name: summed wall_s, jobs, rows_out, shuffle_bytes,
        task_cpu_s over its spans (a parent's totals include its children)."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(
                s.name,
                {"wall_s": 0.0, "jobs": 0, "rows_out": 0, "shuffle_bytes": 0, "task_cpu_s": 0.0},
            )
            t["wall_s"] += (s.t1 - s.t0) - self._excluded_within(s.t0, s.t1)
            t["rows_out"] += s.rows
            if events is not None:
                w = events.within(s.t0, s.t1, self._is_excluded)
                t["jobs"] += w["jobs"]
                t["shuffle_bytes"] += w["shuffle_bytes"]
                t["task_cpu_s"] += w["task_cpu_s"]
        return out

    def children_wall(self, parent: str) -> float:
        return sum(
            (s.t1 - s.t0) - self._excluded_within(s.t0, s.t1)
            for s in self.spans
            if s.parent == parent
        )


class EventLog:
    """Job submissions and finished tasks read from a Spark event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[float] = []  # submission time, s
        self.tasks: list[tuple[float, float, int]] = []  # finish s, cpu s, shuffle bytes
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append(ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.append(
                (
                    ev["Task Info"]["Finish Time"] / 1000.0,
                    m.get("Executor CPU Time", 0) / 1e9,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                )
            )

    def within(self, t0: float, t1: float, excluded=lambda t: False) -> dict:
        # event-log stamps are whole milliseconds: widen the interval to match
        lo, hi = t0 - 0.001, t1 + 0.001
        tasks = [t for t in self.tasks if lo <= t[0] <= hi and not excluded(t[0])]
        return {
            "jobs": sum(1 for t in self.jobs if lo <= t <= hi and not excluded(t)),
            "task_cpu_s": sum(t[1] for t in tasks),
            "shuffle_bytes": sum(t[2] for t in tasks),
        }


class RssSampler:
    """Peak memory of this process and all its descendants (the Spark JVM
    and its Python workers), sampled every ``interval`` seconds.

    Python processes count their proportional set size, so pages shared
    between forked Python workers are counted once, not once per process.
    The JVM counts its resident set: it shares no pages with the others, and
    walking its 2 GB+ map for a PSS takes ~50 ms, during which the JVM
    cannot change its own mappings."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_mem_bytes(os.getpid()))


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids.extend(int(k) for k in f.read().split())
        except OSError:
            pass  # the thread or process ended between listing and reading
    return kids


def _mem_bytes(pid: int, exe: str) -> int:
    if os.path.basename(exe) == "java":
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_mem_bytes(root: int) -> int:
    """Summed memory of ``root`` and its descendants. A JVM child that still
    runs the JVM's executable is being spawned (Hadoop's local file system
    shells out often) and shares the JVM's memory: it is skipped."""
    total, todo = 0, [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            total += _mem_bytes(pid, exe)
        except OSError:
            continue  # the process ended
        todo.extend((kid, exe) for kid in _children(pid))
    return total
