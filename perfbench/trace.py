"""Spans around the program's public entry points, set from outside.

Nothing in the program is edited: the functions ``Crawler.run`` reaches
are looked up by the names ``plans/crawl.py`` imported them under and
replaced, for the traced pass only, by wrappers that record a span and
restore the original afterwards. Lazy layers (they only build a plan)
get a ``plan`` span and their arguments are captured so that
:func:`self_times` can re-run each one over materialized inputs; their
execution is attributed to the ``sources.tables`` call that
materializes it, which runs under its own Spark job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

import walker_spark.plans.crawl as crawl_mod
from walker_spark.sources.tables import ParquetTableIO

# lazy layer functions as ``plans/crawl.py`` names them -> layer name
LAZY_LAYERS = {
    "select_fetch_batch": "politeness",
    "fetch_and_extract": "fetch",
    "link_candidates": "crawl.link_candidates",
    "apply_link_filters": "linkfilter",
    "seen_anti_join": "seen",
}
TABLE_METHODS = ("write", "read", "read_many", "row_count")
# taken at import, before any wrapper is installed: self_times re-runs these
_ORIGINALS = {name: getattr(crawl_mod, name) for name in LAZY_LAYERS}


class Tracer:
    """In-memory spans ``(name, start, end, parent, run)`` plus the
    captured layer calls of the traced pass. ``start``/``end`` are epoch
    seconds, to line up with the Spark event log; ``dur`` comes from the
    monotonic clock, which a wall-clock step cannot move."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self.round = -1
        self.phase = "T"
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "dur": None,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "round": self.round,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            stack.pop()

    @contextlib.contextmanager
    def job_group(self, layer: str):
        """Tag every Spark job the block starts with ``pb|phase|round|layer``."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"pb|{self.phase}|{self.round}|{layer}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _table_label(name) -> str:
    if isinstance(name, list):
        return "seen"
    parts = [p for p in str(name).split("/") if not p.startswith(("r=", "is_new="))]
    return parts[-1] if parts else str(name)


def dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class RoundClock:
    """Round start times of ``Crawler.run``, taken where each round
    calls ``select_fetch_batch``: monotonic for round walls, epoch for
    the event log. Two clock reads per round, so it stays on in untraced
    passes."""

    def __init__(self):
        self.starts: list[float] = []
        self.epoch_starts: list[float] = []

    @contextlib.contextmanager
    def installed(self, tracer: Tracer | None = None):
        orig = crawl_mod.select_fetch_batch

        def timed(*a, **kw):
            self.starts.append(time.perf_counter())
            self.epoch_starts.append(time.time())
            if tracer is not None:
                tracer.round = len(self.starts) - 1
            return orig(*a, **kw)

        crawl_mod.select_fetch_batch = timed
        try:
            yield self
        finally:
            crawl_mod.select_fetch_batch = orig

    def round_times(self, end: float) -> list[float]:
        marks = self.starts + [end]
        return [b - a for a, b in zip(marks, marks[1:])]


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Install the span wrappers for the traced pass; yields the
    accumulator that sums Python-side ``extract_all`` seconds."""
    sc = tracer.spark.sparkContext
    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    for fname, layer in LAZY_LAYERS.items():
        orig = getattr(crawl_mod, fname)

        def lazy(*a, _orig=orig, _layer=layer, _fname=fname, **kw):
            with tracer.span(f"{_layer}.{_fname}.plan", kind="plan"):
                out = _orig(*a, **kw)
            tracer.calls.append(
                {
                    "layer": _layer,
                    "fn": _ORIGINALS[_fname],
                    "args": a,
                    "kwargs": kw,
                    "round": tracer.round,
                }
            )
            return out

        patch(crawl_mod, fname, lazy)

    for meth in TABLE_METHODS:
        orig = getattr(ParquetTableIO, meth)

        def io_call(self, *a, _orig=orig, _meth=meth, **kw):
            name = a[1] if _meth == "write" else a[0]  # write(df, name, ...)
            label = _table_label(name)
            with tracer.span(f"tables.{_meth}", kind="exec", table=label) as rec, tracer.job_group(
                f"tables.{_meth}:{label}"
            ):
                out = _orig(self, *a, **kw)
            if _meth == "write":
                rec["bytes"], rec["files"] = dir_bytes(self.path(name))
            return out

        patch(ParquetTableIO, meth, io_call)

    orig_run = crawl_mod.Crawler.run

    def run(self, *a, **kw):
        with tracer.span("crawl.Crawler.run", kind="exec"), tracer.job_group("crawl.setup"):
            return orig_run(self, *a, **kw)

    patch(crawl_mod.Crawler, "run", run)

    # extract_all runs inside the mapInPandas UDF on Python workers: the
    # closure shipped there picks up this wrapper from the crawl module's
    # globals, and an accumulator carries the seconds back
    udf_s = sc.accumulator(0.0)
    orig_extract = crawl_mod.extract_all

    def extract_all(html, _orig=orig_extract, _acc=udf_s):
        t0 = time.perf_counter()
        out = _orig(html)
        _acc.add(time.perf_counter() - t0)
        return out

    patch(crawl_mod, "extract_all", extract_all)
    try:
        yield udf_s
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def self_times(tracer: Tracer) -> dict[str, dict]:
    """Re-run each captured lazy layer call over materialized inputs and
    time it to a noop sink. Inputs are checkpointed first (untimed) so a
    layer's time excludes the plan that fed it; file scans are left as
    they are. Returns per-layer seconds and row counts."""
    from pyspark.sql import DataFrame

    out: dict[str, dict] = {}
    tracer.phase = "S"
    for call in tracer.calls:
        layer = call["layer"]
        if layer == "crawl.link_candidates":
            continue  # its exec is linkfilter's plus an aggregate
        tracer.round = call["round"]
        args = list(call["args"])
        kwargs = dict(call["kwargs"])
        held = []
        with tracer.job_group(f"{layer}.inputs"):
            # the first DataFrame argument is the layer's own input; the
            # rest (pages, seen, redirect map) are tables it reads
            if isinstance(args[0], DataFrame):
                args[0] = args[0].localCheckpoint(eager=True)
                held.append(args[0])
            rows_in = args[0].count()
        acc = out.setdefault(layer, {"self_s": 0.0, "rows_in": 0, "rows_out": 0})
        with tracer.job_group(f"{layer}.self"):
            df = call["fn"](*args, **kwargs)
            t0 = time.perf_counter()
            _noop(df)
            acc["self_s"] += time.perf_counter() - t0
        with tracer.job_group(f"{layer}.rows"):
            acc["rows_out"] += df.count()
        acc["rows_in"] += rows_in
        for h in held:
            h.unpersist()
    return out


def read_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    stages[si["Stage ID"]] = {
                        "start": si["Submission Time"] / 1000.0,
                        "end": si["Completion Time"] / 1000.0,
                        "tasks": si.get("Number of Tasks", 0),
                    }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_totals(log: dict, job_ids, slots: int) -> dict[str, float]:
    """Sums over the given jobs' stages and tasks."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"] if s in log["stages"]}
    t = [x for x in log["tasks"] if x["stage"] in stage_ids]
    run_s = sum(x["run_s"] for x in t)
    stage_wall = sum(log["stages"][s]["end"] - log["stages"][s]["start"] for s in stage_ids)
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stage_ids),
        "spark.tasks": len(t),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(x["cpu_s"] for x in t),
        "spark.gc_s": sum(x["gc_s"] for x in t),
        "spark.shuffle_read_bytes": sum(x["shuffle_read"] for x in t),
        "spark.shuffle_write_bytes": sum(x["shuffle_write"] for x in t),
        "spark.spill_bytes": sum(x["spill"] for x in t),
        "spark.slot_idle_s": stage_wall * slots - run_s,
    }


def uncovered(interval: tuple[float, float], covers: list[tuple[float, float]]) -> float:
    """Length of ``interval`` not covered by any of ``covers``."""
    a, b = interval
    clipped = sorted((max(a, s), min(b, e)) for s, e in covers if e > a and s < b)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (b - a) - covered
