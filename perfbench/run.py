"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_multiround --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; ``--workload all`` runs every workload. ``--trace 0`` times passes of the
workload with nothing instrumented and prints the end-to-end metrics;
``--trace 1`` times one untraced pass, then one traced pass (spans, job
groups, an uncompressed Spark event log) and prints the per-layer
metrics, with the tracing overhead against the untraced pass. The last line of
stdout is the JSON result; the line before it is the run's detail.
Everything the run writes stays under the checkout: inputs are cached in
``.perfbench_cache/``, scratch goes to ``.perfbench_work/`` (removed at
exit) and span dumps to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
CORES = min(4, os.cpu_count() or 1)
MAX_RUN_S = 150  # stop starting passes past this, to exit well within 180 s


def _pctl(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


class _Tee(io.TextIOBase):
    def __init__(self, *streams):
        self.streams = streams

    def write(self, s):
        for st in self.streams:
            st.write(s)
        return len(s)

    def flush(self):
        for st in self.streams:
            st.flush()


def start_session(work: str, trace: bool):
    """``get_spark`` with every path it writes inside ``work``. Returns
    ``(spark, start_s, warm_s, warm_failed)``: the split is the time
    inside ``SparkSession.Builder.getOrCreate`` against the rest of
    ``get_spark``, which is its engine warm-up. With
    ``WALKER_SPARK_WARM_DEBUG=1`` a failed warm-up prints a traceback,
    which is caught here and fails the set-up."""
    from pyspark.sql import SparkSession

    from walker_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file: HotSpot writes it under /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the same scan and bucketing settings bench.py measures with
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(512 * 1024),
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                # zstd (the default codec) has no Python reader here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    timing = {}
    orig = SparkSession.Builder.getOrCreate

    def get_or_create(self):
        t = time.perf_counter()
        s = orig(self)
        timing["start_s"] = time.perf_counter() - t
        return s

    err = io.StringIO()
    SparkSession.Builder.getOrCreate = get_or_create
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stderr(_Tee(sys.stderr, err)):
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{CORES}]",
                shuffle_partitions=2 * CORES,
                extra_conf=conf,
            )
    finally:
        SparkSession.Builder.getOrCreate = orig
    total = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, timing["start_s"], total - timing["start_s"], "Traceback" in err.getvalue()


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from .procmon import _procs

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    me = os.getpid()
    while time.monotonic() < deadline:
        procs = _procs()
        kids = [p for p, (pp, _) in procs.items() if pp == me]
        if not kids:
            return
        time.sleep(0.2)
    for p in kids:
        with contextlib.suppress(OSError):
            os.kill(p, 9)
            os.waitpid(p, 0)


def step_percentiles(passes) -> tuple[float, float]:
    """p50 and p90 of the per-step walls (crawl rounds, or queries),
    pooled over ``passes``."""
    steps = [s for p in passes for s in p.steps if s == s]
    return statistics.median(steps), _pctl(steps, 0.9)


def e2e_metrics(setup_s: float, passes) -> dict:
    walls = [p.wall_s for p in passes]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(walls), "s"),
        "items_per_s": (statistics.median([p.items / p.wall_s for p in passes]), "1/s"),
        "cpu_s": (statistics.median([p.region["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (max(p.region["peak_rss_mb"] for p in passes), "MB"),
    }


def layer_metrics(tracer, traced, untraced, selfs, udf_s, session, log) -> dict:
    from .trace import spark_totals, uncovered
    from .workloads import MIX, MIX_FAMILIES

    m: dict[str, float] = {
        "session.start_s": session["start_s"],
        "session.warm_s": session["warm_s"],
        "trace.pass_s": traced.wall_s,
        "trace.untraced_pass_s": untraced.wall_s,
        "trace.overhead_frac": traced.wall_s / untraced.wall_s - 1.0,
    }
    jobs = {j: v for j, v in log["jobs"].items() if v["group"].startswith("pb|T|")}
    m.update(spark_totals(log, list(jobs), CORES))

    def span_sum(pred):
        return sum(s["dur"] for s in tracer.spans if pred(s))

    # crawl rounds: jobs are attributed to a round by submission time
    starts = traced.detail.get("round_starts", [])
    n_rounds = len(starts)
    bounds = list(zip(starts, starts[1:] + [traced.detail.get("end", 0.0)]))
    in_rounds = [v for v in jobs.values() if any(a <= v["start"] < b for a, b in bounds)]
    stages = {s for v in in_rounds for s in v["stages"] if s in log["stages"]}
    intervals = [(v["start"], v["end"] or v["start"]) for v in jobs.values()]
    per_round = max(1, n_rounds)
    m["crawl.rounds"] = n_rounds
    p50, p90 = step_percentiles([traced]) if n_rounds else (0.0, 0.0)
    m["crawl.round_s_p50"], m["crawl.round_s_p90"] = p50, p90
    m["crawl.jobs_per_round"] = len(in_rounds) / per_round if n_rounds else 0.0
    m["crawl.stages_per_round"] = len(stages) / per_round if n_rounds else 0.0
    m["crawl.driver_gap_s"] = (
        sum(uncovered(b, intervals) for b in bounds) / per_round if n_rounds else 0.0
    )

    for layer in ("politeness", "fetch", "linkfilter", "seen"):
        m[f"{layer}.plan_s"] = span_sum(
            lambda s, k=layer + ".": s["name"].startswith(k) and s["kind"] == "plan"
        )
        m[f"{layer}.self_s"] = selfs.get(layer, {}).get("self_s", 0.0)
    pol, fet, lf, seen = (
        selfs.get(k, {"rows_in": 0, "rows_out": 0})
        for k in ("politeness", "fetch", "linkfilter", "seen")
    )
    m["politeness.rows_in"] = pol["rows_in"]
    m["politeness.rows_out"] = pol["rows_out"]
    m["fetch.rows_out"] = fet["rows_out"]
    results_jobs = [j for j, v in jobs.items() if v["group"].endswith("|tables.write:results")]
    rt = spark_totals(log, results_jobs, CORES)
    m["fetch.shuffle_bytes"] = rt["spark.shuffle_read_bytes"] + rt["spark.shuffle_write_bytes"]
    m["extract.udf_s"] = udf_s
    m["linkfilter.cand_per_page"] = lf["rows_in"] / fet["rows_out"] if fet["rows_out"] else 0.0
    m["seen.cand_in"] = seen["rows_in"]
    m["seen.new_out"] = seen["rows_out"]
    m["seen.useful_ratio"] = seen["rows_out"] / seen["rows_in"] if seen["rows_in"] else 0.0
    m["seen.seen_rows"] = max(
        [c["kwargs"].get("seen_rows") or 0 for c in tracer.calls if c["layer"] == "seen"], default=0
    )

    writes = [s for s in tracer.spans if s["name"] == "tables.write"]
    m["tables.writes"] = len(writes)
    m["tables.write_s"] = sum(s["dur"] for s in writes)
    m["tables.bytes_written"] = sum(s.get("bytes", 0) for s in writes)
    m["tables.files_written"] = sum(s.get("files", 0) for s in writes)
    m["tables.read_s"] = span_sum(lambda s: s["name"] in ("tables.read", "tables.read_many"))
    m["tables.row_count_s"] = span_sum(lambda s: s["name"] == "tables.row_count")
    m["tables.ckpt_bytes_per_url"] = traced.detail.get("ckpt_bytes_per_url", 0.0)

    q = traced.detail.get("queries", {})
    for name in MIX:
        m[f"q.{name}.s"] = q.get(name, 0.0)
        # executor time of the query's jobs: next to its wall (q.<name>.s)
        # it shows how much of the query is data work rather than driver
        # planning and job scheduling
        q_jobs = [j for j, v in jobs.items() if v["group"].endswith(f"|q.{name}")]
        m[f"q.{name}.task_s"] = spark_totals(log, q_jobs, CORES)["spark.task_run_s"]
    for fam, names in MIX_FAMILIES.items():
        m[f"{fam}.s"] = sum(q.get(n, 0.0) for n in names)
    return m


def layer_unit(name: str) -> str:
    if name.endswith("_per_url"):
        return "B/url"
    if name.endswith(("_s", ".s", "_s_p50", "_s_p90")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_ratio")):
        return "ratio"
    return "count"


class _Counts:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, ops: int, failed: int) -> None:
        self.attempted += ops
        self.failed += failed


def run(args, work: str, cache: str, out_dir: str) -> tuple[dict, dict]:
    from .procmon import TreeMonitor, cpu_probe_s
    from .trace import Tracer, instrumented, read_event_log, self_times
    from .workloads import WORKLOADS

    wl = WORKLOADS[args.workload](cache, work, args.seed)
    t_run = time.monotonic()
    t0 = time.perf_counter()
    gen = wl.gen()
    gen_s = time.perf_counter() - t0
    detail: dict = {"workload": args.workload, "seed": args.seed, "inputs": gen, "cores": CORES}
    counts = _Counts()
    passes, traced, layers = [], None, None

    mon = TreeMonitor()
    t0 = time.perf_counter()
    spark, start_s, warm_s, warm_failed = start_session(work, args.trace)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        wl.warm()
        setup_s = session_s + time.perf_counter() - t0
        detail.update(
            gen_s=gen_s, setup_s=setup_s, session_start_s=start_s, session_warm_s=warm_s
        )
        # the set-up is an operation: a silently cold session fails it
        counts.add(1, int(warm_failed))
        detail["cpu_probe_s"] = cpu_probe_s()

        # timed passes: at least one, until --seconds of pass time. A
        # traced run times one untraced pass, the baseline of the
        # tracing overhead
        timed = 0.0
        while not passes or (not args.trace and timed < args.seconds):
            if time.monotonic() - t_run > MAX_RUN_S:
                break
            try:
                p = wl.run_pass(mon)
                wl.check(p)
            except Exception as e:  # the pass raised: one failed operation
                print(f"pass raised: {e!r}", flush=True)
                counts.add(1, 1)
                break
            counts.add(p.ops, p.failed_ops)
            passes.append(p)
            timed += p.wall_s

        if args.trace and passes:
            tracer = Tracer(spark, f"{args.workload}-s{args.seed}-{os.getpid()}")
            wl.tracer = tracer
            with instrumented(tracer) as acc:
                traced = wl.run_pass(mon)
            wl.tracer = None
            # re-run the layers before the check drops the checkpoint
            # their captured inputs read from
            selfs = self_times(tracer)
            wl.check(traced)
            counts.add(traced.ops, traced.failed_ops)
            app_id = spark.sparkContext.applicationId
            udf_s = acc.value

        if passes:
            extra, failed = wl.finish(passes + ([traced] if traced else []), bool(args.trace))
            detail.update(extra)
            counts.add(0, failed)
    finally:
        stop_session(spark)

    if traced is not None:
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"))
        (log_path,) = glob.glob(os.path.join(work, "eventlog", app_id + "*"))
        session = {"start_s": start_s, "warm_s": warm_s}
        layers = layer_metrics(
            tracer, traced, passes[-1], selfs, udf_s, session, read_event_log(log_path)
        )

    detail["passes"] = [
        {
            "wall_s": p.wall_s,
            "items": p.items,
            "steps": p.steps,
            "region": p.region,
            **{k: v for k, v in p.detail.items() if k not in ("round_starts", "end")},
        }
        for p in passes
    ]
    detail["fail_frac"] = counts.failed / max(1, counts.attempted)
    if passes:
        detail["step_s_p50"], detail["step_s_p90"] = step_percentiles(passes)
    if layers is not None:
        metrics = {k: (v, layer_unit(k)) for k, v in layers.items()}
    elif passes:
        metrics = e2e_metrics(setup_s, passes)
    else:
        metrics = {}
    result = {
        "correct": counts.failed == 0 and bool(passes),
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def run_all(args, names: list[str]) -> int:
    """``--workload all``: each workload in its own process, one after
    the other; prints each result line, then every metric by
    ``<workload>.<metric>`` with the fail fraction over all of them."""
    import subprocess

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name]
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds)]
        out = subprocess.run(cmd + ["--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"perfbench: {name} exited {out.returncode}", file=sys.stderr)
            return out.returncode or 1
        r = json.loads(lines[-1])
        print(json.dumps({"workload": name, **r}), flush=True)
        summary["correct"] = summary["correct"] and r["correct"]
        summary["attempted"] += r["attempted"]
        summary["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = v
    summary["fail_frac"] = summary["failed"] / max(1, summary["attempted"])
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    from_ = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    from_.add_argument("--workload", required=True)
    from_.add_argument("--seed", type=int, required=True)
    from_.add_argument("--seconds", type=float, required=True)
    from_.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = from_.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "walker_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )):
        print("perfbench: run from the root of a walker_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the program's knobs come from the environment, and some modules
    # read theirs at import; none may change what a run measures, so they
    # are cleared, and the few the benchmark needs set, before anything
    # of the program or the benchmark is imported
    for k in [k for k in os.environ if k.startswith(("WALKER_SPARK_", "SPARK_GRAFT_"))]:
        del os.environ[k]
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        WALKER_SPARK_WARM_DEBUG="1",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload == "all":
            return run_all(args, list(WORKLOADS))
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        from perfbench import run as runmod

        result, detail = runmod.run(
            args, work, os.path.join(ROOT, ".perfbench_cache"), os.path.join(ROOT, ".perfbench_out")
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
