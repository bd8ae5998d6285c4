"""The benchmark workloads.

Each workload has ``gen`` (its seeded inputs, cached), ``prepare``
(load them into the session; part of set-up), ``warm`` (the untimed
warm pass, also set-up), ``run_pass`` (one timed pass, returning its
wall time, work items and per-step times), ``check`` (the pass's
outputs against the reference, outside the timed region) and
``finish`` (run-level checks). Why each workload exists is in
``NOTES.md``.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import json
import os
import random
import shutil
import time

from . import inputs
from .trace import RoundClock, Tracer, dir_bytes

# multi-round crawl: Zipf(1.2) site, per-host budget binding on the hot
# host in round 4 and its leftover fetched in round 5, robots on. The
# site's link depth takes 6 or 7 rounds to fixpoint, depending on the
# seed; the last ones fetch a handful of pages each at a full round's
# fixed cost, so every pass stops after MULTI_ROUNDS rounds and the
# round count never varies with the seed
MULTI_HOSTS, MULTI_PAGES, MULTI_BUDGET, MULTI_ROUNDS = 6, 1200, 300, 5
WARM_ROUNDS = 1
# analytics tables. At 1000 documents most of the two text heavyweights'
# time is per-document gram work; more documents would not fit the time
# budget (both measured in NOTES.md)
DOCS, EVENTS, ORDERS = 1000, 10000, 7500

# the two text heavyweights whose time is mostly per-document gram work,
# the MinHash dedup and two walker reports; the fused PageRank (~10 s of
# plan recomputation per pass) and the text queries that are mostly fixed
# cost at this size are left out to fit the time budget (see NOTES.md)
MIX_FAMILIES = {
    "text": ["text_span_dedup", "text_decontaminate"],
    "dedup": ["dedup_minhash_lsh"],
    "reports": ["j3_broken_links", "a1_event_histogram"],
}
MIX = [q for qs in MIX_FAMILIES.values() for q in qs]


@dataclasses.dataclass
class PassResult:
    wall_s: float
    items: int  # fetched URLs, or result rows of the mix
    steps: list[float]  # crawl round walls, or per-query walls
    region: dict  # TreeMonitor region: cpu, peak rss, steal, external cpu
    ops: int = 1  # operations attempted in the pass
    failed_ops: int = 0
    detail: dict = dataclasses.field(default_factory=dict)
    ctx: object = None  # what check() needs: the crawler and its summary


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CrawlMultiround:
    """A BSP crawl of MULTI_ROUNDS rounds over the seeded site, one
    crawler per pass, each with its own checkpoint directory."""

    name = "crawl_multiround"

    def __init__(self, cache: str, work: str, seed: int):
        self.cache, self.work, self.seed = cache, work, seed
        self.tracer: Tracer | None = None
        self._k = 0

    def gen(self) -> dict:
        self.dir, self.meta, self.spec = inputs.multiround_site(
            self.cache, self.seed, MULTI_HOSTS, MULTI_PAGES, MULTI_BUDGET, MULTI_ROUNDS
        )
        return self.meta

    def prepare(self, spark) -> None:
        self.spark = spark
        with open(os.path.join(self.dir, "robots.json")) as f:
            self.robots = json.load(f)
        self.seeds = [u for h in range(self.spec.n_hosts) for u in inputs.seed_urls(self.spec, h)]
        self.pages = spark.read.parquet(os.path.join(self.dir, "pages.parquet"))
        self.redirects = spark.read.parquet(os.path.join(self.dir, "redirect_edges.parquet"))

    def _crawler(self, max_rounds: int = MULTI_ROUNDS):
        from walker_spark.plans.crawl import Crawler

        self._k += 1
        return Crawler(
            self.spark,
            inputs.crawl_conf(self.spec, MULTI_BUDGET, max_rounds=max_rounds),
            pages=self.pages,
            redirect_edges=self.redirects,
            robots_bodies=self.robots,
            checkpoint_dir=os.path.join(self.work, f"ckpt-{self._k}"),
            multi_host=True,
            seeds=self.seeds,
        )

    def warm(self) -> None:
        # the first round of the same crawl: every per-round plan shape
        # runs once, at a fifth of a full pass's rounds
        c = self._crawler(max_rounds=WARM_ROUNDS)
        c.run()
        shutil.rmtree(c.io.root, ignore_errors=True)

    def run_pass(self, mon) -> PassResult:
        crawler = self._crawler()
        clock = RoundClock()
        with clock.installed(self.tracer):
            mark = mon.begin()
            t0 = time.perf_counter()
            summary = crawler.run()
            t1 = time.perf_counter()
            region = mon.end(mark)
        res = PassResult(
            t1 - t0, summary["total_fetched"], clock.round_times(t1), region, ctx=(crawler, summary)
        )
        res.detail = {
            "round_starts": clock.epoch_starts,
            "end": time.time(),
            "rounds": summary["rounds"],
        }
        return res

    def check(self, res: PassResult) -> None:
        """Fetched count and seen-set fingerprint against the reference
        dispatcher, then drop the pass's checkpoint. A mismatch fails the
        pass's one operation."""
        c, summary = res.ctx
        seen = [r["url"] for r in c.seen_df().select("url").collect()]
        ok = (
            summary["total_fetched"] == self.meta["fetched"]
            and inputs.url_fingerprint(seen) == self.meta["seen_fp"]
        )
        res.detail["seen_rows"] = len(seen)
        res.detail["ckpt_bytes_per_url"] = dir_bytes(c.io.root)[0] / max(
            1, summary["total_fetched"]
        )
        res.failed_ops = 0 if ok else 1
        res.ctx = None
        shutil.rmtree(c.io.root, ignore_errors=True)

    def finish(self, passes: list[PassResult], trace: bool) -> tuple[dict, int]:
        """Run-level checks after the passes: none, each pass is checked
        on its own."""
        return {}, 0


def _check_oracle_module():
    """``scripts/check_oracle.py``'s comparison (``rows_key``), so the
    mix is checked exactly the way that script checks ``__spark_entry__``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join("scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticsMix:
    """A fixed query mix, materialized one query at a time through a
    noop sink by one closed-loop client; the seed permutes the order."""

    name = "analytics_mix"

    def __init__(self, cache: str, work: str, seed: int):
        self.cache, self.work, self.seed = cache, work, seed
        self.tracer: Tracer | None = None
        self.order = list(MIX)
        random.Random(seed).shuffle(self.order)
        self.rows: dict[str, int] = {}
        self.bad: set[str] = set()
        self.outputs: dict[str, tuple] = {}

    def gen(self) -> dict:
        self.dir, self.meta = inputs.analytics_tables(self.cache, self.seed, DOCS, EVENTS, ORDERS)
        return self.meta

    def prepare(self, spark) -> None:
        import __spark_entry__

        self.spark = spark
        self.qs = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def _one(self, name: str) -> float:
        t0 = time.perf_counter()
        _noop(self.qs[name](self.spark, self.dir))
        return time.perf_counter() - t0

    def warm(self) -> None:
        """The untimed warm pass collects every query's rows: the same
        plans as the timed passes, and the outputs :meth:`check_all`
        compares with the oracles."""
        for name in self.order:
            try:
                sdf = self.qs[name](self.spark, self.dir)
                self.outputs[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
            except Exception as e:  # a raising query fails its check
                print(f"query {name} raised: {e!r}", flush=True)

    def run_pass(self, mon) -> PassResult:
        steps, failed = [], 0
        mark = mon.begin()
        for name in self.order:
            try:
                if self.tracer is not None:
                    with self.tracer.span(f"q.{name}", kind="exec"), self.tracer.job_group(f"q.{name}"):
                        steps.append(self._one(name))
                else:
                    steps.append(self._one(name))
            except Exception as e:  # counted as a failed operation, reported below
                print(f"query {name} raised: {e!r}", flush=True)
                failed += 1
                steps.append(float("nan"))
        region = mon.end(mark)
        res = PassResult(
            region["wall_s"], 0, steps, region, ops=len(self.order), failed_ops=failed
        )
        res.detail = {"queries": dict(zip(self.order, steps))}
        return res

    def check(self, res: PassResult) -> None:
        """Outputs are checked once per run, in :meth:`finish`."""

    def finish(self, passes: list[PassResult], trace: bool) -> tuple[dict, int]:
        """Check every query against its oracle; a query whose check
        fails fails its run in every pass. Sets each pass's items (result
        rows); a traced run also records the count-sink times."""
        extra = {"checks": self.check_all()}
        if trace:
            extra["count_sink_s"] = self.count_sink_times()
        bad = len(self.bad)
        for p in passes:
            p.failed_ops += bad
            p.items = sum(self.rows.values())
        return extra, bad * len(passes)

    def check_all(self) -> dict:
        """The warm pass's rows of every query against its DuckDB oracle
        (``oracle_sql()``) over the same tables; sets the result-row
        counts used for items/s."""
        import duckdb

        rows_key = _check_oracle_module().rows_key
        con = duckdb.connect()
        for t in ("documents", "events", "orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        out = {}
        for name in self.order:
            scols, srows = self.outputs.get(name, (None, []))
            res = con.execute(self.oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = (
                scols is not None
                and sorted(scols) == sorted(dcols)
                and rows_key(scols, srows) == rows_key(dcols, drows)
            )
            self.rows[name] = len(srows)
            if not ok:
                self.bad.add(name)
            out[name] = {"ok": ok, "rows": len(srows)}
        con.close()
        return out

    def count_sink_times(self) -> dict[str, float]:
        """``df.count()`` time per query: unranked, kept only so earlier
        count-sink numbers stay comparable. Never mixed with noop times."""
        out = {}
        for name in self.order:
            t0 = time.perf_counter()
            self.qs[name](self.spark, self.dir).count()
            out[name] = time.perf_counter() - t0
        return out


WORKLOADS = {w.name: w for w in (CrawlMultiround, AnalyticsMix)}
