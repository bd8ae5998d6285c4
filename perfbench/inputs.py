"""Seeded benchmark inputs, generated without Spark and cached per seed.

Every input is a pure function of its ``(kind, seed, size)`` key. The
crawl sites come from the program's own synthetic generator
(``sources.synthetic.gen_host_pages``) written with pyarrow, so the
Spark session that is measured never runs the generation. The expected
outputs of each crawl are computed here too, from the generated pages,
by the reference code (``dispatcher``, ``functions.extract``,
``linkcore``); the analytics tables are checked later against their
DuckDB oracles.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time
import zlib
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from walker_spark.config import CrawlConfig, Target
from walker_spark.dispatcher import ReferenceDispatcher
from walker_spark.sources.synthetic import (
    SiteSpec,
    build_store,
    gen_host_pages,
    host_name,
    page_count_per_host,
    page_url,
)

CACHE_VERSION = "v4"
AGENT = "walker-spark"


def url_fingerprint(urls) -> str:
    """Order-free fingerprint of a URL set (sha256 of the sorted list)."""
    h = hashlib.sha256()
    for u in sorted(urls):
        h.update(u.encode())
        h.update(b"\n")
    return h.hexdigest()


# every host is seeded with its root and its five section listing roots
# (pages 0-5): the generator gives any page, the root too, a 2% chance of
# "nofollow", and a host seeded with a nofollow root alone is cut off
# after one page, so the crawl's URL count, and with it items/s, would
# hinge on the seed
SEED_PAGES = 6


def seed_urls(spec: SiteSpec, h: int) -> list[str]:
    return [page_url(spec, h, i) for i in range(SEED_PAGES)]


def crawl_conf(spec: SiteSpec, host_budget: int, max_rounds: int = 0, h: int = 0) -> CrawlConfig:
    return CrawlConfig(
        target=Target(
            base_url=f"https://{host_name(h)}",
            paths=[urlsplit(u).path for u in seed_urls(spec, h)],
        ),
        host_budget=host_budget,
        agent=AGENT,
        group_header="group",
        max_rounds=max_rounds,
    )


def _cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Return ``(dir, meta)`` for ``key``, building it once; ``meta``
    carries ``gen_s``, the generation time of the first build."""
    d = os.path.join(cache_root, CACHE_VERSION, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_hit"] = True
        return d, meta
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, d)
    meta["cache_hit"] = False
    return d, meta


def _site_rows(spec: SiteSpec) -> tuple[list[dict], list[dict]]:
    counts = page_count_per_host(spec)
    pages, redirects = [], []
    for h in range(spec.n_hosts):
        for row in gen_host_pages(spec, h, counts[h], counts):
            (redirects if row["redirect_to"] else pages).append(row)
    return pages, redirects


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer: Spark's
    ``xxhash64`` of a string column (seed 42) read unsigned."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _write_site(d: str, spec: SiteSpec, pages: list[dict], redirects: list[dict]) -> None:
    """The pages and redirect-edge tables of ``write_pages_tables``, with
    the same columns and file spread (pages hashed by url over
    ``max(8, pages/1000)`` files), written with pyarrow: that function
    generates through a Spark job, and the inputs are made before the
    measured session starts, without a JVM of their own."""
    n_files = min(256, max(8, sum(page_count_per_host(spec)) // 1000))
    buckets: list[list[dict]] = [[] for _ in range(n_files)]
    for p in pages:
        buckets[zlib.crc32(p["url"].encode()) % n_files].append(p)
    # pmod(xxhash64(host), 64), as write_pages_tables computes it
    host_hash = {h: xxhash64(h.encode()) % 64 for h in {p["host"] for p in pages}}
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("host", pa.string()),
            ("host_hash", pa.int64()),
        ]
    )
    pdir = os.path.join(d, "pages.parquet")
    os.makedirs(pdir)
    for i, rows in enumerate(buckets):
        t = pa.table(
            {
                "url": [r["url"] for r in rows],
                "warc_ts": [r["warc_ts_us"] for r in rows],
                "html": [r["html"] for r in rows],
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
                "host": [r["host"] for r in rows],
                "host_hash": [host_hash[r["host"]] for r in rows],
            },
            schema=schema,
        )
        pq.write_table(t, os.path.join(pdir, f"part-{i:05d}.parquet"))
    rdir = os.path.join(d, "redirect_edges.parquet")
    os.makedirs(rdir)
    pq.write_table(
        pa.table(
            {
                "src": pa.array([r["url"] for r in redirects], pa.string()),
                "code": pa.array([r["redirect_code"] for r in redirects], pa.int32()),
                "dst": pa.array([r["redirect_to"] for r in redirects], pa.string()),
                "host": pa.array([r["host"] for r in redirects], pa.string()),
            }
        ),
        os.path.join(rdir, "part-00000.parquet"),
    )


def multiround_site(
    cache_root: str, seed: int, n_hosts: int, n_pages: int, host_budget: int, max_rounds: int
):
    """Budgeted multi-host crawl site plus its oracle: the fetched count
    and seen-set fingerprint of ``dispatcher.ReferenceDispatcher`` with
    the same round cap, run per host and unioned (cross-host links are
    dropped by the same-host filter in both engines, so the union is
    exact)."""
    spec = SiteSpec(seed=seed, n_hosts=n_hosts, n_pages=n_pages)

    def build(d):
        pages, redirects = _site_rows(spec)
        _write_site(d, spec, pages, redirects)
        store = build_store(spec)
        with open(os.path.join(d, "robots.json"), "w") as f:
            json.dump(store.robots, f)
        seen: set[str] = set()
        fetched = 0
        rounds = 0
        for h in range(n_hosts):
            conf = crawl_conf(spec, host_budget, max_rounds=max_rounds, h=h)
            disp = ReferenceDispatcher(store, conf, multi_host=False)
            if disp.check_seeds():
                continue  # robots-forbidden seed: dropped in multi-host mode
            o = disp.run()
            seen |= o.seen
            fetched += len(o.results)
            rounds = max(rounds, o.rounds)
        return {
            "pages": len(pages),
            "fetched": fetched,
            "rounds": rounds,
            "seen_rows": len(seen),
            "seen_fp": url_fingerprint(seen),
        }

    key = f"site-s{seed}-{n_hosts}x{n_pages}-b{host_budget}-r{max_rounds}"
    return _cached(cache_root, key, build) + (spec,)


# the sf0.1 test data's documents table: 10-100 tokens drawn uniformly from these
# 30 words; about one document in twenty is a copy of another with the
# token "dup" appended
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DUP_FRAC = 0.05
_LANGS = ["en", "en", "de", "fr", "es", "zh"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def analytics_tables(cache_root: str, seed: int, n_docs: int, n_events: int, n_orders: int):
    """``documents``, ``events``, ``orders`` and ``lineitem`` with the
    columns the mix's queries and oracles read, the documents shaped like
    sf0.1's: uniform tokens from a 30-word vocabulary, and near
    duplicates that are copies of another document plus one token.

    Every near-duplicate pair therefore has a 3-gram shingle Jaccard far
    above ``dedup_minhash_lsh``'s 0.35 threshold. The
    query's LSH finds a pair near that threshold only by chance while
    its oracle is exact, so data with such pairs fails the check (see
    NOTES.md); this data, like sf0.1's, has none."""

    def build(d):
        rng = np.random.default_rng(seed)
        texts = [
            " ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101))))
            for _ in range(n_docs)
        ]
        for i in np.flatnonzero(rng.random(n_docs) < _DUP_FRAC):
            j = int(rng.integers(0, n_docs - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        docs = pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
                "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
        events = pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(seconds=float(s)) for s in secs], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
                "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
                "value": pa.array(np.round(rng.exponential(60.0, n_events), 2), pa.float64()),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        )
        okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
        status = np.array(["F", "O", "P"])[
            np.searchsorted([0.49, 0.98, 1.0], rng.random(n_orders))
        ]
        orders = pa.table({"o_orderkey": okeys, "o_orderstatus": status.tolist()})
        n_lines = rng.integers(1, 8, n_orders)
        lkeys = np.repeat(okeys, n_lines)
        n_li = len(lkeys)
        lineitem = pa.table(
            {
                "l_orderkey": lkeys,
                "l_partkey": pa.array(rng.integers(1, 2001, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(1, 101, n_li), pa.int64()),
                "l_linenumber": pa.array(
                    np.concatenate([np.arange(1, k + 1) for k in n_lines]), pa.int64()
                ),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), pa.float64()),
            }
        )
        for name, t in (
            ("documents", docs),
            ("events", events),
            ("orders", orders),
            ("lineitem", lineitem),
        ):
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        return {"documents": n_docs, "events": n_events, "orders": n_orders, "lineitem": n_li}

    return _cached(cache_root, f"tables-s{seed}-d{n_docs}-e{n_events}-o{n_orders}", build)
