"""The benchmark's workloads: seeded input generators, the timed window and
the output checks.

Every workload drives the production seen store (``mode="abucket"``)
through ``CrawlEngine``'s public calls.  An operation is one timed engine
call sequence (a crawl round, or one admission pass); it fails when it
raises or when its output check fails, and failures are counted, never
raised.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from geocrawl_spark import assets as A
from geocrawl_spark import gdalmeta as G
from geocrawl_spark import parsers as P
from geocrawl_spark import politeness as pol
from geocrawl_spark import synth
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine, global_sequence
from geocrawl_spark.geometry import polygon_wkt_expr
from geocrawl_spark.pyref import PyRefCrawl

from tracing import tree_bytes_files

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
ROBOTS_SCHEMA = "host string, disallow array<string>, allow array<string>"

#: Generator parameters, recorded in perfbench/README.md.
CRAWL_GRAPH = {
    "pages": 2000,
    "hosts": 16,
    "seed_every": 4,  # seed list: pages /p/{j} with j % seed_every == 0
    "budget": 32,     # per-host fetches per round
}
ADMIT_BULK = {
    "urls": 300_000,         # logical (distinct canonical) URLs
    "hosts": 1000,
    "variant_share": 0.25,   # logical URLs that also appear as a variant
    "private_share": 0.2,    # URLs under /private/
    "deny_host_share": 0.25,  # hosts whose robots rules disallow /private/
    "budget": (32, 96),      # per-host budget range [lo, hi)
}


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    op_s: list[float] = field(default_factory=list)
    round_s: list[float] = field(default_factory=list)
    window_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    urls_tested: int = 0      # distinct URLs the seen store decided on
    state_bytes: int = 0
    seen_urls: int = 0
    peak_rss_mb: float = 0.0
    counters: list[dict] = field(default_factory=list)  # per timed op
    engine: CrawlEngine | None = None
    raw_urls: object = None   # DataFrame of raw URL strings (column url)
    n_raw: int = 0


class Bench:
    """Per-run context: the session, the seed, the window length, the
    optional tracer and a scratch directory inside the checkout."""

    def __init__(self, spark, seed: int, seconds: int, work: str, cpus: int,
                 tracer=None, rss=None):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.cpus, self.tracer = work, cpus, tracer
        self.rss = rss or (lambda: 0.0)
        #: perf_counter() when the timed window opened (set-up ends there)
        self.window_start: float | None = None
        #: bucket count of the seen store, sized like the session's
        #: shuffle partitions (2 x cores) instead of the 64-bucket default
        self.n_buckets = 2 * cpus

    def op(self, name: str, **attrs):
        return self.tracer.op(name, **attrs) if self.tracer else nullcontext()

    def engine(self, base: str, **kw) -> CrawlEngine:
        return CrawlEngine(self.spark, base_dir=os.path.join(self.work, base),
                           mode="abucket", n_buckets=self.n_buckets, **kw)

    def window(self, op, limit: int) -> tuple[list[float], float, bool]:
        """Run ``op(i)`` until another op would, at the median op time so
        far, end past ``seconds``; at least one op.  ``op`` returns False
        when there was nothing left to do (not timed).  Returns (op times,
        window wall, completed) — completed is False when an op raised."""
        times: list[float] = []
        t0 = self.window_start = time.perf_counter()
        while len(times) < limit:
            t = time.perf_counter()
            try:
                more = op(len(times))
            except Exception:
                traceback.print_exc()
                return times, time.perf_counter() - t0, False
            if not more:
                break
            times.append(time.perf_counter() - t)
            elapsed = time.perf_counter() - t0
            if elapsed + statistics.median(times) > self.seconds:
                break
        return times, time.perf_counter() - t0, True


def _counters(c: dict) -> dict:
    return {k: int(c[k]) for k in COUNTER_KEYS}


# ---------------------------------------------------------------------------
# crawl_graph
# ---------------------------------------------------------------------------

def crawl_graph(b: Bench) -> Outcome:
    """Rounds over a small zipf link graph: per-round fixed cost dominates.

    Set-up builds the graph and commits round 0 (``init_state``); the
    window runs ``run_round`` calls.  Each round is checked against the
    pyref oracle run for the same number of rounds: its slice of the
    crawl order and its counters must match, and the last round also
    checks the seen set."""
    p = CRAWL_GRAPH
    pages = synth.gen_pages(p["pages"], p["hosts"], seed=b.seed)
    counts = synth.page_counts(p["pages"], p["hosts"])
    seeds = pd.DataFrame({"url": [
        synth.page_url(b.seed, i, j)
        for i in range(p["hosts"]) for j in range(0, counts[i], p["seed_every"])
    ]})
    robots = synth.gen_robots(p["hosts"], seed=b.seed)
    budget = pd.DataFrame({"host": [synth.host_name(i) for i in range(p["hosts"])],
                           "budget": p["budget"]})
    spark = b.spark
    eng = b.engine(
        "crawl",
        pages=spark.createDataFrame(pages, PAGES_SCHEMA),
        seeds=spark.createDataFrame(seeds),
        robots=spark.createDataFrame(robots, ROBOTS_SCHEMA),
        hostbudget=spark.createDataFrame(budget),
    )
    out = Outcome(engine=eng)
    with b.op("frontier.init_state", round=0):
        c0 = eng.init_state()
    engine_log = {0: _counters(c0)}
    warm_up(b, eng, pages)

    def one_round(i: int) -> bool:
        r = i + 1
        with b.op("frontier.run_round", round=r):
            c = eng.run_round(r)
        if c.pop("done"):
            return False
        engine_log[r] = _counters(c)
        return True

    out.round_s, out.window_s, completed = b.window(one_round, limit=50)
    out.op_s = out.round_s
    out.peak_rss_mb = b.rss()
    k = len(engine_log) - 1  # rounds the window completed
    out.attempted = 1 + len(out.round_s) + (0 if completed else 1)
    out.failed = 0 if completed else 1
    out.counters = [engine_log[r] for r in range(1, k + 1)]

    # -- checks (outside the window) -------------------------------------
    ref = PyRefCrawl(pages, seeds, robots, budget)
    ref.run(max_rounds=k)
    order, seen = eng.crawl_order(), eng.seen_urls()
    ref_log = {c["round"]: _counters(c) for c in ref.counters_log}
    for r in range(k + 1):
        ok = engine_log[r] == ref_log.get(r) and (
            [o for o in order if o[0] == r]
            == [o for o in ref.crawl_order if o[0] == r]
        )
        if r == k:
            ok = ok and seen == ref.seen_urls()
        out.failed += not ok
    out.seen_urls = len(seen)
    # URLs the seen store decided on in the window: the rounds' fresh
    # admissions (seen set minus round 0's) plus their store hits
    fresh0 = c0["discovered"] + c0["robots_denied"]
    out.urls_tested = len(seen) - fresh0 + sum(c["deduped"] for c in out.counters)
    out.state_bytes = tree_bytes_files(eng.io.base)[0]
    hrefs = [h for html in pages["html"] for h in A.extract_links_py(html)]
    out.raw_urls = spark.createDataFrame(pd.DataFrame({"url": hrefs}))
    out.n_raw = len(hrefs)
    return out


def warm_up(b: Bench, eng: CrawlEngine, pages: pd.DataFrame, n: int = 64) -> None:
    """Give the layers a round meets after ``init_state`` their first run
    on a small sample before the window: the politeness pop and
    ``global_sequence`` over the round-0 frontier, the text and link UDFs
    (Python worker start-up) and the parse stage."""
    spark = b.spark
    pending = (
        eng.io.read_table(spark, "frontier", 0)
        .filter(F.col("status") == "pending")
        .select("url", "host", "depth", "priority", "discovered_round")
    )
    global_sequence(
        pol.pop_batch(pending, eng.hostbudget, eng.salt), ["priority", "url"],
        os.path.join(b.work, "warmup_seq"),
    ).count()
    eng.pages.limit(n).select(
        A.extract_text_udf("html"), A.extract_links_udf("html")
    ).write.format("noop").mode("overwrite").save()
    hrefs = [h for html in pages["html"][:n] for h in A.extract_links_py(html)]
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_url": [h for h in hrefs if A.is_asset_py(h)] or ["x.tif"]})
    )
    parsed = assets.withColumn("parse", P.parse_name_expr(F.col("asset_url")))
    G.extract_gdal_metadata(
        parsed.filter(F.col("parse.pattern").isNotNull()), "asset_url"
    ).select(
        polygon_wkt_expr(F.col("geotransform"), F.col("x_size"), F.col("y_size"))
    ).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# admit_bulk
# ---------------------------------------------------------------------------

def gen_admit_bulk(seed: int, n: int = ADMIT_BULK["urls"]) -> dict:
    """Raw seed URLs with a known duplicate share and robots-denied share.

    ``n`` logical URLs over a skewed host distribution; a
    ``variant_share`` of them appear a second time as a canonicalization
    variant (upper-case scheme/host with an explicit :80 and a fragment,
    or a ``/./`` dot segment).  URLs under ``/private/`` on a
    ``deny_host_share`` of hosts are robots-denied.  Returns the raw
    list (shuffled), the robots and budget tables and the expected
    counts, all computed from the generator alone."""
    p = ADMIT_BULK
    rng = np.random.default_rng(seed)
    n_hosts = p["hosts"]
    host = (n_hosts * rng.random(n) ** 2).astype(np.int64)
    private = rng.random(n) < p["private_share"]
    variant = rng.random(n) < p["variant_share"]
    vkind = rng.random(n) < 0.5
    deny_host = rng.random(n_hosts) < p["deny_host_share"]
    budget = rng.integers(*p["budget"], size=n_hosts)
    urls, variants = [], []
    for i, (h, priv, var, vk) in enumerate(
        zip(host.tolist(), private.tolist(), variant.tolist(), vkind.tolist())
    ):
        path = f"/{'private' if priv else 'p'}/{i}.html"
        urls.append(f"http://host{h}.example.org{path}")
        if var:
            variants.append(
                f"HTTP://HOST{h}.Example.ORG:80{path}#v{i % 7}"
                if vk
                else f"http://host{h}.example.org/.{path}"
            )
    raw = urls + variants
    raw = [raw[j] for j in rng.permutation(len(raw)).tolist()]
    denied = private & deny_host[host]
    pending = np.bincount(host[~denied], minlength=n_hosts)
    names = [f"host{k}.example.org" for k in range(n_hosts)]
    return {
        "raw": raw,
        "robots": pd.DataFrame({
            "host": names,
            "disallow": [["/private/"] if d else [] for d in deny_host.tolist()],
            "allow": [[] for _ in range(n_hosts)],
        }),
        "budget": pd.DataFrame({"host": names, "budget": budget}),
        "allowed": int(n - denied.sum()),
        "denied": int(denied.sum()),
        "batch": int(np.minimum(budget, pending).sum()),
    }


def admit_bulk(b: Bench) -> Outcome:
    """Admission throughput: ``init_state`` + ``run_round(1)`` over a bulk
    raw seed list with an empty pages table, on a fresh checkpoint per op.
    There is no warm-up pass: a warm-up costs as much as the op itself
    (the fixed per-call cost dominates), which the run-time budget of the
    benchmark does not allow, so the first op carries the JVM's first use
    of these code paths, as a fresh crawl session does.

    Per-URL work runs through canonicalization, xxhash64, the seen
    store, the robots gate, the salted politeness pop and
    ``global_sequence``; extraction does nothing.  Each op checks that
    the admitted count is the generator's distinct non-denied count, the
    denied count its denied count, and the round-1 batch the sum over
    hosts of min(budget, pending)."""
    spark = b.spark
    g = gen_admit_bulk(b.seed)
    seeds = spark.createDataFrame(pd.DataFrame({"url": g["raw"]})).persist()
    seeds.count()
    robots = spark.createDataFrame(g["robots"], ROBOTS_SCHEMA).persist()
    budget = spark.createDataFrame(g["budget"]).persist()
    pages = spark.createDataFrame([], PAGES_SCHEMA)
    out = Outcome(raw_urls=seeds, n_raw=len(g["raw"]))

    results = []

    def one_op(i: int) -> bool:
        with b.op("admit_bulk.op", op=i):
            eng = b.engine(f"admit{i}", pages=pages, seeds=seeds, robots=robots,
                           hostbudget=budget)
            with b.op("frontier.init_state", round=0):
                c0 = eng.init_state()
            t = time.perf_counter()
            with b.op("frontier.run_round", round=1):
                c1 = eng.run_round(1)
            results.append((eng, c0, c1, time.perf_counter() - t))
        return True

    out.op_s, out.window_s, completed = b.window(one_op, limit=10)
    out.peak_rss_mb = b.rss()
    out.attempted = len(out.op_s) + (0 if completed else 1)
    out.failed = 0 if completed else 1
    for eng, c0, c1, t_round in results:
        out.round_s.append(t_round)
        ok = (
            c0["discovered"] == g["allowed"]
            and c0["robots_denied"] == g["denied"]
            and c1["fetched"] == 0
            and c1["missing"] == g["batch"]
            and c1["deferred_politeness"] == g["allowed"] - g["batch"]
        )
        out.failed += not ok
        out.counters.append({k: c0[k] + c1[k] for k in COUNTER_KEYS})
        out.urls_tested += c0["discovered"] + c0["robots_denied"] + c0["deduped"]
    out.seen_urls = g["allowed"] + g["denied"]
    if results:
        out.engine = results[-1][0]
        out.state_bytes = tree_bytes_files(out.engine.io.base)[0]
    return out


WORKLOADS = {"crawl_graph": crawl_graph, "admit_bulk": admit_bulk}
