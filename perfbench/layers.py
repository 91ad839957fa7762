"""Per-layer metrics of the traced run.

Two sources: the spans the tracer recorded around the engine's calls
during the window, with the event log's tasks and jobs attributed to them
by time, and isolated passes run after the window over the workload's own
data — one public entry point of a layer at a time
(``canonicalize_url_expr`` + ``host_expr``, ``pop_batch``, the text and
link UDFs, the parse stage, the catalog predicates).  Where a layer has
no input on a workload (no fetched pages, no assets, no metadata) its
pass is skipped and its metrics read 0.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
import time

from pyspark.sql import functions as F

from geocrawl_spark import assets as A
from geocrawl_spark import gdalmeta as G
from geocrawl_spark import parsers as P
from geocrawl_spark import politeness as pol
from geocrawl_spark.canon import canonicalize_url_expr, host_expr
from geocrawl_spark.catalog import MetadataCatalog
from geocrawl_spark.frontier import read_all_rounds
from geocrawl_spark.geometry import polygon_wkt_expr

from tracing import in_window, read_event_log, task_skew, tree_bytes_files, union_s

#: name -> (unit, better); BENCHMARK.json's per_layer list mirrors this.
LAYER_METRICS = {
    "frontier.round_s": ("s", "lower"),
    "frontier.init_s": ("s", "lower"),
    "frontier.jobs_per_round": ("count", "lower"),
    "frontier.driver_wait_s": ("s", "lower"),
    "frontier.task_busy_s": ("s", "lower"),
    "frontier.gseq_s": ("s", "lower"),
    "frontier.deferred_ratio": ("ratio", "lower"),
    "frontier.pages_per_s": ("pages/s", "higher"),
    "checkpoint.write_calls": ("count", "lower"),
    "checkpoint.write_wall_s": ("s", "lower"),
    "checkpoint.files_written": ("count", "lower"),
    "checkpoint.bytes_written": ("B", "lower"),
    "checkpoint.commit_s": ("s", "lower"),
    "checkpoint.read_s": ("s", "lower"),
    "checkpoint.files_read": ("count", "lower"),
    "seen.candidates": ("urls", "higher"),
    "seen.dedup_ratio": ("ratio", "higher"),
    "seen.admit_s": ("s", "lower"),
    "seen.persist_s": ("s", "lower"),
    "seen.store_files": ("count", "lower"),
    "seen.shuffle_bytes": ("B", "lower"),
    "canon.urls_per_s": ("urls/s", "higher"),
    "politeness.pop_s": ("s", "lower"),
    "politeness.task_skew": ("ratio", "lower"),
    "robots.denied_ratio": ("ratio", "higher"),
    "assets.extract_s": ("s", "lower"),
    "assets.pages_per_s": ("pages/s", "higher"),
    "assets.links_per_page": ("links/page", "higher"),
    "parse.assets_per_s": ("assets/s", "higher"),
    "parse.dead_letter_ratio": ("ratio", "lower"),
    "catalog.within_s": ("s", "lower"),
    "catalog.timerange_s": ("s", "lower"),
    "catalog.both_s": ("s", "lower"),
    "catalog.rows_scanned_per_row": ("ratio", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "trace.window_s": ("s", "lower"),
    "trace.spill_bytes": ("B", "lower"),
    "trace.gc_s": ("s", "lower"),
}

#: catalog queries per kind in the traced run
N_QUERIES = 3


def window_ops(tracer) -> list[dict]:
    """The timed operations: admit_bulk's admission ops, else the crawl's
    rounds (crawl_graph commits round 0 in set-up)."""
    return tracer.named("admit_bulk.op") or [
        r for r in tracer.named("frontier.run_round") if r["round"] >= 1
    ]


def _timed(tracer, name: str, fn):
    t = time.perf_counter()
    with tracer.op(name):
        res = fn()
    return res, time.perf_counter() - t


# ---------------------------------------------------------------------------
# isolated passes
# ---------------------------------------------------------------------------

def run_passes(b, out) -> dict:
    """Run after the window, inside the traced session; every pass is an
    op span of its own.  Catalog query checks count into ``out``."""
    tr, spark, eng = b.tracer, b.spark, out.engine
    res: dict = {}

    # admission inputs entering the seen filter, counted per window op
    ops = {s["id"] for s in window_ops(tr)}
    res["candidates"] = [
        df.count() for parent, df in tr.admissions if tr.under(parent, ops)
    ]

    raw = out.raw_urls
    _, dt_canon = _timed(tr, "canon.pass", lambda: raw.select(
        host_expr(canonicalize_url_expr(F.col("url"))).alias("h")
    ).write.format("noop").mode("overwrite").save())
    res["canon.urls_per_s"] = out.n_raw / dt_canon

    pending = (
        eng.io.read_table(spark, "frontier", 0)
        .filter(F.col("status") == "pending")
        .select("url", "host", "depth", "priority", "discovered_round")
    )
    _, res["politeness.pop_s"] = _timed(tr, "politeness.pass", lambda: pol.pop_batch(
        pending, eng.hostbudget, eng.salt
    ).write.format("noop").mode("overwrite").save())

    fetched = (
        eng.io.read_table(spark, "frontier")
        .filter(F.col("status") == "fetched")
        .select("url")
        .join(eng.pages.select("url", "html"), "url")
        .persist()
    )
    n_pages = fetched.count()
    if n_pages:
        row, dt_ext = _timed(tr, "assets.pass", lambda: fetched.select(
            F.length(A.extract_text_udf("html")).alias("t"),
            F.size(A.extract_links_udf("html")).alias("l"),
        ).agg(F.sum("t"), F.sum("l")).collect()[0])
        res["assets.extract_s"] = dt_ext
        res["assets.pages_per_s"] = n_pages / dt_ext
        res["assets.links_per_page"] = row[1] / n_pages
    fetched.unpersist()

    admitted = read_all_rounds(spark, eng.io, "admitted")
    asset_urls = (
        admitted.filter(F.col("kind") == "asset")
        .select(F.col("url").alias("asset_url"))
        .persist()
    )
    n_assets = asset_urls.count()
    if n_assets:
        def parse():
            parsed = asset_urls.withColumn("parse", P.parse_name_expr(F.col("asset_url")))
            ds = G.extract_gdal_metadata(
                parsed.filter(F.col("parse.pattern").isNotNull()), "asset_url"
            )
            return ds.select(
                polygon_wkt_expr(F.col("geotransform"), F.col("x_size"), F.col("y_size"))
            ).count()

        _, dt_parse = _timed(tr, "parse.pass", parse)
        res["parse.assets_per_s"] = n_assets / dt_parse
    asset_urls.unpersist()

    res.update(catalog_queries(b, out))
    return res


# ---------------------------------------------------------------------------
# catalog queries, checked against plain Python
# ---------------------------------------------------------------------------

def _corners(gt, xs, ys):
    """catalog.footprint_corners in plain Python, same operation order."""
    xs, ys = float(xs), float(ys)
    return [
        (gt[0], gt[3]),
        (gt[0] + xs * gt[1], gt[3] + xs * gt[4]),
        (gt[0] + xs * gt[1] + ys * gt[2], gt[3] + xs * gt[4] + ys * gt[5]),
        (gt[0] + ys * gt[2], gt[3] + ys * gt[5]),
    ]


def _in_ring(x, y, ring) -> bool:
    """catalog.point_in_convex_polygon in plain Python."""
    crosses = []
    for i in range(len(ring)):
        (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % len(ring)]
        crosses.append((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1))
    return all(c >= 0 for c in crosses) or all(c <= 0 for c in crosses)


def _within(row, ring) -> bool:
    gt = row["gt"]
    return gt is not None and all(
        _in_ring(x, y, ring) for x, y in _corners(gt, row["xs"], row["ys"])
    )


def _in_range(row, lo: int, hi: int) -> bool:
    return any(lo <= t < hi for t in row["ts"] or [] if t is not None)


def _micros(s: str) -> int:
    t = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
    return (t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)


def catalog_queries(b, out) -> dict:
    """A seeded mix of find_within (random convex quads around real
    footprints), find_in_timerange and their conjunction over the crawl's
    committed metadata; each query's rows must equal a plain-Python
    evaluation of the same predicate over the collected metadata."""
    spark, tr = b.spark, b.tracer
    cat = MetadataCatalog(spark, out.engine.io)
    meta = cat.metadata()
    if meta is None:
        return {}
    rows = [
        r.asDict()
        for r in meta.select(
            "asset_url", "ds_name",
            F.col("geotransform").alias("gt"),
            F.col("x_size").alias("xs"), F.col("y_size").alias("ys"),
            F.transform("timestamps", lambda t: F.unix_micros(t)).alias("ts"),
        ).collect()
    ]
    with_gt = [r for r in rows if r["gt"] is not None]
    # range ends come from real post-1970 stamps (the Go zero time
    # 0001-01-01 marks "no time" in the metadata)
    stamps = sorted(t for r in rows for t in (r["ts"] or []) if t is not None and t > 0)
    if not with_gt or not stamps:
        return {}
    rng = random.Random(b.seed)

    def quad():
        # a rotated rectangle around a real footprint, 0.5x-4x its extent
        r = rng.choice(with_gt)
        xs, ys = zip(*_corners(r["gt"], r["xs"], r["ys"]))
        cx, cy = statistics.fmean(xs), statistics.fmean(ys)
        size = max(max(xs) - min(xs), max(ys) - min(ys), 1e-9)
        w, h = size * rng.uniform(0.25, 2), size * rng.uniform(0.25, 2)
        a = rng.uniform(0, math.pi)
        c, s = math.cos(a), math.sin(a)
        return [(cx + c * dx - s * dy, cy + s * dx + c * dy)
                for dx, dy in ((-w, -h), (w, -h), (w, h), (-w, h))]

    def fmt(m: int) -> str:
        return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=m)).strftime(
            "%Y-%m-%d %H:%M:%S")

    def trange():
        lo, hi = sorted(rng.sample(stamps, 2))
        return fmt(lo), fmt(hi + 1_000_000)

    res: dict = {}
    returned = 0
    for kind in ("within", "timerange", "both"):
        times = []
        for _ in range(N_QUERIES):
            ring = quad()
            t0, t1 = trange()
            lo, hi = _micros(t0), _micros(t1)
            if kind == "within":
                query, want = (lambda: cat.find_within(ring)), (lambda r: _within(r, ring))
            elif kind == "timerange":
                query, want = (lambda: cat.find_in_timerange(t0, t1)), (
                    lambda r: _in_range(r, lo, hi))
            else:
                query, want = (lambda: cat.find_within_and_timerange(t0, t1, ring)), (
                    lambda r: _within(r, ring) and _in_range(r, lo, hi))
            # latency from the call (checkpoint listing included) until
            # the rows are collected
            got, dt_q = _timed(tr, f"catalog.{kind}", lambda: sorted(
                (r["asset_url"], r["ds_name"])
                for r in query().select("asset_url", "ds_name").collect()))
            times.append(dt_q)
            out.attempted += 1
            out.failed += got != sorted((r["asset_url"], r["ds_name"]) for r in rows if want(r))
            returned += len(got)
        res[f"catalog.{kind}_s"] = statistics.median(times)
    res["catalog.rows_scanned_per_row"] = len(rows) * 3 * N_QUERIES / max(1, returned)
    return res


# ---------------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------------

def per_layer(tracer, trace_dir: str, out, passes: dict, cpus: int) -> dict:
    tasks, jobs = read_event_log(trace_dir)
    job_spans = [{"start": t} for t in jobs]
    ops = window_ops(tracer)
    ids = {op["id"] for op in ops}
    rounds = [s for s in tracer.named("frontier.run_round") if tracer.under(s["id"], ids)]
    # crawl_graph's only init_state is set-up; admit_bulk runs one per op
    inits = [s for s in tracer.named("frontier.init_state") if tracer.under(s["id"], ids)]
    inits = inits or tracer.named("frontier.init_state")

    def per_op(fn):
        return statistics.median(fn(op) for op in ops) if ops else 0.0

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans)

    def busy(op):
        return union_s([(max(t["start"], op["start"]), min(t["end"], op["end"]))
                       for t in in_window(tasks, op)])

    def admit_shuffle(op):
        return sum(t["shuffle_bytes"] for a in tracer.descendants(op, "seen.admit")
                   for t in in_window(tasks, a))

    c = out.counters
    fetched = sum(x["fetched"] for x in c)
    deduped = sum(x["deduped"] for x in c)
    fresh = out.urls_tested - deduped
    popped = sum(x["fetched"] + x["missing"] + x["deferred_politeness"] for x in c)
    parsed = sum(x["assets_extracted"] + x["dead_letters"] for x in c)
    cands = passes.get("candidates") or [0]
    win_tasks = [t for op in ops for t in in_window(tasks, op)]
    m = {
        "frontier.round_s": statistics.median(r["end"] - r["start"] for r in rounds),
        "frontier.init_s": statistics.median(s["end"] - s["start"] for s in inits),
        "frontier.jobs_per_round": per_op(lambda op: len(in_window(job_spans, op))),
        "frontier.driver_wait_s": per_op(lambda op: op["end"] - op["start"] - busy(op)),
        "frontier.task_busy_s": per_op(busy),
        "frontier.gseq_s": per_op(
            lambda op: dur(tracer.descendants(op, "frontier.global_sequence"))),
        "frontier.deferred_ratio": sum(x["deferred_politeness"] for x in c) / max(1, popped),
        "frontier.pages_per_s": fetched / dur(rounds),
        "checkpoint.write_calls": per_op(
            lambda op: len(tracer.descendants(op, "checkpoint.write"))),
        "checkpoint.write_wall_s": per_op(lambda op: union_s(
            [(s["start"], s["end"]) for s in tracer.descendants(op, "checkpoint.write")])),
        "checkpoint.files_written": per_op(
            lambda op: sum(s["files"] for s in tracer.descendants(op, "checkpoint.write"))),
        "checkpoint.bytes_written": per_op(
            lambda op: sum(s["bytes"] for s in tracer.descendants(op, "checkpoint.write"))),
        "checkpoint.commit_s": per_op(
            lambda op: dur(tracer.descendants(op, "checkpoint.commit"))),
        "checkpoint.read_s": per_op(
            lambda op: dur(tracer.descendants(op, "checkpoint.read"))),
        "checkpoint.files_read": per_op(
            lambda op: sum(s["files"] for s in tracer.descendants(op, "checkpoint.read"))),
        "seen.candidates": statistics.median(cands),
        "seen.dedup_ratio": 1 - fresh / max(1, sum(cands)),
        "seen.admit_s": per_op(lambda op: dur(tracer.descendants(op, "seen.admit"))),
        "seen.persist_s": per_op(lambda op: dur(tracer.descendants(op, "seen.persist"))),
        "seen.store_files": tree_bytes_files(
            os.path.join(out.engine.io.base, "seen_store"))[1],
        "seen.shuffle_bytes": per_op(admit_shuffle),
        "robots.denied_ratio": sum(x["robots_denied"] for x in c) / max(1, fresh),
        "parse.dead_letter_ratio": sum(x["dead_letters"] for x in c) / max(1, parsed),
        "memory.peak_rss_mb": out.peak_rss_mb,
        "trace.window_s": out.window_s,
        "trace.spill_bytes": sum(t["spill_bytes"] for t in win_tasks),
        "trace.gc_s": sum(t["gc_s"] for t in win_tasks),
        "politeness.task_skew": task_skew(
            [t for s in tracer.named("politeness.pass") for t in in_window(tasks, s)], cpus),
    }
    m.update({k: v for k, v in passes.items() if k in LAYER_METRICS})
    return {k: (m.get(k, 0.0), unit) for k, (unit, _) in LAYER_METRICS.items()}
