"""Spans around the engine's public entry points, and Spark's own event log.

The traced run wraps, from outside the package, the eager calls the crawl
engine makes into its layers: ``TableIO.write_table`` /
``write_table_delta`` / ``read_table`` / ``commit_round``,
``frontier.global_sequence`` and the seen-store append returned by
``seen.filter_and_update_abucket_flagged``.  Each call becomes a span
(name, start, end, parent); spans are kept in memory and written out when
the run ends.  Task and job counts come from the event log Spark writes
when ``spark.eventLog.enabled`` is on, attributed to a span by time
window (a task belongs to the span its launch time falls in).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's .crc/_SUCCESS markers
    are not counted as files."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            if not f.startswith((".", "_")):
                n_files += 1
    return n_bytes, n_files


class Tracer:
    """In-memory span recorder.  ``op`` spans (rounds, admission passes,
    isolated layer passes) are opened by the benchmark's main thread; the
    engine's pooled writes run on its own driver threads, so a wrapped
    call's parent is the innermost span open on its thread, else the
    current op span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        #: (parent op id, candidates DataFrame) of every admission pass;
        #: counted after the run so the count adds no job inside an op
        self.admissions: list[tuple[int | None, object]] = []
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float) -> None:
        """A span whose start was taken on another call (the admission
        pass opens in one engine call and completes in another)."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._op, "start": start, "end": end})

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level operation span: every wrapped call made while it is
        open, on any thread, is parented to it."""
        with self.span(name, **attrs) as rec:
            prev, self._op = self._op, rec["id"]
            try:
                yield rec
            finally:
                self._op = prev

    # -- wrappers ----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        # a class keeps its raw attribute (a staticmethod stays one)
        orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from geocrawl_spark import checkpoint, frontier, seen

        tracer = self
        TableIO = checkpoint.TableIO
        write_table = TableIO.write_table
        write_table_delta = TableIO.write_table_delta
        read_table = TableIO.read_table
        commit_round = TableIO.commit_round
        global_sequence = frontier.global_sequence
        flagged = seen.filter_and_update_abucket_flagged
        stats_dict = frontier.CrawlEngine._stats_dict
        admit_start: list[float] = []

        def traced_write(io, df, name, round_no):
            with tracer.span("checkpoint.write", table=name, round=round_no) as s:
                write_table(io, df, name, round_no)
            s["bytes"], s["files"] = tree_bytes_files(io._table_path(name, round_no))

        def traced_write_delta(io, df, name, round_no, *a, **kw):
            with tracer.span("checkpoint.write", table=name, round=round_no) as s:
                write_table_delta(io, df, name, round_no, *a, **kw)
            s["bytes"], s["files"] = tree_bytes_files(io._table_path(name, round_no))

        def traced_read(io, spark, name, round_no=None):
            with tracer.span("checkpoint.read", table=name) as s:
                df = read_table(io, spark, name, round_no)
            s["files"] = len(df.inputFiles())
            return df

        def traced_commit(io, round_no, tables):
            with tracer.span("checkpoint.commit", round=round_no):
                commit_round(io, round_no, tables)

        def traced_gseq(*a, **kw):
            with tracer.span("frontier.global_sequence"):
                return global_sequence(*a, **kw)

        # the admission pass runs from the seen-filter call until the
        # engine has collected its per-kind stats (_stats_dict) — the
        # collect is what materializes the persisted admission result
        def traced_flagged(*a, **kw):
            admit_start.append(time.time())
            tracer.admissions.append((tracer._op, a[0]))
            out, stats, append_fn = flagged(*a, **kw)

            def traced_append() -> None:
                with tracer.span("seen.persist"):
                    append_fn()

            return out, stats, traced_append

        def traced_stats(stats_df):
            out = stats_dict(stats_df)
            if admit_start:
                tracer.record("seen.admit", admit_start.pop(), time.time())
            return out

        self._patch(TableIO, "write_table", traced_write)
        self._patch(TableIO, "write_table_delta", traced_write_delta)
        self._patch(TableIO, "read_table", traced_read)
        self._patch(TableIO, "commit_round", traced_commit)
        self._patch(frontier, "global_sequence", traced_gseq)
        self._patch(seen, "filter_and_update_abucket_flagged", traced_flagged)
        self._patch(frontier.CrawlEngine, "_stats_dict", staticmethod(traced_stats))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- span queries --------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def under(self, sid: int | None, roots: set[int]) -> bool:
        """Whether span ``sid`` is one of ``roots`` or below one."""
        by_id = {s["id"]: s for s in self.spans}
        while sid is not None and sid not in roots:
            sid = by_id[sid]["parent"]
        return sid is not None

    def descendants(self, root: dict, name: str) -> list[dict]:
        """Spans called ``name`` anywhere below ``root``."""
        return [s for s in self.named(name)
                if s["id"] != root["id"] and self.under(s["id"], {root["id"]})]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_TASK_END = '{"Event":"SparkListenerTaskEnd"'
_JOB_START = '{"Event":"SparkListenerJobStart"'


def read_event_log(log_dir: str) -> tuple[list[dict], list[float]]:
    """(tasks, job submission times) from every event log under
    ``log_dir``.  Only task-end and job-start lines are decoded; the SQL
    plan events that make up most of the file are skipped by prefix."""
    tasks: list[dict] = []
    jobs: list[float] = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith(_TASK_END):
                    e = json.loads(line)
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    })
                elif line.startswith(_JOB_START):
                    jobs.append(json.loads(line)["Submission Time"] / 1000.0)
    return tasks, jobs


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_window(items: list[dict], span: dict) -> list[dict]:
    return [t for t in items if span["start"] <= t["start"] <= span["end"]]


def task_skew(tasks: list[dict], min_tasks: int) -> float:
    """Largest max/median task time over the stages with at least
    ``min_tasks`` tasks (1.0 when no stage qualifies)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    ratios = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) >= min_tasks and statistics.median(d) > 0
    ]
    return max(ratios, default=1.0)
