"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl_graph --seed 1 --seconds 40 --trace 0

Run from the repository root.  Builds the inputs of one workload from the
seed, sizes a local Spark session for this host (``local[<cores>]``, a
driver heap below physical memory), measures for about ``--seconds``
seconds, checks the engine's outputs and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log and the span wrappers, runs the isolated layer passes
and reports the per-layer metrics instead (see perfbench/README.md).
Scratch data lives under ``.bench_work/`` and is removed at exit, except
the traced run's span file.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB: well below RAM on
    a machine whose memory other processes share."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(4096, total // 4)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this driver, the JVM and its Python
    workers (each process's high-water mark, summed)."""
    me = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (me + sum(_hwm_kb(p) for p in descendants(os.getpid()))) / 1024.0


def make_session(work: str, cpus: int, trace_dir: str | None):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch write of the JVM and the Python workers stays inside
    # the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from geocrawl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace_dir:
        from tracing import EVENTLOG_CONF

        os.makedirs(trace_dir, exist_ok=True)
        conf.update(EVENTLOG_CONF, **{"spark.eventLog.dir": trace_dir})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    for it and every Python worker it started."""
    gw = spark.sparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    if gw.proc is not None:
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except Exception:
            gw.proc.kill()
            gw.proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def e2e_metrics(out, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "round_p50_s": (statistics.median(out.round_s), "s"),
        "urls_per_s": (out.urls_tested / out.window_s, "urls/s"),
        "state_bytes_per_url": (out.state_bytes / out.seen_urls, "B/url"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geocrawl_spark", "frontier.py")):
        print("perfbench: run from the repository root (geocrawl_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    cpus = host_cpus()
    tracer = None
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    spark = make_session(work, cpus, trace_dir)
    try:
        bench = workloads.Bench(spark, args.seed, args.seconds, work, cpus,
                                tracer=tracer, rss=peak_rss_mb)
        out = workloads.WORKLOADS[args.workload](bench)
        setup_s = bench.window_start - T_START
        if tracer is not None:
            import layers

            passes = layers.run_passes(bench, out)
    finally:
        stop_session(spark)
    if tracer is not None:
        metrics = layers.per_layer(tracer, trace_dir, out, passes, cpus)
        tracer.write(os.path.join(ROOT, ".bench_work", "traces", f"{run_id}.jsonl"))
    else:
        metrics = e2e_metrics(out, setup_s)
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} setup={setup_s:.2f}s "
          f"ops={[round(t, 2) for t in out.op_s]} window={out.window_s:.2f}s",
          file=sys.stderr)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
