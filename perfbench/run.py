"""Benchmark entry point: one seeded workload in one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric
with ``--trace 1``). The line before it records provenance. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "big_data_hw_23_24_spark"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}

_SPARK6 = (("s", "s"), ("jobs", "count"), ("tasks", "count"),
           ("shuffle_mb", "MB"), ("shuffle_records", "count"),
           ("cpu_s", "s"))


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    from perfbench.workloads import CORPUS_LAYERS, MIX

    m = {"session.get_session_s": "s", "session.first_action_s": "s",
         "session.peak_rss_mb": "MB"}
    for fn in (*CORPUS_LAYERS, "apps.corpus_pipeline.run"):
        m.update({f"{fn}.{k}": u for k, u in _SPARK6})
    m["sources.write_sorted_parquet.output_mb"] = "MB"
    m["sources.write_sorted_parquet.files"] = "count"
    m["operators.dedup.minhash_near_duplicates.precision"] = "ratio"
    m["operators.dedup.minhash_near_duplicates.recall"] = "ratio"
    for q in MIX:
        m[f"queries.{q}.build_ms"] = "ms"
        m[f"queries.{q}.run_ms"] = "ms"
        m[f"queries.{q}.jobs"] = "count"
    m.update({"total.jobs": "count", "total.tasks": "count",
              "total.shuffle_mb": "MB", "total.cpu_s": "s",
              "total.gc_s": "s", "total.failed_tasks": "count",
              "total.task_skew": "ratio", "total.codegen_compiles": "count",
              "trace.overhead_s": "s"})
    return m


def _env(work: str, nproc: int) -> None:
    """The pinned run environment. Set before pyspark starts the JVM,
    which hands it on to every Python worker."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYTHONHASHSEED": "0",
    })
    sys.path.insert(0, ROOT)


def _session(work: str, extra: dict[str, str] | None = None):
    from big_data_hw_23_24_spark.session import get_session

    confs = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.ui.showConsoleProgress": "false"}
    confs.update(extra or {})
    return get_session("perfbench", extra_confs=confs)


def _safe(fn, spark):
    """``fn(spark)``; an exception counts as one failed operation."""
    from perfbench.workloads import OpResult

    try:
        return fn(spark)
    except Exception as e:  # counted as a failed operation, run goes on
        traceback.print_exc()
        return OpResult(failed=1, notes=[f"{type(e).__name__}: {e}"])


def _closed_loop(wl, spark, seconds: float) -> list:
    """Operations back to back until ``seconds`` of them have run, and
    at least the workload's ``min_ops``."""
    done, t0 = [], time.perf_counter()
    while len(done) < wl.min_ops or time.perf_counter() - t0 < seconds:
        done.append(_safe(wl.op, spark))
    return done


def _op_p50_ms(results: list) -> float:
    """The median latency of each kind of operation, and the geometric
    mean of those medians when there are several kinds (the queries of
    a mix), so that no kind weighs by how long it takes."""
    by_kind: dict[str, list[float]] = {}
    for r in results:
        for i, x in enumerate(r.samples_ms):
            by_kind.setdefault(r.labels[i] if r.labels else "", []).append(x)
    return statistics.geometric_mean(
        statistics.median(xs) for xs in by_kind.values())


def _end_to_end(results: list, setup_s: float) -> dict[str, float]:
    """The end-to-end metrics; 0 where every operation failed. The rates
    are the median over the operations (the app run, or the blocks of
    the query mix), so one disturbed block does not move them."""
    done = [r for r in results if r.samples_ms and r.wall_s > 0]
    if not done:
        return dict.fromkeys(END_TO_END, 0.0) | {"setup_s": setup_s}
    return {"setup_s": setup_s,
            "op_p50_ms": _op_p50_ms(done),
            "ops_per_s": statistics.median(r.n_ops / r.wall_s for r in done),
            "rows_per_s": statistics.median(r.rows / r.wall_s for r in done)}


def _traced(wl, spark, work: str, nproc: int, results: list,
            session_metrics: dict, run_id: str) -> dict[str, float]:
    """A warm-up operation, then the same operation traced between two
    untraced ones, all on the session with the event log on. The spans
    and the log entries of the traced operation's jobs become the
    per-layer metrics; the tracing overhead is the traced operation's
    time minus the mean of its untraced neighbours' (runs still speed
    up as the JIT warms, which one neighbour alone would count)."""
    from perfbench.tracing import EventLog, Tracer

    results += [_safe(wl.op, spark), _safe(wl.op, spark)]
    tr = Tracer(sc=spark.sparkContext, run_id=run_id)
    compiles = _codegen_compiles(spark)
    since_ms = time.time() * 1e3
    traced = _safe(lambda s: wl.op(s, tr), spark)
    until_ms = time.time() * 1e3
    compiles = _codegen_compiles(spark) - compiles
    results += [traced, _safe(wl.op, spark)]
    untraced_s = (results[-3].wall_s + results[-1].wall_s) / 2
    spark.stop()
    log = EventLog.read(_eventlog_dir(work), since_ms, until_ms)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))

    metrics = dict.fromkeys(per_layer_metrics(), 0.0)
    metrics.update(session_metrics)
    metrics.update(wl.layers(tr, log))
    t = log.total
    metrics.update({
        "total.jobs": log.n_jobs, "total.tasks": t.tasks,
        "total.shuffle_mb": t.shuffle_bytes / 2 ** 20,
        "total.cpu_s": t.cpu_ns / 1e9, "total.gc_s": t.gc_ms / 1e3,
        "total.failed_tasks": t.failed,
        "total.task_skew": log.task_skew(nproc),
        "total.codegen_compiles": compiles,
        "trace.overhead_s": traced.wall_s - untraced_s})
    return metrics


def _codegen_compiles(spark) -> int:
    """Generated classes the driver JVM has compiled so far; a hit in
    Spark's generated-code cache compiles nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _eventlog_dir(work: str) -> str:
    return os.path.join(work, "eventlog")


def _stop_jvm() -> None:
    """Stop the session and the JVM pyspark launched, then wait until
    every process this run started (the JVM's Python workers too) has
    ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.tracing import process_tree

    started = set(process_tree(os.getpid())) - {os.getpid()}
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        time.sleep(0.1)
        started = {pid for pid in started if _alive(pid)}
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _cpu_times() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work: str, nproc: int) -> dict:
    import numpy as np

    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS

    rss = RssSampler().start() if args.trace else None
    extra = None
    if args.trace:
        from perfbench.tracing import EVENTLOG_CONFS

        os.makedirs(_eventlog_dir(work))
        extra = {**EVENTLOG_CONFS, "spark.eventLog.dir": _eventlog_dir(work)}
    t0 = time.perf_counter()
    spark = _session(work, extra)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    setup_s = t2 - T_START

    wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), work,
                                  nproc)
    t3 = time.perf_counter()
    results = [_safe(wl.check, spark)]
    t4 = time.perf_counter()
    if args.trace:
        metrics = _traced(wl, spark, work, nproc, results,
                          {"session.get_session_s": t1 - t0,
                           "session.first_action_s": t2 - t1},
                          f"{args.workload}-{args.seed}")
        metrics["session.peak_rss_mb"] = rss.stop()
        units = per_layer_metrics()
    else:
        timed = _closed_loop(wl, spark, args.seconds)
        results += timed
        metrics = _end_to_end(timed, setup_s)
        units = END_TO_END
    for r in results:
        for note in r.notes:
            print(f"FAILED: {note}", file=sys.stderr)
    return {
        "inputs": wl.inputs,
        "phases_s": {"setup": setup_s, "inputs": t3 - t2, "check": t4 - t3,
                     "measure": time.perf_counter() - t4},
        "samples_ms": [round(x, 1) for r in results for x in r.samples_ms],
        "attempted": sum(r.attempted for r in results),
        "failed": sum(r.failed for r in results),
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(
        "corpus_prep", "star_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"error: {PACKAGE}/ not found under {ROOT}; run from the root "
              "of a source checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _env(work, nproc)
    try:
        out = run(args, work, nproc)
    finally:
        t_stop = time.perf_counter()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    # CPU time the hypervisor gave other guests while this run wanted it
    cpu = [b - a for a, b in zip(cpu_start, _cpu_times())]
    print(json.dumps({"provenance": {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_share": cpu[7] / max(1, sum(cpu)),
        "inputs": out["inputs"],
        "phases_s": out["phases_s"] | {"stop": time.perf_counter() - t_stop},
        "samples_ms": out["samples_ms"]}}))
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"],
                      "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
