"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run builds its seeded inputs under
`.perfbench_work/` (removed again at the end) and sets up the workload
(session start, input materialization, polygon prep, warm-up), then runs
it in a closed loop for S seconds on `local[nproc]`, checks every output
against the DuckDB oracle and prints two JSON lines: a full report, then
the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). A traced run spends the middle third of its time
with Spark's event log attached and each layer span tagged as a job
group, reads the per-layer figures from the log, and compares that third
with the untraced thirds around it to report the tracing overhead. It
fails unless the layers' self times (Spark stage time from the log plus
each layer call's time outside its stages) sum to within 10% of the
operations' wall time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SCAN_PASSES = 3
STOP_TIMEOUT_S = 60.0  # how long to wait for the JVM and its children to exit
# a traced run fails unless the layers' self times sum to within this
# share of operation wall time
COVERAGE_TOLERANCE = 0.1
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s.p50": "s",
    "cpu_s_per_mrow": "s/Mrow",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least 10
    samples beyond it; the maximum (percentile 100) when there are fewer
    than 11 samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["ingest", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Phase:
    """Closed-loop timed operations over a set-up workload, in one or more
    stretches."""

    def __init__(self, wl, tr):
        self.wl, self.tr = wl, tr
        self.times: list[float] = []
        self.rows = 0
        self.errors = 0
        self.cpu = {"main": 0.0, "jvm": 0.0, "python": 0.0, "total": 0.0}

    def run(self, seconds: float) -> Phase:
        from proctree import delta, tree_cpu_s
        from tracing import OP_SPAN

        cpu0 = tree_cpu_s()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            with self.tr.span(OP_SPAN) as sp:
                try:
                    self.rows += self.wl.op(self.tr)
                except Exception:  # an operation that raises counts as failed
                    traceback.print_exc()
                    self.errors += 1
            self.times.append(sp.duration)
        for k, v in delta(tree_cpu_s(), cpu0).items():
            self.cpu[k] += v
        return self

    def end_to_end(self) -> dict[str, float]:
        return {
            "rows_per_s": self.rows / sum(self.times),
            "op_s.p50": statistics.median(self.times),
            "cpu_s_per_mrow": self.cpu["total"] / (self.rows / 1e6),
        }


def _stop_jvm() -> None:
    """End the JVM PySpark launched and every process under it (the
    PySpark daemon and its workers), and wait until they have exited."""
    from pyspark import SparkContext

    from proctree import descendants, running

    pids = descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits at end of input
            proc.wait(timeout=STOP_TIMEOUT_S)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if running(p)}
        time.sleep(0.1)


def run(args, work: str) -> tuple[dict, dict]:
    import layers
    from eventlog import parse
    from oracle import Oracle
    from osm_notes_ingestion_spark.session import get_spark
    from tracing import OP_SPAN, EventLogCapture, Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    # the first session also launches the JVM, with the session's heap
    # size on its command line
    spark = get_spark(cores, f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, cores)
        wl.setup()
        setup_s = time.perf_counter() - t0
        untraced = Phase(wl, Tracer())
        if not args.trace:
            untraced.run(args.seconds)
        else:
            # untraced, traced, untraced: the two untraced stretches
            # bracket the traced one, so JIT warm-up drift cancels out of
            # the tracing overhead
            eventlog_dir = os.path.join(work, "eventlog")
            os.makedirs(eventlog_dir)
            untraced.run(args.seconds / 3)
            capture = EventLogCapture(spark.sparkContext, eventlog_dir)
            traced = Phase(wl, Tracer(spark.sparkContext))
            knn_before = len(getattr(wl, "knn_rows", []))
            traced.run(args.seconds / 3)
            knn_results = sum(len(r) for r in getattr(wl, "knn_rows", [])[knn_before:])
            for _ in range(SCAN_PASSES):
                wl.scan(traced.tr)
            cand = wl.candidates_per_point()
            wl.probe(traced.tr)
            capture.stop()
            untraced.run(args.seconds / 3)
        oracle = Oracle(cores)
        try:
            bad_ops, checks_failed = wl.verify(oracle)
        finally:
            oracle.close()
    finally:
        spark.stop()
        _stop_jvm()
    phases = [untraced] + ([traced] if args.trace else [])
    # operations that raised are not among the verified ones
    failed = len(bad_ops) + sum(p.errors for p in phases) + wl.probe_failed
    attempted = sum(len(p.times) for p in phases) + wl.probe_ops

    tail_s, tail_pct = tail(untraced.times)
    e2e = {"setup_s": setup_s, **untraced.end_to_end()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "inputs": wl.sizes(),
        "ops": len(untraced.times),
        "op_s.samples": untraced.times,
        # a run holds fewer than 11 operations, so no percentile has 10
        # samples beyond it: the tail is the slowest operation, reported
        # here but not among the end-to-end metrics
        "op_s.tail": {"value": tail_s, "unit": "s", "percentile": tail_pct},
        "setup_s.steps": {"session": session_s, **wl.setup_steps},
        "cpu_s": untraced.cpu,
        "failed_frac": failed / attempted,
        "checks_failed": checks_failed,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "calls": {k: {"value": v, "unit": "s"} for k, v in layers.call_medians(untraced.tr).items()},
    }
    if args.trace:
        (log_path,) = glob.glob(os.path.join(eventlog_dir, "*"))
        per_layer = layers.layer_metrics(
            parse(log_path), traced.tr, OP_SPAN, wl.tile_group, traced.rows, knn_results, cand,
            wl.write_bytes_per_row(),
        )
        per_layer["trace.overhead_frac"] = (
            statistics.median(traced.times) / statistics.median(untraced.times) - 1
        )
        report["per_layer"] = {
            k: {"value": per_layer[k], "unit": unit}
            for k, (unit, _better) in (layers.PER_LAYER | layers.REPORT_ONLY).items()
        }
        report["layer_to_end_to_end"] = layers.LAYER_TO_END_TO_END
        if abs(per_layer["trace.coverage_frac"] - 1) > COVERAGE_TOLERANCE:
            checks_failed.append("trace.coverage")
    result = {
        "correct": failed == 0 and not checks_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": (
            {k: report["per_layer"][k] for k in layers.PER_LAYER}
            if args.trace
            else report["end_to_end"]
        ),
    }
    return report, result


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "osm_notes_ingestion_spark")):
        print("perfbench: run from the repository root (no osm_notes_ingestion_spark/ here)",
              file=sys.stderr)
        return 2
    # this process imports the package from the root, and so do the
    # Python workers Spark forks, which inherit PYTHONPATH through the JVM
    sys.path.insert(1, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another workload's directory is still there
            pass
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
