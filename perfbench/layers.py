"""Per-layer metrics from a traced run, and what each should move.

Every figure is per operation (one ingest pass, one queries round, one
sync batch) unless its name says otherwise, so runs of different length
compare. A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

from eventlog import PYTHON_NODES, EventLog, busy_s, scan_metric
from tracing import Tracer

# name → (unit, better). These are the per-layer metrics of BENCHMARK.json
# and of a traced run's result line: each is measured on both workloads or
# is a count, byte or ratio figure (0 where a workload has no such layer).
PER_LAYER = {
    "sources.scan_s": ("s", "lower"),
    "sources.scan_bytes": ("B", "lower"),
    "python.run_s": ("s", "lower"),
    "fused.arrow_bytes_to_py": ("B", "lower"),
    "fused.arrow_bytes_from_py": ("B", "lower"),
    "fused.rows": ("count", "lower"),
    "spatial_join.cand_rows_per_point": ("count", "lower"),
    "spatial_join.refine_frac": ("ratio", "lower"),
    "spatial_join.arrow_bytes_to_py": ("B", "lower"),
    "tiles.shuffle_bytes": ("B", "lower"),
    "tiles.shuffle_records": ("count", "lower"),
    "tiles.task_skew": ("ratio", "lower"),
    "knn.jobs_per_call": ("count", "lower"),
    "knn.rows_examined_per_result": ("count", "lower"),
    "textops.shuffle_bytes": ("B", "lower"),
    "textops.task_skew": ("ratio", "lower"),
    "incremental.jobs_per_batch": ("count", "lower"),
    "checkpoint.bytes_written": ("B", "lower"),
    "checkpoint.bytes_read": ("B", "lower"),
    "write_bytes_per_row": ("B/row", "lower"),
    "session.jobs": ("count", "lower"),
    "session.tasks": ("count", "lower"),
    "session.task_run_s": ("s", "lower"),
    "session.task_jvm_cpu_s": ("s", "lower"),
    "session.scheduler_delay_s": ("s", "lower"),
    "trace.stage_frac": ("ratio", "higher"),
    "trace.coverage_frac": ("ratio", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
}
# Times of layers only one workload runs, and GC time, which often reads
# 0: they are printed in the report line only.
REPORT_ONLY = {
    "session.gc_s": ("s", "lower"),
    "fused.python_run_s": ("s", "lower"),
    "fused.python_start_s": ("s", "lower"),
    "spatial_join.span_s": ("s", "lower"),
    "spatial_join.refine_python_run_s": ("s", "lower"),
    "tiles.span_s": ("s", "lower"),
    "knn.span_s": ("s", "lower"),
    "textops.span_s": ("s", "lower"),
    "textops.python_run_s": ("s", "lower"),
    "incremental.span_s": ("s", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "merge.tiles_span_s": ("s", "lower"),
    "session.python_start_s": ("s", "lower"),
    "fused.stage_s": ("s", "lower"),
    "tiles.stage_s": ("s", "lower"),
    "spatial_join.stage_s": ("s", "lower"),
    "knn.stage_s": ("s", "lower"),
    "textops.stage_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "assign_s.p50": ("s", "lower"),
    "tiles_s.p50": ("s", "lower"),
    "knn_s.p50": ("s", "lower"),
    "dedup_s.p50": ("s", "lower"),
}

# layer metric prefix → the end-to-end metrics it should move, on which workloads
LAYER_TO_END_TO_END = {
    "sources": "rows_per_s on ingest",
    "fused": "rows_per_s and cpu_s_per_mrow on ingest; flat on queries",
    "spatial_join": "assign_s.p50 on queries; op_s.p50 on sync",
    "tiles": "tiles_s.p50 on queries",
    "knn": "knn_s.p50 on queries",
    "textops": "dedup_s.p50 on queries",
    "incremental": "the write path's batch time and write_bytes_per_row (traced ingest runs)",
    "checkpoint": "the write path's batch time and write_bytes_per_row (traced ingest runs)",
    "merge": "the write path's batch time and write_bytes_per_row (traced ingest runs)",
    "session": "op_s.tail on every workload",
    "driver": "op_s.p50 on both workloads",
}


def call_medians(tr: Tracer) -> dict[str, float]:
    """Per-call medians of the queries workload's four calls (0 where a
    workload makes no such call)."""
    return {
        "assign_s.p50": tr.median("spatial_join"),
        "tiles_s.p50": tr.median("tiles"),
        "knn_s.p50": tr.median("knn"),
        "dedup_s.p50": tr.median("textops"),
    }


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


# Layers that own Spark stage time. The ingest pipeline is one call whose
# stages split into the fused extract+assign stages (which also scan the
# pages) and the tile pyramid's aggregation stages; every other layer
# span owns the stages of its job group.
STAGE_LAYERS = ("fused", "tiles", "spatial_join", "knn", "textops")
PIPELINE = "pipeline"


def self_times(log: EventLog, tr: Tracer, op_span: str) -> dict[str, float]:
    """Seconds of each layer's self time over the operations in `tr`:
    `<layer>.stage_s`, the wall time Spark stages of that layer ran
    (event log), and `<span>.driver_s`, the part of each layer span's wall
    time outside its stages (planning, adaptive re-optimisation, Python
    and py4j calls, result collection), never below 0."""
    spans = tr.names_within(op_span)
    fused = log.group(*spans).stages_with(("MapInPandas",))
    out = {}
    for span in sorted(spans):
        intervals = []
        for sid, group in log.stage_groups.items():
            if group == span and sid in log.stage_times:
                layer = "fused" if sid in fused else ("tiles" if span == PIPELINE else span)
                intervals.append((*log.stage_times[sid], layer))
        busy = busy_s(intervals, STAGE_LAYERS)
        for layer, s in busy.items():
            if s:
                out[f"{layer}.stage_s"] = out.get(f"{layer}.stage_s", 0.0) + s
        out[f"{span}.driver_s"] = max(0.0, sum(tr.durations(span)) - sum(busy.values()))
    return out


def layer_metrics(
    log: EventLog,
    tr: Tracer,
    op_span: str,
    tile_group: str,
    rows: int,
    knn_results: int,
    cand_per_point: float,
    write_bytes_per_row: float,
) -> dict[str, float]:
    """Per-layer metrics of one traced phase. `rows` is the number of
    input rows the phase's operations processed; `knn_results` the number
    of kNN result rows they returned. The incremental, checkpoint and
    merge figures are per write-path batch (see workloads.SyncProbe)."""
    n_ops = len(tr.durations(op_span))
    ops = log.group(op_span, *tr.names_within(op_span))
    mip = ("MapInPandas",)
    aep = ("ArrowEvalPython",)
    tiles = log.group(tile_group)
    knn = log.group("knn")
    n_knn = len(tr.durations("knn"))
    text = log.group("textops")
    n_text = len(tr.durations("textops"))
    n_inc = len(tr.durations("incremental"))
    n_ckpt = len(tr.durations("checkpoint.write"))
    n_scan = len(tr.durations("sources.scan"))
    op_s = sum(tr.durations(op_span))
    own = self_times(log, tr, op_span)
    stage_s = sum(v for k, v in own.items() if k.endswith(".stage_s"))
    driver_s = sum(v for k, v in own.items() if k.endswith(".driver_s"))
    out = {
        "sources.scan_s": tr.mean("sources.scan"),
        "sources.scan_bytes": _per(
            scan_metric(log, "size of files read", groups={"sources.scan"}), n_scan
        ),
        "python.run_s": _per(ops.sql("time to run Python workers", PYTHON_NODES) / 1e3, n_ops),
        "fused.python_run_s": _per(ops.sql("time to run Python workers", mip) / 1e3, n_ops),
        "fused.python_start_s": _per(ops.sql("time to start Python workers", mip) / 1e3, n_ops),
        "fused.arrow_bytes_to_py": _per(ops.sql("data sent to Python workers", mip), n_ops),
        "fused.arrow_bytes_from_py": _per(ops.sql("data returned from Python workers", mip), n_ops),
        "fused.rows": _per(ops.sql("number of output rows", mip), n_ops),
        "spatial_join.span_s": tr.mean("spatial_join"),
        "spatial_join.cand_rows_per_point": cand_per_point,
        "spatial_join.refine_frac": _per(ops.sql("number of output rows", aep), rows),
        "spatial_join.refine_python_run_s": _per(ops.sql("time to run Python workers", aep) / 1e3, n_ops),
        "spatial_join.arrow_bytes_to_py": _per(ops.sql("data sent to Python workers", aep), n_ops),
        "tiles.span_s": tr.mean("tiles"),
        "tiles.shuffle_bytes": _per(tiles.task_sum("shuffle_write_bytes"), n_ops),
        "tiles.shuffle_records": _per(tiles.task_sum("shuffle_write_records"), n_ops),
        "tiles.task_skew": tiles.task_skew() if tiles.tasks else 0.0,
        "knn.span_s": tr.mean("knn"),
        "knn.jobs_per_call": _per(knn.n_jobs, n_knn),
        "knn.rows_examined_per_result": _per(
            knn.sql("number of output rows", ("BroadcastHashJoin",)), knn_results
        ),
        "textops.span_s": tr.mean("textops"),
        "textops.shuffle_bytes": _per(text.task_sum("shuffle_write_bytes"), n_text),
        "textops.task_skew": text.task_skew() if text.tasks else 0.0,
        "textops.python_run_s": _per(text.sql("time to run Python workers", PYTHON_NODES) / 1e3, n_text),
        "incremental.span_s": tr.mean("incremental"),
        "incremental.jobs_per_batch": _per(log.group("incremental", "checkpoint.write").n_jobs, n_inc),
        "checkpoint.write_s": tr.mean("checkpoint.write"),
        "checkpoint.bytes_written": _per(log.group("checkpoint.write").task_sum("output_bytes"), n_ckpt),
        "checkpoint.bytes_read": _per(scan_metric(log, "size of files read", "snapshots"), n_inc),
        "merge.tiles_span_s": tr.mean("merge.tiles"),
        "session.jobs": _per(ops.n_jobs, n_ops),
        "session.tasks": _per(ops.n_tasks, n_ops),
        "session.task_run_s": _per(ops.task_sum("run_ms") / 1e3, n_ops),
        "session.task_jvm_cpu_s": _per(ops.task_sum("cpu_ns") / 1e9, n_ops),
        "session.scheduler_delay_s": _per(sum(t.scheduler_delay_ms for t in ops.tasks) / 1e3, n_ops),
        "session.gc_s": _per(ops.task_sum("gc_ms") / 1e3, n_ops),
        "session.python_start_s": _per(ops.sql("time to start Python workers", PYTHON_NODES) / 1e3, n_ops),
        "write_bytes_per_row": write_bytes_per_row,
        **{f"{layer}.stage_s": _per(own.get(f"{layer}.stage_s", 0.0), n_ops) for layer in STAGE_LAYERS},
        "driver_s": _per(driver_s, n_ops),
        # share of operation wall time Spark stages explain on their own
        "trace.stage_frac": _per(stage_s, op_s),
        # share of operation wall time the layers' self times explain
        "trace.coverage_frac": _per(stage_s + driver_s, op_s),
    }
    out.update(call_medians(tr))
    return out
