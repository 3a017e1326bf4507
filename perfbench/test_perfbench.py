"""Tests of the benchmark's own machinery.

    python -m pytest perfbench -q

Run from the repository root.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import eventlog  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    value, pct = run.tail(samples)
    assert value == 30.0 and pct == 75.0  # 31..40 lie beyond it
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_benchmark_json_lists_the_metrics_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_parser_counts_stages_rows_and_python_rows_of_a_tiny_job(tmp_path):
    from osm_notes_ingestion_spark.session import get_spark

    spark = get_spark(
        2,
        "perfbench-parser-test",
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp_path}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        def double(batches):
            for pdf in batches:
                yield pdf.assign(y=pdf["id"] * 2)

        spark.sparkContext.setJobGroup("tiny", "tiny")
        df = spark.range(0, 1000, numPartitions=4).mapInPandas(double, "id long, y long")
        df.groupBy((df.id % 10).alias("k")).count().write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobGroup("other", "other")
        spark.range(10).count()
    finally:
        spark.stop()
    (path,) = glob.glob(str(tmp_path / "*"))
    log = eventlog.parse(path)
    tiny = log.group("tiny")
    # map stage (range → Python → partial aggregate) and the final aggregate
    assert tiny.n_stages == 2
    assert tiny.n_tasks == 4 + len([t for t in tiny.tasks if t.stage != tiny.tasks[0].stage])
    assert tiny.sql("number of output rows", ("MapInPandas",)) == 1000
    assert tiny.sql("data sent to Python workers", ("MapInPandas",)) > 0
    assert tiny.sql("data returned from Python workers", ("MapInPandas",)) > 0
    # 4 map tasks × 10 keys of partial counts cross the shuffle
    assert tiny.task_sum("shuffle_write_records") == 40
    assert tiny.sql("shuffle records written", ("Exchange",)) == 40
    assert tiny.n_jobs >= 1
    assert all(t.group == "tiny" for t in tiny.tasks)
    assert {t.stage for t in tiny.tasks} <= set(log.stage_times)
    assert tiny.stages_with(("MapInPandas",)) == {min(t.stage for t in tiny.tasks)}
    assert log.group("other").n_tasks >= 1


def test_busy_time_counts_overlapping_stages_once_for_the_first_layer():
    intervals = [(0, 1000, "tiles"), (500, 2000, "fused"), (3000, 3500, "tiles")]
    assert eventlog.busy_s(intervals, ("fused", "tiles")) == {"fused": 1.5, "tiles": 1.0}


def _corrupt_assignments(check, value):
    if check == "assign":
        from pyspark.sql import functions as F

        return value.withColumn(
            "country_id", F.when(F.col("id") % 7 == 0, F.lit(99)).otherwise(F.col("country_id"))
        )
    return value


@pytest.mark.parametrize("tamper", [None, _corrupt_assignments])
def test_a_corrupted_output_is_reported_in_failed_frac(tamper, monkeypatch, capsys):
    tiny = functools.partial(
        workloads.Queries, events=400, fanout=2, docs=200, knn_queries=2, tamper=tamper
    )
    monkeypatch.setitem(workloads.WORKLOADS, "queries", tiny)
    monkeypatch.chdir(ROOT)
    assert run.main(["--workload", "queries", "--seed", "3", "--seconds", "1", "--trace", "0"]) == 0
    report_line, result_line = capsys.readouterr().out.strip().splitlines()[-2:]
    report, result = json.loads(report_line), json.loads(result_line)
    assert result["attempted"] >= 1
    if tamper is None:
        assert result["correct"] and result["failed"] == 0 and report["failed_frac"] == 0.0
    else:
        assert not result["correct"]
        assert result["failed"] == result["attempted"]
        assert report["failed_frac"] == 1.0
        assert "assign" in report["checks_failed"]


class _UnexplainedQueries(workloads.Queries):
    """Each round is followed by as long a wait outside every layer span."""

    def op(self, tr):
        t = time.perf_counter()
        rows = super().op(tr)
        time.sleep(time.perf_counter() - t)
        return rows


@pytest.mark.parametrize("workload", [workloads.Queries, _UnexplainedQueries])
def test_a_traced_run_fails_when_layers_leave_operation_time_unexplained(
    workload, monkeypatch, capsys
):
    tiny = functools.partial(workload, events=400, fanout=2, docs=200, knn_queries=2)
    monkeypatch.setitem(workloads.WORKLOADS, "queries", tiny)
    monkeypatch.chdir(ROOT)
    assert run.main(["--workload", "queries", "--seed", "3", "--seconds", "3", "--trace", "1"]) == 0
    report_line, result_line = capsys.readouterr().out.strip().splitlines()[-2:]
    report, result = json.loads(report_line), json.loads(result_line)
    coverage = report["per_layer"]["trace.coverage_frac"]["value"]
    assert result["failed"] == 0
    if workload is workloads.Queries:
        assert result["correct"] and abs(coverage - 1) <= run.COVERAGE_TOLERANCE
    else:
        assert not result["correct"] and coverage < 1 - run.COVERAGE_TOLERANCE
        assert report["checks_failed"] == ["trace.coverage"]
