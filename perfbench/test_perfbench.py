"""The benchmark's own tests; none starts Spark.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.inputs import flatten_doc, make_corpus, salted_rowkey
from perfbench.report import END_TO_END, PER_LAYER, build, end_to_end, structure
from perfbench.stats import mix_median, nearest_rank, tail, tail_percentile
from perfbench.trace import _ui_time, _uncovered, parse_sql_metric

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Every metric the benchmark defines, with the unit it is printed in.
NAMED_END_TO_END = {"setup_s": "s", "pass_s": "s", "cells_per_s": "1/s"}
NAMED_REPORTED = {
    "op_p50_s": "s", "op_tail_s": "s", "failed_frac": "fraction", "peak_rss_mb": "MB",
}
NAMED_PER_LAYER = {
    "registry.load_s": "s", "session.get_spark_s": "s", "setup.warm_s": "s",
    "plans.builder_s": "s", "plans.action_s": "s", "materialize.calls": "count",
    "materialize.s": "s", "catalyst.final_plan_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.driver_gap_s": "s",
    "spark.s_per_job": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes", "python.run_s": "s",
    "python.start_s": "s", "python.bytes_sent": "bytes", "cli.run_s": "s", "cli.read_json_s": "s",
    "operators.flatten_s": "s", "operators.hbase_write_s": "s",
    "spark.output_bytes": "bytes", "spark.input_bytes": "bytes", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "ingest.stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB", "failed_frac": "fraction", "trace.overhead": "ratio",
}


def test_same_seed_same_corpus(tmp_path):
    a, b, c = tmp_path / "a.jsonl", tmp_path / "b.jsonl", tmp_path / "c.jsonl"
    cells_a = make_corpus(str(a), 7, 300)
    cells_b = make_corpus(str(b), 7, 300)
    cells_c = make_corpus(str(c), 8, 300)
    assert a.read_bytes() == b.read_bytes()
    assert cells_a == cells_b
    assert a.read_bytes() != c.read_bytes()
    docs = [json.loads(line) for line in a.read_text().splitlines()]
    assert cells_a == sum(len(flatten_doc(d)) for d in docs)


def test_flatten_doc_matches_fixture_golden():
    doc = {
        "id": "u001", "name": "Ada", "active": True, "score": 9.75,
        "address": {"city": "Lima", "geo": {"lat": -12.05, "lon": -77.04}},
        "tags": ["a", "b"], "orders": [{"sku": "X1", "qty": 2}, {"sku": "X2", "qty": 1}],
        "nickname": None, "meta.v": 3,
    }
    assert flatten_doc(doc) == {
        "id": "u001", "name": "Ada", "active": "true", "score": "9.75",
        "address.city": "Lima", "address.geo.lat": "-12.05", "address.geo.lon": "-77.04",
        "tags.0": "a", "tags.1": "b", "orders.0.sku": "X1", "orders.0.qty": "2",
        "orders.1.sku": "X2", "orders.1.qty": "1", "meta\\.v": "3",
    }
    assert salted_rowkey("u001", 2) == "31#u001"  # md5("u001") starts 31


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50), (10, 50), (11, 50), (19, 50), (20, 50), (25, 60), (50, 80), (100, 90), (1000, 99)],
)
def test_tail_percentile_rule(n, pct):
    assert tail_percentile(n) == pct
    if n >= 20:  # at least ten samples lie above the reported one
        _, beyond = nearest_rank(list(range(n)), pct)
        assert beyond >= 10


def test_tail_reports_percentile_and_counts():
    t = tail([float(i) for i in range(1, 101)], p50=50.5)
    assert t == {"value": 90.0, "percentile": 90, "samples": 100, "beyond": 10}
    assert tail([1.0, 2.0, 3.0], p50=2.0)["value"] == 2.0  # too few samples: p50


def test_mix_median_is_a_kind_median_not_an_extreme_sample():
    # two kinds, three runs each: a plain median is the slowest run of
    # the fast kind
    fast, slow = [1.0, 1.1, 1.9], [4.0, 4.2, 4.4]
    assert nearest_rank(fast + slow, 50)[0] == 1.9
    assert mix_median([fast, slow]) == 1.1
    assert mix_median([[3.0], fast, slow]) == 3.0


def test_parse_sql_metric():
    assert parse_sql_metric("2.4 s") == 2.4
    assert parse_sql_metric("689 ms") == pytest.approx(0.689)
    assert parse_sql_metric("146.1 KiB") == pytest.approx(146.1 * 1024)
    assert parse_sql_metric("60,000") == 60000
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n1.2 s (268 ms, 329 ms)") == 1.2


def test_uncovered_interval_time():
    assert _ui_time("1970-01-01T00:00:01.500GMT") == 1.5  # UTC whatever the local zone
    assert _uncovered(0.0, 10.0, []) == 10.0
    assert _uncovered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)


def _fake_result(workload: str, trace: int) -> dict:
    ops, passes = [], []
    for p in range(4):
        traced = bool(trace) and p % 2 == 1
        layers = {"spark.jobs": 3.0, "plans.builder_s": 0.1} if traced else {}
        ops.append({"name": "q", "pass": p, "traced": traced, "layers": layers,
                    "error": None, "seconds": 1.0 + p / 10, "cells": 40})
        passes.append({"seconds": 1.0 + p / 10, "traced": traced})
    setup = {"registry.load_s": 0.2, "session.get_spark_s": 6.0, "setup.warm_s": 9.0,
             "setup_s": 15.5, "peak_rss_mb": 2000.0}
    checks = {"q": {"ok": True, "problems": [], "rows": 10, "cols": 4}}
    return {"workload": workload, "seed": 1, "trace": trace, "setup": setup,
            "ops": ops, "passes": passes, "checks": checks}


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", ["ingest", "chains"])
def test_every_metric_printed_with_unit(workload):
    final, report = build(_fake_result(workload, 0))
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in final["metrics"].items()} == NAMED_END_TO_END
    assert {k: v["unit"] for k, v in report["reported"].items()} == NAMED_REPORTED
    final, report = build(_fake_result(workload, 1))
    assert {k: v["unit"] for k, v in final["metrics"].items()} == NAMED_PER_LAYER
    assert report["end_to_end"].keys() == NAMED_END_TO_END.keys()
    assert report["structure"]["q"]["spark.jobs"]["values"] == [3.0, 3.0]
    assert report["structure"]["q"]["spark.jobs"]["repeats"] is True


def test_structure_reads_as_a_diff_against_the_snapshot():
    snapshot = {"chains": {"q": {"spark.jobs": 2.0}}}
    counts = structure(_fake_result("chains", 1), snapshot)["q"]
    assert counts["spark.jobs"]["vs_snapshot"] == 1.0  # "+1 job"
    assert "vs_snapshot" not in counts["spark.stages"]


def test_benchmark_json_declares_the_printed_metrics():
    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_failed_check_counts_every_run_of_the_query():
    result = _fake_result("chains", 0)
    result["checks"]["q"] = {"ok": False, "problems": ["row count differs"]}
    final, report = build(result)
    assert (final["correct"], final["attempted"], final["failed"]) == (False, 4, 4)
    assert report["failed_operations"] == ["q"]


def test_every_operation_raising_still_reports():
    result = _fake_result("chains", 0)
    for op in result["ops"]:
        op["error"] = "Traceback ..."
    final, report = build(result)
    assert (final["correct"], final["failed"]) == (False, 4)
    assert report["reported"]["op_p50_s"]["value"] == 0.0


def test_pass_time_is_the_lower_quartile_of_the_passes():
    # a slow spell over three of eight passes moves the median pass, not
    # the lower quartile
    result = _fake_result("ingest", 0)
    calm = [2.0, 2.1, 1.9, 2.0, 2.2, 2.0, 1.9, 2.1]
    slow = [3.5, 3.5, 1.9, 2.0, 3.5, 2.0, 1.9, 2.1]
    values = []
    for seconds in (calm, slow):
        result["passes"] = [{"seconds": x, "traced": False} for x in seconds]
        values.append(end_to_end(result)[0])
    assert statistics.median(slow) > statistics.median(calm)
    assert values[0]["pass_s"] == values[1]["pass_s"] == pytest.approx(1.925)
    assert values[0]["cells_per_s"] == pytest.approx(40 / 1.925)


def test_refuses_to_run_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's files, it exits
    non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
