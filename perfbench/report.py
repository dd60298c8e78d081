"""Turn a worker's record into the benchmark's metrics.

``END_TO_END`` and ``PER_LAYER`` name every metric with its unit; they
are what BENCHMARK.json declares. End-to-end metrics come from untraced
passes only; per-layer metrics are per-pass sums over traced passes
(median over those passes), plus the set-up spans.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

from perfbench.stats import median, mix_median, quartiles, tail

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cells_per_s": "1/s",
}

# Printed in the report line beside END_TO_END, not gated: one run's
# operation latencies and its peak memory move with the host far more
# than a bound allows (README, "Cost and noise").
REPORTED = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "failed_frac": "fraction",
    "peak_rss_mb": "MB",
}

SETUP_LAYERS = ("registry.load_s", "session.get_spark_s", "setup.warm_s")

# Summed over a traced pass's operations.
OP_LAYERS = {
    "cli.run_s": "s",
    "cli.read_json_s": "s",
    "operators.flatten_s": "s",
    "operators.hbase_write_s": "s",
    "plans.builder_s": "s",
    "plans.action_s": "s",
    "materialize.calls": "count",
    "materialize.s": "s",
    "catalyst.final_plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "bytes",
}

PER_LAYER = {
    **{name: "s" for name in SETUP_LAYERS},
    **OP_LAYERS,
    "spark.s_per_job": "s",
    "ingest.stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "failed_frac": "fraction",
    "trace.overhead": "ratio",
}

# Host-independent counts recorded per operation as the structural snapshot.
STRUCTURAL = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "materialize.calls",
)


def failures(result: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, named failures): an operation fails when it
    raised, or when its output check failed."""
    bad_checks = {name for name, c in result["checks"].items() if not c["ok"]}
    attempted = len(result["ops"])
    named = sorted({op["name"] for op in result["ops"] if op["error"]} | bad_checks)
    failed = sum(1 for op in result["ops"] if op["error"] or op["name"] in bad_checks)
    if result["workload"] == "ingest" and "ingest" in bad_checks:
        failed = attempted
    return attempted, failed, named


def _op_cells(result: dict, op: dict) -> int:
    if "cells" in op:
        return op["cells"]
    check = result["checks"].get(op["name"], {})
    return check.get("rows", 0) * check.get("cols", 0)


def end_to_end(result: dict) -> tuple[dict[str, float], dict[str, float], dict]:
    """End-to-end metric values, the reported latencies and the details
    printed beside them."""
    ops = [op for op in result["ops"] if not op["traced"] and not op["error"]]
    passes = [p["seconds"] for p in result["passes"] if not p["traced"]]
    seconds = [op["seconds"] for op in ops]
    by_kind: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        by_kind[op["name"]].append(op["seconds"])
    if ops:
        p50 = mix_median(list(by_kind.values()))
        op_tail = tail(seconds, p50)
    else:  # every operation failed
        p50, op_tail = 0.0, {"value": 0.0, "percentile": 50, "samples": 0, "beyond": 0}
    # the lower quartile of the passes: on a shared host slow spells only
    # add time and last tens of seconds, so they move a run's median pass
    # but not its faster quarter
    pass_s = quartiles(passes)[0] if passes else 0.0
    # one pass writes (ingest) or returns (queries) each kind's cells once
    cells_per_pass = sum(_op_cells(result, next(op for op in ops if op["name"] == k)) for k in by_kind)
    values = {
        "setup_s": result["setup"]["setup_s"],
        "pass_s": pass_s,
        "cells_per_s": cells_per_pass / pass_s if pass_s else 0.0,
    }
    reported = {"op_p50_s": p50, "op_tail_s": op_tail["value"]}
    details = {
        "setup": {k: result["setup"][k] for k in SETUP_LAYERS},
        "pass_s_quartiles": quartiles(passes),
        "passes": len(passes),
        "pass_seconds": passes,
        "op_seconds": dict(by_kind),
        "op_p50_s_quartiles": quartiles(seconds),
        "op_tail": {k: v for k, v in op_tail.items() if k != "value"},
    }
    return values, reported, details


def per_layer(result: dict) -> dict[str, float]:
    traced = [op for op in result["ops"] if op["traced"]]
    sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for op in traced:
        for key, value in op["layers"].items():
            sums[op["pass"]][key] += value
        sums[op["pass"]]["op_s"] += op["seconds"]
    per_pass = list(sums.values())
    values = {name: median([p[name] for p in per_pass]) for name in OP_LAYERS}
    values["spark.s_per_job"] = median(
        [p["op_s"] / p["spark.jobs"] for p in per_pass if p["spark.jobs"]]
    )
    values.update({name: result["setup"][name] for name in (*SETUP_LAYERS, "peak_rss_mb")})
    ingest = result["checks"].get("ingest", {})
    values["ingest.stored_bytes_per_input_byte"] = (
        ingest["stored_bytes"] / ingest["input_bytes"] if ingest.get("input_bytes") else 0.0
    )
    attempted, failed, _ = failures(result)
    values["failed_frac"] = failed / attempted if attempted else 0.0
    untraced = median([p["seconds"] for p in result["passes"] if not p["traced"]])
    traced_pass = median([p["seconds"] for p in result["passes"] if p["traced"]])
    values["trace.overhead"] = traced_pass / untraced if untraced else 0.0
    return values


SNAPSHOT = Path(__file__).resolve().parent / "snapshot.json"


def structure(result: dict, snapshot: dict | None = None) -> dict[str, dict]:
    """Per operation: each structural count across traced passes, whether
    it repeated exactly, and its change from the committed snapshot
    (``snapshot.json``: workload -> operation -> count -> value)."""
    if snapshot is None:
        snapshot = json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
    base = snapshot.get(result["workload"], {})
    seen: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for op in result["ops"]:
        if op["traced"] and not op["error"]:
            for key in STRUCTURAL:
                seen[op["name"]][key].append(op["layers"].get(key, 0.0))
    out: dict[str, dict] = {}
    for name, counts in seen.items():
        out[name] = {}
        for key, values in counts.items():
            entry = {"values": values, "repeats": len(set(values)) == 1}
            if key in base.get(name, {}):
                entry["vs_snapshot"] = median(values) - base[name][key]
            out[name][key] = entry
    return out


def build(result: dict) -> tuple[dict, dict]:
    """(final line, report line) for one run."""
    attempted, failed, named = failures(result)
    e2e, reported, details = end_to_end(result)
    reported["failed_frac"] = failed / attempted if attempted else 0.0
    reported["peak_rss_mb"] = result["setup"]["peak_rss_mb"]
    report = {
        "workload": result["workload"],
        "seed": result["seed"],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "reported": {k: {"value": v, "unit": REPORTED[k]} for k, v in reported.items()},
        "details": details,
        "failed_operations": named,
        "checks": result["checks"],
    }
    if result["trace"]:
        layers = per_layer(result)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        report["per_layer"] = metrics
        report["structure"] = structure(result)
    else:
        metrics = report["end_to_end"]
    final = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return final, report
