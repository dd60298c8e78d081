"""Outside-in layer trace: spans around calls into the engine's public
functions, plus per-operation deltas read from Spark's own status stores.

Nothing here changes a program file. :class:`Spans` replaces a module
attribute with a timing wrapper; :class:`SparkProbe` brackets an
operation by job-id and stage-id range (``DAGScheduler.nextJobId`` /
``nextStageId``, which also catch jobs launched on other threads, unlike
a job group) and by SQL execution id, then reads:

- jobs and stages from the local UI REST API (``/api/v1``), which keeps
  only the last 1000 of each, so each delta is read right after its
  operation;
- SQL metrics (Python-worker time and bytes) from the same API's
  ``/sql`` endpoint, which serves ``sharedState().statusStore()``, the
  store ``tools/cost_model.py`` reads (one HTTP call per operation
  instead of several py4j calls per metric).
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone
from urllib.parse import urlparse

# Layer spans the wrappers record; the wrapped callables are looked up
# by import path so the wrapper is what later ``from … import`` binds.
WRAPPED = (
    ("json2hbase_spark.materialize", "materialize", "materialize"),
    ("json2hbase_spark.operators.flatten", "kv_flatten", "operators.flatten"),
    ("json2hbase_spark.operators.hbase", "write_hbase_emulated", "operators.hbase_write"),
    ("pyspark.sql.readwriter", "DataFrameReader.json", "cli.read_json"),
)

SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_sql_metric(text: str) -> float:
    """A SQL metric's display string as a number in bytes or seconds:
    ``'146.1 KiB'``, ``'689 ms'``, ``'2.4 s'``, ``'60,000'`` or the
    multi-task form ``'total (min, med, max ...)\\n10.5 s (...)'``."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class Spans:
    """Time and count calls into wrapped layer functions while enabled."""

    def __init__(self) -> None:
        self.enabled = False
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def install(self) -> None:
        import importlib

        for module, attr, layer in WRAPPED:
            owner = importlib.import_module(module)
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            setattr(owner, name, self._wrap(getattr(owner, name), layer))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1

        return timed

    def take(self) -> dict[str, float]:
        """Spans since the last call, as ``<layer>_s`` and ``<layer>.calls``."""
        out = {f"{k}_s" if "." in k else f"{k}.s": v for k, v in self.seconds.items()}
        out.update({f"{k}.calls": float(v) for k, v in self.calls.items()})
        self.seconds.clear()
        self.calls.clear()
        return out


def _ui_time(stamp: str | None) -> float | None:
    if not stamp:
        return None
    # the UI writes UTC as e.g. "2026-10-17T02:54:38.399GMT"
    parsed = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return parsed.replace(tzinfo=timezone.utc).timestamp()


def _uncovered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] not covered by any interval."""
    covered, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            covered += b - a
            end = b
    return max(0.0, (t1 - t0) - covered)


class SparkProbe:
    """Per-operation deltas of Spark's job, stage and SQL stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        port = urlparse(sc.uiWebUrl).port
        self._api = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> tuple[int, int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId(), self._sql.executionsCount()

    def _settled(self, path: str, done) -> list[dict]:
        """``path``'s records once ``done(records)`` holds: the status
        stores are updated asynchronously by the listener bus."""
        deadline = time.monotonic() + 10
        while True:
            rows = self._get(path)
            if done(rows):
                return rows
            if time.monotonic() > deadline:
                raise RuntimeError(f"{path}: records not settled in the status store")
            time.sleep(0.02)

    def _sql_delta(self, first: int, jobs: list[dict]) -> dict[str, float]:
        """Sum SQL_METRICS over the SQL executions that ran ``jobs``.

        A job's tags name its root execution; the SQL listener may lag the
        job listener, so wait until each of those executions has ended
        (a running execution reports no metrics). ``first`` is the
        execution count at the mark; the slack covers executions evicted
        since (the store keeps the last 1000)."""
        job_ids = {j["jobId"] for j in jobs}
        roots = {
            int(m.group(1))
            for j in jobs
            for tag in j.get("jobTags", [])
            if (m := re.search(r"-execution-root-id-(\d+)$", tag))
        }
        path = f"/sql?details=true&planDescription=false&offset={max(0, first - 50)}&length=100000"

        def ours(ex: dict) -> bool:
            return not job_ids.isdisjoint(ex["successJobIds"] + ex["failedJobIds"] + ex["runningJobIds"])

        def settled(rows: list[dict]) -> bool:
            ended = {ex["id"] for ex in rows if ex["status"] != "RUNNING"}
            return roots <= ended and all(ex["status"] != "RUNNING" for ex in rows if ours(ex))

        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for ex in filter(ours, self._settled(path, settled)):
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    key = SQL_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_sql_metric(m["value"])
        return out

    def delta(self, mark: tuple[int, int, int], t0: float, t1: float) -> dict[str, float]:
        """Layer counts for the operation that ran between ``mark`` and
        now, over wall-clock interval ``[t0, t1]`` (``time.time()``)."""
        job0, stage0, exec0 = mark
        job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
        job_ids = set(range(job0, job1))

        def settled(rows: list[dict]) -> bool:
            mine = [j for j in rows if j["jobId"] in job_ids]
            return len(mine) == len(job_ids) and all(j["status"] != "RUNNING" for j in mine)

        jobs = [j for j in self._settled("/jobs", settled) if j["jobId"] in job_ids]
        stages = [
            s for s in self._get("/stages")
            if stage0 <= s["stageId"] < stage1 and s["status"] in ("COMPLETE", "FAILED")
        ]
        spans = [(_ui_time(j.get("submissionTime")), _ui_time(j.get("completionTime"))) for j in jobs]
        total = lambda key: float(sum(s[key] for s in stages))  # noqa: E731
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": total("numCompleteTasks") + total("numFailedTasks") + total("numKilledTasks"),
            "spark.failed_tasks": total("numFailedTasks"),
            "spark.driver_gap_s": _uncovered(t0, t1, [(a, b) for a, b in spans if a and b]),
            "spark.executor_run_s": total("executorRunTime") / 1e3,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
            "spark.shuffle_read_bytes": total("shuffleReadBytes"),
            "spark.fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
            "spark.spill_bytes": total("memoryBytesSpilled"),
            "spark.input_bytes": total("inputBytes"),
            "spark.output_bytes": total("outputBytes"),
        }
        out.update(self._sql_delta(exec0, jobs))
        return out


def final_plan_seconds(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of the
    returned DataFrame's query execution, planned in full."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1e3
