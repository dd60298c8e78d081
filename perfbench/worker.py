"""One benchmark run in a fresh process: set up, warm, measure, check.

Started by ``run.py`` with the repository root as its working directory
(the Python workers Spark forks import ``json2hbase_spark`` from there).
Writes a JSON record of every operation, pass and check to ``--out``;
``report.py`` turns it into metrics.

Operations are sent by a single client, one in flight (a closed loop).
With ``--trace 1`` passes alternate untraced and traced; only traced
passes carry layer records, so their cost shows as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.inputs import flatten_doc, salted_rowkey  # noqa: E402
from perfbench.trace import SparkProbe, Spans, final_plan_seconds  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    INGEST_DOCS,
    INGEST_REGIONS,
    INGEST_SALT,
    MIN_PASSES,
    MIN_PASSES_TRACED,
    WARM_PASSES,
    WORKLOADS,
)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.names = list(WORKLOADS[args.workload]) or ["ingest"]
        self.is_ingest = args.workload == "ingest"
        self.spans = Spans() if args.trace else None
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.last_out: str | None = None  # the latest ingest output
        self.last_df: dict = {}

    # ------------------------------------------------------------ set-up

    def set_up(self) -> None:
        t0 = time.perf_counter()
        if self.spans:
            # before the registry load: plans bind `materialize` at import
            self.spans.install()
        from json2hbase_spark import registry

        registry.load_all_query_modules()
        t1 = time.perf_counter()
        from json2hbase_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.registry = registry
        self.probe = SparkProbe(self.spark) if self.spans else None
        self.setup["registry.load_s"] = t1 - t0
        self.setup["session.get_spark_s"] = t2 - t1

    # -------------------------------------------------------- operations

    def _query(self, name: str, rec: dict) -> None:
        from json2hbase_spark.materialize import cleanup_materialized

        t0 = time.perf_counter()
        df = self.registry.QUERIES[name](self.spark, self.args.tables)
        t1 = time.perf_counter()
        if rec.get("traced"):
            rec["layers"]["catalyst.final_plan_s"] = final_plan_seconds(df)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        rec["seconds"] = (t1 - t0) + (t3 - t2)
        rec["layers"]["plans.builder_s"] = t1 - t0
        rec["layers"]["plans.action_s"] = t3 - t2
        # the latest result per query is what the output check collects
        self.last_df[name] = df
        cleanup_materialized()

    def _ingest(self, rec: dict) -> None:
        from json2hbase_spark.__main__ import run

        out = os.path.join(self.args.work, "ingest-out", f"op{len(self.ops)}-{rec['pass']}")
        argv = [
            "--input", self.args.corpus, "--rowkey", "id",
            "--salt", str(INGEST_SALT), "--regions", str(INGEST_REGIONS), "--output", out,
        ]
        t0 = time.perf_counter()
        status = run(argv)
        rec["seconds"] = time.perf_counter() - t0
        rec["layers"]["cli.run_s"] = rec["seconds"]
        rec["cells"] = status["cells"]
        if status["cells"] != self.args.expected_cells:
            rec["error"] = f"run() wrote {status['cells']} cells, generator counted {self.args.expected_cells}"
        # keep only the latest output; it is the one the check reads
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out

    def op(self, name: str, pass_no: int, traced: bool) -> dict:
        rec: dict = {"name": name, "pass": pass_no, "traced": traced, "layers": {}, "error": None}
        mark = self.probe.mark() if traced else None
        w0 = time.time()
        if traced:
            self.spans.enabled = True
        try:
            if self.is_ingest:
                self._ingest(rec)
            else:
                self._query(name, rec)
        except Exception:  # a failed operation is counted, and the loop goes on
            rec["error"] = traceback.format_exc(limit=3)
            rec.setdefault("seconds", 0.0)
        finally:
            if self.spans:
                self.spans.enabled = False
        if traced:
            w1 = time.time()
            rec["layers"].update(self.spans.take())
            rec["layers"].update(self.probe.delta(mark, w0, w1))
        return rec

    # ----------------------------------------------------------- measure

    def measure(self) -> None:
        rng = random.Random(self.args.seed)
        t0 = time.perf_counter()
        for warm in range(WARM_PASSES[self.args.workload]):
            for name in rng.sample(self.names, len(self.names)):
                self.op(name, -1 - warm, False)  # codegen, Python workers, memos, JIT
        self.setup["setup.warm_s"] = time.perf_counter() - t0
        self.setup["setup_s"] = time.time() - self.args.t0
        deadline = time.perf_counter() + self.args.seconds
        min_passes = MIN_PASSES_TRACED if self.args.trace else MIN_PASSES
        while time.perf_counter() < deadline or len(self.passes) < min_passes:
            n = len(self.passes)
            traced = bool(self.args.trace) and n % 2 == 1
            p0 = time.perf_counter()
            for name in rng.sample(self.names, len(self.names)):
                self.ops.append(self.op(name, n, traced))
            self.passes.append({"seconds": time.perf_counter() - p0, "traced": traced})
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.setup["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm)

    # ------------------------------------------------------------- check

    def check_queries(self) -> dict:
        """Collect each query's latest measured result (its eager work is
        done; only the final plan runs again) and compare it with the
        query's DuckDB twin; a query without a twin (``j2_dedup_near``,
        ``j15_simhash``) must return rows, as in ``tools/oracle_check``."""
        from json2hbase_spark.materialize import cleanup_materialized
        from tools.oracle_check import compare, duck_connection

        con = duck_connection(self.args.tables)
        checks = {}
        for name in self.names:
            res: dict = {"ok": False, "problems": []}
            try:
                df = self.last_df.pop(name, None)
                if df is None:  # every measured run of it raised
                    df = self.registry.QUERIES[name](self.spark, self.args.tables)
                pdf = df.toPandas()
                del df
                cleanup_materialized()
                res["rows"], res["cols"] = len(pdf), len(pdf.columns)
                oracle = self.registry.ORACLES.get(name)
                if oracle is None:
                    res["problems"] = [] if len(pdf) else ["no rows"]
                else:
                    duck = con.execute(oracle).fetchdf()
                    res["problems"] = [
                        p for p in compare(name, pdf, duck) if not p.startswith("WARN-ONLY")
                    ]
                res["ok"] = not res["problems"]
            except Exception:
                res["problems"] = [traceback.format_exc(limit=3)]
            checks[name] = res
        con.close()
        return checks

    def check_ingest(self) -> dict:
        import pyarrow.parquet as pq

        problems: list[str] = []
        out = self.last_out
        parts = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))
        stored = sum(os.path.getsize(os.path.join(out, p)) for p in parts)
        by_key: dict[str, dict[str, str]] = {}
        rng = random.Random(self.args.seed)
        sample_lines = set(rng.sample(range(INGEST_DOCS), 5))
        with open(self.args.corpus, encoding="utf-8") as f:
            docs = [json.loads(line) for i, line in enumerate(f) if i in sample_lines]
        wanted = {salted_rowkey(d["id"], INGEST_SALT): d for d in docs}
        for part in parts:
            t = pq.read_table(os.path.join(out, part), columns=["rowkey", "cf", "qualifier", "value"])
            keys = list(zip(*(t.column(c).to_pylist() for c in ("rowkey", "cf", "qualifier"))))
            if any(a > b for a, b in zip(keys, keys[1:])):
                problems.append(f"{part} is not sorted by (rowkey, cf, qualifier)")
            values = t.column("value").to_pylist()
            for (rowkey, cf, qualifier), value in zip(keys, values):
                if rowkey in wanted:
                    if cf != "d":
                        problems.append(f"{rowkey}: column family {cf!r}")
                    by_key.setdefault(rowkey, {})[qualifier] = value
        for rowkey, doc in wanted.items():
            if by_key.get(rowkey) != flatten_doc(doc):
                problems.append(f"{rowkey}: cells differ from the reference flattening")
        return {
            "ingest": {
                "ok": not problems,
                "problems": problems,
                "regions": len(parts),
                "stored_bytes": stored,
                "input_bytes": os.path.getsize(self.args.corpus),
            }
        }

    def check(self) -> dict:
        if self.is_ingest:
            if not self.last_out:
                return {"ingest": {"ok": False, "problems": ["no output was written"]}}
            return self.check_ingest()
        return self.check_queries()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was spawned")
    ap.add_argument("--tables", required=True)
    ap.add_argument("--corpus")
    ap.add_argument("--expected-cells", type=int)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    run.set_up()
    run.measure()
    checks = run.check()
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": run.setup,
        "ops": run.ops,
        "passes": run.passes,
        "checks": checks,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    # run.py kills this process group (the JVM included) once it exits;
    # a graceful SparkContext shutdown would only add seconds to each run
    os._exit(0)


if __name__ == "__main__":
    main()
