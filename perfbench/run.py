"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload {ingest,chains} \\
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It writes the workload's inputs under
``perfbench/.work`` (the tables once per checkout, the ingest corpus per
seed), then starts ``worker.py`` as a fresh process on
``local[<cores / 2>]`` with the repository root as its working directory,
waits for it, and prints two JSON lines: a report (every metric with its
unit, details, checks and, traced, the structural snapshot) and, last,
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKER_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _ensure_tables(sf: float) -> str:
    """Generate the star-schema tables once per checkout."""
    from perfbench.inputs import make_tables

    out = WORK / f"tables-sf{sf}"
    if not (out / "done").exists():
        tmp = WORK / f"tables-sf{sf}.tmp"
        make_tables(str(tmp), sf)
        (tmp / "done").touch()
        if out.exists():
            shutil.rmtree(out)
        tmp.rename(out)
    return str(out)


def _stop_worker(proc: subprocess.Popen) -> None:
    """Kill the worker's process group and wait until every process the
    run started has ended. run.py is a child subreaper, so the JVM and the
    Python workers that outlive the worker are reparented here; the
    PySpark daemon leads a group of its own and exits once the JVM is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker group (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "json2hbase_spark" / "__main__.py").is_file() or not (ROOT / "tools" / "oracle_check.py").is_file():
        print(f"perfbench: no json2hbase_spark engine under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.inputs import make_corpus
    from perfbench.report import build
    from perfbench.workloads import INGEST_DOCS, TABLE_SF, WORKLOADS, spark_cores

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    WORK.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    tables = _ensure_tables(TABLE_SF)
    worker_args = [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--tables", tables, "--work", str(run_dir),
        "--out", str(run_dir / "result.json"),
    ]
    if args.workload == "ingest":
        corpus = run_dir / "corpus.jsonl"
        cells = make_corpus(str(corpus), args.seed, INGEST_DOCS)
        worker_args += ["--corpus", str(corpus), "--expected-cells", str(cells)]

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(spark_cores(len(os.sched_getaffinity(0)))),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        TMPDIR=str(run_dir / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        PYTHONPATH=str(ROOT),
    )
    with open(run_dir / "worker.log", "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), "--t0", repr(t0), *worker_args],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_worker(proc)
    if code != 0:
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}; "
              f"see {run_dir / 'worker.log'}", file=sys.stderr)
        return 1
    with open(run_dir / "result.json") as f:
        result = json.load(f)
    final, report = build(result)
    print(json.dumps(report))
    print(json.dumps(final))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
