"""The benchmark's workloads. BENCHMARK.json states why each was chosen."""

from __future__ import annotations

# Scale of the generated star-schema tables (lineitem = 6M × sf rows).
TABLE_SF = 0.01

# ingest corpus size: documents per seeded JSONL file.
INGEST_DOCS = 10_000
INGEST_SALT = 2
INGEST_REGIONS = 16

# The connected-components chain (eager materialize and count actions
# inside the builder), plus one pandas cogroup so that the Python-worker
# layer is measured too.
CHAINS = (
    "j20_dup_components",
    "k8_cogroup_pandas",
)

WORKLOADS: dict[str, tuple[str, ...]] = {
    "ingest": (),
    "chains": CHAINS,
}

# Untimed passes before the window, all part of set-up. The first is
# cold (codegen, Python workers, memos); after it the JVM keeps cutting
# operation times for a few more passes (`j20` by up to half), so
# `chains` settles for three more passes and `ingest` for one.
WARM_PASSES = {"ingest": 2, "chains": 4}

# Passes measured per run at least, whatever --seconds says; traced runs
# alternate untraced and traced passes.
MIN_PASSES = 3
MIN_PASSES_TRACED = 4


def spark_cores(cores: int) -> int:
    """Spark task threads: half the cores, so that the task threads, the
    driver, the JVM's JIT and GC threads and the Python workers together
    do not outnumber the cores."""
    return max(1, cores // 2)
