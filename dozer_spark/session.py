"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

The reference engine is a single process with bounded channels
(dozer-core/src/executor/mod.rs:19-32 — 20k-op channel capacity is its only
backpressure mechanism). Spark gives us real distribution; the configs here
are the knobs that matter at 100 TB:

- AQE on: runtime re-planning (skew-join splitting, dynamic coalescing of
  shuffle partitions) replaces hand-tuning per query.
- adaptive skew join: dozer has no answer to skewed keys (its hash join
  state is one in-memory map, dozer-sql/src/product/join/operator/table.rs);
  AQE splits oversized partitions automatically.
- Arrow-enabled pandas UDFs: the only sanctioned Python-side path.
- session timezone UTC: deterministic timestamp semantics regardless of
  host TZ (the reference uses tz-aware ns timestamps everywhere,
  dozer-types/src/types/field.rs:896).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _shuffle_partitions(cpus: str) -> str:
    """Scale-adaptive shuffle partitioning (guide §2.2): the initial
    partition count tracks the session's actual slot count instead of a
    constant tuned for one machine shape — one task per slot locally,
    floored at 16 so AQE's coalescing (enabled below) still has room to
    merge when inputs are tiny. SPARK_GRAFT_SHUFFLE_PARTITIONS overrides
    for deployments: on a cluster, size it so post-shuffle partitions
    land in the 100 MB–1 GB range for the expected input (e.g. ~2–4x
    total cores as a starting point, then let AQE coalesce), rather
    than inheriting a local-mode default."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return env
    try:
        n_slots = int(cpus)
    except ValueError:
        n_slots = os.cpu_count() or 8
    return str(max(n_slots, 16))


def get_spark(app_name: str = "dozer_spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Return (building if needed) the shared SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale / performance ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _shuffle_partitions(cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # compiled whole-stage classes are an LRU cache; at Spark's
        # default of 100 one benchmark batch pass (103 distinct classes)
        # or one durable aggregation epoch (131) evicts every class
        # before its next use, so each pass recompiles all of them.
        # 512 is over twice one batch pass plus one epoch (223,
        # tools/codegen_working_set.py). A static conf: it only takes
        # effect when set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        # Arrow for any pandas-UDF path (10-100x over row-at-a-time python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep the UI off in test harnesses
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
