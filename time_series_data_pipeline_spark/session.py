"""SparkSession factory for a local session sized to its host (cores from
``SPARK_GRAFT_CPUS``, heap from physical memory), with settings that carry
to a real cluster (AQE, adaptive skew join, Arrow, a codegen cache that
holds the engine's generated classes).

Scale stance (100 TB): everything here is per-session tuning only — no
query in this package depends on these settings for *correctness*. A
driver-owned session with default configs must produce identical results;
these knobs only change physical plans (partition counts, broadcast
thresholds, codegen).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g: the heap of a local
    session shares the box with its Python workers and the OS cache."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "time_series_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default: half of
    physical memory, at most 24g).
    Shuffle partitions default to the core count — at 100 TB on a real
    cluster this would instead be sized so post-shuffle partitions land
    in the 128–256 MB range (AQE coalescing handles the long tail).

    The generated-code cache holds 1024 classes instead of Spark's
    default 100: one ingest + live-panel + curation cycle uses about 320
    distinct whole-stage classes, so at 100 the LRU evicts each class
    before its plan shape comes round again and every repeated query
    recompiles (Janino, then the JIT) its code. The conf is static: it
    takes effect only if this call starts the session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Distinct generated classes a fresh session compiles: the
        # dashboard benchmark 109; arrivals (ingest, rollup, two live
        # panels, a probe, the four curation queries) 305-323. At 100 an
        # arrivals op recompiled 96 (live) to 223 (curation) classes; at
        # 1024, about three times the larger set, it compiles 0-6, all
        # plans with per-op literals.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # managed-table home for bucketed-table tests; off the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/tsdp-warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
