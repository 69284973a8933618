"""SparkSession construction with the engine's scale-oriented defaults.

The defaults mirror what we would submit on a real multi-executor cluster
(``spark-submit --py-files graphscope_spark.zip``): AQE on (runtime
broadcast-conversion + skew-join splitting), Arrow on (pandas UDF batches),
explicit shuffle-partition count sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: min(24g, half of
    physical RAM), leaving room for off-heap memory and Python workers
    on small machines."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mb = ram // 2 // (1 << 20)
    return f"{min(24 * 1024, half_mb)}m"


def build_session(
    cpus: int | None = None,
    app_name: str = "graphscope-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for iterative graph jobs.

    ``cpus`` controls local parallelism (``local[cpus]``); on a real cluster
    the same confs apply and the master comes from spark-submit.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # one shuffle partition per core keeps superstep barriers dense;
        # on a 1000-executor cluster this would be ~2-3x total cores.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime shuffle→broadcast conversion (FLASH's dense/sparse
        # EdgeMap switch, SURVEY.md §2.C) and skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InjectRuntimeFilter (bloom-filter injection) goes pathological on
        # iterative self-referential join plans — measured 4×-per-round
        # optimizer-time growth in the Louvain local-move loop (constant
        # plan size, 0.8s → 130s/round). Runtime filters only help large
        # scan-side reduction, which our in-memory superstep loops never
        # have; re-enable per-query for scan-heavy ETL if needed.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        # Arrow for pandas UDFs / toPandas (the engine's only Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative jobs re-read persisted state; keep blocks compact
        .config("spark.sql.inMemoryColumnarStorage.compressed", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
