"""SparkSession builder with the engine's standard tuning (SURVEY.md §4).

Confs scale with the core count: shuffle partitions ~ cores (local mode has
no multi-executor shuffle amortization to chase), AQE for runtime
coalescing + skew-join splitting, Arrow for every pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.sources.parallelPartitionDiscovery.threshold: above this many
# paths a read lists them with a Spark job. A lake read passes the explicit
# file list its manifest names, so the listing is one stat per file, and a
# job's scheduling (0.2 s for 48 files, 4 cores) costs more than the stats;
# set above any manifest's file count, it keeps every listing on the driver
LISTING_THRESHOLD = 1_000_000


def build_session(
    app: str = "cdc_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")]
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # modern timestamp physical type: INT96 (the legacy default) writes
        # NO min/max statistics, which would blind manifest time pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(LISTING_THRESHOLD))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s
