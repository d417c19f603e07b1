"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; the same config block is what we would
pass to ``spark-submit`` on a real cluster (AQE on, Arrow on, UTC session TZ
so results compare cleanly against external oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batches carry whole html blobs (MBs each at web scale): cap the
# records-per-batch low so a batch stays memory-bounded by bytes, not rows.
ARROW_MAX_RECORDS_PER_BATCH = 256


def get_spark(
    app_name: str = "docling_japanese_books_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Args:
        app_name: Spark application name.
        cores: local[N] core count; default $SPARK_GRAFT_CPUS or '*'.
        shuffle_partitions: shuffle parallelism; default = cores (local mode
            rule of thumb: ~1 shuffle partition per core; a real cluster job
            would size this to 2-3x total cores and let AQE coalesce).
        extra_conf: additional overrides.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1/§9): skips both sort passes. Measured
        # on q3 (lineitem ⋈ filtered orders): 0.93 s -> 0.76 s at sf1.0.
        # OOM risk of an oversized build side is bounded by the same size
        # conditions + AQE skew split; SPARK_GRAFT_PREFER_SMJ=true restores
        # the sort-merge default for memory-tight clusters.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
