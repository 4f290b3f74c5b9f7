"""SparkSession factory with defaults tuned for the engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-planning + skew-join
handling), Arrow for the few pandas-UDF operators (chunker, embedder),
UTC session time zone (all reference timestamps are UTC,
class-storage.php:23-26 / class-indexer.php:90), and shuffle
partitioning sized to the environment rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "wc-vector-indexing-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    At cluster scale the same conf applies, minus ``master``: AQE coalesces
    shuffle partitions at runtime so ``spark.sql.shuffle.partitions`` acts as
    an upper bound, and skew joins are split automatically.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES; stages whose per-row cost is CPU (Arrow
        # UDF dedup/scoring stages) would collapse onto one core when the
        # shuffled text is only a few MB. A small floor keeps
        # parallelismFirst effective at test scale and is invisible at
        # cluster scale, where total/parallelism >> 64k anyway.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: a selective join side prunes the
        # big side's scan — free win for the ledger joins at scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: pushdown + pruning are on by default; keep files
        # sized so one task ≈ one row-group at 100 TB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects;
        # read as long + convert in sources.readers.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed layouts, sources/layout.py) go to a
        # scratch warehouse, not the working directory; static conf —
        # only applies when this builder actually creates the session
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    if not os.environ.get("SPARK_GRAFT_CLUSTER"):
        # local[N] runs the tasks in the driver's heap, where Spark sizes
        # a memory page as the execution pool / cores / 16 (32 MB for a
        # 2 GB driver at local[2]). Every sort, aggregation map and
        # Arrow-UDF input queue takes at least one page, however few rows
        # it holds, and a Python UDF's input queue stays reachable until
        # its worker's monitor thread next wakes (every 2 s): 64 MB of
        # driver heap pinned after a two-task Arrow-UDF stage. Small pages
        # keep that to a few MB.
        b = b.master(f"local[{cpus}]").config("spark.buffer.pageSize", "2m")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
