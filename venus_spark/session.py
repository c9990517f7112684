"""SparkSession factory.

Local mode for tests/bench; the config posture is cluster-ready: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (the reference stores TIMESTAMPTZ; see
reference venus/db/write.py:41 and its tz TODO at :40 — we pin UTC),
Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from venus_spark.streaming import DEFAULT_MAX_FILES_PER_TRIGGER

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "venus_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count — right for local
    mode; on a real cluster AQE coalescing makes the initial number far
    less sensitive, and per-job overrides remain possible.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Bucketed (co-located) tables land here — see prepared.bucketed_sales.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         ".prepared", "warehouse"),
        )
        # Parquet naive timestamps (the testdata) read as TIMESTAMP_NTZ so
        # no session-tz reinterpretation happens between engines.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Parquet TIMESTAMP(NANOS) is unsupported by the Spark reader;
        # surface it as epoch-nanos LongType and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A file-stream micro-batch at the admission bound re-stats its
        # files on the driver: a file index over more paths than this
        # threshold lists them with a distributed job of one task per
        # path, which would be a third job beside the batch's two sink
        # writes. The conf is session-wide because the file source keeps
        # the session ``readStream`` was called on, not the query's
        # clone; any listing of up to this many paths at one level runs
        # on the driver.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DEFAULT_MAX_FILES_PER_TRIGGER),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
