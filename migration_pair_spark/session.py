"""SparkSession factory (reference analog: cluster/session builders in
/root/reference/Tasks/MigrationTask.cs:29-60).

All engine code gets its session from here so the scale-relevant knobs are
set in exactly one place:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing),
- shuffle partitions sized to cores (not the 200 default),
- Arrow enabled for every pandas-UDF exchange,
- UTC session timezone (pins timestamp semantics for the DuckDB oracle and
  for the epoch-millis normalization inherited from the reference,
  /root/reference/Tasks/Extraction.cs:67-68).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """3/8 of physical memory, capped at 48g: the heap, the JVM's
    off-heap memory and the Python workers must all fit in the box."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys * 3 // 8 >> 20, 48 << 10)}m"


def get_spark(
    app_name: str = "migration_pair_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the master comes from spark-submit and this argument is left
    None. ``shuffle_partitions`` defaults to the core count locally; on a
    cluster AQE coalescing makes the initial number non-critical.
    In-task retry in local mode is ``master="local[N,F]"`` — the engine
    analog of the reference's write-timeout retry policy
    (``Policies/RetryPolicy.cs:18-23``); on a cluster
    ``spark.task.maxFailures`` governs instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Under spark-submit the driver python is launched by an existing JVM
    # gateway (PYSPARK_GATEWAY_PORT set) and spark.master comes from the
    # submit args — calling builder.master() there would silently downgrade a
    # cluster deployment to single-node local mode. Fall back to local[N]
    # ONLY when no external master can be in play.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and master is not None:
        # local[N], local[N,F] or local[*]
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        inner = inner.split(",")[0].strip()
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros, not the legacy INT96: INT96 timestamps carry NO
        # parquet min/max statistics, which would silently disable the
        # lakehouse zone maps (table.py read_range) for every timestamp
        # column; micros is also what pyarrow/DuckDB read natively.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Push key IN-lists down to the parquet reader instead of the
        # default fallback past 10 values (a min..max range — useless on
        # hashed/uniform keys): pushed IN terms let parquet-mr skip row
        # groups by column stats, dictionary pages, and BLOOM filters
        # (tables created with bloom_filter_cols). This is what makes the
        # chunk-index probe's small-batch IN path read ~0 data pages.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        # Bounded driver collects (limit(cap).collect()) otherwise run
        # Spark's INCREMENTAL CollectLimit: scan 1 partition, then 4, 16,
        # ... — one extra JOB per scale-up round (measured: +3 jobs per
        # keeper-resolution collect). Starting at cluster width makes the
        # common small-data case one single-wave job; a genuinely huge
        # input still scales up by 4x from there instead of from 1.
        .config(
            "spark.sql.limit.initialNumPartitions",
            str(max(cpus, shuffle_partitions or cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        # local mode: driver heap IS executor memory; size for the box, not
        # the default 1g/8g — 32 concurrent tasks + cached micro-batch state
        # at an 8g heap GC-thrash and invert core scaling (measured).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # Dynamic-partition writes (the bucketed table commit) keep up to 64
        # open writers per task instead of SORTING the batch by partition
        # first: the sort is a memory-bandwidth-bound pass over the full
        # micro-batch that contends exactly when all cores are busy
        # (measured: -12% on the 8-core apply, neutral at 2 cores). Tables
        # with > 64 buckets landing in one task fall back to sorting the
        # remainder — graceful at any n_buckets.
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # Shuffle spill dir: the sandbox's single virtio disk tops out at
        # ~475 MB/s and serializes all cores (measured: local[4] beat
        # local[16] on a shuffle-heavy job). tmpfs restores the per-node
        # I/O bandwidth a real cluster gets from node-local NVMe.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/mps-spark" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        # On a cluster (master from spark-submit) the initial partition count
        # is left to the deployment + AQE coalescing.
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the engine package to executors (pandas UDFs unpickle it there);
    # on a real cluster this is the --py-files archive (packaging.py).
    from migration_pair_spark.packaging import ship_package

    ship_package(spark)
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the bench to switch local[N] levels)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
