"""SparkSession factory with scale-oriented defaults.

The reference runs single-threaded Python on one node
(``dags/utils/chunks_data.py:69``, ``dags/access/test.py:15-16``); this
engine targets a 1000-executor cluster reading ~100 TB. The configs here
are chosen so the SAME code runs on ``local[32]`` for tests and on a
real cluster unchanged:

- AQE on (runtime shuffle-coalesce, skew-join splitting, plan re-opt).
- Arrow on (vectorized pandas_udf / mapInPandas exchange).
- UTC session timezone + NTZ parquet timestamps so results are
  byte-identical across cluster timezones (and match the DuckDB oracle).
- Shuffle partitions sized from the local core count; on a cluster this
  is expected to be overridden (or left to AQE's initialPartitionNum).
- Driver heap ceiling sized from the host's RAM (half of ``MemTotal``,
  at most 16g) and committed lazily: no ``-Xms``/``AlwaysPreTouch``, so
  the driver's footprint is what the workload uses, not the ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SF_DIR = "/root/testdata/sf0.1"


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", _DEF_SF_DIR)


# Default driver heap ceiling: half the host's RAM, never above 16g.
# The heap is the JVM's ceiling, committed lazily as G1 needs it; the
# other half covers what lives outside it: the JVM's non-heap memory
# (2g reserved code cache, metaspace, thread stacks, Arrow/Netty direct
# buffers, RocksDB state stores), one Python worker per core, and the
# page cache the parquet scans read through. At 3/4 a 15.7 GB host
# would leave ~4 GB for all of that, within reach of the OOM killer
# that stopped the old fixed 16g default there; the JVM's own default
# (1/4 of RAM, 3.9g on that host) is below the 6g the test suite
# already needs. 16g is the largest heap a full 421-query bench has
# asked for (peak G1 heap 12-14 GB), so bigger hosts keep that.
_HEAP_CAP_MB = 16 * 1024


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: ``MemTotal`` / 2, capped at
    16g; the cap itself where ``MemTotal`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_HEAP_CAP_MB}m"
    return f"{min(_HEAP_CAP_MB, kb // 1024 // 2)}m"


def driver_memory_options() -> tuple[str, str]:
    """(``spark.driver.memory``, ``spark.driver.extraJavaOptions``):
    ``SPARK_GRAFT_DRIVER_MEM`` / ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` when
    set, else the host-sized heap and a 2g JIT code cache.

    No ``-Xms`` and no ``-XX:+AlwaysPreTouch`` by default: pre-touching
    7/8 of a 6g heap made the driver's RSS ~6.2 GB on a workload that
    uses ~2 GB (4-core, 15.7 GB host), and at the old 16g default it
    got the driver OOM-killed on that host. Hosts that fault fresh pages slowly can still
    opt back in through ``SPARK_GRAFT_DRIVER_JAVA_OPTS``.

    JIT code cache: a 400+-query session generates hundreds of
    distinct whole-stage-codegen classes; the JVM default (~240 MB)
    fills mid-run, after which the JIT flushes/stops compiling and the
    session tail runs partially interpreted (measured: uncontended
    tail-half of the bench 197 s -> 180 s with 2g). Reservation is
    virtual address space, committed lazily.
    """
    return (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=2g"
        ),
    )


def get_spark(
    app_name: str = "lakehouse_weather_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    driver_mem, java_opts = driver_memory_options()

    # Export the vendored protobuf onto PYTHONPATH BEFORE the JVM
    # boots: transformWithState's Python workers (spawned by the JVM)
    # inherit this env, and retrofitting after boot is impossible.
    # No-op where protobuf is natively importable or absent entirely.
    try:
        from lakehouse_weather_spark.streaming.stateful import (
            _ensure_protobuf,
        )

        _ensure_protobuf()
    except Exception:  # noqa: BLE001 - TWS is optional; never block boot
        pass

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- memory: local mode hosts all executor threads inside the
        # driver JVM, whose default 1g heap OOMs well before the box
        # does (observed: sf1 slope bench, 32 threads). Only effective
        # when THIS process launches the JVM (true for every CLI/test
        # entry here); a cluster deployment sizes executors instead.
        # Both values are documented in driver_memory_options().
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        # --- correctness / determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # --- adaptive execution: the 100 TB safety net ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE partition coalescing stays at stock settings
        # (parallelismFirst=true, advisory 64m, minPartitionSize 1m).
        # Measured both alternatives at sf0.1 (OPTIMIZATION_r10.md §3):
        # parallelismFirst=false + advisory 128m serialized CPU-heavy
        # small-byte window/agg stages onto one task (12-query sample:
        # 19.7 s stock vs 30.8 s size-based) — the byte target is the
        # right production UPPER bound but local CPU-bound stages need
        # the parallelism-derived target. The advisory size is still
        # deployment-tunable:
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        # runtime bloom-filter pushdown: semi-join reduction of big scans
        # from selective join sides (off by default; a large-join win)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 128 MB splits: standard cluster-friendly scan granularity
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- broadcast: dims like region/nation/supplier stay broadcast
        # even at SF100k (they grow slowly or not at all) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local warehouse for bucketed/managed tables (static conf — must
        # be set at session build; harmless on a real cluster where the
        # deployment overrides it)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/lws_warehouse"),
        )
        # keep the local UI off (test/bench hygiene)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # --- object store (opt-in; ref deployment is MinIO-backed,
    # docker-compose.yml:309-323). Point SPARK_GRAFT_S3_ENDPOINT at an
    # S3/MinIO endpoint and supply AWS_ACCESS_KEY_ID /
    # AWS_SECRET_ACCESS_KEY in the environment; the public connector
    # must be on the classpath, e.g.
    # SPARK_GRAFT_EXTRA_PACKAGES="org.apache.hadoop:hadoop-aws:3.4.1".
    # Every engine path flows through sources/paths.py:dataset_path, so
    # s3a:// table locations then work unchanged.
    endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
    if endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
            .config(
                "spark.hadoop.fs.s3a.connection.ssl.enabled",
                os.environ.get("SPARK_GRAFT_S3_SSL", "false"),
            )
            .config(
                "spark.hadoop.fs.s3a.aws.credentials.provider",
                "com.amazonaws.auth.EnvironmentVariableCredentialsProvider",
            )
        )
    packages = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES")
    if packages:
        builder = builder.config("spark.jars.packages", packages)
    spark = builder.getOrCreate()
    # Reliable checkpoint location for iterative algorithms (connected-
    # components label propagation). localCheckpoint() is executor-local
    # and lost on executor failure; a real cluster must point this at a
    # shared filesystem (HDFS/S3) via SPARK_GRAFT_CHECKPOINT_DIR.
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/lws_checkpoints")
        )
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Provision the Python worker pool: one trivial pandas_udf stage
    over <cores> partitions forks a worker per core and imports
    pandas/numpy in each. The first Python-boundary stage otherwise
    pays that cold start inside whatever query hits it first — on
    hosts that service fresh anonymous-page faults slowly (this
    sandbox: ~50-300 MB/s) the 32-worker import storm is a
    multi-second stall. Guide §4.5's init-once principle applied at
    session level; call it from untimed warmup, never from a query."""
    from pyspark.sql import functions as F

    cpus = spark.sparkContext.defaultParallelism

    @F.pandas_udf("long")
    def _warm_py(s):
        import numpy as _np  # noqa: F401

        return s

    (
        spark.range(cpus * 4, numPartitions=cpus)
        .select(_warm_py("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
