"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configuration below is
chosen so the same code is correct on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) so the
  physical plan adapts to real statistics at any scale factor.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- File listing stays on the driver. Above
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (default
  32), Spark lists files with a "Listing leaf files and directories" job of
  one task per path. The file stream source re-lists each batch's files in
  ``getBatch``, so a 400-file backlog drain ran a 400-task job: on
  ``local[4]`` its ``getBatch`` took 2.0-2.5 s of a 6.4-8.2 s trigger, and
  0.10-0.12 s listed on the driver (4.4-5.8 s trigger). A parquet read of
  a bronze entity dir with one ``batch_id=<n>`` dir per micro-batch runs
  the same kind of job past 32 batches: with 60 dirs a read took 769 ms
  (median of 10, 620-1089) against 318 ms (283-403) listed on the driver.
  The listing result is the same either way; only the per-task overhead
  goes. On a cluster over an object store, where a batch may list many
  thousands of paths, pass the default back through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def shuffle_partition_count(spark: SparkSession, default: int = 200) -> int:
    """Numeric value of ``spark.sql.shuffle.partitions`` with a safe
    fallback: runtimes may set the conf to a non-numeric value (e.g.
    ``"auto"``), and operators that size a ``repartitionByRange`` off it
    must not throw there."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


def get_spark(
    app_name: str = "streamroom_bigdata_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``cpus`` only affects a freshly created session (``master`` is fixed at
    creation); an existing session is returned as-is apart from runtime confs.
    """
    n = cpus or cpu_count()
    # Shuffle-partition sizing is THE local scale knob: the pinned
    # shuffle-hash joins (dedup/winnowing) build one hash map per task, so
    # per-partition size must fit the per-task heap share. At sf0.1 `cores`
    # partitions are right; the sf≈10 rehearsal measured 32 partitions
    # OOMing the shared local heap (corpus/32 build sides × 32 concurrent
    # tasks), fixed by 8× the partitions — the same rows-per-partition a
    # real cluster would get from spark.sql.files.maxPartitionBytes.
    # Override per-run with SPARK_GRAFT_SHUFFLE_PARTITIONS.
    env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    sp = shuffle_partitions or (int(env_sp) if env_sp else None) or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Defense-in-depth: parquet written with timezone-naive timestamps
        # (the driver-generated fixtures) should read as TIMESTAMP_LTZ so
        # epoch functions (unix_millis & co) resolve. Operators additionally
        # cast at the call site so correctness never depends on this conf —
        # the driver may build its own session without it.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # List files on the driver at any path count (module docstring): a
        # listing job runs one task per path on the same local cores, which
        # cost the 400-file drain trigger 2.0-2.5 s of getBatch against
        # 0.10-0.12 s here. No finite cutoff holds: a backlog and an
        # idempotent bronze store's batch_id dirs both grow without bound.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # bucketed tables (sources/bucketing.py) need a writable warehouse;
        # keep it out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
