"""SparkSession factory.

Local defaults target the test harness (local[N], one JVM); every setting
is also the right call on a real cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  the 100 TB answer to skewed keys and mis-estimated shuffle sizes.
- shuffle.partitions sized to cores locally; on a cluster you'd size to
  ~2-3x total executor cores (AQE coalesces the excess).
- Arrow on: every Pandas-UDF path ships columnar batches, not pickled rows.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).
- Python workers fork from ``worker_daemon``, not ``pyspark.daemon``:
  PySpark calls ``importlib.invalidate_caches()`` before every task, and
  before Python 3.13 that re-reads the whole directory of every archive
  on the worker's path (``pyspark.zip``, the spark-core jar) once per
  importer — ~0.25 s of CPU per task.  The daemon re-reads an archive
  only when it changed; Python 3.13 made the re-read lazy, so there the
  daemon is the stock one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mincemeatpy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Pre-seed the pbshim on the worker PYTHONPATH at session BUILD:
    # stream_ops.ensure_protobuf otherwise mutates sc.environment
    # mid-session when the first transformWithState query runs, which
    # invalidates the cached Python worker pool (keyed by env) — the
    # old ~65 workers are orphaned and every Python-UDF query after
    # the first streaming query pays a full worker respawn (~2 s,
    # measured r9).  With the path stable from the start,
    # ensure_protobuf's guard sees it present and never mutates.
    # The package's parent directory rides along so the worker daemon
    # module below starts whatever the driver's cwd is.
    package = os.path.dirname(os.path.abspath(__file__))
    shim = os.path.join(package, "pbshim")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(
            [shim, os.path.dirname(package), os.environ.get("PYTHONPATH", "")]
        ),
    ).config("spark.python.daemon.module", "mincemeatpy_spark.worker_daemon")
    if os.environ.get("SPARK_GRAFT_CBO_STATS") == "1":
        # CBO flags must be on BEFORE planning; the stats themselves
        # come from tables.bootstrap_cbo_statistics (same flag).
        builder = builder.config("spark.sql.cbo.enabled", "true").config(
            "spark.sql.cbo.joinReorder.enabled", "true"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
