"""SparkSession factory.

Replaces the reference's connection registry (lwetl/config_parser.py,
lwetl/jdbc.py:405-448): instead of named JDBC logins resolved from YAML we
produce one tuned SparkSession; named data locations are handled by
``lwetl_spark.catalog``.

Tuning rationale (100 TB design, local[32] test):
- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy switching replace every hand-rolled batching heuristic the
  reference carries (fetch 1000 / commit 2000 / IN-list 500).
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number mostly irrelevant.
- UTC session timezone so timestamp semantics line up with
  parquet/DuckDB (both UTC-naive).
- Arrow enabled for every pandas interchange (toPandas, pandas UDFs).
- Python workers start from ``_worker/lwetl_worker_daemon.py`` whenever
  this factory picks a ``local`` master itself: every task otherwise
  re-reads pyspark.zip's central directory (~0.13 s of CPU before any
  user code).  A master chosen by the environment (``SPARK_MASTER``,
  ``SPARK_GRAFT_NO_MASTER``, a non-local ``SPARK_GRAFT_MASTER``) keeps
  pyspark's daemon: its executors may not see the driver's filesystem.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
# holds only the daemon module, so lwetl_spark stays unimportable on workers
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def get_spark(
    app_name: str = "lwetl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a tuned SparkSession.

    In local mode the driver is the only JVM; on a cluster the same conf
    applies unchanged — nothing here assumes single-node.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet (some driver-generated events files) reads
        # as raw long nanos; load_table rebuilds a micros timestamp.  Set here
        # once so load_table never has to mutate a tuned session's conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # local mode: driver heap IS the executor heap; pyspark's 1g
        # default chokes 32-thread Arrow workloads (only applies when
        # this builder actually launches the JVM)
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    )
    extra_conf = dict(extra_conf or {})
    if not os.environ.get("SPARK_MASTER") and "SPARK_GRAFT_NO_MASTER" not in os.environ:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        builder = builder.master(master)
        if master.startswith("local"):
            builder = builder.config("spark.python.daemon.module", "lwetl_worker_daemon")
            key = "spark.executorEnv.PYTHONPATH"
            extra_conf[key] = os.pathsep.join(
                p for p in (extra_conf.get(key), _DAEMON_DIR) if p
            )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
