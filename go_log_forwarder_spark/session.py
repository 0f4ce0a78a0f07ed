"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); production target is a
multi-executor cluster via ``spark-submit``. The Python worker daemon is
``go_log_forwarder_spark.pyworker``, so the package must be importable when an
executor starts its daemon. ``--py-files`` go onto ``sys.path`` per task, after
the daemon has started: on standalone or Kubernetes, install the package in the
executor image or add its parent directory to ``spark.executorEnv.PYTHONPATH``.
In local mode ``get_spark`` adds that directory itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "go_log_forwarder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    - AQE on: runtime coalescing + skew-join handling for the skewed
      ``source`` distribution the north rule calls out.
    - UTC session timezone: required for byte-exact timestamp parity with
      the DuckDB oracle and with the reference's RFC3339 output
      (internal/output/stdout/stdout.go:124 serializes UTC-normalized).
    - Arrow enabled: all Python-side kernels are pandas UDFs (vectorized);
      there is no row-at-a-time Python in any hot path.
    - Python workers fork from ``pyworker``: pyspark invalidates the import
      caches at the start of every task, which on Python 3.11 re-reads
      ``pyspark.zip``'s directory once per imported pyspark subpackage: 0.14-0.22
      CPU-s per task whatever its row count, measured on a 4-core x86 host
      with Python 3.11.7; the daemon re-reads an archive only when it has
      changed.
    - ``local[<usable cores>]`` unless ``SPARK_GRAFT_MASTER`` or
      ``SPARK_GRAFT_CPUS`` says otherwise: each extra task pays the per-task
      cost.
    """
    cores = len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]"
    )
    if shuffle_partitions is None:
        # match cores in local mode; on a real cluster the submitter overrides
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cores if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default 4MB models HDFS seek cost; log corpora are MANY tiny files
        # and the default gives one task per file (500 files -> 500 tasks).
        # 64KB packs them into size-based splits on local/NVMe/object stores.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.python.daemon.module", f"{__package__}.pyworker")
    )
    if master.startswith("local"):
        # the daemon imports this package before any task runs, from any cwd
        package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.executorEnv.PYTHONPATH", package_root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
