"""SparkSession factory tuned for the extraction engine.

Local-mode settings mirror what a 1000-executor cluster run would set per
executor; the Iceberg catalog seam lives in sources/catalog.py (no Iceberg
runtime jar in this sandbox — Parquet warehouse fallback, SURVEY.md §7).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ocr-extract", master: str | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None) -> SparkSession:
    # The daemon module (spark.python.daemon.module below) is imported by a
    # fresh python the JVM spawns — it sees PYTHONPATH, not the driver's
    # sys.path, so make sure the package root is on it before launch.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pp if _pp else ""))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")]
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: the extractors are vectorized pandas UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # keep python workers warm between stages
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode: driver heap IS the executor heap — size it for
        # 32 concurrent tasks holding Arrow batches + persisted blocks
        # (8g measured 3x wall-time GC thrash on the bench job)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # task-side commit (v2): avoids the driver-serial rename storm on
        # partitioned writes with many files
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Fork workers from a daemon that pre-imported numpy/pandas/pyarrow +
    # the UDF modules: kills the N-worker cold import storm on the first
    # UDF stage. The PRELOADS inside the module are best-effort, but the
    # module itself must be importable by the worker python or every UDF
    # task fails — so only enable it when this package is importable from
    # a filesystem path we can export via PYTHONPATH (true in local mode;
    # on a cluster, ship the zip with --py-files and set the conf
    # explicitly).
    if os.path.isfile(os.path.join(_pkg_root, "ocr_image_to_text_spark",
                                   "daemon_preload.py")):
        b = b.config("spark.python.daemon.module",
                     "ocr_image_to_text_spark.daemon_preload")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
