"""SparkSession factory tuned for the extraction engine.

Local-mode settings mirror what a 1000-executor cluster run would set per
executor; the Iceberg catalog seam lives in sources/catalog.py (no Iceberg
runtime jar in this sandbox — Parquet warehouse fallback, SURVEY.md §7).

Class-data archive
------------------
Most of a short launch's CPU goes to the driver JVM loading and verifying
Spark's classes. When ``get_spark`` launches that JVM itself (no running
gateway, not under ``spark-submit``), it starts it from a dynamic AppCDS
archive (JEP 350) kept in ``${XDG_CACHE_HOME:-~/.cache}/ocr_image_to_text_spark/cds``:

* ``<key>.jsa`` exists: ``-XX:SharedArchiveFile=<key>.jsa -Xshare:auto``.
  An archive the JVM cannot use (bad header, classpath changed) is
  ignored; a changed classpath logs a JVM warning on stderr.
* it does not: ``-XX:ArchiveClassesAtExit=<key>.<nonce>.part``, with the
  JVM's pid and classpath written to ``<key>.<nonce>.pid``. The JVM dumps
  the archive when it exits.
* a later launch checks every ``.part`` whose JVM has exited with
  ``java -XX:SharedArchiveFile=<part> -Xshare:on`` on the recorded
  classpath, and ``os.replace``s it onto ``<key>.jsa`` only if that exits
  0; otherwise it deletes it. A dump killed part-way leaves a truncated
  file, and mapping a truncated archive crashes the JVM with SIGBUS even
  under ``-Xshare:auto``, so no file reaches ``<key>.jsa`` unchecked.

``<key>`` hashes the JDK and Spark's jars (dir, names, sizes), so a new
JDK or jar set starts a new archive; archives under other keys are deleted
when one is published. CDS refuses a non-empty directory on the classpath,
so the archive applies only when the conf dir holds nothing but
``*.template`` files; ``SPARK_CONF_DIR`` is then pointed at an empty dir in
the cache. Empty the cache dir to launch without an archive.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import uuid

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CHECK_TIMEOUT_S = 120


def _cds_log(level: str) -> str:
    """JVM options sending CDS's messages at ``level`` and above to stderr:
    by default they go to stdout, the driver's own (a dump logs hundreds of
    skipped classes)."""
    return f"-Xlog:cds*=off -Xlog:cds*={level}:stderr"


def _log(msg: str) -> None:
    print(f"get_spark: {msg}", file=sys.stderr, flush=True)


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "ocr_image_to_text_spark", "cds")


def java_bin() -> str | None:
    """The java that ``bin/spark-class`` runs."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def archive_key(spark_home: str, java: str) -> str:
    """Hash of the JDK (its home and ``release`` file) and of Spark's jars
    dir with the names and sizes of its files; not of the checkout."""
    h = hashlib.sha256()
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h.update(java_home.encode() + b"\0")
    with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h.update(jars.encode() + b"\0")
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        h.update(f"{e.name}\0{e.stat().st_size}\n".encode())
    return h.hexdigest()[:16]


def _conf_dir_files(spark_home: str) -> list[str]:
    """Files other than ``*.template`` in the effective conf dir."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    except FileNotFoundError:
        return []


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _archive_usable(java: str, path: str, classpath: str) -> bool:
    """True if a JVM on ``classpath`` starts with ``path`` mapped: under
    ``-Xshare:on`` an archive that cannot be mapped is fatal."""
    try:
        rc = subprocess.run(
            [java, f"-XX:SharedArchiveFile={path}", "-Xshare:on",
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             "-cp", classpath, "-version"], stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=CHECK_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired):
        return False
    return rc == 0


def publish_parts(cache: str, key: str, java: str) -> None:
    """Check the archive each exited dumping JVM left and publish the good
    ones as ``<key>.jsa``; delete the rest and the stale pid files. A
    ``.part`` without a readable pid file is never published."""
    stems = {n.rsplit(".", 1)[0] for n in os.listdir(cache) if n.endswith((".part", ".pid"))}
    for stem in sorted(os.path.join(cache, s) for s in stems):
        try:
            with open(stem + ".pid") as f:
                meta = json.load(f)
            pid, classpath = int(meta["pid"]), meta["classpath"]
        except (OSError, ValueError, KeyError, TypeError):
            pid, classpath = None, None
        if pid is not None and _pid_alive(pid):
            continue  # still running, or still writing its dump
        part = stem + ".part"
        if os.path.exists(part):
            good = (os.path.basename(stem).startswith(key + ".")
                    and classpath is not None and _archive_usable(java, part, classpath))
            with contextlib.suppress(OSError):  # a concurrent launch got there first
                if good:
                    os.replace(part, os.path.join(cache, key + ".jsa"))
                    _log(f"published class-data archive {key}.jsa")
                else:
                    os.remove(part)
                    _log(f"deleted unusable class-data archive {os.path.basename(part)}")
        with contextlib.suppress(OSError):
            os.remove(stem + ".pid")
    if os.path.exists(os.path.join(cache, key + ".jsa")):
        for name in os.listdir(cache):
            if name.endswith(".jsa") and name != key + ".jsa":
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(cache, name))


def _cds_options() -> tuple[str | None, str | None]:
    """(JVM options, pid-file stem) for a launch of the driver JVM; (None,
    None) when the archive does not apply. Logs one line either way."""
    spark_home, java = _find_spark_home(), java_bin()
    if java is None or not os.path.isdir(os.path.join(spark_home, "jars")):
        _log("class-data archive skipped: no java or no Spark jars dir")
        return None, None
    files = _conf_dir_files(spark_home)
    if files:
        _log("class-data archive skipped: the Spark conf dir holds "
             f"{', '.join(files)}, and CDS refuses a non-empty dir on the classpath")
        return None, None
    cache = cache_dir()
    empty_conf = os.path.join(cache, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty_conf
    key = archive_key(spark_home, java)
    publish_parts(cache, key, java)
    jsa = os.path.join(cache, key + ".jsa")
    if os.path.exists(jsa):
        _log(f"mapping class-data archive {jsa}")
        return (f"{shlex.quote('-XX:SharedArchiveFile=' + jsa)} -Xshare:auto "
                f"{_cds_log('warning')}"), None
    stem = os.path.join(cache, f"{key}.{uuid.uuid4().hex[:12]}")
    _log(f"no class-data archive yet; dumping {stem}.part at JVM exit")
    return (f"{shlex.quote('-XX:ArchiveClassesAtExit=' + stem + '.part')} "
            f"{_cds_log('error')}"), stem


def _record_dumping_jvm(spark: SparkSession, stem: str) -> None:
    jvm = spark.sparkContext._jvm
    meta = {"pid": int(jvm.java.lang.ProcessHandle.current().pid()),
            "classpath": jvm.System.getProperty("java.class.path")}
    with open(stem + ".pid.tmp", "w") as f:
        json.dump(meta, f)
    os.replace(stem + ".pid.tmp", stem + ".pid")


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
        # the first integer in the master's brackets ("local[4,2]" -> 4),
        # 32 for "*", at least 8 ("local" and "spark://..." have none)
        m = re.search(r"\[\s*(\*|\d+)", master)
        n = 8 if m is None else 32 if m.group(1) == "*" else int(m.group(1))
        shuffle_partitions = max(n, 8)
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
    conf = dict(extra_conf or {})
    stem = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds, stem = _cds_options()
        if cds:
            # defaultJavaOptions go in front of the caller's extraJavaOptions
            key = "spark.driver.defaultJavaOptions"
            conf[key] = f"{cds} {conf.get(key, '')}".strip()
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if stem is not None:
        _record_dumping_jvm(spark, stem)
    spark.sparkContext.setLogLevel("WARN")
    return spark
