"""session.get_spark: the driver JVM's class-data archive and the master
URL parsing, without launching a Spark JVM.

The archive checks run the real ``java``: a copy of the JDK's own default
CDS archive stands in for a good dump, and cut or garbage copies of it for
a dump killed part-way.
"""

import importlib.util
import json
import os
import shutil
import subprocess
from types import SimpleNamespace

import pytest

from ocr_image_to_text_spark import session

JAVA = session.java_bin()
KEY = "0123456789abcdef"


def _jdk_archive() -> str:
    home = os.path.dirname(os.path.dirname(os.path.realpath(JAVA)))
    return os.path.join(home, "lib", "server", "classes.jsa")


needs_jdk_archive = pytest.mark.skipif(
    JAVA is None or not os.path.isfile(_jdk_archive()),
    reason="no java with a default CDS archive")


@pytest.fixture()
def spark_home(tmp_path, monkeypatch):
    """A Spark home with two jars and a conf dir of templates only; the
    archive cache under tmp_path."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (home / "jars" / "b.jar").write_bytes(b"b" * 20)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _leave_part(cache: str, nonce: str, data: bytes, pid: int) -> str:
    os.makedirs(cache, exist_ok=True)
    stem = os.path.join(cache, f"{KEY}.{nonce}")
    with open(stem + ".part", "wb") as f:
        f.write(data)
    with open(stem + ".pid", "w") as f:
        json.dump({"pid": pid, "classpath": cache}, f)
    return stem


# -- the key ----------------------------------------------------------------

def test_key_follows_jar_sizes(spark_home):
    java = JAVA or "/usr/bin/java"
    k1 = session.archive_key(str(spark_home), java)
    assert session.archive_key(str(spark_home), java) == k1
    (spark_home / "jars" / "b.jar").write_bytes(b"b" * 21)
    assert session.archive_key(str(spark_home), java) != k1


def test_key_is_the_same_from_two_checkouts(spark_home, tmp_path):
    java = JAVA or "/usr/bin/java"
    keys = []
    for checkout in ("one", "two"):
        pkg = tmp_path / checkout / "ocr_image_to_text_spark"
        pkg.mkdir(parents=True)
        shutil.copy(session.__file__, pkg / "session.py")
        spec = importlib.util.spec_from_file_location(
            f"session_{checkout}", pkg / "session.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        keys.append(mod.archive_key(str(spark_home), java))
    assert keys[0] == keys[1]


# -- when the archive applies -----------------------------------------------

@pytest.mark.skipif(JAVA is None, reason="no java")
def test_templates_only_conf_dir_enables_the_archive(spark_home):
    opts, stem = session._cds_options()
    cache = session.cache_dir()
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
    assert "-XX:ArchiveClassesAtExit=" in opts and stem.startswith(cache)


def test_real_conf_file_disables_the_archive(spark_home, capsys):
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert session._cds_options() == (None, None)
    assert "SPARK_CONF_DIR" not in os.environ
    assert "spark-defaults.conf" in capsys.readouterr().err


@needs_jdk_archive
def test_published_archive_is_mapped(spark_home):
    cache = session.cache_dir()
    key = session.archive_key(str(spark_home), JAVA)
    os.makedirs(cache)
    shutil.copy(_jdk_archive(), os.path.join(cache, key + ".jsa"))
    opts, stem = session._cds_options()
    assert stem is None
    assert f"-XX:SharedArchiveFile={os.path.join(cache, key)}.jsa -Xshare:auto" in opts


# -- publishing a dump --------------------------------------------------------

@needs_jdk_archive
def test_good_part_is_published_and_other_keys_deleted(tmp_path):
    cache = str(tmp_path)
    with open(_jdk_archive(), "rb") as f:
        stem = _leave_part(cache, "good", f.read(), _dead_pid())
    (tmp_path / "fedcba9876543210.jsa").write_bytes(b"old")
    session.publish_parts(cache, KEY, JAVA)
    assert sorted(os.listdir(cache)) == [KEY + ".jsa"]
    assert os.path.getsize(os.path.join(cache, KEY + ".jsa")) == os.path.getsize(
        _jdk_archive())
    assert not os.path.exists(stem + ".pid")


@needs_jdk_archive
@pytest.mark.parametrize("damage", ["truncated", "garbage", "empty"])
def test_damaged_part_is_deleted_never_published(tmp_path, damage):
    cache = str(tmp_path)
    with open(_jdk_archive(), "rb") as f:
        good = f.read()
    data = {"truncated": good[: len(good) // 2], "garbage": os.urandom(4096),
            "empty": b""}[damage]
    _leave_part(cache, "bad", data, _dead_pid())
    session.publish_parts(cache, KEY, JAVA)
    assert os.listdir(cache) == []


@needs_jdk_archive
def test_part_of_a_live_jvm_is_left_alone(tmp_path):
    cache = str(tmp_path)
    stem = _leave_part(cache, "live", b"still being written", os.getpid())
    session.publish_parts(cache, KEY, JAVA)
    assert os.path.exists(stem + ".part") and os.path.exists(stem + ".pid")
    assert not os.path.exists(os.path.join(cache, KEY + ".jsa"))


@needs_jdk_archive
def test_part_without_a_pid_file_is_deleted(tmp_path):
    shutil.copy(_jdk_archive(), tmp_path / f"{KEY}.orphan.part")
    session.publish_parts(str(tmp_path), KEY, JAVA)
    assert os.listdir(tmp_path) == []


def test_stale_pid_file_without_a_part_is_removed(tmp_path):
    stem = os.path.join(str(tmp_path), f"{KEY}.gone")
    with open(stem + ".pid", "w") as f:
        json.dump({"pid": _dead_pid(), "classpath": ""}, f)
    session.publish_parts(str(tmp_path), KEY, JAVA or "java")
    assert os.listdir(tmp_path) == []


# -- the conf get_spark passes ------------------------------------------------

@pytest.fixture()
def built_conf(monkeypatch):
    """get_spark with a builder that records its conf instead of launching
    a JVM; returns a function giving the recorded conf."""
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=None),
                        raising=False)

    def build(**kwargs):
        conf = {}

        class Builder:
            def appName(self, name):
                return self

            def master(self, master):
                conf["master"] = master
                return self

            def config(self, k, v):
                conf[k] = v
                return self

            def getOrCreate(self):
                return SimpleNamespace(sparkContext=SimpleNamespace(
                    setLogLevel=lambda level: None))

        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
        session.get_spark(**kwargs)
        return conf
    return build


def test_options_go_to_default_java_options(built_conf, monkeypatch):
    monkeypatch.setattr(session, "_cds_options", lambda: ("-XX:Cds", None))
    conf = built_conf(master="local[2]", extra_conf={
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:Cds"
    assert conf["spark.driver.extraJavaOptions"] == "-XX:-UsePerfData"
    conf = built_conf(master="local[2]", extra_conf={
        "spark.driver.defaultJavaOptions": "-Dcaller=1"})
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:Cds -Dcaller=1"


def test_no_options_when_the_jvm_is_already_running(built_conf, monkeypatch):
    monkeypatch.setattr(session, "_cds_options", lambda: pytest.fail("not a launch"))
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert "spark.driver.defaultJavaOptions" not in built_conf(master="local[2]")


@pytest.mark.parametrize("master, partitions", [
    ("local", 8), ("local[2]", 8), ("local[12]", 12), ("local[*]", 32),
    ("local[4,2]", 8), ("local[16,3]", 16), ("local[*, 4]", 32),
    ("local-cluster[2,1,1024]", 8), ("spark://host:7077", 8),
])
def test_shuffle_partitions_from_master(built_conf, monkeypatch, master, partitions):
    monkeypatch.setattr(session, "_cds_options", lambda: (None, None), raising=False)
    conf = built_conf(master=master)
    assert conf["spark.sql.shuffle.partitions"] == str(partitions)
    assert conf["spark.default.parallelism"] == str(partitions)
