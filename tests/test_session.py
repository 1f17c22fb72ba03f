"""session.py: the package zip shipped to workers, and the driver JVM's
class-data-sharing (CDS) archive -- the first start on a host trains it,
the next start maps it, and every case CDS cannot serve starts the JVM as
without it. Each JVM start runs in a child process with its own cache
(``XDG_CACHE_HOME``)."""

import glob
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from daily_journal_dataflow_qc_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_OPTION = "-Ddjdq.caller.option=1"

# start a session, run a query, and report the JVM's arguments, classpath
# and how many classes it took from a CDS archive
_CHILD = """
import json, subprocess, sys
sys.path.insert(0, {root!r})
from daily_journal_dataflow_qc_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.extraJavaOptions": {option!r}}})
assert spark.range(10).selectExpr("sum(id)").head()[0] == 45
lang = spark._jvm.java.lang
pid = spark.sparkContext._gateway.proc.pid
counters = subprocess.run(["jcmd", str(pid), "PerfCounter.print"],
                          capture_output=True, text=True, check=True).stdout
print(json.dumps({{
    "pid": pid,
    "args": list(lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "shared": int(next(line.split("=")[1] for line in counters.splitlines()
                       if line.startswith("java.cls.sharedLoadedClasses="))),
    "java_home": lang.System.getProperty("java.home"),
    "class_path": lang.System.getProperty("java.class.path"),
}}))
"""


def _start_child(cache, cwd) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=REPO_ROOT, option=CALLER_OPTION)],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def _archives(cache) -> list[str]:
    return glob.glob(os.path.join(cache, session.CACHE_NAME, "cds-*.jsa"))


def _cds_flags(args: list[str]) -> list[str]:
    return [a for a in args if "Archive" in a or a.startswith(("-Xshare", "-Xlog:cds"))]


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache trained by one start, and what that start reported."""
    if shutil.which("jcmd") is None:
        pytest.skip("jcmd (it reads the JVM's class-loading counters) is not on PATH")
    cache = tmp_path_factory.mktemp("cds_cache")
    return cache, _start_child(cache, tmp_path_factory.mktemp("cwd"))


def test_first_start_trains_one_archive(trained):
    cache, first = trained
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    assert len(_archives(cache)) == 1
    assert glob.glob(os.path.join(cache, session.CACHE_NAME, "*.tmp")) == []
    # the child's exit waited for its JVM, whose exit wrote the dump
    assert not os.path.exists(f"/proc/{first['pid']}")


def test_next_start_maps_archive_and_keeps_caller_options(trained, tmp_path):
    cache, first = trained
    (archive,) = _archives(cache)
    second = _start_child(cache, tmp_path)
    args = second["args"]
    mapped = f"-XX:SharedArchiveFile={archive}"
    assert mapped in args
    # the engine's options go first, the caller's extraJavaOptions after
    assert args.index(mapped) < args.index(CALLER_OPTION)
    assert CALLER_OPTION in first["args"]
    # the JDK's base archive alone serves ~1,400 classes
    assert second["shared"] > first["shared"] + 2000, (first["shared"], second["shared"])


def test_truncated_dump_is_not_promoted(trained, tmp_path):
    cache, first = trained
    (archive,) = _archives(cache)
    with open(archive, "rb") as f:
        head = f.read(os.path.getsize(archive) // 2)
    dump = tmp_path / "dump.jsa.tmp"
    dump.write_bytes(head)
    target = tmp_path / "promoted.jsa"
    exited = subprocess.Popen([sys.executable, "-c", ""], stdin=subprocess.PIPE)
    session._await_jvm(
        exited, (str(dump), str(target), first["java_home"], first["class_path"])
    )
    assert not target.exists()
    assert not dump.exists()
    assert list(tmp_path.iterdir()) == []  # no crash log either


def test_exit_after_the_jvm_died_is_quiet(trained, tmp_path):
    """A driver JVM that died (as an executor thread's StackOverflowError
    ends it in local mode) is not asked to stop at the interpreter's exit:
    the exit raises nothing, not even an ignored error."""
    cache, _ = trained
    child = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from pyspark import SparkContext
from daily_journal_dataflow_qc_spark.session import get_spark
get_spark(master="local[1]", shuffle_partitions=1)
SparkContext._gateway.proc.kill()
SparkContext._gateway.proc.wait()
"""
    r = subprocess.run(
        [sys.executable, "-c", child], cwd=tmp_path, capture_output=True, text=True,
        env={**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_DRIVER_MEM": "1g"},
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "Exception ignored" not in r.stderr, r.stderr[-4000:]


def test_truncated_archive_falls_back_and_is_removed(trained, tmp_path):
    """Runs last: it deletes the module's archive."""
    cache, _ = trained
    (archive,) = _archives(cache)
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 2)
    third = _start_child(cache, tmp_path)  # the child's query ran
    assert _archives(cache) == []
    assert _cds_flags(third["args"]) == []


# ------------------------------------------------ starts without CDS


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, and an empty cache."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_text("jar")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return home


def test_cds_paths_use_an_empty_conf_dir_in_the_cache(spark_home, tmp_path):
    archive, conf_dir = session._cds_paths()
    cache = tmp_path / "cache" / session.CACHE_NAME
    assert os.path.dirname(archive) == str(cache)
    assert conf_dir == str(cache / "conf") and os.listdir(conf_dir) == []


def test_changed_jars_name_another_archive(spark_home):
    archive, _ = session._cds_paths()
    (spark_home / "jars" / "extra.jar").write_text("jar")
    assert session._cds_paths()[0] != archive


@pytest.mark.parametrize("case", ["conf_dir_set", "real_conf_file", "unwritable_cache"])
def test_no_cds_where_it_cannot_serve(spark_home, tmp_path, monkeypatch, case):
    if case == "conf_dir_set":
        monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    elif case == "real_conf_file":
        (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    else:
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._cds_paths() is None


# ------------------------------------------------------- package zip


def test_package_zip_is_built_once(tmp_path, monkeypatch):
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    shipped = []
    spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    session._ship_package(spark)
    session._ship_package(spark)
    assert os.listdir(tmp_path) == [os.path.basename(shipped[0])]
    assert shipped[0] == shipped[1]
