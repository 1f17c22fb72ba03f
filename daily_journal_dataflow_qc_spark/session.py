"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-on-local + scale-on-cluster: AQE on (runtime re-plan,
skew-join splitting), Arrow on (the few Python steps left, such as the keyed
stream validator, are pandas/Arrow UDFs — never per-row Python; the QC logic
itself is Spark built-ins), UTC session timezone (oracle comparisons),
shuffle partitions sized to cores locally (callers override on a real cluster).

Cold start: every run is a fresh process, and the driver JVM spends most of
its start loading Spark's classes. So the JVM starts from a dynamic
class-data-sharing (CDS) archive of them, which the engine trains itself:
the first start on a host dumps the classes its JVM loaded when that JVM
exits, and the dump becomes the archive once a probe JVM has mapped it. The
archive lives in ``$XDG_CACHE_HOME/daily_journal_dataflow_qc_spark``
(``~/.cache`` by default), named by a fingerprint of the ``java`` binary and
the Spark jars; deleting it retrains. Whenever CDS cannot serve a start, the
JVM starts without it.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CACHE_NAME = "daily_journal_dataflow_qc_spark"
# a training JVM warns once per class it cannot archive (signed jars)
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# a training JVM's exit includes its dump: 13-16 s for ~23k classes on 4 cores
JVM_EXIT_TIMEOUT_S = 180


def get_spark(
    app_name: str = "daily_journal_dataflow_qc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # HIGH static width + AQE coalescing: sorts/aggregations of large
        # inputs stay within per-task execution memory (no spill) while AQE
        # shrinks small stages back to core count. A low static width capped
        # the 27M-row window sorts at ~350MB/task -> disk-spill thrash that
        # didn't scale with cores (see BENCH/BASELINE.md history).
        shuffle_partitions = 256

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        **(extra_conf or {}),
    }

    def start(java_options: str | None) -> SparkSession:
        builder = SparkSession.builder.master(master).appName(app_name)
        if java_options:
            # Spark puts these before the caller's spark.driver.extraJavaOptions
            builder = builder.config("spark.driver.defaultJavaOptions", java_options)
        return builder.config(map=conf).getOrCreate()

    spark = _start_driver(start)
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _start_driver(start) -> SparkSession:
    """``start(java_options)`` the session. When that launches the driver
    JVM, the interpreter's exit waits for the JVM to exit."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return start(None)  # the JVM is up already
    spark, dump = _start_with_cds(start)
    atexit.register(_await_jvm, SparkContext._gateway.proc, dump)
    return spark


def _start_with_cds(start) -> tuple[SparkSession, tuple[str, str, str, str] | None]:
    """Launch the driver JVM from this host's CDS archive, or have it dump
    one as it exits if there is none yet. Returns the session and, for a
    training JVM, what ``_await_jvm`` needs to promote its dump."""
    paths = _cds_paths()
    if paths is None:
        return start(None), None
    archive, conf_dir = paths
    training = not os.path.isfile(archive)
    if training:
        _remove_orphans(os.path.dirname(archive))
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(archive), prefix=f"{os.path.basename(archive)}.{os.getpid()}.",
            suffix=".tmp",
        )
        os.close(fd)
        flags = f"-XX:ArchiveClassesAtExit={tmp}"
    else:
        flags = f"-XX:SharedArchiveFile={archive} -Xshare:auto"
    # the gateway launch copies the environment; the JVM keeps its copy
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = start(f"{flags} {_CDS_QUIET}")
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # JDK 17 dies of SIGBUS mapping a truncated archive
        pathlib.Path(tmp if training else archive).unlink(missing_ok=True)
        del os.environ["SPARK_CONF_DIR"]
        return start(None), None
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)
    if not training:
        return spark, None
    system = spark._jvm.java.lang.System
    return spark, (tmp, archive, system.getProperty("java.home"), system.getProperty("java.class.path"))


def _cds_paths() -> tuple[str, str] | None:
    """(archive path, empty conf dir) for this host's ``java`` and Spark
    jars, or None when the JVM cannot use CDS here.

    Spark puts ``$SPARK_CONF_DIR`` first on the classpath. CDS refuses to dump
    with a non-empty directory there and to map with a changed classpath, so
    the JVM gets an empty conf dir under the cache, which only stands in for
    a default conf dir holding nothing but templates."""
    if "SPARK_CONF_DIR" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
        return None
    java_home = os.environ.get("JAVA_HOME")  # as bin/spark-class picks the JVM
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isfile(java) or not os.path.isdir(jars):
        return None
    java = os.path.realpath(java)
    fingerprint = hashlib.sha256(java.encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):  # the JDK's version
        fingerprint.update(pathlib.Path(release).read_bytes())
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        fingerprint.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), CACHE_NAME
    )
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    return os.path.join(cache, f"cds-{fingerprint.hexdigest()[:16]}.jsa"), empty_conf


def _remove_orphans(cache: str) -> None:
    """Delete training dumps whose Python process died before it could
    promote them (a dump file is named ``<archive>.<pid>.<random>.tmp``)."""
    for path in glob.glob(os.path.join(cache, "cds-*.jsa.*.tmp")):
        try:
            os.kill(int(os.path.basename(path).split(".")[2]), 0)
        except ProcessLookupError:
            pathlib.Path(path).unlink(missing_ok=True)
        except (ValueError, OSError):
            pass


def _await_jvm(proc: subprocess.Popen, dump: tuple[str, str, str, str] | None) -> None:
    """At interpreter exit: end the driver JVM (EOF on its stdin, as when
    the interpreter is gone) and wait until it has exited. A training JVM
    writes its dump as it exits; the dump replaces the archive only if a
    probe JVM maps it, since JDK 17 exits 0 whether or not its dump worked
    and dies of SIGBUS on a truncated archive."""
    sc = SparkContext._active_spark_context
    # a JVM that has died (an executor thread's StackOverflowError ends it
    # in local mode) cannot be asked to stop: the call would be refused
    if sc is not None and sc._gateway.proc is proc and proc.poll() is None:
        sc.stop()  # its accumulator server would report the JVM's EOF as an error
    try:
        proc.stdin.close()
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if dump is None:
        return
    tmp, archive, java_home, class_path = dump
    try:
        # the cache, not $TMPDIR, which the caller may have deleted by now
        with tempfile.TemporaryDirectory(dir=os.path.dirname(archive)) as scratch:
            probe = subprocess.run(
                [os.path.join(java_home, "bin", "java"), "-Xshare:on",
                 f"-XX:SharedArchiveFile={tmp}", f"-XX:ErrorFile={scratch}/hs_err_%p.log",
                 "-cp", class_path, "-version"],
                cwd=scratch, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60,
            )
        if proc.returncode == 0 and probe.returncode == 0:
            os.replace(tmp, archive)
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        pathlib.Path(tmp).unlink(missing_ok=True)


def build_package_zip(out_path: str) -> str:
    """Zip this package's ``.py`` files for ``--py-files`` deployment."""
    pkg = pathlib.Path(__file__).resolve().parent
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for path in sorted(pkg.rglob("*.py")):
            z.write(path, path.relative_to(pkg.parent))
    return out_path


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files deployment model), so
    pandas UDFs defined in the package resolve on workers regardless of cwd.
    The zip is named by a hash of the package's sources, so each version of
    the package is zipped once per host and reused."""
    pkg = pathlib.Path(__file__).resolve().parent
    digest = hashlib.sha256()
    for path in sorted(pkg.rglob("*.py")):
        data = path.read_bytes()
        digest.update(f"{path.relative_to(pkg)}\0{len(data)}\0".encode() + data)
    zip_path = os.path.join(tempfile.gettempdir(), f"djdq_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.isfile(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        os.replace(build_package_zip(tmp), zip_path)
    spark.sparkContext.addPyFile(zip_path)
