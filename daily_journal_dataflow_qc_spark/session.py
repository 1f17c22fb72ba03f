"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-on-local + scale-on-cluster: AQE on (runtime re-plan,
skew-join splitting), Arrow on (all custom logic is pandas/Arrow UDFs per the
north rule — never per-row Python), UTC session timezone (oracle comparisons),
shuffle partitions sized to cores locally (callers override on a real cluster).
"""

from __future__ import annotations

import os
import pathlib
import zipfile

from pyspark.sql import SparkSession


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def build_package_zip(out_path: str) -> str:
    """Zip this package's ``.py`` files for ``--py-files`` deployment."""
    pkg = pathlib.Path(__file__).resolve().parent
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for path in sorted(pkg.rglob("*.py")):
            z.write(path, path.relative_to(pkg.parent))
    return out_path


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files deployment model), so
    pandas UDFs defined in the package resolve on workers regardless of cwd."""
    import tempfile

    zip_path = os.path.join(tempfile.gettempdir(), f"djdq_pkg_{os.getpid()}.zip")
    spark.sparkContext.addPyFile(build_package_zip(zip_path))
