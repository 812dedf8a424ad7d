"""SparkSession factory tuned for the CDC workload.

Local-mode testing stands in for a multi-executor cluster; the configs below
are the ones that matter at 100 TB too: AQE (runtime re-plan + skew-join
splitting), shuffle partitions sized to parallelism, Arrow for every
pandas-UDF boundary, UTC session time zone so results compare bit-exactly
against external oracles (DuckDB).

Spark's Python processes (the streaming-source runner each ``snapshot_cdf``
drain starts, the ``pyspark.daemon`` workers and the planner workers) import
the pyspark the driver runs, from site-packages with its bytecode caches, not
``$SPARK_HOME/python/lib/pyspark.zip``, which Spark puts first on their
``PYTHONPATH`` and which recompiles pyspark in every fresh process. They run
the interpreter Spark would have run, through the ``spark_python.sh``
launcher (:func:`_python_without_spark_zips`).
"""

from __future__ import annotations

import os

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

#: the interpreter Spark starts its Python processes with: strips Spark's
#: zips from ``PYTHONPATH`` and execs ``$NIFI_DICOM_SPARK_PYTHON``
_LAUNCHER = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "spark_python.sh"
)


def _python_without_spark_zips() -> None:
    """Point ``PYSPARK_PYTHON`` at :data:`_LAUNCHER` before the first JVM
    starts, and hand the launcher the interpreter Spark would have run
    (``$PYSPARK_PYTHON``, else ``python3``, as ``SparkContext`` reads it)
    through the environment the JVM and its Python processes inherit.

    A no-op when the driver's own pyspark comes from a zip (its processes
    keep Spark's path) and when a JVM is already up without the launcher:
    that JVM's environment lacks the interpreter to exec."""
    if os.environ.get("PYSPARK_PYTHON") == _LAUNCHER:
        return
    if ".zip" + os.sep in pyspark.__file__ or SparkContext._gateway is not None:
        return
    os.environ["NIFI_DICOM_SPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    os.environ["PYSPARK_PYTHON"] = _LAUNCHER


def get_spark(
    app_name: str = "nifi_dicom_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster the same configs apply; only ``master`` changes (spark-submit
    owns it there).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # ~2x cores keeps all threads busy through stragglers without
        # flooding the scheduler; AQE coalesces small ones back down.
        shuffle_partitions = max(8, 2 * cpus)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # engine policy: all timestamps are UTC instants; parquet files with
        # isAdjustedToUTC=false (e.g. written by pandas) read as TimestampType
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (the legacy default) carries NO min/max column statistics —
        # TIMESTAMP_MICROS restores footer stats, which the manifest-level
        # file pruning (SnapshotTable.scan) and parquet row-group pushdown
        # both rely on; it is also the non-deprecated representation
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # file-source streaming reads local paths; keep committers simple
        .config("spark.sql.streaming.schemaInference", "false")
    )
    # benches set SPARK_GRAFT_JAVA_OPTS="-Xms16g -XX:+AlwaysPreTouch":
    # committing the heap up front removes multi-second page-commit stalls
    # observed during lazy G1 heap expansion under load
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    _python_without_spark_zips()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
