"""SparkSession factory with the engine's tuned defaults.

AQE on (runtime coalesce + skew handling), Arrow for the driver's pandas
conversions and 2048-row executor batches, shuffle partitions sized for the
local harness. On a real cluster the same builder is used from spark-submit;
only master/partitions change.

``spark.python.sql.dataFrameDebugging.enabled`` is fixed to false. With it
on, PySpark wraps every ``pyspark.sql.functions`` call and every ``Column``
method: each call looks up the active session, reads a conf, sets and
clears the JVM's current origin (py4j round trips all), and walks the
Python stack to capture the call site. On a builder of many small
expressions that is about half of its py4j round trips. It only adds the
Python call site to a DataFrame error's query context; the error itself,
its condition and the JVM-side context are unchanged. PySpark reads the
conf once per process, at the first wrapped call after a session exists,
so it is set here, on the builder, before any plan is built.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the tsrollup package for shipping to executors — the same artifact
    spark-submit --py-files would carry on a real cluster (north_rule)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(prefix="tsrollup-", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for fn in sorted(os.listdir(pkg_dir)):
            if fn.endswith(".py"):
                z.write(os.path.join(pkg_dir, fn), arcname=f"tsrollup/{fn}")
    return zpath


def get_spark(app: str = "tsrollup", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("TSROLLUP_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master == "local[*]":
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else cores
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.appName(app).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # no per-call Python call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # one whole doc's windows stay well under 2 GiB; parquet splits at 128 MiB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("TSROLLUP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    # Ship the package to executor Python workers (≙ spark-submit --py-files).
    spark.sparkContext.addPyFile(_package_zip())
    return spark
