"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: one
thread per CPU this process may run on, single JVM); the configs below
are chosen to also be the right defaults on a real multi-executor
cluster at 100 TB scale:

- AQE on: runtime shuffle-partition coalescing, broadcast-join demotion/
  promotion, skew-join splitting — the knobs that matter when stats at
  plan time are wrong (always, at 100 TB).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  real cluster this would be ~2-3x total cores and AQE coalesces down.
- UTC session timezone so event-time semantics match the DuckDB oracle
  and the reference's TIMESTAMPTZ normalization
  (reference terraform/setup_cdc.pgsql:8 — created_at TIMESTAMPTZ).
- Arrow enabled: every pandas_udf / toPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "aiven_challenge2_cdc_sharing_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python WORKERS (pandas UDF / mapInPandas) import this package by
    # name when unpickling; a driver process started outside the repo
    # root (sys.path patched at runtime) would leave workers unable to
    # resolve it.  Exporting PYTHONPATH before the JVM starts makes the
    # package importable wherever the session is built from.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make this package importable by Python WORKER processes of a
    session this module did not build (the driver harness constructs
    its own vanilla SparkSession, possibly from any cwd).

    Module-level functions used in pandas UDFs / mapInPandas are
    pickled BY REFERENCE, so the worker must import the package by
    name; a driver whose sys.path was patched at runtime gives workers
    no way to resolve it.  ``addPyFile`` with a zip of the package is
    the mechanism Spark provides for exactly this: workers unpack and
    prepend it to their sys.path.  Idempotent per session; the zip is
    rebuilt once per driver process."""
    flag = "_aiven_challenge2_pkg_shipped"
    sc = spark.sparkContext
    if getattr(sc, flag, False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"aiven_challenge2_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
    sc.addPyFile(zpath)
    setattr(sc, flag, True)
