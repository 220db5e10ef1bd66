"""SparkSession factory used by the entrypoint, tests, and bench.

Local-mode tuning follows the public Spark docs: shuffle partitions
sized to cores (not the 200 default), AQE on for runtime coalescing /
skew handling, Arrow on for the Pandas-UDF paths, UTC session timezone
so event-time arithmetic matches the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_SHIPPED: set = set()


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers.

    UDF/applyInPandas closures reference classes from this package by
    module path; workers deserialize them with a plain ``import``,
    which fails unless the package is shipped.  ``addPyFile`` a zip of
    the package once per SparkContext — works regardless of the
    caller's cwd/PYTHONPATH (the driver harness creates its own
    session)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(
        prefix="flink_window_dgim_traffic_spark_", suffix=".zip"
    )
    os.close(fd)
    # executors fetch the zip lazily, so it lives until interpreter exit
    atexit.register(_remove_quietly, zpath)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "flink-window-dgim-traffic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Before the JVM starts: put the TWS protobuf runtime + this
    # package's parent on PYTHONPATH — the transformWithStateInPandas
    # driver worker reads only the environment captured at JVM start
    # (addPyFile does not reach it); harmless no-op everywhere else.
    from flink_window_dgim_traffic_spark.streaming.stateful_dgim import (
        enable_tws_runtime,
    )

    enable_tws_runtime()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


# Driver parquet timestamps vary by generation: INT64 TIMESTAMP(NANOS)
# (readable only as long via the legacy conf) or plain timestamp[us]
# without a timezone (which Spark 4 infers as TIMESTAMP_NTZ by
# default).  Both are normalized to TimestampType (LTZ) here: the
# session timezone is UTC, so an NTZ wall-clock reinterpreted as UTC
# is the same instant DuckDB sees reading the same file.
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-provided parquet table (TESTDATA.md)."""
    ship_package(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
