"""SparkSession factory with engine defaults + --py-files self-shipping.

The north_rule requires the job to ship via ``spark-submit --py-files``. When
launched that way, the package zip is already on every executor's path. When
launched as a plain python process (notebooks, tests, bench), ``get_spark``
builds the equivalent zip on the fly and registers it with
``sc.addPyFile`` so executor Python workers can import the package no matter
what the driver's cwd is.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Arrow-backed toPandas/createDataFrame: driver-bound collects (the
    # partition planner's histogram, footer fan-out results) are ~4x
    # faster than the default pickle path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.showConsoleProgress": "false",
}


def package_zip(dest_dir: str = "/tmp/ob_spark_pkg") -> str:
    """Zip the open_buildings_spark package for --py-files / addPyFile."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    out = os.path.join(dest_dir, "open_buildings_spark.zip")
    os.makedirs(dest_dir, exist_ok=True)
    # per-process tmp name: two concurrent callers writing one shared .tmp
    # would interleave and promote a corrupt archive
    tmp = f"{out}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, _dirs, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(base, fn)
                    zf.write(full, os.path.relpath(full, parent))
    os.replace(tmp, out)
    return out


def get_spark(
    master: str | None = None,
    app_name: str = "open-buildings-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship_package: bool = True,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else max(int(cpus), 8)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if ship_package:
        spark.sparkContext.addPyFile(package_zip())
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Frame of local Python ``rows`` (tuples in ``schema`` order). Built
    from pandas, it plans as a local relation: reading or broadcasting it
    runs no Spark job, where a frame made from a row list is a parallelized
    RDD that costs one on every action."""
    import pandas as pd

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)
