"""SparkSession factory with scale-appropriate defaults.

Local test mode runs ``local[N]`` in one JVM; on a real cluster the same
settings (AQE, shuffle partitions sized to cores, UTC timezone for oracle
comparability, Arrow for the Pandas-UDF slow path) carry over.
"""

from __future__ import annotations

import os
from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "pysparkflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
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
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PYSPARKFLOW_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType
) -> DataFrame:
    """A driver-held table (positional ``rows`` under ``schema``) as an
    Arrow ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans a ``Scan ExistingRDD`` over a
    PythonRDD: every action that scans it again sends one task per
    partition through a Python worker (~210 ms more per action than the
    Arrow path on a 4-core host, even for a one-row frontier). An Arrow table is parsed once on the JVM
    side and scanned as a ``LocalTableScan`` with no Python worker and
    exact size statistics, so Catalyst can also prune an empty one.
    Independent of ``spark.sql.execution.arrow.pyspark.enabled``."""
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=fld.type)
        for i, fld in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )
