"""Pinned SparkSession configuration for the engine.

Local sandbox runs use ``local[N]`` (single JVM); production is
``spark-submit --py-files engine.zip`` on a multi-executor cluster.
The knobs below are the scale-relevant ones:

* AQE on (runtime coalescing + skew-join splitting — LSH buckets skew);
* Arrow on (every Python touchpoint is an Arrow-batched pandas UDF, and
  driver-built frames ship as Arrow batches: :func:`local_frame`);
* shuffle partitions sized to cores locally; on a real cluster set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_spark(
    app_name: str = "comparador_de_registros_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the pinned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so bench/driver runs control parallelism without code changes.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema`` field
    order), shipped to the JVM as Arrow batches: unlike
    ``createDataFrame(<list>)`` it runs no Python task, each of which
    pays a fixed worker toll (docs/TUNING.md "Task granularity"). The
    explicit schema fixes the column types, the empty case included."""
    import pandas as pd

    pdf = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
    return spark.createDataFrame(pdf, schema)
