"""SparkSession builder tuned for this engine.

Local-mode settings mirror what a 1000-executor deployment would set
cluster-side: AQE on (skew-join splitting for pathological mega-docs),
shuffle partitions ~ cores (not the 200 default), UTC session timezone
(required for DuckDB-oracle parity), Arrow enabled for the kernel UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(app_name: str = "propertygraph_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # ~cores locally; on a real cluster this scales with executors and
        # AQE coalesces the excess.
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Rows the driver already holds as a DataFrame over an Arrow-backed
    ``LocalRelation``. ``createDataFrame(list)`` plans a ``PythonRDD``
    whose first job starts Python workers only to unpickle the rows;
    a pyarrow table is shipped once to the JVM and scans as a
    ``LocalTableScan``, with no Spark job at all."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
