"""SparkSession factory tuned for the pipeline.

Defaults chosen for correctness-vs-DuckDB comparison (UTC session
timezone, see pitfall notes) and for scale (AQE on, skew-join on,
Arrow enabled for pandas UDFs). `shuffle_partitions` should be ~cores
for local runs; on a real cluster leave AQE to coalesce.
`local_frame` builds small driver-side tables (lookup dims, counter
rows) as JVM-local relations, so they start no Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "fluent-bit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """`rows` as a JVM-local relation (`LocalTableScan`) with the DDL
    `schema` ("name type, ..."). `createDataFrame(list)` plans a Python
    RDD (`Scan ExistingRDD`) instead, whose first job spawns Python
    workers. The values cross to the JVM as strings and are cast to
    their declared types there; the cast folds into the relation."""
    fields = [f.split() for f in schema.split(",")]
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    jrows = []
    for row in rows:
        values = gw.new_array(jvm.java.lang.Object, len(fields))
        for i, v in enumerate(row):
            values[i] = None if v is None else str(v)
        jrows.append(jvm.org.apache.spark.sql.RowFactory.create(values))
    strings = jvm.org.apache.spark.sql.types.StructType.fromDDL(
        ", ".join(f"`{name}` string" for name, _type in fields)
    )
    df = DataFrame(spark._jsparkSession.createDataFrame(jrows, strings), spark)
    return df.select(*[F.col(name).cast(t) for name, t in fields])
