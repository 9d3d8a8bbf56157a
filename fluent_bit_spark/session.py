"""SparkSession factory tuned for the pipeline.

Defaults chosen for correctness-vs-DuckDB comparison (UTC session
timezone, see pitfall notes) and for scale (AQE on, skew-join on,
Arrow enabled for pandas UDFs). `shuffle_partitions` should be ~cores
for local runs; on a real cluster leave AQE to coalesce.
`local_frame` builds small driver-side tables (lookup dims, counter
rows) as JVM-local relations, so they start no Python worker.
`persist_tracked` / `release_persisted` are the one persist registry:
operators that self-join a frame persist it through `persist_tracked`,
and a long-lived session frees all of them with `release_persisted`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


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
    """`rows` as a JVM-local relation (`LocalTableScan`) typed by the DDL
    `schema` ("name type, ..."; quote a name with backticks). The rows
    cross to the JVM as one Arrow table of the declared types;
    `createDataFrame(list)` plans a Python RDD (`Scan ExistingRDD`)
    instead, whose first job spawns Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, row)) for row in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)


# frames persisted inside operators (self-joins consume them twice);
# call release_persisted() after materializing results to free storage
_PERSISTED: list = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """`df.persist()`, registered so `release_persisted` can free it."""
    _PERSISTED.append(df)
    return df.persist()


def release_persisted() -> None:
    """Unpersist every frame cached through `persist_tracked` in this
    session (they are unreachable to callers otherwise; long-lived
    sessions running many operator queries should call this between
    jobs)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass
