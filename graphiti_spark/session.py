"""SparkSession factory with the configs the engine assumes everywhere.

Scale posture (100 TB / 1000 executors): AQE on (runtime coalesce + skew
join splitting), Arrow transfer for every pandas UDF, UTC session timezone
(graphiti is UTC-everywhere: graphiti_core/utils/datetime_utils.py:20-42),
and a shuffle-partition default sized for local[32] that a cluster deploy
overrides via spark-submit conf.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """The one way to turn driver-side rows (tuples in schema order) into a
    DataFrame. The rows go to the JVM as one Arrow table, so the plan is a
    JVM-local relation (`LocalTableScan`) and scanning it never starts a
    Python worker; `createDataFrame(list)` instead plans a `Scan
    ExistingRDD` over a pickled Python RDD, which every stage reading it
    must feed through Python. The schema is explicit (StructType or DDL
    string), so empty `rows` need no special case. TIMESTAMP values keep
    `createDataFrame(list)` semantics: a naive datetime is local time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, af, col in zip(schema.fields, arrow, cols):
        if isinstance(field.dataType, T.TimestampType):
            col = [None if v is None else v.astimezone(datetime.timezone.utc) for v in col]
        arrays.append(pa.array(col, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def get_spark(
    app_name: str = "graphiti-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # per-stage task-time forensics (tools/skew_bench.py straggler audit)
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    # shuffle/spill files on tmpfs when available: the sandbox's /tmp sits
    # on a throttled virtual disk (I/O-wait dominates under load); on a
    # real cluster this is the NVMe scratch dir
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = builder.config("spark.local.dir", f"{shm}/spark-local")
        # managed-table warehouse (bucketed sinks) on scratch too — in
        # production this is the Iceberg catalog's object-store location
        builder = builder.config(
            "spark.sql.warehouse.dir", f"{shm}/spark-warehouse"
        )
    return builder.getOrCreate()
