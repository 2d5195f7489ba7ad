"""SparkSession builder tuned for this engine.

Local testing runs on local[N]; the conf choices are the ones that
matter on a real cluster too: AQE on (runtime re-plan + skew-join
handling), Arrow on (every Pandas UDF hop), UTC session timezone
(parquet timestamps must hash identically against the DuckDB oracle),
and a shuffle-partition count sized to the data rather than the 200
default.

Tables the driver already holds (staged batches, query vectors, id
offsets, empty versions) enter plans through ``local_frame``: an Arrow
table handed to the JVM becomes a ``LocalRelation``, so reading it runs
no Python worker. ``release`` frees a cached or checkpointed frame at a
known point instead of whenever the ContextCleaner gets to it.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier


def get_spark(
    app_name: str = "langchain-memvid-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # events.parquet stores TIMESTAMP(NANOS); read as long + convert
        # (sources/catalog.py truncates to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver rows (tuples in schema order) as a DataFrame over a JVM
    local relation. ``createDataFrame(list)`` parallelizes pickled rows
    into a PythonRDD, so every plan that reads them runs a stage of
    Python-worker tasks; an Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` is a
    ``LocalRelation`` the JVM scans by itself. Rows pass the list
    path's schema check first: Arrow alone would truncate a float into
    an INT column without a word."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    rows = list(rows)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def release(df: DataFrame) -> None:
    """Free a superseded table version or a per-call checkpoint now: its
    cache entry, and the checkpointed RDD behind it when it is a
    checkpoint leaf (a parquet scan or a local relation holds no
    blocks)."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
