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

The codegen cache holds every class the engine needs, so a warm
session compiles nothing. Spark's default of 100 entries is an LRU
smaller than one pass: a perfbench curation pass needs about 227
distinct classes, so each pass evicted them before their next use and
recompiled 224-234. One sweep of the 190 registry queries at sf0.001
compiles 2344 distinct classes, a store session about 125; the cache
holds 5000 (see ``get_spark``). The cost is Metaspace: 231 MB after a
sweep, against 213 MB at the default size. The bound holds only while
generated source depends on plan shape, not on argument values, so no
per-call value of the store reaches the Java source: id and metadata
``$in`` lists of 10 values or fewer are array literals and longer ones
InSets (codegen hands both to the class as reference objects), and an
add's first id and store size enter as rows of a local relation.
``codegen_compiles`` counts what a call compiled.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier


def _default_driver_memory() -> str:
    """A quarter of the host's physical memory, at most 8g: a sweep of
    the registry at sf0.001 grows an 8g heap to 6 GB resident, which on
    a 16 GB host running other workloads got the JVM OOM-killed."""
    quarter_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**20
    return f"{min(quarter_mb, 8192)}m"


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static: only a session built here gets it.  A registry sweep
        # at sf0.001 compiles 2344 distinct classes (a repeat sweep 56
        # more), a store session about 125; 5000 is that plus ~2x
        # headroom.  Metaspace after a sweep: 231 MB (213 MB at 100).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
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


def codegen_compiles(spark: SparkSession) -> int:
    """Codegen classes this JVM has compiled so far (Janino compiles; a
    cache hit compiles nothing).  Take the difference around a call to
    count what it compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def release(df: DataFrame) -> None:
    """Free a superseded table version or a per-call checkpoint now: its
    cache entry, and the checkpointed RDD behind it when it is a
    checkpoint leaf (a parquet scan or a local relation holds no
    blocks)."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
