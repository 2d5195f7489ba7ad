"""Scalable sequential id assignment.

The reference assigns doc_id = position in the metadata list and
renumbers 0..n-1 after deletes (/root/reference/src/langchain_memvid/
index.py:230,433-435). A naive Spark translation is
``row_number() OVER (ORDER BY ...)`` — a single-reducer global sort
that dies at 100 TB. Instead we use the two-phase offset pattern:

  1. within-partition ordinal (window partitioned by partition id — a
     per-partition-local operation, no global shuffle),
  2. per-partition counts → cumulative offsets (tiny driver-side
     aggregate, O(#partitions)), handed back to the plan as a JVM
     local relation (session.local_frame) so the broadcast join reads
     them without a Python-worker stage,
  3. id = offset[pid] + ordinal.

This preserves the DataFrame's existing partition order (or an
explicit order column) and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from langchain_memvid_spark.session import local_frame

_OFFSETS_SCHEMA = StructType(
    [
        StructField("__pid", IntegerType(), nullable=False),
        StructField("__off", LongType(), nullable=False),
    ]
)


def add_sequential_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    order_col: str | None = None,
    start: int = 0,
) -> DataFrame:
    """Assign dense sequential ids ``start..start+n-1``.

    If ``order_col`` is given, ids follow that total order *within each
    partition* and partitions are ordered by partition id — callers that
    need a strict global order should repartitionByRange(order_col)
    first (one range shuffle; still no single-reducer bottleneck —
    repartitionByRange assigns ascending ranges to ascending partition
    ids, so offset-by-pid composes into a strict global order).

    The ordinal window and the per-partition counts are two separate
    jobs over the same lineage; if the input were recomputed with a
    different physical partitioning between them, offsets could mismatch
    ordinals. localCheckpoint pins the materialized partitioning before
    either job runs — unlike .cache() its blocks are reclaimed by the
    ContextCleaner once the DataFrame is unreferenced, so repeated
    ingests don't accumulate pinned storage.  Callers that must free
    the pin at a known point use ``sequential_ids``.
    """
    return sequential_ids(df, id_col, order_col, start)[0]


def sequential_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    order_col: str | None = None,
    start: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """``add_sequential_ids`` plus the partition pin it checkpointed, so
    a caller that materializes the result can release the pin at once
    (the vector store does, after each committed table version)."""
    pinned = df.withColumn("__pid", F.spark_partition_id()).localCheckpoint()
    w = Window.partitionBy("__pid").orderBy(order_col if order_col else F.monotonically_increasing_id())
    with_ord = pinned.withColumn("__ord", F.row_number().over(w) - 1)

    counts = {r["__pid"]: r["cnt"] for r in pinned.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    # Every __pid that has rows has an offset, so an inner join loses no
    # row, and NOT NULL offsets keep the id column NOT NULL.  ``start``
    # reaches the plan only as offset rows: a literal would be inlined
    # into the generated Java source, and every call with a new start
    # would compile classes of its own.
    offsets_df = local_frame(
        df.sparkSession,
        [(pid, off) for pid, off in offsets.items()] or [(0, start)], _OFFSETS_SCHEMA
    )
    ids = (
        with_ord.join(F.broadcast(offsets_df), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__ord")).cast("long"))
        .drop("__pid", "__ord", "__off")
    )
    return ids, pinned
