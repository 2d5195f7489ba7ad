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

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, FractionalType, IntegerType, StructField, StructType

from langchain_memvid_spark.session import local_frame


def partition_offsets(
    df: DataFrame, aggs: dict[str, Column], start: int = 0
) -> tuple[DataFrame, DataFrame, list]:
    """Pin ``df``'s partitioning and compute, per partition, the
    exclusive running total of each aggregate in ``aggs`` (offset
    column → per-partition aggregate, e.g. ``F.count("*")`` for row
    ordinals), starting at ``start``.

    Returns ``(pinned, offsets, totals)``. ``pinned`` is ``df`` plus
    ``__pid``, checkpointed so that the caller's per-partition windows
    and this aggregation see the same partitioning (release it with
    ``session.release`` once the result is materialized). ``offsets``
    is a local relation of ``__pid`` and the offset columns, for a
    broadcast join on ``__pid``; ``totals`` holds each running total
    after the last partition. Decimal sums widen to DECIMAL(38,6) so
    the running total cannot overflow.

    Every ``__pid`` that has rows has an offset row, so an inner join
    loses no row, and a non-nullable aggregate gives a NOT NULL offset
    column. ``start`` reaches the plan only as offset rows: a literal
    would be inlined into the generated Java source, and every call
    with a new start would compile classes of its own.
    """
    pinned = df.withColumn("__pid", F.spark_partition_id()).localCheckpoint()
    agged = pinned.groupBy("__pid").agg(*aggs.values())
    fields = [StructField("__pid", IntegerType(), nullable=False)]
    zeros = []
    for name, f in zip(aggs, agged.schema.fields[1:]):
        if isinstance(f.dataType, DecimalType):
            fields.append(StructField(name, DecimalType(38, 6), f.nullable))
            zeros.append(Decimal(start))
        else:
            fields.append(StructField(name, f.dataType, f.nullable))
            zeros.append(float(start) if isinstance(f.dataType, FractionalType) else start)
    rows, acc = [], zeros
    for r in sorted(agged.collect()):
        rows.append((r[0], *acc))
        acc = [a + (v or 0) for a, v in zip(acc, r[1:])]
    offsets = local_frame(df.sparkSession, rows or [(0, *zeros)], StructType(fields))
    return pinned, offsets, acc


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
    pinned, offsets, _ = partition_offsets(df, {"__off": F.count("*").alias("cnt")}, start)
    w = Window.partitionBy("__pid").orderBy(order_col if order_col else F.monotonically_increasing_id())
    ids = (
        pinned.withColumn("__ord", F.row_number().over(w) - 1)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__ord")).cast("long"))
        .drop("__pid", "__ord", "__off")
    )
    return ids, pinned
