"""Scale-safe replacements for global (unpartitioned) window functions.

``Window.orderBy(...)`` with no ``partitionBy`` compiles to
``Exchange SinglePartition`` + a single-task sort — every row moves to
one reducer ("No Partition Defined for Window" warning).  Fine at 15k
rows, fatal at 100 TB.  The reference's analogues (global frame
renumbering, index.py:433-435) are O(N) single-node loops, so a naive
port inherits the same bottleneck.

This module applies the two-phase offset pattern of
``core/ids.py`` ``partition_offsets`` (range-partition → per-partition local window →
broadcast cumulative per-partition offsets) to the window shapes the
registry needs:

* ``global_row_number``  — dense 1-based global rank over a unique
  total order; the building block for ntile / percent_rank / cume_dist
  in closed form.
* ``trailing_range_sum`` — RANGE-frame trailing sum over a time axis
  (``RANGE BETWEEN t PRECEDING AND CURRENT ROW``) via the probe-row
  prefix-sum trick: answer(t) = prefix(t) − prefix(t − w − 1).

Both produce plans with NO single-partition Exchange: one range
shuffle, per-partition windows, a tiny driver-side offset table
broadcast back.  Cost is linear in rows and independent of the time
span or key skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from langchain_memvid_spark.core.ids import partition_offsets


def _num_range_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out_col: str = "rn",
) -> tuple[DataFrame, int]:
    """1-based global row_number over a UNIQUE total order, scale-safe.

    ``order_cols`` must define a total order with no ties (include a
    tie-break key); range partitioning keeps equal keys co-located, but
    rank semantics under ties are the caller's problem.  Returns
    ``(df_with_out_col, total_row_count)`` — the count is a free
    by-product of the offset pass and feeds closed-form ntile /
    percent_rank / cume_dist (see ``rank_stats``).

    Plan shape: Exchange(rangepartitioning) → per-partition Window →
    BroadcastHashJoin against an O(#partitions) offset table.  No
    SinglePartition exchange.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.repartitionByRange(_num_range_partitions(df), *cols)
    pinned, offsets_df, (total,) = partition_offsets(
        ranged, {"__off": F.count("*").alias("__part_total")}
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        pinned.withColumn("__ord", F.row_number().over(w))
        .join(F.broadcast(offsets_df), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__ord")).cast("long"))
        .drop("__pid", "__ord", "__off")
    )
    return out, int(total)


def rank_stats(rn: Column, n_rows: int, n_buckets: int = 4):
    """Closed-form ntile / percent_rank / cume_dist from a unique global
    row number ``rn`` (1-based) and the total count.

    Valid because the order is tie-free: percent_rank = (rn−1)/(N−1),
    cume_dist = rn/N.  ntile(k) follows the SQL spec — N mod k leading
    buckets get one extra row.
    """
    n = int(n_rows)
    q, r = divmod(n, n_buckets)
    big = q + 1  # size of the first r buckets
    ntile = (
        F.when(rn <= F.lit(big * r), ((rn - 1) / F.lit(big)).cast("int") + 1)
        .otherwise(F.lit(r) + ((rn - 1 - F.lit(big * r)) / F.lit(max(q, 1))).cast("int") + 1)
        .cast("int")
    )
    pct_rank = ((rn - 1) / F.lit(max(n - 1, 1))).cast("double")
    cume = (rn / F.lit(n)).cast("double")
    return ntile, pct_rank, cume


def trailing_range_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    trailing_seconds: int,
    out_col: str,
) -> DataFrame:
    """``sum(val) OVER (ORDER BY ts RANGE BETWEEN w PRECEDING AND
    CURRENT ROW)`` without a global window.

    ``ts_col`` must be integral (e.g. epoch seconds) and ``key_col``
    unique per row.  Identity used::

        answer(t) = prefix(t) − prefix(t − w − 1)

    where ``prefix(x) = Σ val over ts ≤ x``.  Each data row emits one
    zero-valued PROBE row at ``t − w − 1``; prefix sums for data and
    probe rows alike come from one range-partitioned pass (local
    RANGE-frame window + broadcast per-partition offsets — RANGE frame
    keeps tie rows sharing one result, matching SQL RANGE semantics;
    the range partitioner co-locates equal ts values so ties never
    split across partitions).  A final equi-join on ``key_col`` pairs
    each row's two prefixes.

    Shuffles: one range exchange over 2N rows, one equi-join on the
    unique key.  Linear at any time span; no SinglePartition exchange.
    """
    val_t = dict(df.dtypes)[val_col]
    data = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(val_col).alias("__v"),
        F.lit(1).alias("__is_data"),
    )
    probes = df.select(
        F.col(key_col).alias("__k"),
        (F.col(ts_col).cast("long") - F.lit(trailing_seconds + 1)).alias("__ts"),
        F.lit(0).cast(val_t).alias("__v"),
        F.lit(0).alias("__is_data"),
    )
    u = data.unionByName(probes).repartitionByRange(
        _num_range_partitions(df), F.col("__ts")
    )
    pinned, offsets_df, _ = partition_offsets(u, {"__off": F.sum("__v").alias("__part_total")})
    w = (
        Window.partitionBy("__pid")
        .orderBy("__ts")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    prefixed = (
        pinned.withColumn("__local", F.sum("__v").over(w))
        .join(F.broadcast(offsets_df), "__pid")
        .withColumn("__prefix", F.col("__off") + F.coalesce(F.col("__local"), F.lit(0)))
    )
    d = prefixed.filter("__is_data = 1").select(
        F.col("__k"), F.col("__prefix").alias("__pd")
    )
    p = prefixed.filter("__is_data = 0").select(
        F.col("__k"), F.col("__prefix").alias("__pp")
    )
    joined = d.join(p, "__k").select(
        F.col("__k").alias(key_col),
        (F.col("__pd") - F.col("__pp")).alias(out_col),
    )
    return df.join(joined, key_col)
