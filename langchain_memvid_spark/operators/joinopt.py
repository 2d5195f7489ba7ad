"""Join strategies: the one join-side pick, and skew and co-location
at cluster scale.

The reference is single-process and joins nothing (SURVEY.md §2b);
these are the Spark-side techniques a 100 TB deployment of this engine
leans on when AQE alone isn't enough:

  - pair_join: the physical join of every banded candidate join,
    probe, lookup and vocabulary join, picked from exact row counts
    (broadcast, then shuffled hash, then sort-merge).
  - salted_join: pre-split hot build-side keys so one executor doesn't
    receive an entire hot key's rows. Deterministic salt (hash of fact
    columns, not rand()) keeps results reproducible and oracle-safe.
  - bucketed co-located join: both sides pre-bucketed on the join key
    at write time join WITHOUT a shuffle — the classic layout
    investment for fact-to-fact joins repeated across many queries.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The join-side policy.  Every join whose small side is derived — band
# tables, signature sets, query probes, vocabularies — picks its
# strategy from an EXACT row count, never the static planner's
# estimate: the RDD-backed signer plans (mapInPandas, checkpoints)
# carry default stats that fool it.
#
# Broadcast at or below _PAIR_BROADCAST_ROW_LIMIT rows (~30 B/row ->
# tens of MB serialized, safe in any executor).  A wrongly-broadcast
# 26 M-row band table OOM-killed the sf10 run (SCALE.md).  The other way
# round, shuffling 25 M token rows against a vocabulary that is tiny at
# every tested SF made unigram_logprob_scores 46.4x slower at sf10 than
# at sf0.1; broadcasting the vocabulary cut that to 9.8x (SCALE.md).
#
# Above it, a shuffled hash join while the build side's PER-PARTITION
# slice (rows / shuffle partitions) stays under
# _SHJ_BUILD_ROWS_PER_PARTITION — a hash table of tens of MB that skips
# both sort passes: 0.85 -> 0.74 s at sf0.1 and 3.99 -> 3.04 s at sf1 on
# the shingle pair join (optimization r14, min of alternating reps).
# Beyond that, sort-merge, the only always-safe shape.
_PAIR_BROADCAST_ROW_LIMIT = 1_000_000
_SHJ_BUILD_ROWS_PER_PARTITION = 2_000_000


def fits_broadcast(n_rows: int) -> bool:
    """Whether a side of ``n_rows`` exact rows is small enough to
    broadcast."""
    return n_rows <= _PAIR_BROADCAST_ROW_LIMIT


def pair_join(
    a: DataFrame,
    b: DataFrame,
    on: str | list[str] | Column,
    n_a: int,
    n_b: int | Callable[[], int] | None = None,
    how: str = "inner",
    allow_broadcast: bool = True,
) -> DataFrame:
    """``b.join(a, on, how)`` with the physical join picked from exact
    row counts (the policy above), ``a`` being the side to build from:

    1. broadcast ``a`` when ``n_a`` rows fit;
    2. else, for an inner join, broadcast ``b`` when ``n_b`` fits —
       an int, or a callable counted only when this tier is reached;
    3. else a shuffled hash join building ``a``, when ``n_a`` over the
       shuffle partitions is under _SHJ_BUILD_ROWS_PER_PARTITION;
    4. else sort-merge.

    ``allow_broadcast=False`` skips tier 1, for wide-row sides that
    measured slower broadcast than hashed (the shingle table's 24 B
    rows, r14 A/B).  The build side sits on the right of the join."""
    if allow_broadcast and fits_broadcast(n_a):
        return b.join(F.broadcast(a), on, how)
    if n_b is not None and how == "inner":
        if fits_broadcast(n_b() if callable(n_b) else n_b):
            return a.join(F.broadcast(b), on)
    parts = int(a.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_a / parts <= _SHJ_BUILD_ROWS_PER_PARTITION:
        return b.join(a.hint("shuffle_hash"), on, how)
    return b.join(a.hint("merge"), on, how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_cols: list[str],
    n_salts: int = 8,
) -> DataFrame:
    """Inner join with build-side salting for skewed keys.

    The fact side gets a deterministic salt in [0, n_salts) from a hash
    of `salt_cols` (NOT rand() — results must replay identically); the
    dim side is exploded n_salts× so every (key, salt) bucket finds its
    match. Each hot key's rows now spread over n_salts shuffle
    partitions instead of one. Row multiplicity is unchanged for inner
    joins: each fact row matches exactly the dim rows it matched
    before, under exactly one salt value."""
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(n_salts)).cast("int")
    salted_fact = fact.withColumn("__salt", salt)
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    # DataFrame-qualified references, not bare F.col: when fact_key and
    # dim_key share a name (the common case for a generic helper) a
    # bare column would be AMBIGUOUS against the joined plan
    cond = (salted_fact[fact_key] == salted_dim[dim_key]) & (
        salted_fact["__salt"] == salted_dim["__salt"]
    )
    return salted_fact.join(salted_dim, cond).drop("__salt")


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, path: str
) -> None:
    """Persist `df` bucketed (and sorted) by `key` as an external table.
    Two tables bucketed identically on their join key sort-merge join
    with ZERO Exchange — the shuffle was paid once at write time and is
    amortized over every subsequent join."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # Pre-partition on the bucket key: without this every write task
    # emits one file PER bucket (tasks × buckets small files); with it
    # each bucket is one task writing one file — the layout Hive/Spark
    # bucketing readers expect, and far fewer files at scale.
    (
        df.repartition(n_buckets, F.col(key))
        .write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def bucketed_revenue_join(
    spark: SparkSession,
    orders: DataFrame,
    lineitem: DataFrame,
    base_path: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Fact-to-fact join via bucketed layout: bucket both orders and
    lineitem by orderkey, then join + aggregate revenue per order
    priority. The join stage reads both sides pre-partitioned — no
    Exchange in the plan (verified in tests)."""
    write_bucketed(orders, "bk_orders", "o_orderkey", n_buckets, f"{base_path}/bk_orders")
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "lo_orderkey"),
        "bk_lineitem",
        "lo_orderkey",
        n_buckets,
        f"{base_path}/bk_lineitem",
    )
    o = spark.table("bk_orders")
    li = spark.table("bk_lineitem")
    # fact-to-fact: force sort-merge (broadcast would defeat the point
    # at toy SF; at 100 TB neither side broadcasts anyway) — with both
    # sides bucketed on the key, SMJ needs no shuffle Exchange.
    joined = o.hint("merge").join(li, F.col("o_orderkey") == F.col("lo_orderkey"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )
