"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  : flagship pipeline on /root/testdata/sf0.001 — embed the
                documents table with the deterministic Arrow-batched
                HashEmbeddings UDF, then batch semantic search (three
                queries against the whole corpus in ONE scored broadcast
                join + per-query window top-k).
queries()     : every implemented operator from SURVEY.md §2 / §7,
                defined in langchain_memvid_spark.plans.registry.
oracle_sql()  : the DuckDB-equivalent SQL for each query.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# The driver may import this file from any cwd with only a sys.path
# insert — make the package importable in THIS process...
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# ...and for any session created after this import (local-mode Python
# workers inherit the env, not the driver's sys.path).
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def _ship_package(spark: SparkSession) -> SparkSession:
    """Make langchain_memvid_spark importable on Python WORKERS.

    cloudpickle serializes module-level functions/classes (the
    embedding UDF, mapInPandas closures) BY REFERENCE, so workers must
    import the package themselves. A driver that starts its session
    from another cwd won't have it on the workers' path —
    sc.addPyFile ships a zip of the package to every worker, once per
    session."""
    if getattr(spark, "_memvid_pkg_shipped", False):
        return spark
    pkg_root = os.path.join(_REPO, "langchain_memvid_spark")
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="memvid_pkg_"), "langchain_memvid_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, _REPO))
    spark.sparkContext.addPyFile(zpath)
    spark._memvid_pkg_shipped = True
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    from langchain_memvid_spark.embeddings import HashEmbeddings
    from langchain_memvid_spark.functions.vector import cosine_sim
    from langchain_memvid_spark.session import local_frame
    from langchain_memvid_spark.sources.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    emb = HashEmbeddings(dim=64)

    # HashEmbeddings emits unit vectors, so cosine == dot on this column
    corpus = docs.withColumn("embedding", emb.udf()(F.col("text"))).cache()

    queries = ["table scan join order", "stream window batch", "vector hash merge"]
    qrows = [(i, q, emb.embed_query(q)) for i, q in enumerate(queries)]
    qdf = local_frame(spark, qrows, "query_id INT, query STRING, qvec ARRAY<FLOAT>")

    scored = corpus.crossJoin(F.broadcast(qdf)).withColumn(
        "score", cosine_sim(F.col("embedding"), F.col("qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "query",
            "doc_id",
            "text",
            "source",
            F.round("score", 4).alias("score"),
            "rank",
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2. Each
    callable first ships the package to Python workers (no-op after
    the first call per session)."""
    from langchain_memvid_spark.plans.registry import query_map

    def wrap(fn):
        def run(spark, sf_dir):
            _ship_package(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in query_map().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each key in queries()."""
    from langchain_memvid_spark.plans.registry import oracle_map

    return oracle_map()
