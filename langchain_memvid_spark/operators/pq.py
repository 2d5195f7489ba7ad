"""Product quantization (PQ) for embedding columns — the sub-byte
compression tier of the ANN stack.

The engine's quantization ladder, coarsest scan-bytes first:

  float32 (4·dim B)  →  int8 codes (1·dim B, operators/quantize.py)
                     →  PQ codes (m B — e.g. 64-dim float32 = 256 B
                        compresses to 8 B, 32×)

PQ splits the vector into ``m`` subspaces, trains a tiny KMeans
codebook per subspace, and stores each vector as ``m`` one-byte
centroid ids. Search uses Asymmetric Distance Computation (ADC,
Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search"): the query precomputes a (m × k) table of query·centroid
dot products driver-side, and each row's score is m table lookups —
a pure-JVM expression over the tinyint codes; the float column is
touched only by the exact re-rank of the survivors.

Spark shape: codebooks are tiny (m·k·dsub floats) and live driver-side
/ broadcast as literals; training runs MLlib KMeans per subspace (on a
sample at scale); assignment is one Arrow-batched pandas UDF pass
(numpy argmin over k centroids — vectorized, the write-path cost);
the ADC scan is whole-stage-codegen JVM with no Python in the loop.

Reference analog: FAISS IVFPQ — the index type the reference's config
names but never trains (/root/reference/src/langchain_memvid/
config.py:111-134, index.py:152-162); here the PQ half is real.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ByteType

from langchain_memvid_spark.exceptions import IndexError_
from langchain_memvid_spark.functions.vector import vector_literal


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> list[list[list[float]]]:
    """Train per-subspace KMeans codebooks; returns codebooks[m][k][dsub].

    Each subspace trains on the corresponding slice of the vectors —
    m small KMeans fits over (n × dim/m) data. At 100 TB pass
    ``sample_fraction`` ≪ 1: codebook quality needs thousands of
    points per centroid, not the corpus."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as e:  # pragma: no cover
        raise IndexError_(f"MLlib unavailable: {e}") from e

    if not 1 <= k <= 128:
        # codes are stored as signed ByteType; ids past 127 would wrap
        # negative and silently corrupt the ADC table lookups
        raise IndexError_(f"k must be in [1, 128] for int8 codes, got {k}")
    first = embeddings.select(vec_col).head()
    if first is None:
        raise IndexError_("cannot train PQ codebooks on an empty embeddings table")
    dim = len(first[0])
    if dim % m != 0:
        raise IndexError_(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    base = embeddings.select(vec_col)
    if sample_fraction < 1.0:
        base = base.sample(fraction=sample_fraction, seed=seed)
    base = base.cache()
    base.count()  # materialize once before the concurrent fits

    def _fit(j: int) -> list[list[float]]:
        sub = base.select(
            array_to_vector(F.slice(F.col(vec_col), j * dsub + 1, dsub)).alias("__f")
        )
        model = KMeans(k=k, seed=seed + j, featuresCol="__f", predictionCol="__c").fit(sub)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # The m sub-fits are independent; Spark schedules jobs submitted
    # from separate driver threads concurrently, so the per-fit
    # overhead (job setup + tiny iterations) overlaps instead of
    # serializing — same codebooks (each fit keeps its own seed).
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
            codebooks = list(pool.map(_fit, range(m)))
    finally:
        # a failed fit must not leak the cached training sample (it can
        # be large when sample_fraction < 1 carves it from a big corpus)
        base.unpersist()
    return codebooks


def pq_assign(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Attach the m-byte PQ code column: per subspace, the id of the
    nearest codebook centroid (L2). One Arrow-batched pandas UDF pass,
    numpy-vectorized over (batch × k) distance matrices — the write-path
    cost paid once at ingest."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # Re-validate here, not only in pq_train: externally trained
    # codebooks with k>128 would wrap argmin ids negative on the int8
    # cast, and element_at(code+1) then silently indexes from the array
    # END instead of failing (ADVICE r4 #3).
    if any(len(cb_j) > 128 for cb_j in codebooks):
        raise IndexError_(
            f"codebooks exceed 128 centroids (k={max(len(c) for c in codebooks)}); "
            "int8 PQ codes support at most 128"
        )
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)

    @F.pandas_udf(ArrayType(ByteType()))
    def assign(vecs: pd.Series) -> pd.Series:
        out = []
        arr = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(arr) == 0:
            return pd.Series(out)
        for j in range(m):
            sub = arr[:, j * dsub : (j + 1) * dsub]  # (n, dsub)
            # (n, k) squared distances; argmin per row
            d = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1).astype(np.int8)
            out.append(code)
        codes = np.stack(out, axis=1)  # (n, m)
        return pd.Series([c.tolist() for c in codes])

    return embeddings.withColumn(out_col, assign(F.col(vec_col)))


def _adc_score(codes_col: Column, tables: list[list[float]]) -> Column:
    """Σ_j table_j[code_j] as a pure-JVM expression (m element_at
    lookups over broadcast literal arrays — whole-stage codegen)."""
    terms = [
        F.element_at(
            vector_literal(tables[j]),
            codes_col[j].cast("int") + 1,
        )
        for j in range(len(tables))
    ]
    return reduce(lambda a, b: a + b, terms)


def pq_topk(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    qvec: list[float],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Two-phase ADC search: the m-byte codes rank every row via table
    lookups (JVM, no Python, ~m bytes read per row), the top ``rerank``
    survivors re-rank on exact cosine. Output (vec_id, adc_score, sim)
    ordered by exact similarity."""
    from langchain_memvid_spark.functions.vector import cosine_sim

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = np.asarray(qvec, dtype=np.float64)
    if len(q) != m * dsub:
        raise IndexError_(f"query dim {len(q)} != m*dsub {m * dsub}")
    # ADC inner-product tables: table[j][c] = q_j · centroid_c
    tables = [
        [float(np.dot(q[j * dsub : (j + 1) * dsub], np.asarray(c))) for c in codebooks[j]]
        for j in range(m)
    ]
    first = (
        coded.select(id_col, codes_col)
        .withColumn("adc_score", F.round(_adc_score(F.col(codes_col), tables), 6))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(max(rerank, k))
        .select(id_col, "adc_score")
    )
    qarr = vector_literal(qvec)
    return (
        coded.join(F.broadcast(first), id_col)
        .withColumn("sim", F.round(cosine_sim(F.col(vec_col), qarr), 4))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "adc_score", "sim")
    )


def pq_compression_stats(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """One-row SPACE summary: corpus size, float vs code bytes, and the
    compression ratio — every column closed-form from the schema
    (dim·4 vs m bytes), so a plain SQL oracle can hash it. The QUALITY
    half (reconstruction cosine, which needs the trained codebooks)
    lives in pq_reconstruction_stats."""
    m = len(codebooks)
    return coded.select(F.size(F.col(vec_col)).alias("__dim")).agg(
        F.count("*").alias("n_vectors"),
        (F.first("__dim") * 4).alias("float_bytes_per_vec"),
        F.lit(m).alias("code_bytes_per_vec"),
        F.round(F.first("__dim") * 4.0 / m, 2).alias("compression_ratio"),
    )


def pq_reconstruction_stats(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    min_mean_cos: float = 0.0,
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """One-row QUALITY summary: mean/min reconstruction cosine (decode
    = concat of assigned centroids). Rows-only for any SQL oracle (the
    codebooks are trained), so it self-asserts instead: when
    ``min_mean_cos`` > 0 and the mean reconstruction cosine falls below
    it, the row is filtered away and the query loudly returns EMPTY."""
    from langchain_memvid_spark.functions.vector import cosine_sim

    m = len(codebooks)
    # reconstruct[j] = codebook_j[code_j]: build as JVM expression
    parts = [
        F.element_at(
            F.array(*[vector_literal(c) for c in codebooks[j]]),
            F.col(codes_col)[j].cast("int") + 1,
        )
        for j in range(m)
    ]
    recon = F.flatten(F.array(*parts))
    return (
        coded.select(cosine_sim(F.col(vec_col), recon).alias("__rc"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("__rc"), 4).alias("mean_recon_cos"),
            F.round(F.min("__rc"), 4).alias("min_recon_cos"),
        )
        .filter(F.col("mean_recon_cos") >= min_mean_cos)
    )
