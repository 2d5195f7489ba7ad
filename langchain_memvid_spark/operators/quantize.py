"""Embedding quantization: float32 → int8 storage with per-vector
scales.

At 100 TB the embedding column dominates storage and scan bytes; 8-bit
symmetric quantization cuts both 4× while keeping retrieval quality
(recon cosine ≥ 0.999 on unit-normalized vectors). Entirely Catalyst
HOFs — the arithmetic is fixed-order IEEE double plus an exact
``floor(x + 0.5)`` (no round()-mode ambiguity between engines), so the
DuckDB oracle reproduces every quantized value bit-for-bit.

Reference analog: FAISS stores float32 flat
(/root/reference/src/langchain_memvid/index.py:144-148); scalar
quantization is the standard scale path FAISS offers as SQ8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from langchain_memvid_spark.functions.vector import col_sql, cosine_sim


def _scale(v: Column) -> Column:
    return F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))), F.lit(1e-30)
    )


def quantize_cols(v: Column) -> tuple[Column, Column]:
    """(scale, qvec array<tinyint>) column pair for an embedding column —
    the building block SparkVectorStore / IVFIndex use to persist codes
    alongside the float vectors at ingest."""
    scale = _scale(v)
    qvec = F.transform(
        v, lambda x: F.floor(x.cast("double") / scale * 127 + F.lit(0.5)).cast("tinyint")
    )
    return scale, qvec


def query_codes(qvec: list[float]) -> list[int]:
    """Driver-side int8 codes for a query vector — the same
    floor(x/scale·127 + 0.5) arithmetic as quantize_cols, kept in ONE
    place so the store/IVF two-phase paths can never drift from the
    stored codes or the DuckDB oracle."""
    import math

    s = max((abs(x) for x in qvec), default=0.0) or 1e-30
    return [int(math.floor(x / s * 127 + 0.5)) for x in qvec]


def int8_dot(qvec: Column, query_codes: Column) -> Column:
    """Exact int64 dot product of two int8 code arrays (JVM HOFs)."""
    return F.aggregate(
        F.zip_with(qvec, query_codes, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_dot_lit(col: str, codes: list[int]) -> Column:
    """``int8_dot(F.col(col), <codes as an int array literal>)`` as one
    SQL expression (one driver->JVM call, see functions/vector.py)."""
    arr = "array(" + ", ".join(str(int(c)) for c in codes) + ")"
    return F.expr(
        f"aggregate(zip_with({col_sql(col)}, {arr}, "
        "(a, b) -> CAST(a AS BIGINT) * CAST(b AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def quantize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, scale, qvec array<tinyint>) — symmetric int8 with a
    per-vector scale. q_i = floor(x_i / scale * 127 + 0.5) ∈
    [-127, 127], stored as ByteType so the physical column really is
    one byte per code (the 4× storage/scan-bytes claim, realized)."""
    v = F.col(vec_col)
    scale = _scale(v)
    qvec = F.transform(
        v, lambda x: F.floor(x.cast("double") / scale * 127 + F.lit(0.5)).cast("tinyint")
    )
    return embeddings.select(
        F.col(id_col), scale.alias("scale"), qvec.alias("qvec")
    )


def _int8_codes(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, scale, qvec) — from PERSISTED code columns when the input
    carries them (store/ingest layouts write qscale/qvec), derived
    in-plan otherwise."""
    if "qvec" in embeddings.columns:
        scale_col = "qscale" if "qscale" in embeddings.columns else "scale"
        return embeddings.select(
            F.col(id_col), F.col(scale_col).alias("scale"), F.col("qvec")
        )
    return quantize_embeddings(embeddings, id_col, vec_col)


def knn_topk_quantized(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by integer dot product over the int8 codes — search that
    never touches the float column (the compressed-domain symmetric
    distance). Scoring is exact int64 arithmetic, so ordering is fully
    deterministic across engines and the oracle needs no float
    tolerance at all. Per-vector scales mean the integer score is a
    scaled cosine surrogate; ranking quality is bounded by the
    quantization error measured in quantization_report.

    Plan shape mirrors knn_topk: broadcast the single query code row,
    JVM-side HOF scoring, TakeOrderedAndProject top-k (per-partition
    heaps, no global sort).

    Inputs carrying PERSISTED codes (``qvec`` + ``qscale``/``scale``,
    written at ingest like the store does) are scanned directly —
    re-deriving codes from floats per query measured 32× at the sf10
    ladder; the derive path stays for raw embeddings tables."""
    q = _int8_codes(embeddings, id_col, vec_col)
    qrow = q.filter(F.col(id_col) == query_vec_id).select(
        F.col("qvec").alias("__qq")
    )
    scored = q.crossJoin(F.broadcast(qrow)).withColumn(
        "qscore", int8_dot(F.col("qvec"), F.col("__qq"))
    )
    return (
        scored.orderBy(F.col("qscore").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "qscore")
    )


def knn_topk_requantized(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase search: compressed-domain first pass → exact re-rank.

    Phase 1 scores int8 codes with exact int64 arithmetic and keeps the
    top-`candidates` rows ranked by qscore·scale (codes are x/scale·127,
    so the raw integer dot is ∝ dot(a,q)/scale_a — multiplying back by
    the per-vector scale removes the systematic under-ranking of
    large-max-component vectors; the int64·double product is exact and
    identical across engines, tie-broken by id, so the candidate cut is
    still deterministic). Phase 2 joins ONLY those candidates back to
    the float column and re-ranks them by true cosine.

    This is the 100 TB shape: the first pass reads 1-byte codes (4×
    fewer scan bytes than float32), the expensive float math touches
    `candidates` rows instead of the corpus. SparkVectorStore and
    IVFIndex store the codes at ingest so phase 1 never materializes
    them (core/store.py, core/ivf.py); here they are derived in-plan so
    the operator works on any embeddings table.

    Reference analog: FAISS SQ8 + refine (the reference stores flat
    float32, index.py:144-148 — this beats its scan bytes 4×).
    Persisted ``qvec``/``qscale`` columns are scanned directly when
    present (see knn_topk_quantized).
    """
    from langchain_memvid_spark.functions.vector import col_sql, cosine_sim

    q = _int8_codes(embeddings, id_col, vec_col)
    qrow = q.filter(F.col(id_col) == query_vec_id).select(F.col("qvec").alias("__qq"))
    first_pass = (
        q.crossJoin(F.broadcast(qrow))
        .withColumn("qscore", int8_dot(F.col("qvec"), F.col("__qq")))
        .orderBy(
            (F.col("qscore").cast("double") * F.col("scale")).desc(),
            F.col(id_col).asc(),
        )
        .limit(candidates)
        .select(id_col, "qscore")
    )
    fqrow = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__fq")
    )
    return (
        embeddings.join(F.broadcast(first_pass), id_col)
        .crossJoin(F.broadcast(fqrow))
        .withColumn("sim", F.round(cosine_sim(F.col(vec_col), F.col("__fq")), 4))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "qscore", "sim")
    )


def quantization_report(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector quantization quality: the scale, the L1 mass of the
    int8 codes (an exact integer the oracle can hash), and the cosine
    between the original and its dequantized reconstruction."""
    v = F.col(vec_col)
    scale = _scale(v)
    qvec = F.transform(
        v, lambda x: F.floor(x.cast("double") / scale * 127 + F.lit(0.5)).cast("long")
    )
    dequant = F.transform(qvec, lambda q: q.cast("double") * scale / 127)
    q_l1 = F.aggregate(
        F.transform(qvec, F.abs), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return embeddings.select(
        F.col(id_col),
        F.round(scale, 4).alias("scale"),
        q_l1.alias("q_l1"),
        F.round(cosine_sim(v, dequant), 4).alias("recon_cos"),
    )


# ---------------------------------------------------------------------------
# int4 packed tier (SQ4): two codes per stored byte, 8x vs float32
# ---------------------------------------------------------------------------


def quantize4_cols(v: Column) -> tuple[Column, Column]:
    """(scale, pvec array<tinyint>) for the 4-bit tier: nibble codes
    q_i = floor(x_i/scale·7 + 0.5) ∈ [-7, 7], PACKED two per byte as
    (q_hi+8)·16 + (q_lo+8) − 128 so the stored array is ceil(dim/2)
    real bytes — 8× fewer scan bytes than float32, half of int8. Odd
    dims pad the last low nibble with code 0. Same exact floor(x+0.5)
    arithmetic as the int8 tier, so the DuckDB oracle reproduces every
    packed byte bit-for-bit."""
    scale = _scale(v)
    q = F.transform(
        v, lambda x: F.floor(x.cast("double") / scale * 7 + F.lit(0.5)).cast("int")
    )
    # Single-pass pairing, NO element_at indexing: an indexed
    # transform(idx, i -> element_at(q, 2i)) inlines the whole
    # quantization expression into every element lookup, and once that
    # lands inside a downstream zip_with the evaluator re-derives q per
    # element — measured 216 s vs 1.8 s on a 20 k × 64 scan. filter/zip
    # keeps every stage one pass over its input.
    qi = F.transform(q, lambda x, i: F.struct(x.alias("v"), i.alias("i")))
    his = F.transform(
        F.filter(qi, lambda s: s["i"] % 2 == 0), lambda s: s["v"]
    )
    los = F.transform(
        F.filter(qi, lambda s: s["i"] % 2 == 1), lambda s: s["v"]
    )
    # odd dims: his is one longer than los; zip_with pads with NULL ->
    # pad nibble is code 0
    pvec = F.zip_with(
        his,
        los,
        lambda h, l: (
            (h + F.lit(8)) * F.lit(16) + (F.coalesce(l, F.lit(0)) + F.lit(8)) - F.lit(128)
        ).cast("tinyint"),
    )
    return scale, pvec


def query_codes4(qvec: list[float]) -> list[int]:
    """Driver-side packed int4 codes for a query vector — one place,
    same packing arithmetic as quantize4_cols."""
    import math

    s = max((abs(x) for x in qvec), default=0.0) or 1e-30
    q = [int(math.floor(x / s * 7 + 0.5)) for x in qvec]
    if len(q) % 2:
        q.append(0)
    return [(q[j] + 8) * 16 + (q[j + 1] + 8) - 128 for j in range(0, len(q), 2)]


def int4_dot(pvec_a: Column, pvec_b: Column) -> Column:
    """Exact int64 dot of two PACKED int4 arrays: each byte unpacks to
    (hi, lo) nibbles via shift/mask — pure codegen integer ops, no
    Python. The pad nibble is code 0 on both sides, so it contributes
    nothing."""

    def prod(a: Column, b: Column) -> Column:
        ua = a.cast("int") + F.lit(128)
        ub = b.cast("int") + F.lit(128)
        ha = F.shiftright(ua, 4) - F.lit(8)
        la = ua.bitwiseAND(F.lit(15)) - F.lit(8)
        hb = F.shiftright(ub, 4) - F.lit(8)
        lb = ub.bitwiseAND(F.lit(15)) - F.lit(8)
        return (ha * hb + la * lb).cast("long")

    return F.aggregate(
        F.zip_with(pvec_a, pvec_b, prod), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def quantize4_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, scale, pvec array<tinyint>) — the packed 4-bit tier."""
    v = F.col(vec_col)
    scale, pvec = quantize4_cols(v)
    return embeddings.select(F.col(id_col), scale.alias("scale"), pvec.alias("pvec"))


def knn_topk_int4(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase search over the PACKED 4-bit tier: phase 1 scores the
    nibble codes with exact integer arithmetic (ranked by qscore·scale,
    debiased like the int8 path), phase 2 re-ranks only `candidates`
    rows on true cosine. The 100 TB reading: the first pass scans
    ceil(dim/2) bytes per vector — 8× fewer than float32 — at a
    recall cost the coarser codes make visible, which is exactly why
    the exact re-rank follows. FAISS analog: SQ4 + refine.

    When the input carries PERSISTED code columns (``pvec`` +
    ``pscale``, written at ingest like the store's int8 qvec), the
    first pass scans them directly instead of re-deriving the packed
    codes from the float column per query — the sf10 ladder measured
    the in-plan derivation at 40.6× because every search paid the
    quantization again. The derive path stays for no-ingest inputs."""
    from langchain_memvid_spark.functions.vector import col_sql, cosine_sim

    # same missing-query contract as topk.knn_topk / ivf_search: an
    # absent id must raise, not silently empty out both broadcast sides
    if embeddings.filter(F.col(id_col) == query_vec_id).head() is None:
        raise ValueError(f"query {id_col}={query_vec_id} not found in the corpus")
    if "pvec" in embeddings.columns and "pscale" in embeddings.columns:
        q = embeddings.select(
            F.col(id_col), F.col("pscale").alias("scale"), F.col("pvec")
        )
    else:
        q = quantize4_embeddings(embeddings, id_col, vec_col)
    qrow = q.filter(F.col(id_col) == query_vec_id).select(F.col("pvec").alias("__qq"))
    first_pass = (
        q.crossJoin(F.broadcast(qrow))
        .withColumn("qscore4", int4_dot(F.col("pvec"), F.col("__qq")))
        .orderBy(
            (F.col("qscore4").cast("double") * F.col("scale")).desc(),
            F.col(id_col).asc(),
        )
        .limit(candidates)
        .select(id_col, "qscore4")
    )
    fqrow = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__fq")
    )
    return (
        embeddings.join(F.broadcast(first_pass), id_col)
        .crossJoin(F.broadcast(fqrow))
        .withColumn("sim", F.round(cosine_sim(F.col(vec_col), F.col("__fq")), 4))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "qscore4", "sim")
    )


def quantization4_report(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector 4-bit tier quality: packed byte count (the 8× claim,
    physically checkable), an exact packed-byte checksum the oracle
    hashes, and the reconstruction cosine from the UNPACKED codes —
    proving pack/unpack round-trips inside one plan."""
    v = F.col(vec_col)
    scale, pvec = quantize4_cols(v)
    up = F.flatten(
        F.transform(
            pvec,
            lambda p: F.array(
                F.shiftright(p.cast("int") + F.lit(128), 4) - F.lit(8),
                (p.cast("int") + F.lit(128)).bitwiseAND(F.lit(15)) - F.lit(8),
            ),
        )
    )
    dequant = F.transform(
        F.slice(up, 1, F.size(v)), lambda c: c.cast("double") * scale / 7
    )
    packed_sum = F.aggregate(
        F.transform(pvec, lambda p: p.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return embeddings.select(
        F.col(id_col),
        F.size(pvec).alias("n_packed_bytes"),
        packed_sum.alias("packed_sum"),
        F.round(scale, 4).alias("scale"),
        F.round(cosine_sim(v, dequant), 4).alias("recon_cos"),
    )
