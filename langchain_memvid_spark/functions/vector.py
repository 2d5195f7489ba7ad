"""Vector math as JVM-side higher-order functions — no Python UDFs.

The reference computes these in FAISS C++ (inner product / L2 search,
/root/reference/src/langchain_memvid/index.py:144-148,327; L2
normalization :293-295,323-324). Here they are Catalyst expressions
(`zip_with` + `aggregate`), so scoring stays inside whole-stage
codegen and scales with executor count — no Arrow hop per row.

All arithmetic is done in DOUBLE regardless of the stored float32 so
results are stable and match the DuckDB oracle (which also upcasts).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Inner product <a,b> in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize (float32 output to mirror the stored layout).

    Reference analog: faiss.normalize_L2 at ingest/query
    (/root/reference/src/langchain_memvid/index.py:293-295)."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: (x.cast("double") / n).cast("float"))).otherwise(a)


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; if inputs are pre-normalized this equals dot()."""
    return dot(a, b) / (norm(a) * norm(b))


def relevance_score_col(score: Column, metric: str) -> Column:
    """LangChain-normalized relevance in [0, 1] as a Catalyst
    expression — THE single source for the metric maps: the store API
    (similarity_search_with_relevance_scores computes it in-plan) and
    the vs_relevance_scores oracle query both build from here, so the
    driver hash pins the exact map the API returns (ADVICE r4 #4 — ip
    maps via a sigmoid, not the affine cosine map, because the
    unnormalized dot is unbounded).

    cosine → (1+s)/2 clamped (float32 self-matches can exceed |1| by
    ~1e-7); l2 (squared distance, lower=better) → 1/(1+d²);
    ip → 1/(1+e^(−s))."""
    if metric == "l2":
        return F.lit(1.0) / (F.lit(1.0) + score)
    if metric == "ip":
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
    return F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), (F.lit(1.0) + score) / F.lit(2.0))
    )


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance (FAISS IndexFlatL2 convention: lower=better,
    /root/reference/src/langchain_memvid/index.py:148,327)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------- literals
# A driver-side vector inlined as ``F.array(*[F.lit(x) ...])`` costs
# several py4j round trips PER ELEMENT, and each Python lambda of the
# Column HOFs above a few more: at dim=512 building one query plan took
# hundreds of driver<->JVM calls.  The forms below render the vector as
# SQL text and parse it in ONE ``F.expr`` call, so the cost of planning
# a literal-vector expression no longer depends on the dimension.


def _double_sql(x: float) -> str:
    """One double as SQL text that parses to the same bits: ``repr`` is
    the shortest round-tripping decimal and the ``D`` suffix makes it a
    DOUBLE literal (parsed with Java's correctly rounded parseDouble).
    Non-finite values have no literal syntax and become casts."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _vector_sql(vec: Sequence[float]) -> str:
    """SQL text of an array<double> literal; bit-identical to
    ``F.array(*[F.lit(float(x)) for x in vec])``."""
    return "array(" + ", ".join(_double_sql(x) for x in vec) + ")"


def vector_literal(vec: Sequence[float]) -> Column:
    """A Python vector as an array<double> literal column, built in a
    single driver->JVM call."""
    return F.expr(_vector_sql(vec))


def col_sql(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot_lit(col: str, vec: Sequence[float]) -> Column:
    """``dot(F.col(col), vector_literal(vec))`` as one SQL expression:
    same casts, same left-to-right double fold, same bits."""
    return F.expr(
        f"aggregate(zip_with(transform({col_sql(col)}, x -> CAST(x AS DOUBLE)), "
        f"{_vector_sql(vec)}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def l2_sq_lit(col: str, vec: Sequence[float]) -> Column:
    """``l2_sq(F.col(col), vector_literal(vec))`` as one SQL expression."""
    return F.expr(
        f"aggregate(zip_with(transform({col_sql(col)}, x -> CAST(x AS DOUBLE)), "
        f"{_vector_sql(vec)}, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )
