"""Keyword (BM25) ranking, hybrid rank fusion, and span-level
duplicate detection — training-data / retrieval extensions beyond the
reference's pure-vector search surface.

The reference retrieves by FAISS vector similarity only
(/root/reference/src/langchain_memvid/index.py:309-338); production
retrieval stacks pair that with lexical BM25 and fuse the two rankings
(reciprocal rank fusion). Span-level duplicate detection is the
substring-granularity dedup from Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better"), approximated at
fixed-width token windows so it stays a pure equi-join — the suffix
array the paper uses is replaced by window hashing, which is the
standard distributed formulation.

Everything here is JVM-side Catalyst — no Python UDFs:

- BM25 filters the exploded token stream down to the (tiny, literal)
  query-term set BEFORE any aggregation, so the per-term shuffle
  carries only matching (doc, term) pairs; corpus-level stats (N,
  avgdl) ride in on a broadcast one-row cross join.
- RRF is two bounded top-n rankings full-outer-joined on doc id —
  both inputs are already ≤ n rows, so the fuse itself is trivial.
- Duplicate spans: window-hash → count distinct docs per hash →
  equi-join back → per-doc interval-union via a running-max window
  (classic gaps-and-islands with OVERLAP merging, not just adjacency:
  two duplicated windows at pos p and p+2 with width 8 share tokens,
  so islands split on pos > max(prev end), giving the exact union of
  covered token intervals). The only shuffles are the hash groupBy
  and the per-doc window — both keyed, both AQE-coalescible; the
  per-doc window partitions by doc_id, the natural parallel unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from langchain_memvid_spark.functions.text import tokens
from langchain_memvid_spark.session import local_frame

DEFAULT_QUERY_TERMS = ("dup", "spark", "join")


# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------


def _tokenized(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, __toks, n_tokens) — the one tokenization every operator
    here starts from. NULL text would make size(split(NULL)) = -1, so
    it coalesces to empty first."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    ).withColumn("n_tokens", F.size("__toks"))


def _bm25_contribs(
    docs: DataFrame, terms: list[str], k1: float, b: float
) -> DataFrame:
    """(doc_id, term, __c) — per-(doc, matched-term) BM25 contribution,
    shared by the single-query and batch paths so the formula exists
    once. `docs` is `_tokenized` output; `terms` is the (deduplicated)
    union of query terms, filtered BEFORE any shuffle."""
    dld = docs.withColumn("dl", F.col("n_tokens"))
    # corpus stats over ALL docs (not just matching ones)
    stats = dld.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        dld.select("doc_id", "dl", F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # df(term) as a window count over tf: tf is grouped by
    # (doc_id, dl, term) and dl is functionally dependent on doc_id, so
    # per term its row count IS countDistinct(doc_id). The former
    # groupBy("term")+broadcast-join formulation referenced tf on a
    # second branch, re-evaluating the whole scan+tokenize+explode
    # subtree (column pruning diverges between the branches, so
    # ReuseExchange never fires) — a full extra corpus pass. Caching tf
    # instead is a MEASURED loss (optimization r14 isolated A/B:
    # bm25_topk 1.67x, bm25_batch 1.34x, hybrid_rrf 1.19x SLOWER with
    # .cache()). The window trades that O(corpus) second pass for a
    # spill-safe per-term partition of df(term) post-filter rows —
    # bounded by the matching docs the query must process downstream
    # anyway, and the term set is the (tiny, literal) query vocabulary.
    df_w = Window.partitionBy("term")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(df_w))
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", contrib.alias("__c"))
    )


def _dup_windows(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, pos, __h) — every w-token window of every doc with ≥ w
    tokens, keyed by an 8-byte xxhash64 of the window text (the
    ngram_jaccard join-key trick). `docs` is `_tokenized` output."""
    return (
        docs.filter(F.col("n_tokens") >= w)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - F.lit(w - 1))
            ).alias("pos"),
            F.col("__toks"),
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(
                F.array_join(F.slice(F.col("__toks"), F.col("pos"), w), " ")
            ).alias("__h"),
        )
    )


def _span_islands(positions: DataFrame, w: int) -> DataFrame:
    """(doc_id, __grp, n_win, s, e) — merge each doc's window START
    positions into maximal OVERLAPPING intervals [s, e] of covered
    tokens: a window [pos, pos+w-1] starts a new island only when pos
    exceeds the running max of previous ends (not mere adjacency).
    `positions` is (doc_id, pos) rows; the window partitions by doc_id,
    the natural parallel unit."""
    byp = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        byp.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        positions.withColumn(
            "__new",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__new").over(byp))
        .groupBy("doc_id", "__grp")
        .agg(
            F.count("*").alias("n_win"),
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(w - 1)).alias("e"),
        )
    )


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def bm25_scores(
    documents: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BM25 score for a bag-of-words query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (Lucene's non-negative
    variant).

    Plan shape at 100 TB: one scan computes per-doc length; the
    exploded token stream is filtered to the literal query-term set
    immediately (a handful of terms — the filter is a codegen isin
    over the explode, nothing else is shuffled); tf is a keyed groupBy
    on (doc, term); df is a groupBy on term over ≤ |terms| distinct
    keys; N/avgdl is a single-row aggregate broadcast back. Output is
    one row per document that matches ≥1 term.
    """
    terms = sorted({str(t) for t in query_terms})
    contribs = _bm25_contribs(_tokenized(documents, text_col, id_col), terms, k1, b)
    return contribs.groupBy("doc_id").agg(F.round(F.sum("__c"), 4).alias("bm25"))


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25: TakeOrderedAndProject over the scored docs (per-
    partition heaps + driver merge, never a global sort). Ranked by
    the ROUNDED score with doc_id tiebreak so the ordering is
    reproducible across engines and float summation orders. The rank
    window runs AFTER the limit — over k rows, not the corpus."""
    scored = bm25_scores(documents, query_terms, k1, b, text_col, id_col)
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
            .cast("int"),
        )
    )


def bm25_batch(
    documents: DataFrame,
    queries: dict[int, tuple[str, ...]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL queries in one corpus pass — the same Spark win knn_batch
    scores over the reference's sequential per-query loop, applied to
    lexical search: per-(doc, term) BM25 contributions are computed
    once over the UNION of every query's terms, then a tiny broadcast
    (query_id, term) map fans the shared contributions out to each
    query, and a per-query window takes top-k (map-side
    WindowGroupLimit before the exchange).

    Terms shared between queries are scored once, not once per query.
    Output: query_id, doc_id, bm25, rank (rank <= k).
    """
    all_terms = sorted({str(t) for ts in queries.values() for t in ts})
    spark = documents.sparkSession
    # dedupe per query: a repeated term in one query's tuple would
    # otherwise join its contribution in twice
    qmap = local_frame(
        spark,
        [
            (int(qid), t)
            for qid, ts in sorted(queries.items())
            for t in sorted({str(x) for x in ts})
        ],
        "query_id int, term string",
    )
    contribs = _bm25_contribs(
        _tokenized(documents, text_col, id_col), all_terms, k1, b
    )
    scored = (
        contribs.join(F.broadcast(qmap), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("__c"), 4).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal rank fusion of two (id, rank) lists:
    score = Σ_lists 1/(rrf_k + rank), absent list contributes 0.

    Both inputs are bounded top-n lists, so this is a tiny full-outer
    join — the heavy lifting happened upstream. Ranks are integers, so
    the fused doubles are bit-identical across engines."""
    a = ranked_a.select(F.col(id_col).alias("doc_id"), F.col("rank").alias("__ra"))
    b_ = ranked_b.select(F.col(id_col).alias("doc_id"), F.col("rank").alias("__rb"))
    fused = (
        a.join(b_, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("__ra")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("__rb")), F.lit(0.0)),
                6,
            ),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "rrf")
    )


# ---------------------------------------------------------------------------
# span-level (substring) duplicate detection
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    documents: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level dedup APPLIED: for every w-token window appearing
    in more than one document, keep only the globally-first occurrence
    (min doc_id, then min position) and cut every other occurrence's
    tokens from the text. The distributed rewrite of Lee et al. 2022's
    suffix-array dedup at window granularity.

    The keeper is the lexicographic MIN of struct(doc_id, pos) — no
    packed-integer key, so it cannot overflow or bleed between docs at
    any doc_id / document length. Removal intervals are merged per doc
    with the shared overlap-union islands; the text is rebuilt with a
    higher-order ``filter`` over token positions in ONE left-joined
    pass over the corpus (untouched docs take the no-interval branch).
    Untouched docs pass through with whitespace-normalized text
    (single-space token join — the same canonical form the cleaned
    docs get), so output text is uniformly normalized.

    Output: doc_id, n_tokens, n_removed, cleaned_text.
    """
    docs = _tokenized(documents, text_col, id_col)
    win = _dup_windows(docs, w)
    # cross-doc duplicated hashes with their globally-first occurrence,
    # as ONE hash-keyed window pass over `win` (optimization r14): the
    # former groupBy(__h)+join-back referenced `win` on two branches —
    # pruning diverges, ReuseExchange never fires — so the whole
    # scan+tokenize+window-hash pass ran TWICE, and the join re-shuffled
    # `win` by __h anyway.  countDistinct is not a window function, but
    # "appears in >1 doc" ⟺ min(doc_id) ≠ max(doc_id) over the hash —
    # exact, and both are window-legal.  Same concentration as before:
    # the join already exchanged every win row by __h alone.
    w_h = Window.partitionBy("__h")
    to_remove = (
        win.select(
            "doc_id",
            "pos",
            F.min(
                F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
            ).over(w_h).alias("__keeper"),
            F.min("doc_id").over(w_h).alias("__dmin"),
            F.max("doc_id").over(w_h).alias("__dmax"),
        )
        .filter(
            (F.col("__dmin") != F.col("__dmax"))
            & (
                (F.col("doc_id") != F.col("__keeper.d"))
                | (F.col("pos") != F.col("__keeper.p"))
            )
        )
        .select("doc_id", "pos")
    )
    iv = (
        _span_islands(to_remove, w)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("__iv"))
    )
    # ONE pass over the corpus: docs with no removal intervals take the
    # null-__iv branch (no second scan + union)
    keep = F.filter(
        F.sequence(F.lit(1), F.col("n_tokens")),
        lambda p: ~F.exists(F.col("__iv"), lambda i: (p >= i["s"]) & (p <= i["e"])),
    )
    rebuilt = F.array_join(
        F.transform(keep, lambda p: F.element_at("__toks", p)), " "
    )
    untouched = F.col("__iv").isNull()
    return (
        docs.join(iv, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(untouched, F.lit(0))
            .otherwise(F.col("n_tokens") - F.size(keep))
            .alias("n_removed"),
            F.when(untouched, F.array_join("__toks", " "))
            .otherwise(rebuilt)
            .alias("cleaned_text"),
        )
    )


def duplicate_spans(
    documents: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level duplicate report: for every document, how many of its
    w-token windows also appear verbatim in ANOTHER document, merged
    into maximal overlapping spans, and what fraction of its tokens
    those spans cover. Shares the window/island machinery with
    :func:`remove_duplicate_spans`, so the report always agrees with
    what the cleaner would cut.

    Output: one row per document (docs shorter than w tokens and docs
    with no duplicated window report zeros) — doc_id, n_tokens,
    n_dup_windows, n_spans, dup_tokens, dup_fraction.
    """
    docs = _tokenized(documents, text_col, id_col)
    win = _dup_windows(docs, w)
    # "window appears in another doc" as a hash-keyed window predicate
    # (min(doc_id) ≠ max(doc_id) ⟺ countDistinct(doc_id) > 1) — one
    # evaluation of `win` instead of the groupBy+join-back's two; see
    # remove_duplicate_spans above for the full rationale.
    w_h = Window.partitionBy("__h")
    dup = (
        win.select(
            "doc_id",
            "pos",
            F.min("doc_id").over(w_h).alias("__dmin"),
            F.max("doc_id").over(w_h).alias("__dmax"),
        )
        .filter(F.col("__dmin") != F.col("__dmax"))
        .select("doc_id", "pos")
    )
    spans = _span_islands(dup, w)
    perdoc = spans.groupBy("doc_id").agg(
        F.sum("n_win").alias("__ndw"),
        F.count("*").alias("__ns"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).alias("__dt"),
    )
    return (
        docs.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("__ndw"), F.lit(0)).alias("n_dup_windows"),
            F.coalesce(F.col("__ns"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("__dt"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("__dt"), F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
    )
