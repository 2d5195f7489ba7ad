"""Text-analysis operators over the documents table.

Each wraps the pure-Catalyst scalar functions in functions/text.py into
a full-table transformation. All stay inside whole-stage codegen — at
100 TB these are scan-bound, not CPU-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from langchain_memvid_spark.functions.text import (
    fingerprint,
    lang_id_col,
    quality_score_cols,
    token_count,
)
from langchain_memvid_spark.operators.joinopt import pair_join


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token counts + chars-per-token ratio."""
    n_tok = token_count(F.col(text_col))
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars_calc"),
        F.round(
            F.length(F.col(text_col)).cast("double") / F.greatest(n_tok, F.lit(1)).cast("double"), 4
        ).alias("chars_per_token"),
    )


def quality_scores(documents: DataFrame, text_col: str = "text") -> DataFrame:
    cols = quality_score_cols(F.col(text_col))
    return documents.select("doc_id", *[c.alias(name) for name, c in cols.items()])


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-heuristic language ID + agreement flag vs the tagged
    lang column (documents.lang)."""
    pred = lang_id_col(F.col(text_col))
    return documents.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).cast("int").alias("agree"),
    )


def fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """sha256 fingerprint of normalized text — the exact-dedup key."""
    return documents.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks — the
    unit the reference stores and searches (its "chunk",
    encoder.py:79-83), generalized to a corpus-scale operator.

    Pure Catalyst: tokens → sequence of chunk starts (stride =
    chunk_tokens - overlap) → explode → slice+join per chunk. No UDF,
    no shuffle — a 100 TB corpus chunks itself in one codegen'd map
    stage; chunk_id is deterministic (position), so downstream dedup/
    embedding keys on (doc_id, chunk_id)."""
    from langchain_memvid_spark.functions.text import tokens as _tokens

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    return (
        documents.select("doc_id", toks.alias("__toks"), starts.alias("__starts"))
        .select("doc_id", "__toks", F.posexplode("__starts").alias("chunk_id", "__start"))
        .select(
            "doc_id",
            "chunk_id",
            F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens).alias("__chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("__chunk").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    fraction of mass in the most frequent token, and the fraction of
    duplicated 2-/3-grams — the standard 'remove boilerplate / degenerate
    repetition' filters of an LLM data pipeline.

    ONE Arrow-batched mapInPandas scan, no shuffle: per-doc n-gram
    counting is embarrassingly parallel, and a Counter per doc beats an
    explode + two groupBys (which would shuffle the full token stream
    twice). n-grams come from the NON-distinct token sequence; slices
    clamp at the tail exactly like the oracle's list slicing, so the
    engines agree on degenerate 1-token docs too. Fractions are rounded
    Catalyst-side."""
    import re
    from collections import Counter

    import pandas as pd

    def stats(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "n_tokens": [], "top_token_frac": [],
                   "dup_2gram_frac": [], "dup_3gram_frac": []}
            for text in pdf[text_col]:
                # ASCII \s: the DuckDB oracle tokenizes with RE2, whose
                # \s is ASCII-only — Python's default Unicode \s would
                # diverge on NBSP-style whitespace
                toks = re.split(r"\s+", (text or "").strip(), flags=re.ASCII)
                n = len(toks)
                out["n_tokens"].append(n)
                tc = Counter(toks)
                out["top_token_frac"].append(max(tc.values()) / max(n, 1))
                for k, key in ((2, "dup_2gram_frac"), (3, "dup_3gram_frac")):
                    grams = Counter(
                        " ".join(toks[j : j + k]) for j in range(max(n - k + 1, 1))
                    )
                    total = sum(grams.values())
                    dup = sum(c for c in grams.values() if c > 1)
                    out[key].append(dup / max(total, 1))
            yield pd.DataFrame(out)

    raw = documents.select("doc_id", text_col).mapInPandas(
        stats,
        "doc_id long, n_tokens int, top_token_frac double, "
        "dup_2gram_frac double, dup_3gram_frac double",
    )
    return raw.select(
        "doc_id",
        "n_tokens",
        F.round("top_token_frac", 4).alias("top_token_frac"),
        F.round("dup_2gram_frac", 4).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 4).alias("dup_3gram_frac"),
    )


def decontaminate(
    documents: DataFrame,
    eval_mod: int = 101,
    k: int = 3,
    text_col: str = "text",
    broadcast_eval: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any k-word
    shingle with a held-out eval set — the n-gram-overlap test every
    serious pretraining pipeline runs before training (the eval set
    here is carved deterministically from the corpus, doc_id % eval_mod
    == 0, standing in for an external benchmark table).

    The shingle probe defaults to a shuffle equi-join: the built-in
    eval stand-in scales WITH the corpus (1/eval_mod of it), so a
    forced broadcast is an OOM at corpus scale — the same hazard the
    sf10 run surfaced in the pair self-joins — and when the eval side
    IS small, AQE converts the shuffle join to a broadcast at runtime
    anyway, so the safe default costs nothing (ADVICE r5 #4). Pass
    ``broadcast_eval=True`` only to pin the broadcast for a known-
    bounded external eval suite (MMLU, GSM8K, … are thousands of
    docs). Training docs never enter pair space either way; output
    covers EVERY training doc (n_hits = 0 when clean) so the
    downstream filter is a plain predicate."""
    from langchain_memvid_spark.operators.dedup import _shingle_rows

    # eval/train doc filters pushed BELOW the Python shingle scan
    # (optimization r14, guide §4.2 — the fixture-prune rule applied to
    # the one text operator that still filtered above its mapInPandas):
    # _shingle_rows is a per-row generator, so shingling a filtered doc
    # set is row-identical to filtering its output, and the two
    # branches used to EACH evaluate the full-corpus shingle scan
    # (2 full Python passes); disjoint pre-filtered inputs make the
    # total exactly one corpus pass, split 1/eval_mod : rest.
    ev = (
        _shingle_rows(documents.filter(F.col("doc_id") % eval_mod == 0), k, text_col)
        .select(F.xxhash64("sh").alias("shh"))
        .distinct()
    )
    train_sh = _shingle_rows(
        documents.filter(F.col("doc_id") % eval_mod != 0), k, text_col
    ).withColumn("shh", F.xxhash64("sh"))
    hits = (
        train_sh.join(F.broadcast(ev) if broadcast_eval else ev, "shh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("__hits"))
    )
    return (
        documents.filter(F.col("doc_id") % eval_mod != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("__hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[A-Za-z0-9./_-]+"


# HTML boilerplate removal (the CCNet/trafilatura-shaped scrape-clean
# stage). Patterns restricted to the Java-regex ∩ RE2 subset (no
# backreferences, no lookahead) so the DuckDB oracle runs the SAME
# chain; non-greedy block strips + inline (?is) flags work in both.
HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"<[^>]+>"
HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),  # &amp; LAST
)


def html_text_col(html):  # -> Column
    """Extract visible text from an HTML column, pure Catalyst: strip
    script/style blocks (content and all — a '>' inside JS must not
    end the strip early), comments, then remaining tags; decode the
    common entities (&amp; last, per spec); collapse whitespace."""
    out = F.regexp_replace(html, HTML_SCRIPT_RE, " ")
    out = F.regexp_replace(out, HTML_STYLE_RE, " ")
    out = F.regexp_replace(out, HTML_COMMENT_RE, " ")
    out = F.regexp_replace(out, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_extract(documents: DataFrame, html_col: str = "html") -> DataFrame:
    """Scrape cleaning: visible text + density stats from raw HTML —
    the first stage of every web-crawl training pipeline (CCNet-style).
    Pure Catalyst regexp chain: codegen, scan-bound, zero shuffle — at
    100 TB this runs at parquet-read speed. text_ratio (visible/raw
    bytes) is the standard boilerplate-density gate."""
    h = F.col(html_col)
    text = html_text_col(h)
    return documents.select(
        "doc_id",
        text.alias("text"),
        F.length(h).cast("long").alias("html_len"),
        F.length(text).cast("long").alias("text_len"),
        F.round(
            F.length(text).cast("double")
            / F.greatest(F.length(h), F.lit(1)).cast("double"),
            4,
        ).alias("text_ratio"),
    )


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII/URL scrubbing: count and redact email addresses and URLs —
    pure Catalyst regexp (codegen, scan-bound at 100 TB). The testdata
    corpus contains no PII, so deterministic synthetic contacts are
    injected first (doc_id-keyed CASE logic both engines reproduce);
    the regexes then do real extraction work: counts come from the
    pattern, not the construction."""
    txt = F.col(text_col)
    injected = F.concat(
        txt,
        F.when(
            F.col("doc_id") % 3 > 0,
            F.concat(F.lit(" reach user"), F.col("doc_id").cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" see https://ex.org/p/"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    return documents.select("doc_id", injected.alias("__t")).select(
        "doc_id",
        F.regexp_count("__t", F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("__t", F.lit(URL_RE)).cast("int").alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("__t", EMAIL_RE, "[EMAIL]"), URL_RE, "[URL]"
        ).alias("scrubbed"),
    )


# GPT-2-style pre-tokenizer, simplified to the subset Java regex and
# RE2 both support (no lookahead): letter runs, single digits, single
# punctuation marks. On clean prose this approximates subword token
# counts well enough for budget estimation (the real BPE merge table
# is a model artifact, not an engine operator).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-budget estimation: whitespace words vs BPE-ish regex
    tokens vs the 4-chars-per-token heuristic — the three ways a
    pipeline sizes a training corpus before committing GPU time. Pure
    Catalyst regexp (codegen, scan-bound)."""
    from langchain_memvid_spark.functions.text import token_count

    txt = F.col(text_col)
    n_ws = token_count(txt)
    n_bpe = F.regexp_count(txt, F.lit(BPE_TOKEN_RE))
    return documents.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.round(F.length(txt).cast("double") / 4.0, 2).alias("est_tokens_4cpt"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double"), 4
        ).alias("bpe_per_word"),
    )


def train_val_split(
    documents: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Reproducible train/val/test assignment: bucket = xxhash64 of the
    normalized TEXT (not doc_id) modulo 100, so (a) the same document
    lands in the same split across corpus versions and engines, and
    (b) exact duplicates can never straddle splits — the leakage bug
    hash-on-id splitting invites. Pure Catalyst; no shuffle, no RNG
    state to ship."""
    from langchain_memvid_spark.functions.hashing import stable_hash64

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    bucket = F.pmod(stable_hash64(norm), F.lit(100))
    return documents.select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < val_pct, "val")
        .when(bucket < val_pct + test_pct, "test")
        .otherwise("train")
        .alias("split"),
    )


def sequence_packing(
    documents: DataFrame, budget: int = 512, text_col: str = "text"
) -> DataFrame:
    """Concat-and-chunk sample packing: documents are laid end-to-end
    in doc_id order and cut into fixed-token training sequences —
    each doc gets the sequence id and offset where it STARTS (docs may
    straddle a boundary, as in standard pretraining packing).

    The global token prefix-sum would be an unpartitioned window
    (Exchange SinglePartition — fatal at 100 TB); instead it runs as
    the two-phase range-partition pattern (operators/scale_windows.py):
    per-partition window sums + a broadcast O(#partitions) offset
    table. seq_id/offset come from integer division of the exclusive
    prefix (`div`), exact at any corpus size — no doubles."""
    from pyspark.sql import Window

    from langchain_memvid_spark.core.ids import partition_offsets
    from langchain_memvid_spark.operators.scale_windows import _num_range_partitions

    toks = documents.select(
        "doc_id", token_count(F.col(text_col)).alias("n_tokens")
    )
    ranged = toks.repartitionByRange(_num_range_partitions(toks), "doc_id")
    pinned, offsets_df, _ = partition_offsets(ranged, {"__off": F.sum("n_tokens").alias("__part_total")})
    w = Window.partitionBy("__pid").orderBy("doc_id")
    return (
        pinned.withColumn("__local", F.sum("n_tokens").over(w))
        .join(F.broadcast(offsets_df), "__pid")
        .withColumn(
            "__cum_excl",
            (F.col("__off") + F.col("__local") - F.col("n_tokens")).cast("long"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"__cum_excl div {budget}").alias("seq_id"),
            F.pmod(F.col("__cum_excl"), F.lit(budget)).cast("long").alias("seq_offset"),
        )
    )


# Domain mixing rates in basis points (rate·10000); sources absent from
# the map fall back to the default. Fixed here so the oracle can inline
# the same table; a real pipeline feeds its mixture config in.
DOMAIN_RATES_BP = {"src0": 10000, "src1": 8000, "src2": 5000, "src3": 2500}
DOMAIN_DEFAULT_BP = 7500


def domain_weighted_sample(
    documents: DataFrame,
    rates_bp: dict[str, int] | None = None,
    default_bp: int = DOMAIN_DEFAULT_BP,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic domain-mixing sampler: keep each document with a
    per-source rate (web-dump downweighted, curated sources kept) by
    hashing the TEXT into 10,000 buckets and keeping buckets below
    rate·10⁴. Hash-on-text (not id) means the same document keeps the
    same fate across corpus versions and exact duplicates never
    diverge; integer basis points avoid float-boundary drift between
    engines. Pure Catalyst scan — no shuffle, no RNG state."""
    from langchain_memvid_spark.functions.hashing import stable_hash64

    rates = rates_bp if rates_bp is not None else DOMAIN_RATES_BP
    bkt = F.pmod(stable_hash64(F.col(text_col), salt="mix:"), F.lit(10000))
    rate = F.lit(default_bp)
    for src, bp in sorted(rates.items()):
        rate = F.when(F.col("source") == src, F.lit(bp)).otherwise(rate)
    return (
        documents.select("doc_id", "source", bkt.alias("bucket"), rate.alias("rate_bp"))
        .filter(F.col("bucket") < F.col("rate_bp"))
        .select("doc_id", "source", "bucket")
    )


def stratified_sample_exact(
    documents: DataFrame,
    quota: int = 60,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """EXACT per-stratum quotas — "take exactly N docs per domain",
    the complement of domain_weighted_sample's rate-based thinning
    (rates give binomial counts; curation often needs hard caps).

    Selection order inside a stratum is the text hash (then doc_id):
    deterministic across engines and corpus versions, uncorrelated
    with position or length, and duplicate texts sort adjacently so a
    re-shard cannot change which docs win. Per-stratum window top-N
    gets the map-side WindowGroupLimit — the shuffle carries
    ~quota×partitions rows per stratum, not the corpus."""
    from langchain_memvid_spark.functions.hashing import stable_hash64

    w = Window.partitionBy("stratum").orderBy(
        stable_hash64(F.col(text_col), salt="strat:").asc(), F.col("doc_id").asc()
    )
    return (
        documents.select("doc_id", F.col(stratum_col).alias("stratum"), F.col(text_col))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= quota)
        .select("doc_id", "stratum", "rn")
    )


def token_budget_select(
    documents: DataFrame, budget: int = 8000, text_col: str = "text"
) -> DataFrame:
    """Quality-ranked corpus selection under a GLOBAL token budget —
    "take the best documents up to N tokens", the curation step that
    turns a scored corpus into a fixed-size training mixture.

    Priority order is (composite quality score DESC, doc_id ASC); the
    score is the engine-portable 4-decimal composite from
    functions.text.quality_score_cols, so ties are well-defined across
    engines.  A document is kept while the running token total stays
    ≤ ``budget`` (the first document that would cross the budget is
    excluded, as are all after it).

    The running total is a GLOBAL prefix sum over the priority order —
    naively an unpartitioned window (Exchange SinglePartition, fatal at
    100 TB).  Instead it runs as sequence_packing's two-phase pattern
    widened to two aggregates in ONE pass: range-partition on the
    priority key, per-partition window sum AND row_number, then a
    broadcast O(#partitions) offset table carrying both the token and
    row-count offsets.

    Output: (doc_id, n_tokens, quality_score, sel_rank, cum_tokens)
    for selected documents only."""
    from langchain_memvid_spark.core.ids import partition_offsets
    from langchain_memvid_spark.functions.text import quality_score_cols
    from langchain_memvid_spark.operators.scale_windows import _num_range_partitions

    cols = quality_score_cols(F.col(text_col))
    scored = documents.select(
        "doc_id",
        cols["n_tokens"].cast("long").alias("n_tokens"),
        cols["quality_score"].alias("quality_score"),
    )
    key = [F.col("quality_score").desc(), F.col("doc_id").asc()]
    ranged = scored.repartitionByRange(_num_range_partitions(scored), *key)
    pinned, offsets_df, _ = partition_offsets(ranged, {
        "__toff": F.sum("n_tokens").alias("__t"), "__coff": F.count("*").alias("__c")})
    w = Window.partitionBy("__pid").orderBy(*key)
    return (
        pinned.withColumn("__lt", F.sum("n_tokens").over(w))
        .withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(offsets_df), "__pid")
        .withColumn("cum_tokens", (F.col("__toff") + F.col("__lt")).cast("long"))
        .withColumn("sel_rank", (F.col("__coff") + F.col("__lr")).cast("int"))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "quality_score", "sel_rank", "cum_tokens")
    )


def seeded_shuffle(documents: DataFrame, seed: int = 42) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    stable position = its rank under a seeded engine-portable hash of
    doc_id — the "shuffle the corpus before sharding" step of a
    training-data export, reproducible across runs, engines, and
    corpus re-partitions (no RNG state, no Spark-version-dependent
    rand()).

    The global rank runs through scale_windows.global_row_number —
    range partition on the hash key, per-partition row_number,
    broadcast offsets — NOT an unpartitioned window, so the plan has
    no SinglePartition exchange and the sort is the standard
    range-partitioned total sort at any corpus size.

    Output: (pos, doc_id, shuffle_key), pos 1-based."""
    from langchain_memvid_spark.functions.hashing import stable_hash64
    from langchain_memvid_spark.operators.scale_windows import global_row_number

    key = stable_hash64(F.col("doc_id"), salt=f"shuffle{seed}:")
    df = documents.select("doc_id", key.alias("shuffle_key"))
    out, _n = global_row_number(
        df, [F.col("shuffle_key").asc(), F.col("doc_id").asc()], out_col="pos"
    )
    return out.select(F.col("pos").cast("long").alias("pos"), "doc_id", "shuffle_key")


def bigram_logprob_scores(
    documents: DataFrame, text_col: str = "text", n_bigrams: int | None = None
) -> DataFrame:
    """Per-document mean conditional surprisal −avg(ln p(w₂|w₁)) under
    the corpus's own bigram LM — the next signal up from
    unigram_logprob_scores: repeated boilerplate scores LOW (its
    transitions are predictable), incoherent token soup scores HIGH
    even when its unigrams are common.  Like the unigram scorer, the
    corpus scores itself, so every bigram is in-vocabulary and no
    backoff fires — this is a curation signal, not held-out perplexity.

    One pass extracts the bigram stream (pure Catalyst slice+zip, no
    UDF), two aggregations build the LM (bigram counts and w₁ context
    counts), and the scoring joins pick their strategy from an EXACT
    distinct-bigram count (operators/joinopt.py pair_join, as the
    unigram scorer — eager at plan-build unless ``n_bigrams`` is
    passed): at or below the broadcast bound the token stream never
    shuffles.  Documents with fewer than two tokens have no
    bigrams and drop out (same in the SQL oracle)."""
    from langchain_memvid_spark.functions.text import tokens as _tokens

    toks = F.col("__toks")
    bg = (
        documents.select(
            "doc_id", _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks")
        )
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
                    F.expr("slice(__toks, 2, greatest(size(__toks) - 1, 0))").alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("__c2"))
    if n_bigrams is None:
        c2 = c2.localCheckpoint(eager=True)
        n_bigrams = c2.count()
    # context counts DERIVED from the bigram LM: cx(w1) = Σ_w2 c2 (the
    # count of bigrams starting at w1 is the sum of its per-(w1,w2)
    # counts — exact integer identity).  The former direct
    # bg.groupBy("w1") referenced `bg` on a second branch, re-running
    # the whole scan+tokenize+bigram-zip pass (pruning diverges, so
    # ReuseExchange never fires); the checkpointed c2 already holds
    # everything cx needs, so the second corpus pass drops to a tiny
    # aggregation of the LM itself (optimization r14 — the same
    # derive-from-the-materialized-reduction remedy as unigram/q11).
    cx = c2.groupBy("w1").agg(F.sum("__c2").alias("__cx"))
    p = F.col("__c2").cast("double") / F.col("__cx").cast("double")
    # cx has at most as many rows as c2: one count picks both joins
    scored = pair_join(c2, bg, ["w1", "w2"], n_bigrams)
    return (
        pair_join(cx, scored, "w1", n_bigrams)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 4).alias("avg_cond_surprisal"),
        )
    )


def unigram_logprob_scores(
    documents: DataFrame, text_col: str = "text", n_terms: int | None = None
) -> DataFrame:
    """Per-document mean unigram surprisal −avg(ln p(token)) under the
    corpus's own unigram LM — the cheapest 'perplexity-ish' quality
    signal: boilerplate and repeated junk score LOW (predictable),
    rare-token noise scores HIGH; curation keeps the middle band.

    One aggregation builds the LM (token → count), a broadcast-sized
    grand total turns counts into probabilities, and one join scores
    every token occurrence — all JVM-side. The scoring join picks its
    strategy from an EXACT vocabulary count (the distinct-term count
    runs EAGERLY at plan-build time unless ``n_terms`` is passed) with
    operators/joinopt.py pair_join: broadcast at or below its bound —
    the token stream never shuffles, the corpus-sized side stays
    map-side — a hashed or sort-merge equi-join above (web-scale
    vocabularies, never collected)."""
    from langchain_memvid_spark.functions.text import tokens as _tokens

    tok = documents.select(
        "doc_id", F.explode(_tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    if n_terms is None:
        # the strategy pick must materialize the LM anyway — checkpoint
        # it so the count AND the two plan uses below (total + join
        # side) share ONE corpus aggregation instead of recomputing the
        # tokenize+groupBy three times
        counts = counts.localCheckpoint(eager=True)
        n_terms = counts.count()
    total = counts.agg(F.sum("cnt").alias("total"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "term",
        (F.col("cnt").cast("double") / F.col("total").cast("double")).alias("p"),
    )
    return (
        pair_join(probs, tok, "term", n_terms)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log("p")), 4).alias("avg_surprisal"),
        )
    )
