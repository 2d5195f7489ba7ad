"""Deduplication operators for training-data pipelines.

Exact dedup generalizes the reference's ingest-time text dedup
(/root/reference/src/langchain_memvid/index.py:202-218) to corpus
scale; the near-dup family (MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine) is the standard LLM-data stack, built shuffle-aware:

  - shingling/hashing are pure Catalyst expressions (no UDFs),
  - candidate generation joins on shingle/band/bucket keys (equi-joins
    that AQE can re-plan), never all-pairs,
  - only the scoring of *candidates* touches pair space.

All hashes go through stable_hash64 (sha256-prefix), which the DuckDB
oracle reproduces bit-for-bit, so signatures are correctness-checked.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from langchain_memvid_spark.exceptions import ConfigError
from langchain_memvid_spark.functions.text import fingerprint
from langchain_memvid_spark.functions.vector import cosine_sim
from langchain_memvid_spark.operators.joinopt import pair_join
from langchain_memvid_spark.session import local_frame, release

# MinHash permutations h_j = (a*(h XOR m) + b) mod P over 60-bit base
# hashes.  a ≤ 7 keeps a*h < 2^63 (no int64 overflow in numpy OR under
# Spark ANSI mode); P = 2^61-1.  Only 7 distinct multipliers fit that
# bound, so the 8th permutation is decorrelated with a 60-bit XOR mask
# instead (xor is nonlinear over the argmin, and both engines — numpy
# `^` and DuckDB `xor()` — agree bit-for-bit on int64): two perms with
# the same multiplier and mask would share their argmin shingle and add
# no independent signature information.
MINHASH_PERMS: tuple[tuple[int, int, int], ...] = (
    (1, 3, 0),
    (2, 5, 0),
    (3, 7, 0),
    (4, 11, 0),
    (5, 13, 0),
    (6, 17, 0),
    (7, 19, 0),
    (7, 23, 0xFEDCBA987654321),
)
MINHASH_P = (1 << 61) - 1
SIMHASH_BITS = 32

# Random-hyperplane LSH for embedding vectors (sign-of-dot-product,
# Charikar 2002). Weights are small ints from a fixed multiplicative-
# hash formula — pure Python, reproducible, and inlineable as literals
# in the DuckDB oracle SQL. Embeddings are quantized to integers
# (floor(x*1000)) before the dot product so the sign computation is
# exact integer arithmetic in BOTH engines — no float-summation-order
# ambiguity at the sign boundary.
RHP_PLANES = 16
RHP_BAND_BITS = 8  # 2 bands of 8 bits: P(candidate) = 1-(1-s^8)^2
# Auto-sizing target for rhp_band_bits_for: expected band-bucket
# occupancy ≈ N / 2^band_bits — held ~constant so per-bucket pair work
# (≈ occupancy²/2) stays bounded as the corpus grows.
RHP_TARGET_OCCUPANCY = 32


def rhp_band_bits_for(n: int, n_planes: int = RHP_PLANES) -> int:
    """Size-derived band width (VERDICT r7: the documented knob becomes
    the default): band buckets number 2^band_bits, so iid occupancy is
    N/2^band_bits and per-bucket pair work grows QUADRATICALLY in N at
    frozen bits — the default 8-bit bands meant ~150 M candidates at
    200 k vectors (SCALE.md).  Derive the smallest width that keeps
    occupancy ≤ RHP_TARGET_OCCUPANCY, never below the classic default
    (recall: per-band match probability is s^band_bits) and never above
    the signature width.  MUST stay formula-identical to the DuckDB
    oracle's `bb` CTE (registry _rhp_candidate_sql): GREATEST(default,
    LEAST(n_planes, ceil(log2(n / target))))."""
    import math as _math

    derived = _math.ceil(_math.log2(max(1.0, n / RHP_TARGET_OCCUPANCY)))
    return min(n_planes, max(RHP_BAND_BITS, derived))


def check_pigeonhole(max_hamming: int, n_bands: int = 4) -> None:
    """Runtime guard for the banded-candidate COMPLETENESS
    precondition (VERDICT r11 item 2 / ADVICE r11): every hamming-LSH
    operator's zero-false-negative claim rests on the pigeonhole
    ``max_hamming < n_bands`` — max_hamming differing bits can dirty
    at most that many bands, so ≥1 band always agrees on a true pair.
    The constraint used to live only in docstrings; a caller passing
    ``max_hamming=4`` over the default 4 bands got SILENT false
    negatives (candidates never generated, so verify never saw them) —
    and the clip-containment kernels' every-frame inline verify makes
    that near-certain false rejection, not just one lost pair.  Raise
    loudly at plan-construction time instead."""
    if max_hamming >= n_bands:
        raise ConfigError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"over {n_bands} bands (completeness needs max_hamming < "
            f"n_bands): banded candidate generation would silently miss "
            "true pairs — lower max_hamming, or use a wider signature "
            "with more bands"
        )


def hamming_band_table(
    df: DataFrame,
    sig_cols: list[str] | tuple[str, ...],
    *,
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """The ONE banding kernel behind every bit-signature LSH family:
    explode each input row into ``n_bands`` (band, val) rows so
    candidates come from an equi-join on (band, val) — never all-pairs
    — run by :func:`band_join`.  Its callers: simhash_near_pairs, the
    random-hyperplane kernels (embedding_lsh_candidates,
    incremental_embedding_dedup, topk.topk_join_lsh) and every
    image/audio/video kernel through
    multimodal/binary.banded_signature_table.  MinHash buckets band
    through `_minhash_band_table` instead.

    Two signature layouts:
      - ONE sig column (a ≤64-bit signature in a long):
        val = (sig >> band·band_bits) & mask — 4×16 for the media
        hashes, 4×8 for the 32-bit SimHash, 4×4, 2×8 or 1×16 for the
        16-bit random-hyperplane signature.
      - ``n_bands`` sig columns (a WIDE hash packed into several
        longs, e.g. 256-bit dHash as 4 longs): val = sig_cols[band]
        verbatim — 64-bit bands, no slicing.

    Pigeonhole as usual: max_hamming < n_bands ⇒ at least one band
    agrees on every true pair, zero false negatives.  Output carries
    ALL input columns plus (band INT, val LONG); callers rename."""
    if len(sig_cols) == 1:
        mask = (1 << band_bits) - 1
        entries = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig_cols[0], b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    elif len(sig_cols) == n_bands:
        entries = [
            F.struct(F.lit(b).alias("band"), F.col(c).cast("long").alias("val"))
            for b, c in enumerate(sig_cols)
        ]
    else:
        raise ValueError(
            f"sig_cols must be one column or exactly n_bands={n_bands} "
            f"columns, got {len(sig_cols)}"
        )
    # F.inline explodes the struct array straight into (band, val)
    # columns — ONE select instead of explode-then-destructure, halving
    # this kernel's driver-side analysis cost (optimization r14: the
    # streaming gates rebuild this plan every microbatch, and per-op
    # Catalyst analysis was a measured ~0.2 s/microbatch term)
    return df.select(*df.columns, F.inline(F.array(*entries)))


def hamming_distance_col(
    a_cols: list[str] | tuple[str, ...], b_cols: list[str] | tuple[str, ...]
) -> F.Column:
    """Exact hamming distance between two (possibly multi-long wide)
    signatures: Σ bit_count(a XOR b) over the paired columns — the
    verify expression every banded candidate passes through."""
    dist = None
    for a, b in zip(a_cols, b_cols):
        term = F.bit_count(F.col(a).bitwiseXOR(F.col(b)))
        dist = term if dist is None else dist + term
    return dist


def band_join(
    a_bands: DataFrame,
    b_bands: DataFrame,
    a_cols: dict[str, str | F.Column],
    b_cols: dict[str, str | F.Column],
    sig_cols: list[str],
    n_a_rows: int,
    n_b_rows: int | Callable[[], int] | None = None,
    keys: tuple[str, ...] = ("band", "val"),
) -> tuple[DataFrame, F.Column | None]:
    """The banded candidate join every LSH family runs (Manku et al.,
    WWW 2007): two band tables (hamming_band_table,
    `_minhash_band_table` or multimodal/binary.banded_signature_table
    output — a persisted corpus band table passes straight in)
    equi-join on ``keys``; the caller verifies the candidates.  For
    Hamming signatures, pigeonhole at max_hamming < n_bands puts every
    true pair in the join.

    ``a_cols`` / ``b_cols`` map output alias → source column name (or
    a Column expression over the band table); the signature columns
    ``sig_cols`` become ``__a{j}`` / ``__b{j}`` (empty when the caller
    verifies something else, or nothing).  The join is picked from
    EXACT band-row counts by operators/joinopt.py pair_join: broadcast
    the A side (the batch, or either side of a self-join) when it
    fits; else broadcast the B side (the corpus) when ``n_b_rows`` — an
    int, or a callable counted only when this tier is reached — fits;
    else a shuffled hash or sort-merge join.  ``n_b_rows=None`` skips
    the B tier (self-joins, the incremental dedups).

    Returns (joined, exact-Hamming Column over the signature columns,
    None when ``sig_cols`` is empty)."""
    a_sig = [f"__a{j}" for j in range(len(sig_cols))]
    b_sig = [f"__b{j}" for j in range(len(sig_cols))]

    def side(bands: DataFrame, cols: dict, sig: list[str]) -> DataFrame:
        return bands.select(
            *[(F.col(s) if isinstance(s, str) else s).alias(al) for al, s in cols.items()],
            *[F.col(c).alias(al) for c, al in zip(sig_cols, sig)],
            *keys,
        )

    a, b = side(a_bands, a_cols, a_sig), side(b_bands, b_cols, b_sig)
    joined = pair_join(a, b, list(keys), n_a_rows, n_b_rows)
    return joined, hamming_distance_col(a_sig, b_sig)


def _minhash_band_table(sig: DataFrame, rows_per_band: int) -> DataFrame:
    """MinHash's band table: every minhash_signatures row, with all its
    columns, exploded into one (band INT, bucket STRING) row per band of
    ``rows_per_band`` signature values.  The bucket is those values
    joined with "_" (the DuckDB oracle builds the same string), so two
    docs share (band, bucket) exactly when the band's values are all
    equal.  One explode of band structs, so the signature projection is
    computed once per row."""
    n_bands = len(MINHASH_PERMS) // rows_per_band
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sig.select(*sig.columns, F.inline(F.array(*entries)))


def _minhash_est(a_cols: list[str], b_cols: list[str]) -> F.Column:
    """Estimated Jaccard of two MinHash signatures: the fraction of
    equal positions."""
    eq = reduce(
        operator.add,
        [F.when(F.col(a) == F.col(b), 1).otherwise(0) for a, b in zip(a_cols, b_cols)],
    )
    return eq.cast("double") / F.lit(float(len(a_cols)))


def _batch_verdicts(
    scored: DataFrame, score: str, out: str, batch_ids: DataFrame, n_new: int
) -> DataFrame:
    """The batch-vs-corpus verdict of the text and vector incremental
    dedups: ``scored`` holds (new_id, c_id, ``score``) rows that passed
    the threshold; each batch id (``batch_ids``' one column) gets
    is_dup, dup_of = the smallest qualifying corpus id, and ``out`` =
    the best score rounded to 4 places.  min/max absorb duplicate band
    hits without a distinct.  The aggregate has at most one row per
    batch id, so it is joined back with the batch's own count: it
    broadcasts at any batch size the band join broadcast, and the batch
    side never shuffles."""
    id_col = batch_ids.columns[0]
    matches = scored.groupBy("new_id").agg(
        F.min("c_id").alias("dup_of"), F.round(F.max(score), 4).alias(out)
    )
    return pair_join(
        matches, batch_ids, F.col(id_col) == matches["new_id"], n_new, how="left"
    ).select(id_col, F.col("dup_of").isNotNull().alias("is_dup"), "dup_of", out)


def _rhp_weight(h: int, d: int) -> int:
    return ((h * 2654435761 + d * 40503 + 12345) % 19) - 9


def rhp_weights(n_planes: int = RHP_PLANES, dim: int = 64) -> list[list[int]]:
    return [[_rhp_weight(h, d) for d in range(dim)] for h in range(n_planes)]


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text,
    keeping the smallest doc_id (reference keeps first occurrence,
    index.py:211-218). Map-side partial agg → single shuffle."""
    return (
        documents.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


def _shingle_rows(documents: DataFrame, k: int, text_col: str) -> DataFrame:
    """(doc_id, sh, n_sh) — one row per distinct shingle, with the doc's
    set cardinality carried along so Jaccard needs no count-joins later.
    Vectorized Python (mapInPandas): shingle construction through
    Catalyst HOFs runs interpreted (no codegen) and was measurably
    slower.

    The input is widened to the session's core count when it arrives in
    fewer partitions (single parquet file at small SF) — the Python
    stage is the CPU-hot part and must not run serially; at cluster
    scale the input already has more partitions than cores and the
    repartition is a no-op branch."""
    import pandas as pd

    def explode_shingles(batches):
        for pdf in batches:
            ids, shs, ns = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = (text or "").strip().split()
                if len(toks) < k:
                    shingles = {" ".join(toks)}
                else:
                    shingles = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
                n = len(shingles)
                for s in shingles:
                    ids.append(doc_id)
                    shs.append(s)
                    ns.append(n)
            yield pd.DataFrame({"doc_id": ids, "sh": shs, "n_sh": ns})

    narrow = documents.select("doc_id", text_col)
    target = documents.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < target:
        narrow = narrow.repartition(target)
    return narrow.mapInPandas(explode_shingles, "doc_id long, sh string, n_sh int")


def _pair_overlap_counts(sh: DataFrame) -> DataFrame:
    """(a_id, b_id, shared, na, nb) for every candidate doc pair
    sharing ≥1 shingle hash — the one equi-join + pair aggregation
    Jaccard, containment, and the k-NN graph all start from. `sh` is
    the (doc_id, shh, n_sh) shingle-hash table (already df-capped and
    checkpointed by the caller)."""
    a = sh.select(F.col("doc_id").alias("a_id"), "shh", F.col("n_sh").alias("na"))
    b = sh.select(F.col("doc_id").alias("b_id"), "shh", F.col("n_sh").alias("nb"))
    # Join pick (optimization r14): the blanket merge hint — added when
    # the static planner's estimate for the RDD-backed checkpoint
    # nearly broadcast 26 M shingle rows at sf10 — left the always-safe
    # SMJ paying two corpus sorts at every scale.  `sh` is checkpointed
    # by construction, so an EXACT count is one cheap narrow job, and
    # the joinopt.pair_join pick (shuffled-hash / merge; broadcast
    # measured slower for these wide rows) keeps the OOM protection
    # while dropping the sorts whenever the build side's per-partition
    # slice is bounded.
    return (
        pair_join(a, b, "shh", sh.count(), allow_broadcast=False)
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    k: int = 3,
    top_n: int = 20,
    text_col: str = "text",
    max_df: int | None = 100_000,
) -> DataFrame:
    """Top-N doc pairs by Jaccard CONTAINMENT — shared / min(|A|, |B|),
    the asymmetric overlap that finds a small doc quoted inside a big
    one, which plain Jaccard dilutes (a 50-shingle doc fully inside a
    5000-shingle doc scores 0.01 Jaccard but 1.0 containment). Same
    banded candidate machinery as ngram_jaccard_pairs: disjoint docs
    never enter pair space."""
    sh = _shingle_hash_table(documents, k, text_col, max_df)
    # rounded before ranking — same engine-reproducible tie discipline
    # as ngram_jaccard_pairs / knn_graph
    pairs = _pair_overlap_counts(sh).withColumn(
        "containment",
        F.round(
            F.col("shared").cast("double") / F.least("na", "nb").cast("double"), 6
        ),
    )
    return (
        pairs.orderBy(
            F.col("containment").desc(), F.col("a_id").asc(), F.col("b_id").asc()
        )
        .limit(top_n)
        .select("a_id", "b_id", "shared", "na", "nb", "containment")
    )


def knn_graph(
    documents: DataFrame,
    k: int = 3,
    neighbors: int = 3,
    text_col: str = "text",
    max_df: int | None = 100_000,
) -> DataFrame:
    """Per-document top-`neighbors` nearest neighbors by shingle
    Jaccard — the k-NN graph clustering/dedup pipelines consume.
    Candidate pairs symmetrize into (doc, nbr) edges; a per-doc window
    ranks on the ROUNDED score with nbr tiebreak (engine-reproducible)
    and keeps `neighbors` — map-side WindowGroupLimit before the
    per-doc exchange, so the shuffle carries ~neighbors×partitions
    rows per doc, not every candidate edge."""
    sh = _shingle_hash_table(documents, k, text_col, max_df)
    pairs = _pair_overlap_counts(sh).withColumn(
        "jaccard",
        F.round(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
            6,
        ),
    )
    # symmetrize with ONE explode instead of a two-branch union: the
    # union referenced `pairs` on both branches, so the candidate join
    # + (a,b) pair aggregation subtree was evaluated twice per run
    # (r14 plan audit: 2 ShuffledHashJoin + 6 Exchange for one logical
    # pair pass); explode emits both edge directions from a single
    # evaluation — same row multiset, half the pair-side work
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("doc_id"),
                    F.col("b_id").alias("nbr_id"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("b_id").alias("doc_id"),
                    F.col("a_id").alias("nbr_id"),
                    F.col("jaccard"),
                ),
            )
        ).alias("__e")
    ).select("__e.doc_id", "__e.nbr_id", "__e.jaccard")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("nbr_id").asc()
    )
    return (
        edges.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= neighbors)
        .select("doc_id", "nbr_id", "jaccard", "rank")
    )


def _shingle_hash_table(
    documents: DataFrame, k: int, text_col: str, max_df: int | None
) -> DataFrame:
    """(doc_id, shh, n_sh) — hashed shingles with the df-cap skew guard,
    shared by every pair-family operator."""
    sh = (
        _shingle_rows(documents, k, text_col)
        .withColumn("shh", F.xxhash64("sh"))
        .drop("sh")
        .localCheckpoint()
    )
    if max_df is not None and documents.count() > max_df:
        hot = (
            sh.groupBy("shh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shh")
        )
        hot_keys = [r["shh"] for r in hot.limit(10_001).collect()]
        if len(hot_keys) > 10_000:
            sh = sh.join(hot, "shh", "left_anti")
        elif hot_keys:
            sh = sh.filter(~F.col("shh").isin(hot_keys))
    return sh


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    top_n: int = 20,
    text_col: str = "text",
    max_df: int | None = 100_000,
) -> DataFrame:
    """Top-N most similar doc pairs by exact Jaccard over k-word
    shingle sets.

    Candidates come from an equi-join on shingle (docs sharing ≥1
    shingle), so disjoint docs never enter pair space; set sizes ride on
    the shingle rows, so the only shuffles are the candidate join and
    the (a,b) pair aggregation.

    Hot shingles (stopword runs) are the skew risk at corpus scale: a
    shingle appearing in d documents contributes d² candidate rows, so
    one stopword run shared by a million docs is a 10¹²-row bucket.
    ``max_df`` caps shingle document frequency: one map-side-combinable
    groupBy at shingle grain finds the heavy hitters (few by Zipf —
    df > max_df bounds the list at corpus_shingles/max_df entries),
    which are collected and dropped with a plain literal filter — no
    join, no broadcast barrier in front of the candidate join. If the
    list is ever pathologically large (>10k keys) it falls back to a
    broadcast anti-join instead of bloating the plan. A shingle's df is
    bounded by the corpus document count, so when count(documents) ≤
    max_df the pass provably cannot bind and is skipped — one cheap
    narrow count instead of a groupBy over every shingle row (reclaims
    the r2 bench regression at test SFs while keeping the cap armed at
    corpus scale). The shingle scan
    is cached so signatures are computed ONCE (the Python scan is the
    CPU-hot stage; without the cache the self-join's two branches each
    re-run it). Jaccard denominators (na/nb) keep the FULL set sizes,
    so scores of surviving pairs are exact unless a pair shares a
    dropped hot shingle (then slightly underestimated) — the standard
    trade: pairs similar only through ultra-common shingles are not
    near-dups. The default (100k) never binds at test SFs
    (hash-identical to the uncapped oracle) while bounding any bucket
    at corpus scale; ``max_df=None`` skips the frequency pass.

    The join key is xxhash64(shingle) (JVM-side, codegen) rather than
    the shingle string: an 8-byte shuffle key instead of a 20-40 byte
    one, and long comparisons in the sort/join. Collision odds over a
    63-bit space are negligible against corpus shingle cardinality."""
    sh = _shingle_hash_table(documents, k, text_col, max_df)
    # rank on the ROUNDED score (matching the oracle's ORDER BY on the
    # rounded output alias): two pairs within 5e-7 round equal and the
    # id tiebreak then decides identically in both engines
    jac = _pair_overlap_counts(sh).withColumn(
        "jaccard",
        F.round(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
            6,
        ),
    )
    return (
        jac.orderBy(F.col("jaccard").desc(), F.col("a_id").asc(), F.col("b_id").asc())
        .limit(top_n)
        .select("a_id", "b_id", "shared", "na", "nb", "jaccard")
    )


def _edp_gram_candidates(s: DataFrame, max_d: int, q: int, min_len: int) -> DataFrame:
    """q-gram candidate pairs for edit_distance_pairs (a_id < b_id).

    Positional q-grams + the count filter (Gravano et al. 2001): a true
    pair shares >= (min_len-q+1) - q*max_d position-aligned grams, so
    requiring that many matches is still zero-FN (the global min-length
    bound under-states every pair's own guarantee) and far more
    selective than sharing >= 1 gram.  groupBy-count has the same
    shuffle shape a naive distinct would (map-side partial agg over
    pair keys); only the HAVING threshold differs."""
    grams = s.select(
        "sid",
        "slen",
        F.posexplode(
            F.expr(f"transform(sequence(1, char_length(s) - {q} + 1), i -> substring(s, i, {q}))")
        ).alias("pos", "gram"),
    )
    a = grams.select(
        F.col("sid").alias("a_id"), F.col("slen").alias("a_len"),
        F.col("pos").alias("a_pos"), "gram",
    )
    b = grams.select(
        F.col("sid").alias("b_id"), F.col("slen").alias("b_len"),
        F.col("pos").alias("b_pos"), "gram",
    )
    t_min = max(1, (min_len - q + 1) - q * max_d)
    return (
        a.hint("merge")
        .join(b, "gram")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_len") - F.col("b_len")) <= max_d)
            & (F.abs(F.col("a_pos") - F.col("b_pos")) <= max_d)
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("__shared"))
        .filter(F.col("__shared") >= t_min)
        .select("a_id", "b_id")
    )


def _edp_segment_candidates(s: DataFrame, max_d: int) -> DataFrame:
    """PassJoin segment candidates for edit_distance_pairs (Li, Deng &
    Feng 2011), a_id < b_id.

    Pigeonhole: split a string into d+1 contiguous segments; d edits
    can touch at most d of them, so for ed(a,b) <= d at least one
    segment of `a` occurs in `b` VERBATIM, shifted by at most d.  The
    blocking key is therefore (segment index, partner length, exact
    segment text) — segments are ~L/(d+1) chars, so buckets are keyed
    by long exact substrings instead of short shared grams: on
    low-entropy keys this is orders of magnitude more selective (the
    sf1 measurement that forced this default: 3-gram buckets degraded
    toward quadratic because correlated text shares most short grams).

    Every string emits d+1 INDEX keys (its own even-partition segments)
    and, for each partner length within +-d of its own, the candidate
    substrings at each segment position within +-d shift — a bounded
    (d+1)·(2d+1)^2 PROBE keys per string, all generated in one Catalyst
    projection (no Python).  The equi-join of index vs probe keys is
    merge-hinted (both corpus-sized)."""
    dd = max_d + 1

    def seg_len(ic, L):
        base = F.floor(L / dd).cast("int")
        rem = (L % dd).cast("int")
        return base + F.when(ic >= (F.lit(dd) - rem), 1).otherwise(0)

    def seg_start(ic, L):  # 0-based
        base = F.floor(L / dd).cast("int")
        rem = (L % dd).cast("int")
        return (ic * base + F.greatest(F.lit(0), ic - (F.lit(dd) - rem))).cast("int")

    # enumerate the bounded (partner-length delta, segment, shift)
    # space ONCE as a literal array and explode it, so the per-row
    # expression tree stays small (the inline-unrolled formulation
    # compiled a ~2000-node projection whose codegen dominated driver-SF
    # runtime).  Tight shift window: a shift of σ needs ≥|σ| indels
    # BEFORE the segment and ≥|Δ−σ| after (Δ = −delta), sharing the d
    # budget — PassJoin's length-aware pruning (Lemma 1).
    combos = [
        (delta, i, shift)
        for delta in range(-max_d, max_d + 1)
        for i in range(dd)
        for shift in range(-max_d, max_d + 1)
        if abs(shift) + abs(shift + delta) <= max_d
    ]
    combo_arr = F.array(
        *[
            F.struct(
                F.lit(delta).alias("delta"), F.lit(i).alias("i"), F.lit(shift).alias("shift")
            )
            for delta, i, shift in combos
        ]
    )
    L = F.col("slen")
    ic = F.col("c.i")
    idx = (
        s.select(
            F.col("sid").alias("a_id"),
            "s",
            "slen",
            F.explode(F.array(*[F.lit(i) for i in range(dd)])).alias("i"),
        )
        .select(
            "a_id",
            F.col("i").alias("segi"),
            L.cast("int").alias("plen"),
            F.col("s").substr(seg_start(F.col("i"), L) + 1, seg_len(F.col("i"), L)).alias("segtxt"),
        )
    )
    L2 = (L + F.col("c.delta")).cast("int")
    st0 = seg_start(ic, L2)
    ln0 = seg_len(ic, L2)
    p0 = st0 + F.col("c.shift")
    prb = (
        s.select(F.col("sid").alias("b_id"), "s", "slen", F.explode(combo_arr).alias("c"))
        .filter((L2 >= dd) & (p0 >= 0) & ((p0 + ln0) <= L) & (ln0 >= 1))
        .select(
            "b_id",
            ic.alias("segi"),
            L2.alias("plen"),
            F.col("s").substr(p0 + 1, ln0).alias("segtxt"),
        )
    )
    # index side carries a's OWN length as plen; probe side enumerated
    # partner lengths — the equi-join pins b's assumption to a's truth
    return (
        idx.hint("merge")
        .join(prb, ["segi", "plen", "segtxt"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    str_col: str = "name",
    max_d: int = 2,
    q: int = 2,
    min_len: int | None = None,
    blocking: str = "segments",
) -> DataFrame:
    """String-similarity join: pairs with Levenshtein distance ≤
    ``max_d`` — typo-grade fuzzy dedup (product names, titles, author
    strings), the string-edit counterpart of the MinHash/SimHash gates.

    Two zero-false-negative blocking schemes gate the exact
    levenshtein() verify (never all-pairs):

    - ``blocking="segments"`` (default): PassJoin pigeonhole — d+1
      even segments per string; a true pair must contain one of the
      partner's segments verbatim within shift d, so the blocking key
      is a ~L/(d+1)-char EXACT substring.  The scalable scheme: long
      keys keep buckets tiny even on low-entropy text (measured: the
      gram scheme degraded toward quadratic on this repo's correlated
      synthetic titles; segments collapse the candidate space).
    - ``blocking="grams"``: positional q-grams + the q-gram count
      filter (a true pair shares ≥ (min_len−q+1) − q·d aligned grams).
      Requires min_len − q + 1 > q·max_d — RAISES otherwise, rather
      than silently missing pairs.  Simpler; fine on high-entropy keys.

    Output: (a_id, b_id, a_str, b_str, edit_distance), a_id < b_id.
    """
    # ONE pass over the source text (optimization r14): `s` is the
    # post-reduction key projection — (id, key string, length), ~a few
    # dozen bytes/row regardless of document size — but it was
    # referenced FIVE times (the min-length probe, both sides of the
    # candidate self-join, and the two verify join-backs), and the key
    # is an expression over the full text column, so every reference
    # re-read and re-transformed the corpus text (expression pushdown
    # cannot skip the text bytes).  localCheckpoint materializes the
    # tiny key table once; every consumer — including the min-length
    # probe, which is the same value since slen == length(str_col) —
    # reads the checkpoint.  The q11/unigram materialize-the-reduction
    # remedy; at 100 TB this drops four full text-column passes.
    s = df.select(
        F.col(id_col).alias("sid"),
        F.col(str_col).alias("s"),
        F.length(F.col(str_col)).alias("slen"),
    ).localCheckpoint()
    if min_len is None:
        row = s.select(F.min("slen")).head()
        min_len = row[0] if row and row[0] is not None else 0
    if blocking == "segments":
        if min_len < max_d + 1:
            raise ValueError(
                f"edit_distance_pairs: segment blocking needs min_len >= "
                f"max_d+1 ({max_d + 1}); shortest string has {min_len} chars."
            )
        cand = _edp_segment_candidates(s, max_d)
    elif blocking == "grams":
        if min_len - q + 1 <= q * max_d:
            raise ValueError(
                f"edit_distance_pairs: zero-false-negative bound violated — "
                f"shortest string ({min_len} chars) has {max(min_len - q + 1, 0)} "
                f"{q}-grams but {max_d} edits can destroy up to {q * max_d}. "
                f"Lower q or max_d (need min_len - q + 1 > q*max_d)."
            )
        cand = _edp_gram_candidates(s, max_d, q, min_len)
    else:
        raise ValueError(f"unknown blocking {blocking!r}: use 'segments' or 'grams'")
    sa = s.select(F.col("sid").alias("a_id"), F.col("s").alias("a_str"))
    sb = s.select(F.col("sid").alias("b_id"), F.col("s").alias("b_str"))
    dist = F.levenshtein(F.col("a_str"), F.col("b_str"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("edit_distance", dist.cast("int"))
        .filter(F.col("edit_distance") <= max_d)
        .select("a_id", "b_id", "a_str", "b_str", "edit_distance")
    )


def minhash_signatures(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """MinHash signatures (doc_id, mh0..mh7): min over shingles of each
    permuted 60-bit shingle hash.

    Computed per-row in ONE Arrow-batched mapInPandas pass — no explode,
    no groupBy, no shuffle: a 100 TB corpus signs itself in a single
    embarrassingly-parallel scan stage. (Catalyst HOFs were tried first
    but higher-order functions run interpreted — no codegen, no
    common-subexpression elimination — so the 8 signature columns
    recomputed every shingle hash 8×; the vectorized Python path is
    ~5× faster and byte-identical since the hash is sha256 either way.)

    min over a multiset ignores duplicates, so no distinct step needed.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    perms = MINHASH_PERMS
    p = MINHASH_P
    hex_chars = 15  # keep in sync with functions/hashing.py HASH_HEX_CHARS

    def sign(batches):
        a_arr = np.array([a for a, _, _ in perms], dtype=np.int64)
        b_arr = np.array([b for _, b, _ in perms], dtype=np.int64)
        m_arr = np.array([m for _, _, m in perms], dtype=np.int64)
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"]}
            sigs = np.empty((len(pdf), len(perms)), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                toks = (text or "").strip().split()
                if len(toks) < k:
                    shingles = {" ".join(toks)}
                else:
                    shingles = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
                hs = np.fromiter(
                    (
                        int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:hex_chars], 16)
                        for s in shingles
                    ),
                    dtype=np.int64,
                    count=len(shingles),
                )
                sigs[i] = (
                    (a_arr[:, None] * (hs[None, :] ^ m_arr[:, None]) + b_arr[:, None]) % p
                ).min(axis=1)
            for j in range(len(perms)):
                out[f"mh{j}"] = sigs[:, j]
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(f"mh{j} long" for j in range(len(perms)))
    return documents.select("doc_id", text_col).mapInPandas(sign, schema)


def minhash_band_pairs(
    documents: DataFrame,
    k: int = 3,
    rows_per_band: int = 2,
    text_col: str = "text",
    sig: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature (bands of `rows_per_band`
    values), bucket docs by (band_id, band values), join within buckets.
    The join key is the band hash — the classic shingle→minhash→band→
    bucket-join pipeline, one equi-join shuffle. Pass a precomputed
    ``sig`` (minhash_signatures output) to reuse one signing scan
    across candidate generation and scoring.

    When ``sig`` is given, ``documents``/``k``/``text_col`` are
    IGNORED — the signature table already fixes the shingle width and
    text column it was signed with, so pass the same sig everywhere
    (a sig built with a different k/text_col would silently yield that
    other configuration's candidate pairs)."""
    given_sig = sig is not None
    if sig is None:
        sig = minhash_signatures(documents, k, text_col)
    # cache: both self-join sides reference the bucket table, so
    # without it the mapInPandas minhash signer evaluates twice per
    # run (optimization r14 — the ADVICE r13 double-signing shape);
    # lazy cache, zero extra jobs.  Only the join columns are cached:
    # nothing verifies the signature after this join.
    bucketed = (
        _minhash_band_table(sig, rows_per_band).select("doc_id", "band", "bucket").cache()
    )
    # band_join's pair_join pick from an EXACT count (the planner's stats
    # for the RDD-backed mapInPandas product are unreliable — the sf10
    # broadcast-OOM hazard): band rows = n_docs × n_bands.  The count
    # is EAGER at plan-build time — pass n_docs to skip it when the
    # input's lineage is expensive to count.  When ``sig`` was given,
    # documents is ignored by contract — count the signature table
    # (callers checkpoint it, so the count is a cheap narrow job).
    if n_docs is None:
        n_docs = (sig if given_sig else documents).count()
    joined, _ = band_join(
        bucketed, bucketed, {"a_id": "doc_id"}, {"b_id": "doc_id"}, [],
        n_docs * (len(MINHASH_PERMS) // rows_per_band), keys=("band", "bucket"),
    )
    return (
        joined.filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates()
    )


def incremental_near_dup(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    *,
    corpus_sig: DataFrame | None = None,
    k: int = 3,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    n_new: int | None = None,
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production
    shape (every ingest batch vs 100 TB of already-kept documents),
    where a corpus×corpus self-join would redo quadratic work for a
    linear question.

    Returns one row per new doc: (doc_id, is_dup, dup_of, jaccard_max)
    — dup_of is the smallest corpus doc whose estimated Jaccard ≥
    threshold, NULL when the doc is novel; callers ingest
    ``filter(~is_dup)``.

    The 100 TB plan: both band tables (`_minhash_band_table`) CARRY
    their signature columns, so with the batch broadcastable
    (:func:`band_join` over exact band rows) the band join AND the
    scoring are map-side against the broadcast batch — the corpus is
    ONE embarrassingly-parallel scan with ZERO shuffle; the only
    exchange is the final groupBy over the batch's own doc ids.
    Duplicate band hits need no distinct: min/max aggregation is
    idempotent per pair. Pass ``corpus_sig`` (persisted
    minhash_signatures output, signed once at ingest) to skip
    re-signing the corpus text every batch — signatures are 8 longs
    per doc, ~0.8 % of a 8 KB document corpus. A passed ``corpus_sig``
    must have been signed with the SAME ``k``/``text_col`` the batch
    signs with here (the signature table fixes its shingle width —
    same caveat as minhash_band_pairs' ``sig``); a mismatch silently
    yields that other configuration's near-dup verdicts. Oversized
    batches fall back to a shuffled-hash or sort-merge band join.

    Like simhash_near_pairs, the strategy count is EAGER at
    plan-build time (a count of the BATCH, not the corpus — cheap by
    construction); pass ``n_new`` when composing plans without
    executing them or when the batch frame has heavy lineage."""
    if (corpus is None) == (corpus_sig is None):
        raise ValueError("pass exactly one of corpus / corpus_sig")
    if corpus_sig is None:
        corpus_sig = minhash_signatures(corpus, k, text_col)
    # new_sig: precomputed batch signatures (minhash_signatures output,
    # already materialized) — callers that also PERSIST the batch's
    # signatures (e.g. the store ingest gate) sign once and share
    sig_new = (
        new_sig
        if new_sig is not None
        else minhash_signatures(new_docs, k, text_col).localCheckpoint()
    )
    if n_new is None:
        n_new = new_docs.count()
    mh = [f"mh{j}" for j in range(len(MINHASH_PERMS))]
    joined, _ = band_join(
        _minhash_band_table(sig_new, rows_per_band),
        _minhash_band_table(corpus_sig, rows_per_band),
        {"new_id": "doc_id"}, {"c_id": "doc_id"}, mh,
        n_new * (len(MINHASH_PERMS) // rows_per_band), keys=("band", "bucket"),
    )
    # NOTE: no id-equality guard — batch and corpus ids are SEPARATE
    # namespaces (a store batch's positions start at 0 just like corpus
    # doc ids); filtering c_id != new_id here silently exempted the
    # colliding ids from the gate (caught by the store round-trip test)
    est = _minhash_est([f"__a{j}" for j in range(len(mh))], [f"__b{j}" for j in range(len(mh))])
    scored = joined.select("new_id", "c_id", est.alias("est")).filter(F.col("est") >= threshold)
    return _batch_verdicts(scored, "est", "jaccard_max", new_docs.select("doc_id"), n_new)


def simhash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """SIMHASH_BITS-bit SimHash over distinct word-token hashes: bit b
    is set when the sum of ±1 votes from each token's bit b is positive.

    One vectorized mapInPandas pass — NO explode/groupBy/shuffle; a
    100 TB corpus signs itself in an embarrassingly-parallel scan.
    (The original Catalyst-HOF formulation ran SIMHASH_BITS interpreted
    filter() passes over every row's token array — higher-order
    functions get no codegen — and was ~10× slower at 32 bits. The
    Python path is byte-identical: same sha256-prefix token hash
    (functions/hashing.py stable_hash64), same whitespace tokens, and
    re.split matches Spark's split(trim(x),'\\s+') on the empty-string
    edge where str.split() would differ.)"""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    bits = SIMHASH_BITS
    hex_chars = 15  # keep in sync with functions/hashing.py HASH_HEX_CHARS

    def sign(batches):
        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                toks = set(re.split(r"\s+", (text or "").strip()))
                hs = np.fromiter(
                    (
                        int(hashlib.sha256(t.encode("utf-8")).hexdigest()[:hex_chars], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                votes = 2 * ((hs[:, None] >> shifts) & 1).sum(axis=0) - len(hs)
                out[i] = int(((votes > 0).astype(np.int64) << shifts).sum())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    narrow = documents.select("doc_id", text_col)
    # widen toy single-file inputs to the core count (the Python stage
    # must not run serially); streaming DFs can't be probed via .rdd —
    # their microbatch partitioning is the source's concern
    if not documents.isStreaming:
        target = documents.sparkSession.sparkContext.defaultParallelism
        if narrow.rdd.getNumPartitions() < target:
            narrow = narrow.repartition(target)
    return narrow.mapInPandas(sign, "doc_id long, simhash long")


def _rhp_sig_table(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    carry_vec: bool = False,
) -> DataFrame:
    """(vid, sig[, vec]) random-hyperplane signatures — ONE vectorized
    mapInPandas scan, all dot products in a single int64 GEMM per Arrow
    batch; integer quantization floor(x*1000) keeps the sign exact in
    both engines (shared by embedding_lsh_candidates and
    incremental_embedding_dedup so batch and corpus cannot diverge).
    ``carry_vec`` keeps the float vector on the row so downstream
    map-side scoring needs no join back to the source."""
    import numpy as np
    import pandas as pd

    wt = np.array(rhp_weights(n_planes, dim), dtype=np.int64).T  # (dim, n_planes)
    shifts = np.arange(n_planes, dtype=np.int64)

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.floor(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]) * 1000.0
            ).astype(np.int64)
            bits = (m @ wt >= 0).astype(np.int64)
            out = {"vid": pdf[id_col], "sig": (bits << shifts).sum(axis=1)}
            if carry_vec:
                out["vec"] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = "vid long, sig long" + (", vec array<float>" if carry_vec else "")
    return embeddings.select(id_col, vec_col).mapInPandas(sign, schema)


def embedding_lsh_candidates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = RHP_PLANES,
    band_bits: int | None = None,
    dim: int = 64,
    n: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via random-hyperplane LSH — the scale
    gate in front of the exact cosine scorer.

    Each vector gets an ``n_planes``-bit signature (bit h = sign of the
    integer dot product with deterministic hyperplane h); the signature
    splits into bands and candidates are distinct pairs agreeing on ≥1
    band — an equi-join on (band, value), never all-pairs.

    Signing is ONE vectorized mapInPandas scan: all dot products in a
    single int64 GEMM per Arrow batch (a Catalyst-HOF formulation was
    tried first, but higher-order functions run interpreted — no
    codegen — and the numpy path measured 1.7× faster end-to-end at
    100k vectors; same lesson as the minhash/simhash signers). Integer
    quantization (floor(x*1000)) keeps the sign computation exact in
    both engines, so the DuckDB oracle reproduces signatures
    bit-for-bit. Band split and the candidate self-equi-join stay
    JVM-side and shuffle only small int keys. Bucket sizes concentrate
    at N/2^band_bits per band value.

    ``band_bits=None`` (the default) derives the width from the corpus
    count via rhp_band_bits_for — one exact count (pass ``n`` to skip
    it), constant target occupancy, so a 100 TB caller gets the
    bounded-bucket plan without reading SCALE.md (VERDICT r7 item 3);
    at ≤ ~8 k vectors the rule reproduces the classic 2×8-bit split.
    Pass band_bits explicitly to pin the band structure.

    Output: (a_id, b_id) with a_id < b_id, distinct.
    """
    if band_bits is None:
        if n is None:
            n = embeddings.count()
        band_bits = rhp_band_bits_for(n, n_planes)
    n_bands = n_planes // band_bits
    sig_df = _rhp_sig_table(embeddings, id_col, vec_col, n_planes, dim)
    # cache: both self-join sides reference the band table — without it
    # the mapInPandas GEMM signer evaluates twice per run (optimization
    # r14, the ADVICE r13 double-signing shape); lazy cache, zero extra
    # jobs.  Join pick: band_join's pair_join from the exact count (band
    # rows = n × n_bands) instead of the blanket always-safe merge — the
    # count is EAGER at plan-build when band_bits didn't already pay it.
    bands = hamming_band_table(sig_df, ["sig"], n_bands=n_bands, band_bits=band_bits).cache()
    if n is None:
        n = embeddings.count()
    joined, _ = band_join(bands, bands, {"a_id": "vid"}, {"b_id": "vid"}, [], n * n_bands)
    return (
        joined.filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    *,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = RHP_PLANES,
    band_bits: int = RHP_BAND_BITS,
    dim: int = 64,
    n_new: int | None = None,
) -> DataFrame:
    """Semantic near-dup of a NEW embedding batch against an EXISTING
    corpus: random-hyperplane signatures band through
    hamming_band_table, :func:`band_join` gates candidates, exact
    cosine scores them, and `_batch_verdicts` (shared with
    incremental_near_dup) gives each batch vector its verdict.  Both
    band tables carry their vectors, so with the batch broadcast the
    band join and the scoring run map-side: the corpus is ONE scan
    with zero corpus-side shuffle, and the only exchange is the
    batch-sized groupBy. Oversized batches fall back to a
    shuffled-hash or sort-merge band join under the same exact-count
    pick (the count is EAGER at plan-build; pass ``n_new`` to skip
    it).

    Returns one row per new vector: (vec_id, is_dup, dup_of, cos_max)
    — dup_of = smallest corpus id with cosine ≥ threshold."""
    n_bands = n_planes // band_bits

    def bands(vecs: DataFrame, checkpoint: bool) -> DataFrame:
        sig = _rhp_sig_table(vecs, id_col, vec_col, n_planes, dim, carry_vec=True)
        sig = sig.localCheckpoint() if checkpoint else sig
        return hamming_band_table(sig, ["sig"], n_bands=n_bands, band_bits=band_bits)

    if n_new is None:
        n_new = new_vecs.count()
    # no id-equality guard: batch and corpus ids are separate namespaces
    # (see incremental_near_dup)
    joined, _ = band_join(
        bands(new_vecs, True), bands(corpus_vecs, False),
        {"new_id": "vid", "new_vec": "vec"}, {"c_id": "vid", "c_vec": "vec"}, [],
        n_new * n_bands,
    )
    sim = cosine_sim(F.col("c_vec"), F.col("new_vec"))
    scored = joined.select("new_id", "c_id", sim.alias("cos")).filter(F.col("cos") >= threshold)
    return _batch_verdicts(
        scored, "cos", "cos_max", new_vecs.select(F.col(id_col).alias("vec_id")), n_new
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
    candidates: DataFrame | None = None,
    exact: bool = False,
    exact_row_limit: int = 100_000,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    Three modes, safest first:

    - ``candidates`` given (columns a_id/b_id, e.g. from
      :func:`embedding_lsh_candidates` or IVF cluster co-membership):
      score ONLY those pairs — two joins against the vectors plus a
      JVM-side cosine. Linear in the candidate count; the 100 TB path.
    - neither ``candidates`` nor ``exact``: exact all-pairs is allowed
      only below ``exact_row_limit`` rows; above it this RAISES rather
      than silently launching an O(N²) job.
    - ``exact=True``: unconditional exact all-pairs block GEMM.

    The exact kernel: row-at-a-time pair scoring (crossJoin + per-pair
    HOF dot product) evaluates O(N²·dim) Catalyst expressions — ~40×
    slower than BLAS. Instead: range-block the ids (block i holds ids
    [i·B, (i+1)·B)), build one row per block with its id/vector arrays,
    join blocks with blk_a ≤ blk_b (the id ranges make a_id < b_id
    automatic across blocks), and score each block pair with one
    float64 GEMM inside mapInPandas. Work is N²/B² independent
    block-pair tasks — embarrassingly parallel, each BLAS-bound.
    """
    import numpy as np
    import pandas as pd

    if candidates is not None:
        av = embeddings.select(
            F.col(id_col).alias("a_id"), F.col(vec_col).alias("__av")
        )
        bv = embeddings.select(
            F.col(id_col).alias("b_id"), F.col(vec_col).alias("__bv")
        )
        sim = cosine_sim(F.col("__av"), F.col("__bv"))
        return (
            candidates.select("a_id", "b_id")
            .join(av, "a_id")
            .join(bv, "b_id")
            .withColumn("cos_sim", F.round(sim, 4))
            .filter(sim >= threshold)
            .select("a_id", "b_id", "cos_sim")
        )
    if not exact:
        n = embeddings.count()
        if n > exact_row_limit:
            raise ValueError(
                f"embedding_cosine_pairs: {n} rows exceeds exact_row_limit="
                f"{exact_row_limit} for exact all-pairs scoring. Pass "
                "candidates= (e.g. embedding_lsh_candidates) to prune pair "
                "space, or exact=True to force the O(N^2) block GEMM."
            )

    blocks = (
        embeddings.select(
            (F.col(id_col) / F.lit(block_size)).cast("int").alias("blk"),
            F.struct(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            ).alias("item"),
        )
        .groupBy("blk")
        .agg(F.collect_list("item").alias("items"))
    )
    a = blocks.select(F.col("blk").alias("ablk"), F.col("items").alias("aitems"))
    b = blocks.select(F.col("blk").alias("bblk"), F.col("items").alias("bitems"))
    pairs = a.join(b, F.col("ablk") <= F.col("bblk")).repartition("ablk", "bblk")

    def score(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ai = np.fromiter((it["id"] for it in row["aitems"]), dtype=np.int64)
                av = np.array([it["v"] for it in row["aitems"]], dtype=np.float64)
                bi = np.fromiter((it["id"] for it in row["bitems"]), dtype=np.int64)
                bv = np.array([it["v"] for it in row["bitems"]], dtype=np.float64)
                an = av / np.linalg.norm(av, axis=1, keepdims=True)
                bn = bv / np.linalg.norm(bv, axis=1, keepdims=True)
                sims = an @ bn.T
                ii, jj = np.where(sims >= threshold)
                keep = ai[ii] < bi[jj]
                ii, jj = ii[keep], jj[keep]
                yield pd.DataFrame(
                    {
                        "a_id": ai[ii],
                        "b_id": bi[jj],
                        "cos_sim": np.round(sims[ii, jj], 4),
                    }
                )

    return pairs.mapInPandas(score, "a_id long, b_id long, cos_sim double")


SEMANTIC_TARGET_CLUSTER = 125  # nlist=None sizes nlist ≈ N/125 (floor 16)


def semantic_cluster_candidates(
    embeddings: DataFrame,
    nlist: int | None = None,
    probes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """SemDeDup-style candidate generation (Abbas et al. 2023,
    arXiv:2303.09540): KMeans-cluster the corpus, then candidate pairs
    are vectors sharing a cluster — pair space collapses from O(N²) to
    per-cluster blocks without ever materializing all pairs (the
    candidate join is an EQUI-join on cluster_id).

    ``probes`` assigns each vector its top-p nearest clusters
    (core/ivf.py top_clusters_col) instead of just the argmax: a
    near-dup pair straddling a cluster boundary still co-lands in some
    shared cluster.  On this repo's near-iid synthetic embeddings at a
    weak τ=0.4, p=1 covers only ~0.4–0.6 of the exact pair set while
    nlist=16/p=3 measures 0.88–0.93 (real near-dup corpora at τ≥0.9
    co-cluster far more tightly and p=1 is the standard setting).

    100 TB sizing: expected candidates ≈ N²·p²/nlist for balanced
    clusters — ``nlist=None`` (the default) applies the measured
    nlist ∝ N rule (core/ivf.py nlist_for_corpus: clusters stay
    ~{SEMANTIC_TARGET_CLUSTER} vectors, 7.7× wall at 10× data,
    SCALE.md), via one exact count (pass ``n`` to skip it); below
    ~2 k vectors the rule reproduces the classic nlist=16.  Training
    cost is bounded by train_centroids' deterministic sample cap,
    never a full-corpus iteration."""
    from langchain_memvid_spark.core.ivf import (
        nlist_for_corpus,
        top_clusters_col,
        train_centroids,
    )

    if n is None:
        n = embeddings.count()
    if n < 2:
        # no pairs to find; also keeps KMeans.fit off the empty corpus
        return local_frame(embeddings.sparkSession, [], "a_id long, b_id long")
    if nlist is None:
        nlist = nlist_for_corpus(n, target_cluster=SEMANTIC_TARGET_CLUSTER, floor=16)
    cents = train_centroids(embeddings, nlist, n=n, vec_col=vec_col, id_col=id_col)
    asg = embeddings.select(
        F.col(id_col),
        F.explode(top_clusters_col(F.col(vec_col), cents, probes)).alias("cluster_id"),
    )
    a = asg.select(F.col(id_col).alias("a_id"), "cluster_id")
    b = asg.select(F.col(id_col).alias("b_id"), "cluster_id")
    # hint('merge'): both sides are the corpus-sized assignment table —
    # same never-broadcast guard as embedding_lsh_candidates' band join
    return (
        a.hint("merge")
        .join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    nlist: int | None = None,
    probes: int = 3,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Semantic (embedding-space) near-dup pairs at scale: cluster-gated
    candidates exact-scored with the shared cosine kernel — the
    composition SemDeDup runs over web-scale corpora.  Every returned
    pair is EXACT-verified (cos ≥ threshold); the clustering only
    bounds which pairs get scored, so results are a subset of the
    all-pairs truth with the coverage the knobs above buy.
    ``nlist=None`` applies the nlist ∝ N sizing rule (see
    semantic_cluster_candidates)."""
    return embedding_cosine_pairs(
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        candidates=semantic_cluster_candidates(
            embeddings, nlist=nlist, probes=probes, id_col=id_col, vec_col=vec_col, n=n
        ),
    )


def minhash_jaccard_estimates(
    documents: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Estimated Jaccard for LSH candidate pairs: the fraction of equal
    signature positions. Signature join is broadcast-friendly (8 longs
    per doc); only candidate pairs are scored."""
    # localCheckpoint, not cache: the sha256-per-shingle signing scan is
    # the CPU-hot stage — materialize it ONCE and share the SAME frame
    # with candidate generation (a separately-built plan would carry a
    # fresh mapInPandas instance and could miss the cache), and the
    # blocks release when the frame goes out of scope instead of
    # pinning storage for the session
    sig = minhash_signatures(documents, k, text_col).localCheckpoint()
    cand = minhash_band_pairs(documents, k, text_col=text_col, sig=sig)
    n = len(MINHASH_PERMS)
    a = sig.select(F.col("doc_id").alias("a_id"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n)])
    b = sig.select(F.col("doc_id").alias("b_id"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n)])
    est = _minhash_est([f"a{j}" for j in range(n)], [f"b{j}" for j in range(n)])
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", F.round(est, 4).alias("jaccard_est"))
    )


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.
    Batch-only (the streaming flavor is streaming/documents.py's
    near_dedup_stream).

    LSH banding makes this sub-quadratic: the 32-bit signature splits
    into 4 bands of 8 bits, candidates are pairs agreeing on ≥1 band
    (equi-join on (band_id, band_val) — a shuffle on tiny int keys,
    never an all-pairs cross join), then the exact hamming filter runs
    on candidates only. With max_hamming=3 < 4 bands the pigeonhole
    principle guarantees ZERO false negatives: 3 differing bits can
    dirty at most 3 of the 4 bands, so one band always matches — the
    output is exactly the hamming-≤3 pair set.

    At corpus scale the (band, val) key cardinality is the skew knob:
    widen bands (more values) or add signature bits before widening
    the hamming radius."""
    n_bands, band_bits = 4, SIMHASH_BITS // 4
    check_pigeonhole(max_hamming, n_bands)
    sh = simhash(documents, text_col)
    # cache: the self-join references the band table on BOTH sides, so
    # without it the mapInPandas signer subtree evaluates twice per run
    # (the ADVICE r13 finding on the shared-run ops, same shape here) —
    # lazy cache, zero extra jobs, first side's scan fills it
    bands = hamming_band_table(
        sh, ["simhash"], n_bands=n_bands, band_bits=band_bits
    ).cache()
    # Join strategy (r6 A/B adjudication): r5's blanket merge hint fixed
    # the sf10 broadcast-OOM but cost a consistent 1.7x at bench SF,
    # where the band table easily broadcasts (base r4 commit vs head,
    # alternating 3 reps: 1.8s vs 3.1s min).  The band table is EXACTLY
    # n_bands rows per doc, so one cheap count of the input (metadata-
    # only on a parquet scan) picks the strategy precisely instead of
    # trusting the static planner's default stats for the RDD-backed
    # simhash plan: band_join's joinopt.pair_join pick (broadcast /
    # shuffled-hash / always-safe SMJ, optimization r14).
    # The count is EAGER at plan-build time — pass n_docs when the
    # input is a derived frame whose lineage is expensive to count (or
    # when composing plans without executing them) to skip the job.
    if n_docs is None:
        n_docs = documents.count()
    joined, hamming = band_join(
        bands, bands, {"a_id": "doc_id"}, {"b_id": "doc_id"}, ["simhash"], n_docs * n_bands
    )
    return (
        joined.filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


# Edge count at or below which connected components finish in one
# task.  Above it one task may not hold the graph, so only the
# distributed star rounds can run; at or below it a round (two
# checkpoints and a checksum, three jobs or more) costs more than the
# whole local solve.  At 2^20 edges (16 MB of id pairs) `_solve_locally`
# took 0.5-0.6 s on a random graph and 1.0 s on one shuffled path, and
# raised its process's peak RSS by about 100 MB, to 280 MB (one core of
# a 4-vCPU host); 4x the edges took 3.3-5.6 s and 730 MB.
_LOCAL_EDGES = 1 << 20


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: every doc is
    labeled with the smallest doc_id reachable through the candidate
    graph — the canonical-group assignment step of a dedup pipeline
    (keep cluster_id == doc_id, drop the rest).

    One algorithm, contract while large, then solve locally (Kiveris
    et al. 2014; Łącki et al. 2018): while the edge set is above
    ``_LOCAL_EDGES`` (more than one task should hold), distributed
    large-star/small-star rounds shrink it in O(log n) rounds whatever
    the graph's diameter; once at or below it, one grouped task labels
    the rest. Raises ConfigError when ``max_iter`` rounds leave the
    graph above the threshold, instead of returning unconverged
    labels."""
    edges_ab = (
        pairs if pairs is not None else minhash_band_pairs(documents, text_col=text_col)
    )
    return (
        documents.select("doc_id")
        .join(_component_centers(edges_ab, max_iter), "doc_id", "left")
        .select("doc_id", F.coalesce("__center", F.col("doc_id")).alias("cluster_id"))
    )


def _component_centers(edges_ab: DataFrame, max_iter: int) -> DataFrame:
    """(doc_id, __center) for the graph's nodes that are not their
    component's minimum; the others label themselves.

    Each star round REWRITES the canonical (src < dst) edge set, with
    no per-node label state (Kiveris et al. 2014, 'Connected
    Components in MapReduce and Beyond'):

      large-star: for every node u, attach each strictly-larger
        neighbor to m(u) = min(Γ(u) ∪ {u});
      small-star: attach each ≤-neighbor and u itself to m(u).

    Both are one groupBy (per-node min) + one equi-join (re-target the
    edges) — no collect_list, so a hot node never materializes its
    neighborhood in one task. Each round's checksum (count +
    order-insensitive xxhash64 sum) gives the edge count that picks
    the next step. Three endings:

      - a round leaves the edges unchanged while still large: the
        graph is a star per component, cluster_id = min(Γ⁺(v));
      - the edges fit ``_LOCAL_EDGES``: one grouped applyInPandas task
        runs `_solve_locally` (the grouped-map pattern);
      - ``max_iter`` rounds end still large: ConfigError.

    Only the newest edge checkpoint stays pinned: each round releases
    the one it replaced and its large-star step."""
    edges = (
        edges_ab.select(
            F.least("a_id", "b_id").alias("src"), F.greatest("a_id", "b_id").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def _directed(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _mins(dir_e: DataFrame) -> DataFrame:
        return (
            dir_e.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select("src", F.least("__mn", F.col("src")).alias("m"))
        )

    def _checksum(e: DataFrame) -> tuple[int, int]:
        # decimal(38,0) sum: int64 hash sums overflow under ANSI mode
        r = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"])

    sig = _checksum(edges)
    for _ in range(max_iter):
        if sig[0] <= _LOCAL_EDGES:
            break
        dir_e = _directed(edges)
        # large-star: every undirected edge, seen from its smaller
        # endpoint u (dst > src), re-targets the larger endpoint at m(u)
        large = (
            dir_e.filter(F.col("dst") > F.col("src"))
            .join(_mins(dir_e), "src")
            .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        dir_l = _directed(large)
        mins_l = _mins(dir_l)
        # small-star: from the larger endpoint u (dst < src), re-target
        # the smaller neighbor at m(u); also attach u itself
        small = (
            dir_l.filter(F.col("dst") < F.col("src"))
            .join(mins_l, "src")
            .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
            .unionByName(mins_l.select(F.col("m").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _checksum(small)
        release(large)
        release(edges)
        edges = small
        if new_sig == sig:
            return edges.groupBy(F.col("dst").alias("doc_id")).agg(
                F.min("src").alias("__center")
            )
        sig = new_sig
    if sig[0] > _LOCAL_EDGES:
        raise ConfigError(
            f"connected components: {max_iter} star rounds left {sig[0]} edges, "
            f"above the {_LOCAL_EDGES}-edge local solve; raise max_iter"
        )
    # a named literal key: groupBy(F.lit(0)) fails inside Spark
    id_type = edges.schema["src"].dataType.simpleString()
    return (
        edges.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(_solve_locally, f"doc_id {id_type}, __center {id_type}")
    )


def _solve_locally(pdf):
    """applyInPandas body: the whole (small) edge set in one frame ->
    (doc_id, __center) for every node that is not its component's
    minimum. Vectorized hook and shortcut over dense indices (np.unique
    sorts, so the smallest index is the smallest id): each pass hooks
    every edge's larger root under its smaller one (a scatter-min),
    then jumps pointers until every node points at a root. parent[x]
    <= x throughout, so the roots are the component minima; O(log n)
    passes."""
    import numpy as np
    import pandas as pd

    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src) :]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        hi, lo = np.maximum(pu, pv), np.minimum(pu, pv)
        live = hi != lo
        if not live.any():
            break
        np.minimum.at(parent, hi[live], lo[live])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    moved = parent != np.arange(len(ids))
    return pd.DataFrame({"doc_id": ids[moved], "__center": ids[parent[moved]]})
