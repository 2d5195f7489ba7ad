"""IVF (inverted-file) vector index layout — the engine's scale path
for similarity search.

Reference analog: the FAISS IVF conversion that is dead code in the
reference (gated so it never triggers — /root/reference/src/
langchain_memvid/index.py:152-162, SURVEY.md §4). Here it is the real
thing, Spark-native:

  - train MLlib KMeans(k=nlist) on a sample (reference gates training
    on 30·nlist points; we keep that gate),
  - assign every vector a cluster_id,
  - write the corpus `partitionBy("cluster_id")` — the Hive-style
    layout turns the search-time `cluster_id IN probes` filter into
    PARTITION PRUNING: a 100 TB corpus scans nprobe/nlist of its files,
  - search: score centroids driver-side (nlist ≪ corpus), probe the
    nprobe nearest, exact-score only those partitions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from langchain_memvid_spark.exceptions import IndexError_
from langchain_memvid_spark.functions.vector import cosine_sim, vector_literal
from langchain_memvid_spark.operators.quantize import (
    int8_dot,
    int8_dot_lit,
    quantize_cols,
    query_codes,
)
from langchain_memvid_spark.session import local_frame


def nlist_for_corpus(n: int, *, target_cluster: int = 250, floor: int = 8) -> int:
    """The nlist ∝ N sizing rule, measured not argued (SCALE.md r7:
    semantic_dedup 7.7× and topk_join_ivf 10.0× at 10× data under it,
    vs quadratic blowup at frozen nlist): size the quantizer so the
    EXPECTED CLUSTER stays ~``target_cluster`` vectors as the corpus
    grows, which keeps per-cluster candidate work (≈ cluster²) constant
    and total gated work linear in N.  SemDeDup does the same with 50 k
    clusters on LAION.  ``floor`` keeps tiny corpora at a trainable
    nlist (the 30·nlist gate may still refuse below it).

    Recall caveat for NEAR-IID vectors (the hard-won invariant): recall
    of a probed search tracks the scan fraction probes/nlist, so
    growing nlist at constant probes decays it on unclustered data —
    witnesses that bound recall must ALSO derive probes to pin the
    fraction (probes = nlist · fraction); real embedding corpora are
    clustered and keep recall as the fraction shrinks."""
    return max(floor, math.ceil(n / target_cluster))


def nearest_centroid_col(
    vec_col: F.Column,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
) -> F.Column:
    """Pure-Catalyst nearest-centroid assignment: an unrolled
    argmax-by-cosine chain over the (small, driver-known) centroid set,
    inlined as literals — no join, no shuffle, no Python worker, so it
    runs INSIDE a streaming microbatch plan at scan speed (the piece
    streaming ingest needs: VERDICT r5 item 7 — streamed rows must land
    with a cluster_id or they fall off the partition-pruned search
    path until a full IVF rebuild).

    Ties keep the LOWEST cluster id, matching the `ORDER BY sim DESC,
    id` convention every oracle uses: array_max compares the
    (sim, -id) structs lexicographically, so equal sims resolve to the
    highest negated id = lowest id.  Built as ONE array of per-centroid
    structs — each cosine appears exactly once in the expression tree
    (a nested when-chain is O(nlist²) expression size and shipped a
    15 MB task binary at nlist=10·dim=64).  nlist is assumed small
    (≤ hundreds); for thousands of centroids use a broadcast join.

    Zero-norm guard (ADVICE r6): a zero-norm row vector — or a zero
    centroid, which IVFIndex.build's flat fallback emits — would hit
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode, and inside a
    streaming microbatch the checkpoint would replay the poisoned
    batch forever.  Centroid norms are driver-known, so a zero
    centroid becomes a literal sim 0.0; a zero-norm vector scores 0.0
    against every centroid, mirroring probe_clusters' Python guard.

    ``metric``: 'cosine' (default — what streaming ingest and
    cosine/ip stores use) or 'l2' (argmin squared distance, division-
    free).  Assignment and search-time probing MUST share one metric —
    probing the dot-nearest centroid of a cosine-assigned layout sends
    the query to the wrong partitions and recall collapses."""
    return (-F.array_max(F.array(*_centroid_entries(vec_col, centroids, metric)))["nid"]).cast(
        "int"
    )


def _centroid_entries(
    vec_col: F.Column, centroids: list[tuple[int, list[float]]], metric: str
) -> list[F.Column]:
    """Per-centroid (sim, -id) struct columns — the shared expression
    body of nearest_centroid_col (argmax) and top_clusters_col (top-p):
    each centroid's similarity appears exactly once in the tree, and
    the negated id makes lexicographic struct comparison break ties
    toward the LOWEST cluster id, matching every oracle's
    `ORDER BY sim DESC, id` convention."""
    from langchain_memvid_spark.functions.vector import dot, l2_sq, norm

    entries = []
    if metric == "l2":
        for cid, c in sorted(centroids, key=lambda ic: ic[0]):
            carr = vector_literal(c)
            entries.append(
                F.struct((-l2_sq(vec_col, carr)).alias("sim"), F.lit(-int(cid)).alias("nid"))
            )
        return entries
    vnorm = norm(vec_col)
    for cid, c in sorted(centroids, key=lambda ic: ic[0]):
        cn = math.sqrt(sum(float(x) * float(x) for x in c))
        if cn == 0.0:
            sim = F.lit(0.0)
        else:
            carr = vector_literal(c)
            sim = F.when(vnorm > 0, dot(vec_col, carr) / (vnorm * F.lit(cn))).otherwise(
                F.lit(0.0)
            )
        entries.append(F.struct(sim.alias("sim"), F.lit(-int(cid)).alias("nid")))
    return entries


def top_clusters_col(
    vec_col: F.Column,
    centroids: list[tuple[int, list[float]]],
    p: int,
    metric: str = "cosine",
) -> F.Column:
    """Pure-Catalyst MULTI-assignment: the p nearest cluster ids per
    row, nearest first — nearest_centroid_col generalized from argmax
    to top-p (p=1 returns [nearest_centroid_col]).  Multi-probe
    assignment is the standard recall repair for cluster-gated
    candidate generation (semantic dedup, multi-probe IVF): a pair
    straddling a cluster boundary still co-lands in SOME shared
    cluster once each side carries its p nearest.  Same tie-break as
    the argmax (lowest cluster id), same zero-norm guards, still zero
    join / zero shuffle / zero Python."""
    arr = F.reverse(F.array_sort(F.array(*_centroid_entries(vec_col, centroids, metric))))
    return F.transform(F.slice(arr, 1, p), lambda st: (-st["nid"]).cast("int"))


def train_centroids(
    df: DataFrame,
    nlist: int,
    *,
    n: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    cap: int | None = None,
) -> list[tuple[int, list[float]]]:
    """The ONE deterministic KMeans-training recipe every IVF consumer
    (IVFIndex.build, SparkVectorStore._maybe_build_ivf) shares — two
    drifting copies of this would silently reintroduce the
    cross-topology recall swing the canonicalization fixed.

    Bounded training sample (FAISS trains IVF quantizers on a few
    hundred points per centroid, not the corpus), then a CANONICAL
    layout for the fit: kmeans|| init samples per partition, so without
    the repartition+sort the centroids depend on the accidental scan
    split — the same corpus trained on local[4] vs local[32] produced
    different centroids and the partial-probe recall swung 0.2–0.7.
    Sampling runs FIRST: canonicalizing a 100 TB corpus to 8 partitions
    would be the bottleneck; below the cap (every driver SF) training
    is fully deterministic, above it the sample membership is the only
    topology-dependent bit and quality is statistically stable."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as e:  # pragma: no cover
        raise IndexError_(f"MLlib unavailable: {e}") from e

    if n is None:
        n = df.count()
    if n == 0:
        # every consumer inherits the clean error instead of KMeans.fit's
        # raw 'Nothing has been added to this summarizer' Py4J failure
        raise IndexError_("cannot train centroids on an empty table")
    if cap is None:
        cap = max(100_000, 256 * nlist)
    train = df
    if n > cap:
        train = train.sample(fraction=min(1.0, cap / n), seed=seed)
    feat = (
        train.repartitionByRange(8, id_col)
        .sortWithinPartitions(id_col)
        .withColumn("__features", array_to_vector(F.col(vec_col)))
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="__features", predictionCol="__cid").fit(
        feat
    )
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


class IVFIndex:
    """KMeans-partitioned vector layout with centroid-pruned search."""

    def __init__(
        self,
        centroids: list[tuple[int, list[float]]],
        path: str | None = None,
        metric: str = "cosine",
    ):
        if metric not in ("cosine", "ip", "l2"):
            raise IndexError_(f"unsupported metric {metric!r} (cosine | ip | l2)")
        self.centroids = centroids
        self.path = path
        # The metric the layout was ASSIGNED under.  search/search_batch
        # probe and score with it — probing an l2-assigned layout by
        # cosine sends queries to partitions their neighbors were never
        # assigned to (ADVICE r7: the public search path used to default
        # to cosine regardless of build metric).
        self.metric = metric

    def _probe_metric(self) -> str:
        """Geometry used for assignment AND probing: l2 for l2, cosine
        otherwise (ip layouts assign/probe by cosine too — same rule as
        SparkVectorStore._ivf_metric, so store and index never drift)."""
        return "l2" if self.metric == "l2" else "cosine"

    # ------------------------------------------------------------------ build

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        nlist: int = 16,
        vec_col: str = "embedding",
        min_points_factor: int = 30,
        seed: int = 42,
        metric: str = "cosine",
        id_col: str = "vec_id",
    ) -> tuple["IVFIndex", DataFrame]:
        """Train KMeans and assign cluster ids. Returns (index, assigned
        DataFrame with a cluster_id column).

        Mirrors the reference's `30·nlist` training gate
        (index.py:152-162): under-populated corpora stay flat (single
        cluster) rather than training a degenerate quantizer.

        Assignment uses nearest_centroid_col under ``metric`` — the
        SAME geometry probe_clusters ranks centroids with at search
        time — NOT the KMeans model's own l2 transform. An l2-assigned
        layout probed by cosine sends queries to partitions their
        neighbors were not assigned to, and recall sits at the guard
        boundary: the r7 all-SF sweep caught exactly this (ivfpq
        recall@10 fell below 0.5 on sf0.1's file layout, where a
        different KMeans init flipped the boundary). Consistent
        geometry also makes streamed and batch assignment identical
        (streaming ingest uses the same expression)."""
        qscale, qvec = quantize_cols(F.col(vec_col))
        embeddings = embeddings.withColumn("qscale", qscale).withColumn("qvec", qvec)
        n = embeddings.count()
        if n == 0:
            raise IndexError_("cannot build an IVF index on an empty embeddings table")
        if n < min_points_factor * nlist:
            assigned = embeddings.withColumn("cluster_id", F.lit(0))
            dim = len(assigned.select(vec_col).head()[0])
            return cls([(0, [0.0] * dim)], metric=metric), assigned

        cents = train_centroids(
            embeddings, nlist, n=n, vec_col=vec_col, id_col=id_col, seed=seed
        )
        idx = cls(cents, metric=metric)
        assigned = embeddings.withColumn(
            "cluster_id",
            nearest_centroid_col(F.col(vec_col), cents, metric=idx._probe_metric()),
        )
        return idx, assigned

    def write_layout(self, assigned: DataFrame, path: str) -> "IVFIndex":
        """Persist the corpus partitioned by cluster_id (Hive layout →
        file-level partition pruning at search time)."""
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
        self.path = path
        return self

    # ----------------------------------------------------------------- search

    def probe_clusters(
        self, qvec: list[float], nprobe: int, metric: str | None = None
    ) -> list[int]:
        """Rank centroids driver-side (nlist ≪ corpus) under the
        store's metric: cosine/ip descending by similarity, l2
        ascending by squared distance. Ties break on cluster id.
        ``metric=None`` uses the layout's assignment geometry
        (self._probe_metric()) — the only probing that preserves
        recall; pass a metric explicitly only to probe a layout you
        know was assigned under it."""
        if metric is None:
            metric = self._probe_metric()

        def cos(c: list[float]) -> float:
            d = sum(a * b for a, b in zip(c, qvec))
            na = math.sqrt(sum(a * a for a in c))
            nb = math.sqrt(sum(b * b for b in qvec))
            return d / (na * nb) if na and nb else 0.0

        def score(c: list[float]) -> float:
            if metric == "l2":
                return -sum((a - b) * (a - b) for a, b in zip(c, qvec))
            if metric == "ip":
                return sum(a * b for a, b in zip(c, qvec))
            return cos(c)

        ranked = sorted(self.centroids, key=lambda ic: (-score(ic[1]), ic[0]))
        return [i for i, _ in ranked[:nprobe]]

    def search(
        self,
        spark: SparkSession,
        qvec: list[float],
        k: int = 10,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        rerank_candidates: int = 256,
    ) -> DataFrame:
        """Partition-pruned top-k within the probed clusters.

        Two pruning levels compose: (1) cluster probing → partition
        pruning, only nprobe/nlist of the files are read; (2) inside the
        probed partitions an int8 first pass scans the stored 1-byte
        codes (ranked by qscore·qscale, debiased — see
        operators/quantize.py) and only the top `rerank_candidates`
        rows touch the float32 column for the exact re-rank.
        `rerank_candidates=0` disables the second level (direct exact
        scan). Layouts written before the code columns existed are
        backfilled in-plan.

        Probing and scoring run under the layout's build metric
        (self.metric): cosine/ip rank descending by similarity, l2
        ascending by squared distance (`sim` holds l2², mirroring the
        store's `similarity` convention). The int8 first pass is a
        dot-product surrogate, so l2 skips it and scans the probed
        partitions exactly — same rule as SparkVectorStore._topk."""
        if self.path is None:
            raise IndexError_("IVF layout not written; call write_layout first")
        probes = self.probe_clusters(qvec, nprobe)
        corpus = spark.read.parquet(self.path).filter(F.col("cluster_id").isin(probes))
        q = vector_literal(qvec)
        if self.metric == "l2":
            from langchain_memvid_spark.functions.vector import l2_sq

            return (
                corpus.withColumn("__s", l2_sq(F.col(vec_col), q))
                .orderBy(F.col("__s").asc(), F.col(id_col).asc())
                .limit(k)
                .select(id_col, "cluster_id", F.round("__s", 4).alias("sim"))
            )
        if rerank_candidates and rerank_candidates > 0:
            if "qvec" not in corpus.columns:
                qs, qv = quantize_cols(F.col(vec_col))
                corpus = corpus.withColumn("qscale", qs).withColumn("qvec", qv)
            cands = (
                corpus.select(id_col, "qscale", "qvec")
                .withColumn("__qs", int8_dot_lit("qvec", query_codes(qvec)))
                .orderBy(
                    (F.col("__qs").cast("double") * F.col("qscale")).desc(),
                    F.col(id_col).asc(),
                )
                .limit(max(rerank_candidates, k))
                .select(id_col)
            )
            corpus = corpus.join(F.broadcast(cands), id_col)
        score = self._score_expr(F.col(vec_col), q)
        return (
            corpus.withColumn("__s", score)
            .orderBy(F.col("__s").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "cluster_id", F.round("__s", 4).alias("sim"))
        )

    def _score_expr(self, vec: F.Column, q: F.Column) -> F.Column:
        """Exact-pass scoring under the build metric (cosine/ip only —
        l2 paths rank by l2_sq ascending before reaching here)."""
        if self.metric == "ip":
            from langchain_memvid_spark.functions.vector import dot

            return dot(vec, q)
        return cosine_sim(vec, q)

    def search_batch(
        self,
        spark: SparkSession,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        rerank_candidates: int = 256,
    ) -> DataFrame:
        """Batch ANN: N queries in ONE job. Probe clusters are computed
        driver-side (centroids ≪ corpus), the (query, probe) pairs
        broadcast-join the partition-pruned corpus — the scan still
        reads only the UNION of probed clusters' files, and each query
        scores only its own probes. With `rerank_candidates` > 0 the
        heavy per-(query, doc) pass runs on the stored int8 codes (the
        same debiased two-phase as single-query search); floats are
        read only for the per-query candidate re-rank. One shuffle (the
        per-query top-k window), regardless of query count.

        Probing and scoring follow self.metric exactly as in search():
        l2 probes under l2 geometry, ranks ascending by squared
        distance, and skips the int8 surrogate pass."""
        if self.path is None:
            raise IndexError_("IVF layout not written; call write_layout first")
        if self.metric == "l2":
            rerank_candidates = 0

        probe_rows = [
            (qid, list(map(float, qvec)), query_codes(qvec), cid)
            for qid, qvec in queries
            for cid in self.probe_clusters(qvec, nprobe)
        ]
        # __qv/__qc, not "qvec": the persisted layout carries an int8
        # `qvec` codes column, so an unqualified name would be ambiguous.
        qdf = local_frame(
            spark,
            probe_rows,
            "query_id INT, __qv ARRAY<FLOAT>, __qc ARRAY<INT>, cluster_id INT",
        )
        all_probes = sorted({r[3] for r in probe_rows})
        corpus = spark.read.parquet(self.path).filter(F.col("cluster_id").isin(all_probes))
        from pyspark.sql import Window

        if rerank_candidates and rerank_candidates > 0:
            if "qvec" not in corpus.columns:
                qs, qv = quantize_cols(F.col(vec_col))
                corpus = corpus.withColumn("qscale", qs).withColumn("qvec", qv)
            p1 = (
                corpus.select(id_col, "cluster_id", "qscale", "qvec")
                .join(F.broadcast(qdf.select("query_id", "__qc", "cluster_id")), "cluster_id")
                .withColumn("__qs", int8_dot(F.col("qvec"), F.col("__qc")))
            )
            w1 = Window.partitionBy("query_id").orderBy(
                (F.col("__qs").cast("double") * F.col("qscale")).desc(),
                F.col(id_col).asc(),
            )
            cands = (
                p1.withColumn("__r", F.row_number().over(w1))
                .filter(F.col("__r") <= max(rerank_candidates, k))
                .select("query_id", id_col)
            )
            scored = (
                corpus.select(id_col, "cluster_id", vec_col)
                .join(F.broadcast(cands), id_col)
                .join(F.broadcast(qdf.select("query_id", "__qv").dropDuplicates(["query_id"])), "query_id")
                .withColumn("__s", self._score_expr(F.col(vec_col), F.col("__qv")))
            )
        elif self.metric == "l2":
            from langchain_memvid_spark.functions.vector import l2_sq

            scored = corpus.join(F.broadcast(qdf), "cluster_id").withColumn(
                "__s", l2_sq(F.col(vec_col), F.col("__qv"))
            )
        else:
            scored = corpus.join(F.broadcast(qdf), "cluster_id").withColumn(
                "__s", self._score_expr(F.col(vec_col), F.col("__qv"))
            )
        ordered = F.col("__s").asc() if self.metric == "l2" else F.col("__s").desc()
        w = Window.partitionBy("query_id").orderBy(ordered, F.col(id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "cluster_id", F.round("__s", 4).alias("sim"), "rank")
        )
