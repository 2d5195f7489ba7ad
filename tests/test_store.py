"""Vector-store semantics tests — mirrors the reference's unit suites
(/root/reference/tests/test_index.py, test_vectorstore.py): add/search
round-trip, dedup, delete-by-ids/texts incl. first-occurrence and
invalid-id cases, id renumbering, stats."""

import numpy as np
import pytest

from langchain_memvid_spark import SparkVectorStore, IndexError_
from langchain_memvid_spark.config import EngineConfig, IndexConfig
from langchain_memvid_spark.embeddings import HashEmbeddings
from langchain_memvid_spark.session import codegen_compiles

TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "Python is a great programming language",
    "The weather is sunny today",
    "Machine learning with spark is scalable",
]
METAS = [
    {"id": 0, "source": "example0.txt", "category": "animals"},
    {"id": 1, "source": "example1.txt", "category": "programming"},
    {"id": 2, "source": "example2.txt", "category": "weather"},
    {"id": 3, "source": "example3.txt", "category": "programming"},
]


@pytest.fixture(scope="module")
def store(spark):
    return SparkVectorStore.from_texts(TEXTS, spark, metadatas=METAS)


def test_add_returns_batch_local_ids(spark):
    s = SparkVectorStore.from_texts(["a", "b", "a"], spark)
    # reference returns ["0".."n-1"] for the batch regardless of dedup
    # (vectorstore.py:221); corpus keeps only unique texts
    assert s.add_texts(["c", "b"]) == ["0", "1"]
    assert s.get_document_count() == 3  # a, b, c


def test_ids_sequential(store):
    docs = store.get_all_documents()
    assert [d["doc_id"] for d in docs] == [0, 1, 2, 3]


def test_similarity_search_self_match(store):
    res = store.similarity_search_with_score(TEXTS[1], k=2)
    assert len(res) == 2
    doc, score = res[0]
    # deterministic hash embeddings: identical text → cosine 1.0
    assert doc["page_content"] == TEXTS[1]
    assert score == pytest.approx(1.0, abs=1e-5)
    assert doc["metadata"]["metadata_type"] == "essential"


def test_full_metadata_join(store):
    res = store.similarity_search(TEXTS[0], k=1, include_full_metadata=True)
    assert res[0]["metadata"]["metadata_type"] == "full"
    assert res[0]["metadata"]["source"] == "example0.txt"


def test_batch_search(store):
    df = store.batch_search([TEXTS[0], TEXTS[2]], k=2)
    rows = df.collect()
    assert len(rows) == 4
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1]
    top0 = min(by_q[0], key=lambda r: r["rank"])
    assert top0["text"] == TEXTS[0]


def test_point_lookup(store):
    d = store.get_document_by_id(2)
    assert d["page_content"] == TEXTS[2]
    assert store.get_document_by_id("1")["doc_id"] == 1
    many = store.get_documents_by_ids([0, 3])
    assert [d["doc_id"] for d in many] == [0, 3]


def test_delete_by_ids_renumbers(spark):
    s = SparkVectorStore.from_texts(["t0", "t1", "t2", "t3"], spark)
    assert s.delete_by_ids([1]) is True
    docs = s.get_all_documents()
    assert [d["doc_id"] for d in docs] == [0, 1, 2]
    assert [d["page_content"] for d in docs] == ["t0", "t2", "t3"]


def test_add_and_batch_search_after_delete(spark):
    # regression: _renumber must preserve the qscale/qvec code columns or
    # the next add_texts unionByName fails, and batch_search must not
    # collide with the index's qvec column (r3 AMBIGUOUS_REFERENCE break)
    s = SparkVectorStore.from_texts(["t0", "t1", "t2", "t3"], spark)
    s.delete_by_ids([1])
    s.add_texts(["t4"])
    assert [d["doc_id"] for d in s.get_all_documents()] == [0, 1, 2, 3]
    rows = s.batch_search(["t4", "t0"], k=1).collect()
    assert {(r["query_id"], r["text"]) for r in rows} == {(0, "t4"), (1, "t0")}


def test_bulk_delete_uses_join_path(spark):
    """Past _ISIN_LIMIT ids the delete runs as a broadcast anti-join,
    not a thousand-term isin expression; semantics unchanged."""
    s = SparkVectorStore.from_texts([f"bulk {i}" for i in range(1500)], spark)
    old_limit = SparkVectorStore._ISIN_LIMIT
    try:
        SparkVectorStore._ISIN_LIMIT = 100
        assert s.delete_by_ids(list(range(0, 1500, 2))) is True  # 750 ids > limit
    finally:
        SparkVectorStore._ISIN_LIMIT = old_limit
    assert s.get_document_count() == 750
    docs = s.get_all_documents()
    assert [d["doc_id"] for d in docs[:3]] == [0, 1, 2]  # renumbered
    assert docs[0]["page_content"] == "bulk 1"  # odd originals survive


def test_delete_invalid_id_raises(spark):
    s = SparkVectorStore.from_texts(["x", "y"], spark)
    with pytest.raises(IndexError_):
        s.delete_by_ids([5])
    with pytest.raises(IndexError_):
        s.delete_by_ids(["nope"])


def test_delete_by_texts_first_occurrence(spark):
    # duplicate text only stored once (dedup), so craft distinct rows via
    # metadata: dedup is by text, so use unique texts and delete one
    s = SparkVectorStore.from_texts(["dup", "keep", "other"], spark)
    assert s.delete_by_texts(["dup"]) is True
    texts = [d["page_content"] for d in s.get_all_documents()]
    assert texts == ["keep", "other"]


def test_l2_metric(spark):
    cfg = EngineConfig(index=IndexConfig(metric="l2", dim=32))
    s = SparkVectorStore.from_texts(["alpha", "beta", "gamma"], spark, config=cfg)
    res = s.similarity_search_with_score("alpha", k=1)
    # self-match: squared L2 distance 0, lower=better ordering
    assert res[0][0]["page_content"] == "alpha"
    assert res[0][1] == pytest.approx(0.0, abs=1e-6)


def test_filtered_search(spark):
    """Metadata filter restricts BEFORE scoring (k stays filled from
    the filtered corpus), on engine columns and JSON metadata keys,
    and composes with the two-phase path."""
    cfg = EngineConfig(index=IndexConfig(dim=64, rerank_candidates=8))
    texts = [f"note {i}" for i in range(40)]
    metas = [{"source": f"s{i % 2}.txt", "category": "even" if i % 2 == 0 else "odd", "rank": i % 4} for i in range(40)]
    s = SparkVectorStore.from_texts(texts, spark, metadatas=metas)
    s.config = cfg  # two-phase gate: 8 < 40
    res = s.similarity_search_with_score("note 1", k=5, filter={"category": "odd"})
    assert len(res) == 5
    assert all(d["metadata"]["category"] == "odd" for d, _ in res)
    assert res[0][0]["page_content"] == "note 1"
    # JSON metadata key (not an engine column)
    res2 = s.similarity_search_with_score("note 2", k=3, filter={"rank": 2})
    assert len(res2) == 3
    assert all(d["metadata"]["rank"] == 2 for d, _ in res2)
    assert res2[0][0]["page_content"] == "note 2"
    # combined filters
    res3 = s.similarity_search_with_score("note 3", k=2, filter={"source": "s1.txt", "rank": 3})
    assert all(d["metadata"]["source"] == "s1.txt" and d["metadata"]["rank"] == 3 for d, _ in res3)


def test_relevance_scores_normalized(store):
    res = store.similarity_search_with_relevance_scores(TEXTS[1], k=3)
    assert all(0.0 <= s <= 1.0 for _, s in res)
    assert res[0][1] == pytest.approx(1.0, abs=1e-5)  # self-match -> 1.0
    assert res[0][1] >= res[1][1]


def test_filter_typed_values(spark):
    """Booleans/numbers compare against canonical JSON literals, not
    str(val): {'published': True} must match rows whose JSON holds
    true, and 2 must match a value serialized as 2 (ADVICE r4 #1)."""
    texts = [f"doc {i}" for i in range(10)]
    metas = [{"published": i % 2 == 0, "stars": i, "ratio": i / 2} for i in range(10)]
    s = SparkVectorStore.from_texts(texts, spark, metadatas=metas)
    res = s.similarity_search_with_score("doc 2", k=10, filter={"published": True})
    assert len(res) == 5
    assert all(d["metadata"]["published"] is True for d, _ in res)
    res = s.similarity_search_with_score("doc 3", k=10, filter={"published": False})
    assert len(res) == 5
    # int filter value vs int JSON value, float filter vs float JSON
    assert len(s.similarity_search_with_score("doc 4", k=10, filter={"stars": 4})) == 1
    assert len(s.similarity_search_with_score("doc 4", k=10, filter={"ratio": 1.5})) == 1
    # numeric type variants cross-match via the double cast
    assert len(s.similarity_search_with_score("doc 4", k=10, filter={"stars": 4.0})) == 1


def test_similarity_search_by_vector_matches_by_text(store):
    """By-vector search with the embedded query vector must return the
    same documents in the same order as the text entry point (it is the
    same plan minus the embed step), and the async variants mirror
    their sync results."""
    import asyncio

    q = TEXTS[1]
    by_text = store.similarity_search(q, k=3)
    by_vec = store.similarity_search_by_vector(store.embeddings.embed_query(q), k=3)
    assert [(d["doc_id"], d["page_content"]) for d in by_text] == [
        (d["doc_id"], d["page_content"]) for d in by_vec
    ]
    a_by_vec = asyncio.run(
        store.asimilarity_search_by_vector(store.embeddings.embed_query(q), k=3)
    )
    assert [d["doc_id"] for d in a_by_vec] == [d["doc_id"] for d in by_vec]
    # a NON-UNIT query vector must yield the same docs AND the same
    # cosine similarities (the by-vector path normalizes like the text
    # path; without it similarities scale by |q| and leave [-1, 1])
    scaled = [x * 7.5 for x in store.embeddings.embed_query(q)]
    by_scaled = store.similarity_search_by_vector(scaled, k=3)
    assert [d["doc_id"] for d in by_scaled] == [d["doc_id"] for d in by_vec]
    for a, b in zip(by_scaled, by_vec):
        assert abs(a["metadata"]["similarity"] - b["metadata"]["similarity"]) < 1e-9
        assert -1.0 - 1e-6 <= a["metadata"]["similarity"] <= 1.0 + 1e-6
    sync_mmr = store.max_marginal_relevance_search(q, k=3, fetch_k=6)
    async_mmr = asyncio.run(store.amax_marginal_relevance_search(q, k=3, fetch_k=6))
    assert [d["doc_id"] for d in async_mmr] == [d["doc_id"] for d in sync_mmr]
    vec_mmr = store.max_marginal_relevance_search_by_vector(
        store.embeddings.embed_query(q), k=3, fetch_k=6
    )
    assert [d["doc_id"] for d in vec_mmr] == [d["doc_id"] for d in sync_mmr]


def test_mmr_filter_narrows_candidates(spark):
    """MMR's filter kwarg restricts the candidate fetch BEFORE scoring:
    every selected doc satisfies the predicate, and k fills from the
    filtered corpus."""
    texts = [f"note {i}" for i in range(20)]
    metas = [{"category": "even" if i % 2 == 0 else "odd"} for i in range(20)]
    s = SparkVectorStore.from_texts(texts, spark, metadatas=metas)
    res = s.max_marginal_relevance_search(
        "note 1", k=4, fetch_k=10, filter={"category": "odd"}
    )
    assert len(res) == 4
    assert all(d["metadata"]["category"] == "odd" for d in res)


def test_metadata_schema_strict_store_filter(spark):
    """A store built with metadata_schema compares STRICTLY typed:
    a numeric filter no longer matches numeric-looking string values
    (the permissive dialect's documented ambiguity), and a value/type
    mismatch against the declaration raises instead of silently
    matching nothing."""
    from langchain_memvid_spark.exceptions import FilterError

    texts = [f"doc {i}" for i in range(6)]
    # ids 0-2 store score as a NUMBER, ids 3-5 as a numeric-looking STRING
    metas = [{"score": i if i < 3 else str(i)} for i in range(6)]
    strict = SparkVectorStore(spark, metadata_schema={"score": "double"})
    strict.add_texts(texts, metas)
    res = strict.similarity_search_with_score("doc 1", k=10, filter={"score": {"$gte": 0}})
    assert sorted(d["metadata"]["score"] for d, _ in res) == [0, 1, 2]
    with pytest.raises(FilterError):
        strict.similarity_search_with_score("doc 1", k=10, filter={"score": "2"})
    # same data WITHOUT the schema: permissive dialect matches all 6
    loose = SparkVectorStore(spark)
    loose.add_texts(texts, metas)
    res = loose.similarity_search_with_score("doc 1", k=10, filter={"score": {"$gte": 0}})
    assert len(res) == 6


def test_filter_operator_dialect(spark):
    """$gt/$gte/$lt/$lte/$ne/$in on JSON keys and engine columns."""
    texts = [f"doc {i}" for i in range(12)]
    metas = [{"rank": i, "source": f"s{i % 3}.txt"} for i in range(12)]
    s = SparkVectorStore.from_texts(texts, spark, metadatas=metas)
    got = s.similarity_search_with_score("doc 0", k=12, filter={"rank": {"$gte": 4, "$lt": 7}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == [4, 5, 6]
    got = s.similarity_search_with_score("doc 0", k=12, filter={"rank": {"$gt": 9}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == [10, 11]
    got = s.similarity_search_with_score("doc 0", k=12, filter={"rank": {"$lte": 1}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == [0, 1]
    got = s.similarity_search_with_score("doc 0", k=12, filter={"rank": {"$in": [2, 5]}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == [2, 5]
    got = s.similarity_search_with_score("doc 0", k=12, filter={"rank": {"$ne": 0}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == list(range(1, 12))
    # engine column with $in
    got = s.similarity_search_with_score("doc 0", k=12, filter={"source": {"$in": ["s0.txt"]}})
    assert sorted(d["metadata"]["rank"] for d, _ in got) == [0, 3, 6, 9]


def test_filter_invalid_raises(spark):
    from langchain_memvid_spark.exceptions import FilterError

    s = SparkVectorStore.from_texts(["a doc"], spark, metadatas=[{"k": 1}])
    with pytest.raises(FilterError):
        s.similarity_search_with_score("a doc", k=1, filter={"k": None})
    with pytest.raises(FilterError):
        s.similarity_search_with_score("a doc", k=1, filter={"bad.key": 1})
    with pytest.raises(FilterError):
        s.similarity_search_with_score("a doc", k=1, filter={"k": {"$regex": "x"}})
    with pytest.raises(FilterError):
        s.similarity_search_with_score("a doc", k=1, filter={"k": {"$in": []}})
    with pytest.raises(FilterError):
        s.similarity_search_with_score("a doc", k=1, filter={"k": [1, 2]})


def test_relevance_scores_ip_metric_monotone(spark):
    """ip relevance uses a sigmoid: order-preserving, no pile-up at the
    clamp endpoints for unbounded dots (ADVICE r4 #4)."""
    cfg = EngineConfig(index=IndexConfig(dim=64, metric="ip"))
    s = SparkVectorStore.from_texts(TEXTS, spark, config=cfg)
    res = s.similarity_search_with_relevance_scores(TEXTS[0], k=4)
    scores = [sc for _, sc in res]
    assert all(0.0 <= sc <= 1.0 for sc in scores)
    assert scores == sorted(scores, reverse=True)
    # distinct dots must stay distinct after the map (no clamping pile-up)
    assert len(set(round(sc, 9) for sc in scores)) == len(scores)
    # filter kwarg is threaded through
    metas = [{"i": i} for i in range(len(TEXTS))]
    s2 = SparkVectorStore.from_texts(TEXTS, spark, metadatas=metas, config=cfg)
    res2 = s2.similarity_search_with_relevance_scores(TEXTS[0], k=4, filter={"i": {"$lt": 2}})
    assert len(res2) == 2


def test_store_async_parity(spark):
    """Store-level async wrappers (aadd_texts / asimilarity_search /
    adelete_* — ≙ reference vectorstore.py:227-252,636-707,418-467)
    round-trip off the event loop with the same results as sync."""
    import asyncio

    async def flow():
        s = SparkVectorStore(spark)
        ids = await s.aadd_texts(TEXTS, METAS)
        assert ids == [str(i) for i in range(len(TEXTS))]
        hits = await s.asimilarity_search(TEXTS[1], k=2)
        assert hits[0]["page_content"] == TEXTS[1]
        scored = await s.asimilarity_search_with_score(TEXTS[1], k=2)
        assert scored[0][1] == pytest.approx(1.0, abs=1e-5)
        got = await s.aget_by_ids([0, 1])
        assert [d["doc_id"] for d in got] == [0, 1]
        assert await s.adelete_by_ids([3]) is True
        assert await s.adelete_by_texts([TEXTS[0]]) is True
        assert s.get_document_count() == 2
        return True

    assert asyncio.new_event_loop().run_until_complete(flow()) is True


def test_append_lineage_stays_bounded(spark):
    """Every mutation commits a lineage-free table version: after 14
    appends and 4 deletes the doc_index plan is still one cached
    checkpoint leaf, with no Union or Join of earlier versions above
    it, while contents stay identical."""
    s = SparkVectorStore(spark)
    for i in range(14):
        s.add_texts([f"lineage doc {i}"])
    for _ in range(4):
        s.delete_by_ids([0])
    plan = s._doc_index._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "Join" not in plan, plan
    assert s.get_document_count() == 10
    texts = {d["page_content"] for d in s.get_all_documents()}
    assert texts == {f"lineage doc {i}" for i in range(4, 14)}
    # search still works over the materialized version
    assert s.similarity_search("lineage doc 7", k=1)[0]["page_content"] == "lineage doc 7"


# (rerank_candidates, round-trip ceiling): 4096 keeps the 20-doc store
# on the direct scan, 8 forces the int8 first pass + re-rank
@pytest.mark.parametrize("rerank_candidates,ceiling", [(4096, 100), (8, 250)])
def test_search_round_trips_independent_of_dim(spark, py4j_calls, rerank_candidates, ceiling):
    """Planning a search inlines the query vector in one SQL expression,
    so its driver->JVM round trips do not grow with the dimension (the
    per-element F.lit form cost several per dimension), on the direct
    scan and on the two-phase path alike."""
    calls = {}
    for dim in (64, 512):
        cfg = EngineConfig(index=IndexConfig(dim=dim, rerank_candidates=rerank_candidates))
        s = SparkVectorStore.from_texts([f"trip doc {i}" for i in range(20)], spark, config=cfg)
        s.similarity_search("trip doc 3", k=2)  # first-call class lookups
        with py4j_calls() as n:
            hits = s.similarity_search("trip doc 3", k=2)
        assert hits[0]["page_content"] == "trip doc 3"
        calls[dim] = n[0]
    assert calls[64] == calls[512], calls
    assert calls[64] <= ceiling, calls


def test_langchain_standard_aliases(spark):
    s = SparkVectorStore.from_texts(TEXTS, spark, metadatas=METAS)
    docs = s.get_by_ids([0, 2])
    assert [d["doc_id"] for d in docs] == [0, 2]
    with pytest.raises(IndexError_):
        s.delete()  # refuses delete-all
    assert s.delete(ids=[3]) is True
    assert s.get_document_count() == 3


def test_mmr_mechanics(spark):
    """lambda=1 reduces MMR to plain similarity order; any lambda keeps
    the best match first and returns k distinct docs. (Semantic
    diversity needs a real embedder — hash embeddings give uncorrelated
    vectors, so only the mechanics are assertable here.)"""
    texts = [f"doc number {i}" for i in range(12)]
    s = SparkVectorStore.from_texts(texts, spark)
    plain = [d["doc_id"] for d, _ in s.similarity_search_with_score("doc number 5", k=4)]
    pure_sim = [d["doc_id"] for d in s.max_marginal_relevance_search(
        "doc number 5", k=4, fetch_k=12, lambda_mult=1.0)]
    assert pure_sim == plain
    diverse = s.max_marginal_relevance_search("doc number 5", k=4, fetch_k=8, lambda_mult=0.2)
    ids = [d["doc_id"] for d in diverse]
    assert ids[0] == plain[0]  # best match always first
    assert len(ids) == 4 and len(set(ids)) == 4


def test_storage_stats(store):
    st = store.get_storage_stats()
    assert st.document_count == 4
    assert st.index_bytes > 0
    assert st.payload_bytes > 0


def test_two_phase_search_matches_direct(spark):
    """int8 first pass -> exact re-rank must return the same top-k as the
    direct exact scan, and the first pass must never touch the float
    embedding column (it scans 1-byte codes only)."""
    cfg = EngineConfig(index=IndexConfig(dim=64, rerank_candidates=32))
    texts = [f"chunk {i} topic {i % 11} extra {i * 7 % 13}" for i in range(200)]
    s = SparkVectorStore.from_texts(texts, spark, config=cfg)
    qv = s.embeddings.embed_query("chunk 42 topic 9 extra 6")
    n = sum(x * x for x in qv) ** 0.5
    qv = [x / n for x in qv]

    # phase-1 scan reads codes, not floats: the cached-table scan must be
    # column-pruned to (doc_id, qscale, qvec). The full plan string still
    # mentions `embedding` inside the InMemoryRelation build lineage, so
    # assert on the scan line itself.
    p1 = s._phase1_candidates(qv, 32)
    plan = p1._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "InMemoryTableScan" in l]
    assert scan_lines, plan
    assert all("qvec" in l and "embedding" not in l for l in scan_lines), scan_lines

    two_phase = [(r["doc_id"], round(r["similarity"], 6)) for r in s._topk(qv, 5).collect()]
    s.config.index.rerank_candidates = 0
    direct = [(r["doc_id"], round(r["similarity"], 6)) for r in s._topk(qv, 5).collect()]
    s.config.index.rerank_candidates = 32
    assert two_phase == direct


def test_batch_search_two_phase_matches_direct(spark):
    cfg = EngineConfig(index=IndexConfig(dim=64, rerank_candidates=32))
    texts = [f"item {i} group {i % 9} tag {i * 3 % 17}" for i in range(150)]
    s = SparkVectorStore.from_texts(texts, spark, config=cfg)
    queries = [texts[7], "item 12 group 3 tag 2", "something else entirely"]
    two_phase = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["similarity"], 6))
        for r in s.batch_search(queries, k=4).collect()
    )
    s.config.index.rerank_candidates = 0
    direct = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["similarity"], 6))
        for r in s.batch_search(queries, k=4).collect()
    )
    s.config.index.rerank_candidates = 32
    assert two_phase == direct
    assert len(two_phase) == 12


def test_save_load_roundtrip(spark, tmp_path):
    s = SparkVectorStore.from_texts(["p", "q"], spark)
    s.save(str(tmp_path / "store"))
    s2 = SparkVectorStore.load(str(tmp_path / "store"), spark)
    assert s2.get_document_count() == 2
    assert {d["page_content"] for d in s2.get_all_documents()} == {"p", "q"}


def test_load_backfills_pre_qvec_saves(spark, tmp_path):
    """A store saved before the int8 code columns existed must still
    load, append, and search (codes recomputed from the float vectors)."""
    s = SparkVectorStore.from_texts(["old a", "old b", "old c"], spark)
    s.save(str(tmp_path / "new"))
    legacy = str(tmp_path / "legacy")
    spark.read.parquet(str(tmp_path / "new/doc_index")).drop("qscale", "qvec").write.parquet(
        legacy + "/doc_index"
    )
    spark.read.parquet(str(tmp_path / "new/payload")).write.parquet(legacy + "/payload")

    s2 = SparkVectorStore.load(legacy, spark)
    assert "qvec" in s2.doc_index.columns
    s2.add_texts(["new d"])  # unionByName must not fail on missing columns
    assert s2.get_document_count() == 4
    res = s2.similarity_search_with_score("new d", k=1)
    assert res[0][0]["page_content"] == "new d"


def test_concurrent_similarity_search_thread_safety(store):
    """Reference parity: tests/test_vectorstore.py:263-300 — concurrent
    similarity_search calls from many threads must all succeed and
    return consistent top-1 results (Spark sessions are thread-safe
    for read-only queries)."""
    import concurrent.futures

    def search(q):
        res = store.search_text(q, k=2)
        return (q, res[0].text if res else None)

    queries = [t.split()[1] for t in TEXTS] * 4  # 16 concurrent searches
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(search, queries))
    assert len(results) == 16
    # same query -> same top-1 across threads
    by_q = {}
    for q, top in results:
        by_q.setdefault(q, set()).add(top)
    assert all(len(tops) == 1 for tops in by_q.values()), by_q


def test_delete_by_texts_no_match_returns_false(spark):
    # reference index.py:389-397 returns False when nothing was found
    s = SparkVectorStore.from_texts(TEXTS, spark, metadatas=METAS)
    assert s.delete_by_texts(["not in the corpus at all"]) is False
    assert s.get_document_count() == len(TEXTS)


def test_ingest_plan_has_no_single_partition_stage(spark, monkeypatch):
    # The round-1 ingest funneled the embed UDF through coalesce(1) +
    # a global Window.orderBy — a single-reducer stage at scale. The
    # two-phase offset pattern (core/ids.py) must leave no Coalesce(1)
    # or global-sort Exchange in the materialized ingest lineage. A
    # batch large enough for >1 range partition (n_parts scales with
    # batch size) exercises the multi-partition path.
    import langchain_memvid_spark.core.store as store_mod

    rows_per_part = []

    def spy(df, *args, **kwargs):
        ids, pinned = real(df, *args, **kwargs)
        counts = pinned.groupBy("__pid").count().collect()
        rows_per_part.append(sorted(r["count"] for r in counts))
        return ids, pinned

    real = store_mod.sequential_ids
    monkeypatch.setattr(store_mod, "sequential_ids", spy)
    texts = [f"document number {i} about topic {i % 7}" for i in range(600)]
    s = SparkVectorStore.from_texts(texts, spark)
    plan = s._doc_index._jdf.queryExecution().toString()
    assert "Coalesce 1" not in plan and "coalesce(1)" not in plan
    # global window sort = Exchange SinglePartition feeding a Sort
    assert "SinglePartition" not in plan
    # the range-partitioned id stage (n_parts = 3 for 600 rows) sits
    # behind a localCheckpoint, so check its pinned input: the ids are
    # assigned over rows spread across more than one partition
    [parts] = rows_per_part
    assert len(parts) > 1 and sum(parts) == 600
    # ids are still the strict 0..n-1 sequence in batch order
    docs = s.get_all_documents()
    assert [d["doc_id"] for d in docs] == list(range(600))
    assert docs[0]["page_content"] == "document number 0 about topic 0"
    assert docs[599]["page_content"] == "document number 599 about topic 4"


def test_clear_resets_store(spark):
    s = SparkVectorStore.from_texts(["x", "y"], spark)
    assert s.get_document_count() == 2
    s.clear()
    assert s.get_document_count() == 0
    assert s.get_all_documents() == []
    # store is reusable after clear, ids restart at 0
    s.add_texts(["z"])
    assert [d["doc_id"] for d in s.get_all_documents()] == [0]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from langchain_memvid_spark.sources.compact import (
        compact_parquet,
        parquet_file_count,
    )

    path = str(tmp_path / "frag")
    # fragment: 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(path)
    assert parquet_file_count(path) == 40
    before = spark.read.parquet(path)
    total_before = before.count()
    sum_before = before.agg({"id": "sum"}).head()[0]

    n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert n < 40
    after = spark.read.parquet(path)
    assert after.count() == total_before
    assert after.agg({"id": "sum"}).head()[0] == sum_before


def test_delete_releases_superseded_cache(spark):
    """Each delete commits a new version and must release the one it
    replaces (cache entry and checkpoint blocks) and every checkpoint it
    took on the way (id pin, delete_by_texts' victims) before it
    returns: the persistent-RDD registry does not grow across deletes,
    with no GC in between."""
    s = SparkVectorStore.from_texts([f"doc {i}" for i in range(10)], spark)
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    for _ in range(3):
        s.delete_by_ids([0])
    assert s.delete_by_texts(["doc 9"]) is True
    assert s.delete_by_texts(["no such doc"]) is False
    assert len(jsc.getPersistentRDDs()) <= before
    assert s.get_document_count() == 6


def test_engine_column_filter_rejects_non_strings(spark):
    """source/category are STRING columns: a numeric/bool filter value
    would make ANSI mode (Spark 4 default) cast the COLUMN and throw on
    the first non-numeric row — the dialect rejects it up front."""
    from langchain_memvid_spark.core.store import metadata_predicate
    from langchain_memvid_spark.exceptions import FilterError

    with pytest.raises(FilterError):
        metadata_predicate({"source": 123})
    with pytest.raises(FilterError):
        metadata_predicate({"category": {"$in": ["a", True]}})
    with pytest.raises(FilterError):
        metadata_predicate({1: "x"})  # non-str key: FilterError, not TypeError


def test_hybrid_search_fuses_lexical_and_vector(store):
    """hybrid_search returns rrf-scored docs; the doc whose exact
    tokens match the query must surface even if embeddings disagree,
    and a self-match query puts that doc first (top of BOTH lists)."""
    res = store.hybrid_search(TEXTS[1], k=3)
    assert 1 <= len(res) <= 3
    assert res[0]["page_content"] == TEXTS[1]
    scores = [d["metadata"]["rrf_score"] for d in res]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # rrf of rank-1 in both lists is exactly 2/61
    assert abs(scores[0] - round(2 / 61, 6)) < 1e-9


def test_hybrid_search_empty_query_and_empty_store(spark):
    s = SparkVectorStore.from_texts(["only doc"], spark)
    assert s.hybrid_search("   ") == []
    s2 = SparkVectorStore.from_texts(["x"], spark)
    s2.delete_by_ids([0])
    assert s2.hybrid_search("x") == []


# ---------------------------------------------------------------------------
# IVF layout in the STORE's own search path (VERDICT r6 item 1): once
# the 30·nlist gate trains, similarity_search prunes to nprobe probed
# clusters at the FILE level — the user-facing API stops full-scanning.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivf_store(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    return s


def _brute_ids(spark, qvec, k=10):
    from pyspark.sql import functions as F

    from langchain_memvid_spark.functions.vector import dot

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = F.array(*[F.lit(float(x)) for x in qvec])
    rows = (
        emb.withColumn("s", dot(F.col("embedding"), q))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    return [r["vec_id"] for r in rows]


def _qvec(spark, vec_id=0):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return [float(x) for x in emb.filter(F.col("vec_id") == vec_id).head()["embedding"]]


def test_ivf_trains_past_gate(ivf_store):
    assert ivf_store.ivf_index is not None
    assert len(ivf_store.ivf_index.centroids) == 4
    assert "cluster_id" in ivf_store.doc_index.columns


def test_ivf_full_probe_equals_brute_force(spark, ivf_store):
    qvec = _qvec(spark)
    ivf_store.config.index.nprobe = 4  # nprobe = nlist → exact
    got = [r["doc_id"] for r in ivf_store._topk(qvec, 10).collect()]
    assert got == _brute_ids(spark, qvec)


def test_ivf_search_plan_has_partition_filter(spark, ivf_store):
    """The STORE's own search must show a file-level PartitionFilter on
    cluster_id — the 100 TB pruning claim, asserted on the plan."""
    qvec = _qvec(spark)
    ivf_store.config.index.nprobe = 2
    plan = ivf_store._topk(qvec, 10)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cluster_id" in line.split("PartitionFilters")[1][:80]


def test_ivf_partial_probe_recall(spark, ivf_store):
    qvec = _qvec(spark)
    ivf_store.config.index.nprobe = 2
    got = {r["doc_id"] for r in ivf_store._topk(qvec, 10).collect()}
    exact = set(_brute_ids(spark, qvec))
    assert 0 in got  # self-match lives in the probed (nearest) cluster
    assert len(got & exact) / 10 >= 0.3


def test_ivf_save_load_keeps_layout(spark, ivf_store, tmp_path):
    qvec = _qvec(spark)
    ivf_store.config.index.nprobe = 2
    before = [r["doc_id"] for r in ivf_store._topk(qvec, 10).collect()]
    path = str(tmp_path / "ivf_store")
    ivf_store.save(path)
    loaded = SparkVectorStore.load(path, spark, config=ivf_store.config)
    assert loaded.ivf_index is not None
    assert loaded.ivf_index.centroids == ivf_store.ivf_index.centroids
    plan = loaded._topk(qvec, 10)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert [r["doc_id"] for r in loaded._topk(qvec, 10).collect()] == before


def test_ivf_append_assigns_cluster_and_is_searchable(spark):
    """Appends after training land with a cluster_id (batch uses the
    same pure-Catalyst argmax as streaming ingest) and are findable."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="cosine", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    assert s.ivf_index is not None
    n0 = s.get_document_count()
    s.add_texts(["a brand new appended document"])
    assert s.get_document_count() == n0 + 1
    nulls = s.doc_index.filter("cluster_id IS NULL").count()
    assert nulls == 0
    res = s.similarity_search("a brand new appended document", k=1)
    assert res[0]["page_content"] == "a brand new appended document"


def test_ivf_delete_renumber_rewrites_layout(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    n0 = s.get_document_count()
    assert s.delete_by_ids([0, 1, 2])
    assert s.get_document_count() == n0 - 3
    ids = [r["doc_id"] for r in s.doc_index.select("doc_id").orderBy("doc_id").collect()]
    assert ids == list(range(n0 - 3))  # renumbered 0..n-1
    assert "cluster_id" in s.doc_index.columns
    assert s.doc_index.filter("cluster_id IS NULL").count() == 0


def test_typed_filter_special_float_literals(spark):
    """ADVICE r6: the JSON STRING "NaN" under a declared-string key
    must stay visible to string filters, and under a declared-double
    key must NOT match numeric filters; a BARE NaN stays numeric."""
    from pyspark.sql import functions as F

    from langchain_memvid_spark.core.store import metadata_predicate

    rows = [
        (0, '{"v": "NaN"}'),        # string "NaN"
        (1, '{"v": NaN}'),          # bare non-finite number
        (2, '{"v": "Infinity"}'),   # string "Infinity"
        (3, '{"v": 2.5}'),          # plain number
        (4, '{"v": "2.5"}'),        # numeric-looking string
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, metadata_json STRING")

    def ids(pred):
        return sorted(r["doc_id"] for r in df.filter(pred).collect())

    # declared string: the quoted literals match string equality
    assert ids(metadata_predicate({"v": "NaN"}, schema={"v": "string"})) == [0]
    assert ids(metadata_predicate({"v": "Infinity"}, schema={"v": "string"})) == [2]
    assert ids(metadata_predicate({"v": "2.5"}, schema={"v": "string"})) == [4]
    # declared double: quoted "NaN"/"Infinity" are NOT numbers; the
    # bare NaN is excluded from range matches by NaN semantics... but
    # Spark orders NaN above all doubles, so assert the quoted rows
    # specifically cannot sneak in via $gt
    gt = ids(metadata_predicate({"v": {"$gt": 1.0}}, schema={"v": "double"}))
    assert 0 not in gt and 2 not in gt
    assert 3 in gt
    eq = ids(metadata_predicate({"v": 2.5}, schema={"v": "double"}))
    assert eq == [3]


def test_ivf_batch_search_prunes_and_matches_flat(spark, ivf_store):
    """batch_search on an IVF store scans only the union of probed
    clusters; at nprobe=nlist it must equal the flat two-phase-off
    ranking (every cluster probed)."""
    from pyspark.sql import functions as F

    ivf_store.config.index.nprobe = 4  # = nlist -> exact
    texts = ["doc-0", "doc-7"]
    got = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in ivf_store.batch_search(texts, k=3).collect()
    }
    assert len(got) == 6
    # per-query rank 1 is the self-match (HashEmbeddings: same text,
    # ip metric on identical stored vector is the max by construction
    # only for cosine; here embeddings came from the parquet, so just
    # assert determinism and pruning instead)
    plan = ivf_store.batch_search(texts, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    ivf_store.config.index.nprobe = 2
    pruned = ivf_store.batch_search(texts, k=3)
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    pline = next(l for l in pplan.splitlines() if "PartitionFilters" in l)
    assert "cluster_id" in pline.split("PartitionFilters")[1][:120]


def test_add_dataframe_dedup_and_metadata(spark):
    """add_dataframe keeps add_texts' dedup semantics (first occurrence
    in batch by order_col, anti-join vs corpus) and extracts essential
    metadata from metadata_json_col."""
    from pyspark.sql import functions as F

    s = SparkVectorStore(spark)
    df = spark.createDataFrame(
        [
            (1, "alpha", '{"source":"s1","category":"c1"}'),
            (2, "beta", '{"source":"s2","category":"c2"}'),
            (3, "alpha", '{"source":"dup-loses","category":"x"}'),
        ],
        "pos LONG, txt STRING, mj STRING",
    )
    n = s.add_dataframe(df, text_col="txt", order_col="pos", metadata_json_col="mj")
    assert n == 2  # in-batch dup dropped, first occurrence kept
    docs = {d["page_content"]: d for d in s.get_all_documents()}
    assert docs["alpha"]["metadata"]["source"] == "s1"
    assert docs["beta"]["metadata"]["category"] == "c2"
    # corpus anti-join: re-adding the same frame ingests nothing
    assert s.add_dataframe(df, text_col="txt", order_col="pos", metadata_json_col="mj") == 0
    # order_col is mandatory (deterministic ids)
    with pytest.raises(IndexError_):
        s.add_dataframe(df, text_col="txt")


def test_ivf_composes_with_int8_first_pass(spark):
    """With IVF active AND rerank_candidates > 0, the store composes
    BOTH pruning layers: the scan shows a cluster_id PartitionFilter,
    and the phase-1 ReadSchema touches only the code columns (doc_id,
    qscale, qvec) — floats are read only for the re-rank join."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=2,
            ivf_min_points_factor=5, rerank_candidates=64,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    plan = s._topk(qvec, 10)._jdf.queryExecution().executedPlan().toString()
    # every scan in this plan is pruned (phase-1 codes scan AND re-rank scan)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("cluster_id" in l.split("PartitionFilters")[1][:80] for l in scans if "PartitionFilters" in l)
    # at least one scan reads ONLY the code columns (no embedding)
    code_only = [
        l for l in scans
        if "ReadSchema" in l and "qvec" in l.split("ReadSchema")[1] and "embedding" not in l.split("ReadSchema")[1]
    ]
    assert code_only, f"no code-only scan in plan:\n{plan}"


def test_store_ivf_index_keeps_raw_ip_metric(spark):
    """ADVICE r8: a store-owned IVFIndex carries the RAW config metric
    — on an ip store, ivf_index.search scores by DOT and agrees with
    the store's own _topk ranking (ip vectors are not normalized at
    ingest, so a cosine-scoring index would silently diverge) — while
    probing/assignment still collapse ip→cosine (one geometry for
    assignment and probing)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    assert s.ivf_index.metric == "ip"
    assert s.ivf_index._probe_metric() == "cosine"
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    via_store = [r["doc_id"] for r in s._topk(qvec, 10).collect()]
    via_index = [
        r["doc_id"]
        for r in s.ivf_index.search(
            spark, qvec, k=10, nprobe=4, id_col="doc_id", rerank_candidates=0
        ).collect()
    ]
    assert via_index == via_store


def test_ivf_rebuild_retrains_and_resizes(spark):
    """rebuild_ivf retrains on the current corpus (drift repair) and
    can resize nlist; the new layout stays exact at full probe."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    before = [r["doc_id"] for r in s._topk(qvec, 10).collect()]
    sizes4 = {r["cluster_id"]: r["n_docs"] for r in s.ivf_cluster_sizes().collect()}
    assert sum(sizes4.values()) == s.get_document_count() and len(sizes4) <= 4

    assert s.rebuild_ivf(nlist=8)
    assert len(s.ivf_index.centroids) == 8
    s.config.index.nprobe = 8  # full probe on the NEW layout -> same exact top-k
    assert [r["doc_id"] for r in s._topk(qvec, 10).collect()] == before
    assert s.doc_index.filter("cluster_id IS NULL").count() == 0


def test_ivf_compact_layout_consolidates_files(spark):
    """Appends fragment the layout (a file per touched cluster per
    batch); compact_ivf_layout rewrites to ~one file per cluster with
    identical contents and a still-pruned search plan."""
    from pyspark.sql import functions as F

    from langchain_memvid_spark.sources.compact import parquet_file_count

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    for i in range(3):  # fragment: each append adds files per cluster
        s.add_texts([f"extra doc {i} alpha", f"extra doc {i} beta"])
    before_files = parquet_file_count(s.ivf_index.path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    before = [r["doc_id"] for r in s._topk(qvec, 10).collect()]
    n_docs = s.get_document_count()

    after_files = s.compact_ivf_layout()
    assert after_files < before_files
    assert after_files <= 4 + 1  # ~one file per cluster dir
    assert s.get_document_count() == n_docs
    assert [r["doc_id"] for r in s._topk(qvec, 10).collect()] == before
    plan = s._topk(qvec, 10)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_ivf_delete_all_then_readd(spark):
    """Regression: deleting EVERY row of an IVF store left a layout
    version with zero parquet files, and the schema-less re-read threw
    AnalysisException. With the explicit layout schema the store
    survives a full wipe and accepts new documents."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="ip", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("d-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    assert s.delete_by_ids(list(range(s.get_document_count())))
    assert s.get_document_count() == 0
    assert s.similarity_search_by_vector([0.1] * 64, k=3) == []
    s.add_texts(["fresh doc after wipe"])
    assert s.get_document_count() == 1
    assert s.similarity_search("fresh doc after wipe", k=1)[0]["page_content"] == (
        "fresh doc after wipe"
    )


def test_ivf_l2_metric_full_probe_exact(spark):
    """l2 stores assign AND probe by squared distance (one geometry);
    at nprobe=nlist the pruned search equals the flat l2 ranking
    (ascending, lower=better)."""
    from pyspark.sql import functions as F

    from langchain_memvid_spark.functions.vector import l2_sq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="l2", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("d-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    assert s.ivf_index is not None
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [(r["doc_id"], round(r["similarity"], 4)) for r in s._topk(qvec, 10).collect()]
    q = F.array(*[F.lit(x) for x in qvec])
    want = [
        (r["vec_id"], round(r["d"], 4))
        for r in emb.withColumn("d", l2_sq(F.col("embedding"), q))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert got == want
    assert got[0][0] == 0 and got[0][1] == 0.0  # self-match at distance 0
    # partial probe: self-match survives (its own cluster is nearest)
    s.config.index.nprobe = 1
    assert s._topk(qvec, 1).collect()[0]["doc_id"] == 0


def test_per_call_nprobe_override(spark, ivf_store):
    """similarity_search(..., nprobe=n) overrides the configured probe
    count for one call without mutating config; nprobe=nlist recovers
    the exact result."""
    qvec = _qvec(spark)
    ivf_store.config.index.nprobe = 1
    exact = _brute_ids(spark, qvec)
    got_full = [
        d["doc_id"]
        for d in ivf_store.similarity_search_by_vector(qvec, k=10, nprobe=4)
    ]
    assert got_full == exact  # full probe via override, config untouched
    assert ivf_store.config.index.nprobe == 1
    got_1 = {d["doc_id"] for d in ivf_store.similarity_search_by_vector(qvec, k=10)}
    assert len(got_1) == 10  # configured nprobe=1 still answers
    # retriever threads nprobe through search_kwargs
    r = ivf_store.as_retriever(k=3, search_kwargs={"nprobe": 4})
    docs = r.invoke("doc-0")
    assert len(docs) == 3


def test_attach_derived_cols_survive_append(spark, tmp_path):
    """An attached layout whose FILES lack qvec/pvec/category (attach
    derives them in-plan) must keep those derivations after add_texts
    re-points the scan at the appended directory: the explicit-schema
    re-read fills NULL for the original files, and without the
    re-derivation the int8 first pass would silently drop the entire
    pre-append corpus (NULL scores sort last)."""
    from pyspark.sql import functions as F

    from langchain_memvid_spark.core.ivf import nearest_centroid_col
    from langchain_memvid_spark.embeddings import HashEmbeddings

    emb = HashEmbeddings(32)
    texts = [f"attach corpus doc {i}" for i in range(30)]
    base = spark.createDataFrame(
        [
            (i, t, f"s{i}.txt", '{"source": "s%d.txt"}' % i)
            for i, t in enumerate(texts)
        ],
        "doc_id LONG, text STRING, source STRING, metadata_json STRING",
    )
    tbl = base.withColumn("embedding", emb.udf()(F.col("text"))).withColumn(
        "metadata_hash", F.sha2(F.col("metadata_json"), 256)
    )
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(
            tbl.filter(F.col("doc_id").isin(0, 15)).orderBy("doc_id").collect()
        )
    ]
    tbl = tbl.withColumn("cluster_id", nearest_centroid_col(F.col("embedding"), cents))
    path = str(tmp_path / "ext_table")
    tbl.write.partitionBy("cluster_id").parquet(path)  # NO qvec/pvec/category

    cfg = EngineConfig(
        index=IndexConfig(
            metric="cosine", ivf=True, nlist=2, nprobe=2,
            ivf_min_points_factor=5, rerank_candidates=8,
        )
    )
    store = SparkVectorStore.attach(
        path, spark, embeddings=emb, config=cfg, centroids=cents
    )
    assert store._layout_derived
    assert store.similarity_search(texts[7], k=1)[0]["page_content"] == texts[7]

    store.add_texts(["a brand new appended doc"])
    assert store.get_document_count() == 31
    # the re-pointed scan re-derives codes for the ORIGINAL files
    assert store.doc_index.filter(F.col("qvec").isNull()).count() == 0
    assert store.similarity_search(texts[7], k=1)[0]["page_content"] == texts[7]
    got = store.similarity_search("a brand new appended doc", k=1)
    assert got[0]["page_content"] == "a brand new appended doc"


def test_typed_filter_key_charset(spark):
    """Keys are data, not regex: the one non-alphanumeric char the
    identifier rule admits ('-') must evaluate literally through the
    typed extraction (it reaches an rlike), and keys outside the rule
    raise loudly at BOTH boundaries — the filter AND the schema
    declaration — instead of throwing PatternSyntaxException or
    silently mis-matching inside the plan."""
    from langchain_memvid_spark.exceptions import FilterError

    s = SparkVectorStore(spark, metadata_schema={"price-usd": "double"})
    s.add_texts(["cheap doc", "dear doc"], [{"price-usd": 1.0}, {"price-usd": 9.0}])
    res = s.similarity_search_with_score(
        "doc", k=5, filter={"price-usd": {"$gt": 2.0}}
    )
    assert [d["metadata"]["price-usd"] for d, _ in res] == [9.0]

    with pytest.raises(FilterError):  # schema key rejected AT DECLARATION
        SparkVectorStore(spark, metadata_schema={"price(usd)": "double"})
    with pytest.raises(FilterError):  # filter key rejected at the filter
        s.similarity_search_with_score("x", k=1, filter={'we"ird': {"$gt": 0.0}})


def test_ivf_rebuild_refused_keeps_nlist(ivf_store):
    """A rebuild the training gate refuses must not leave config
    claiming an nlist the live layout never got."""
    before = ivf_store.config.index.nlist
    assert ivf_store.rebuild_ivf(nlist=10_000) is False
    assert ivf_store.config.index.nlist == before
    assert ivf_store.ivf_index is not None  # live layout untouched


def test_retriever_nprobe_reaches_all_search_types(spark, ivf_store, monkeypatch):
    """search_kwargs['nprobe'] must reach the store for EVERY
    search_type, not just plain similarity."""
    seen = {}
    orig_mmr = ivf_store.max_marginal_relevance_search

    def spy_mmr(query, **kw):
        seen["mmr"] = kw.get("nprobe")
        return orig_mmr(query, **kw)

    monkeypatch.setattr(ivf_store, "max_marginal_relevance_search", spy_mmr)
    r = ivf_store.as_retriever(search_type="mmr", k=2, search_kwargs={"nprobe": 4})
    assert len(r.invoke("doc-0")) == 2
    assert seen["mmr"] == 4

    orig_rel = ivf_store.similarity_search_with_relevance_scores

    def spy_rel(query, **kw):
        seen["thr"] = kw.get("nprobe")
        return orig_rel(query, **kw)

    monkeypatch.setattr(
        ivf_store, "similarity_search_with_relevance_scores", spy_rel
    )
    r = ivf_store.as_retriever(
        search_type="similarity_score_threshold",
        k=2,
        search_kwargs={"score_threshold": 0.0, "nprobe": 4},
    )
    r.invoke("doc-0")
    assert seen["thr"] == 4


def test_async_search_accepts_nprobe(ivf_store):
    """Per-call nprobe parity across the async surface (the sync
    methods all take it; the async wrappers must too)."""
    import asyncio

    got = asyncio.run(ivf_store.asimilarity_search_with_score("doc-0", k=3, nprobe=4))
    assert len(got) == 3
    got = asyncio.run(
        ivf_store.asimilarity_search_by_vector(
            [float(i) for i in range(64)], k=2, nprobe=4
        )
    )
    assert len(got) == 2
    got = asyncio.run(ivf_store.asimilarity_search("doc-0", k=2, nprobe=4))
    assert len(got) == 2


def test_load_corrupt_centroids_raises(spark, ivf_store, tmp_path):
    """A PRESENT but unreadable ivf_centroids table is corruption and
    must raise StorageError — only a genuinely MISSING table may fall
    back to the flat layout (that silent-degradation path is exactly
    what the Spark-side probe exists to avoid)."""
    import os
    import shutil

    from langchain_memvid_spark.exceptions import StorageError

    path = str(tmp_path / "st")
    ivf_store.save(path)
    cdir = os.path.join(path, "ivf_centroids")
    shutil.rmtree(cdir)
    os.makedirs(cdir)  # present but empty -> UNABLE_TO_INFER_SCHEMA
    with pytest.raises(StorageError):
        SparkVectorStore.load(path, spark)


def test_empty_input_contracts_match_reference(spark):
    """The reference raises ValueError on empty add/delete inputs
    (vectorstore.py:195,310,368 and its tests) — silent no-ops would
    hide caller bugs; match the loud contract exactly."""
    s = SparkVectorStore.from_texts(["a", "b"], spark)
    with pytest.raises(ValueError, match="No texts provided to add"):
        s.add_texts([])
    with pytest.raises(ValueError, match="No document IDs provided to delete"):
        s.delete_by_ids([])
    with pytest.raises(ValueError, match="No texts provided to delete"):
        s.delete_by_texts([])
    with pytest.raises(ValueError, match="No texts provided to delete"):
        s.delete_documents([])


def test_storage_stats_reference_shape(spark):
    """≙ reference test_get_storage_stats_returns_storage_stats and
    the stats dataclass cases (tests/test_vectorstore.py:448-520): the
    reference-named accessors expose its full StorageStats field
    surface, computed from REAL bytes instead of its hard-coded
    estimates (vectorstore.py:858-859)."""
    s = SparkVectorStore.from_texts(TEXTS, spark, metadatas=METAS)
    st = s.get_storage_stats()
    assert st.total_documents == st.document_count == 4
    assert st.index_size_mb == pytest.approx(st.index_bytes / 1048576)
    assert st.video_file_size_mb == pytest.approx(st.payload_bytes / 1048576)
    assert st.full_metadata_size_mb == st.video_file_size_mb
    assert st.redundancy_percentage == pytest.approx(
        st.index_bytes / st.payload_bytes * 100.0
    )
    assert st.storage_efficiency == "hybrid"
    fm = st.frame_mapping_stats
    assert fm.total_documents == 4 and fm.mapped_documents == 4
    assert fm.mapping_coverage == 100.0
    # per-batch build record (≙ Encoder.build_video's BuildStats)
    bs = s.last_build_stats
    assert bs.total_chunks == 4
    assert bs.encoding_time > 0
    assert bs.video_size_mb == pytest.approx(st.payload_bytes / 1048576)
    assert bs.index_path is None  # flat store: no IVF layout yet


def test_similarity_search_thread_safety(spark):
    """≙ reference test_similarity_search_thread_safety
    (tests/test_vectorstore.py:266): concurrent searches over one
    store return each thread's own correct result."""
    import concurrent.futures

    s = SparkVectorStore.from_texts([f"tdoc {i}" for i in range(20)], spark)
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        futs = {
            i: ex.submit(s.similarity_search_with_score, f"tdoc {i}", 3)
            for i in range(12)
        }
        for i, fut in futs.items():
            res = fut.result(timeout=120)
            assert len(res) == 3
            assert res[0][0]["page_content"] == f"tdoc {i}"


def test_near_dedup_ingest_gate(spark):
    """IndexConfig(near_dedup=True): a batch doc whose MinHash-estimated
    Jaccard vs an existing corpus doc clears the threshold is dropped at
    ingest (on top of the exact anti-join); novel docs ingest; the
    signatures persist as mh0..mh7 columns so the NEXT batch gates
    against stored longs."""
    cfg = EngineConfig(index=IndexConfig(near_dedup=True, near_dedup_threshold=0.5))
    store = SparkVectorStore(spark, config=cfg)
    corpus = [
        "the quick brown fox jumps over the lazy dog today",
        "completely different corpus material about spark engines",
    ]
    store.add_texts(corpus)
    assert store.get_document_count() == 2
    idx = store._doc_index
    assert "mh0" in idx.columns
    assert idx.filter(idx["mh0"].isNull()).count() == 0
    batch = [
        corpus[0],                                                  # exact dup
        "the quick brown fox jumps over the lazy dog yesterday",    # near dup
        "entirely novel text with no overlap whatsoever anywhere",  # novel
    ]
    store.add_texts(batch)
    texts = {r["text"] for r in store._doc_index.select("text").collect()}
    assert store.get_document_count() == 3
    assert batch[2] in texts and batch[1] not in texts
    # second batch gates against the PERSISTED signatures of batch 1's
    # survivor too, not only the original corpus
    store.add_texts(["entirely novel text with no overlap whatsoever anytime"])
    assert store.get_document_count() == 3


def test_near_dedup_off_keeps_near_duplicates(spark):
    """Default config: only exact dedup applies — the near-dup pair both
    ingest, and the signature columns still persist (engine columns,
    like the int8 codes)."""
    store = SparkVectorStore(spark)
    store.add_texts([
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog yesterday",
    ])
    assert store.get_document_count() == 2
    assert "mh0" in store._doc_index.columns


def test_near_dedup_survives_save_load_and_legacy_backfill(spark, tmp_path):
    """Round trip keeps the stored signatures; a legacy save WITHOUT
    mh columns backfills by signing once at load, and the gate works
    on the loaded store."""
    cfg = EngineConfig(index=IndexConfig(near_dedup=True))
    store = SparkVectorStore(spark, config=cfg)
    store.add_texts([
        "the quick brown fox jumps over the lazy dog today",
        "completely different corpus material about spark engines",
    ])
    p = str(tmp_path / "nd_store")
    store.save(p)
    loaded = SparkVectorStore.load(p, spark, config=cfg)
    assert "mh0" in loaded._doc_index.columns
    loaded.add_texts(["the quick brown fox jumps over the lazy dog yesterday"])
    assert loaded.get_document_count() == 2  # near dup gated after round trip
    # legacy save: strip the signature columns and re-save
    legacy = str(tmp_path / "legacy_store")
    stripped = store._doc_index.drop(*[f"mh{j}" for j in range(8)])
    stripped.write.parquet(legacy + "/doc_index")
    store._payload.write.parquet(legacy + "/payload")
    from_legacy = SparkVectorStore.load(legacy, spark, config=cfg)
    assert from_legacy._doc_index.filter("mh0 IS NULL").count() == 0
    from_legacy.add_texts(["the quick brown fox jumps over the lazy dog yesterday"])
    assert from_legacy.get_document_count() == 2


def test_similarity_join_full_probe_matches_batch_search(spark, ivf_store):
    """similarity_join (query TABLE) at nprobe=nlist returns the same
    per-query doc ranking batch_search (collected queries) returns —
    the two batch surfaces cannot diverge."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 7, 21])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf_store.config.index.nprobe = 4  # = nlist -> exact
    got = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in ivf_store.similarity_join(queries, k=5).collect()
    }
    want = {}
    for qid in (0, 7, 21):
        qvec = _qvec(spark, qid)
        for r in ivf_store._topk(qvec, 5).collect():
            want[(qid, len([k_ for k_ in want if k_[0] == qid]) + 1)] = r["doc_id"]
    assert got == want


def test_similarity_join_prunes_scan_and_guards_unclustered(spark, ivf_store):
    """Partial-probe similarity_join must show a file-level
    PartitionFilter on cluster_id (the probe union), and an unclustered
    store must refuse an over-broadcast-limit query table instead of
    cross-joining it."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf_store.config.index.nprobe = 2
    out = ivf_store.similarity_join(queries, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    # EVERY layout scan in the plan must be pruned — including the text
    # join-back (an unpruned doc_id/text scan would defeat the probing)
    for line in pf_lines:
        assert "cluster_id" in line.split("PartitionFilters")[1][:120], line
    # every query still gets k ranked hits (probe union covers them)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 3 for r in rows)

    flat = SparkVectorStore(
        spark,
        config=EngineConfig(index=IndexConfig(metric="ip", rerank_candidates=0)),
    )
    flat.add_texts(["alpha beta gamma delta epsilon zeta eta theta iota"])
    with pytest.raises(ValueError, match="unclustered"):
        flat.similarity_join(queries, k=3, n_queries=2_000_000)


def test_config_is_copied_not_shared(spark):
    """The store OWNS a deep copy of its config (ADVICE r7): rebuild_ivf
    writes the live nlist back into config.index, which must never leak
    into the caller's object or a sibling store built from it."""
    cfg = EngineConfig(index=IndexConfig(dim=64, ivf=True, nlist=4, nprobe=4,
                                         ivf_min_points_factor=5))
    s1 = SparkVectorStore(spark, config=cfg)
    s2 = SparkVectorStore(spark, config=cfg)
    s1.config.index.nlist = 99
    assert cfg.index.nlist == 4
    assert s2.config.index.nlist == 4


def test_ivf_load_append_does_not_mutate_save(spark, tmp_path):
    """Appending to a load()ed IVF store must NOT write into the saved
    snapshot (ADVICE r7): the first append copies the layout into the
    store's own versioned root, so a second load of the same path sees
    the original corpus."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = EngineConfig(
        index=IndexConfig(
            metric="cosine", ivf=True, nlist=4, nprobe=4,
            ivf_min_points_factor=5, rerank_candidates=0,
        )
    )
    s = SparkVectorStore(spark, config=cfg)
    s.add_dataframe(
        emb.withColumn("t", F.concat(F.lit("doc-"), F.col("vec_id"))),
        text_col="t", order_col="vec_id", embedding_col="embedding",
    )
    n0 = s.get_document_count()
    path = str(tmp_path / "snap")
    s.save(path)

    loaded = SparkVectorStore.load(path, spark, config=cfg)
    assert loaded._layout_foreign is True
    loaded.add_texts(["appended after load"])
    assert loaded.get_document_count() == n0 + 1
    assert loaded._layout_foreign is False
    # the live layout moved OUT of the save path
    import os
    assert os.path.realpath(loaded.ivf_index.path) != os.path.realpath(
        os.path.join(path, "doc_index")
    )
    # the appended doc is searchable through the pruned layout
    res = loaded.similarity_search("appended after load", k=1)
    assert res[0]["page_content"] == "appended after load"

    # ...and the SNAPSHOT is untouched: a fresh load sees the original
    again = SparkVectorStore.load(path, spark, config=cfg)
    assert again.get_document_count() == n0


def test_explain_search_tracks_actual_plan(spark, ivf_store):
    """explain_search (VERDICT r7 item 8) must report the decision the
    executed plan actually makes: strategy == 'ivf_pruned' iff the df
    carries the file-level PartitionFilters prune, and the df's rows
    equal similarity_search's for the same arguments."""
    qvec = _qvec(spark)
    plan = ivf_store.explain_search(qvec=qvec, k=5, nprobe=2)
    assert plan.strategy == "ivf_pruned"
    assert "probes" in plan.reason
    phys = plan.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in phys
    got = [r["doc_id"] for r in plan.df.collect()]
    want = [r["doc_id"] for r in ivf_store._topk(qvec, 5, nprobe=2).collect()]
    assert got == want

    # flat store: brute_force, and no partition pruning to claim
    flat = SparkVectorStore(spark, config=EngineConfig(index=IndexConfig(dim=64)))
    flat.add_texts(["alpha", "beta", "gamma"])
    fplan = flat.explain_search(query="alpha", k=2)
    assert fplan.strategy == "brute_force"
    assert "flat corpus" in fplan.reason
    fphys = fplan.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" not in fphys
    assert [r["doc_id"] for r in fplan.df.collect()][0] == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ivf_store.explain_search()
    with _pytest.raises(ValueError):
        ivf_store.explain_search("text", qvec=qvec)


def test_explain_batch_paths_track_actual_plan(spark, ivf_store):
    """VERDICT r8 item 6: the BATCH paths expose the same AnnPlan the
    single-query explainer does — strategy == 'ivf_pruned' iff the df
    carries the file-level PartitionFilters prune, the reason names
    the probed cluster count and the query-side kernel pick, and the
    df's rows equal the un-explained API's."""
    texts = ["doc-0", "doc-5", "doc-9"]
    plan = ivf_store.explain_batch_search(texts, k=3)
    assert plan.strategy == "ivf_pruned"
    assert "probes" in plan.reason and "broadcast" in plan.reason
    phys = plan.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in phys
    got = [(r["query_id"], r["rank"], r["doc_id"]) for r in plan.df.collect()]
    want = [
        (r["query_id"], r["rank"], r["doc_id"])
        for r in ivf_store.batch_search(texts, k=3).collect()
    ]
    assert got == want

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    jplan = ivf_store.explain_similarity_join(queries, k=3, n_queries=5)
    assert jplan.strategy == "ivf_pruned"
    assert "clusters" in jplan.reason and "broadcast" in jplan.reason
    jphys = jplan.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in jphys
    jgot = {
        (r["query_id"], r["rank"]): r["doc_id"] for r in jplan.df.collect()
    }
    jwant = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in ivf_store.similarity_join(queries, k=3, n_queries=5).collect()
    }
    assert jgot == jwant

    # flat store: brute_force on both batch paths, no pruning to claim
    flat = SparkVectorStore(spark, config=EngineConfig(index=IndexConfig(dim=64)))
    flat.add_texts(["alpha", "beta", "gamma"])
    fplan = flat.explain_batch_search(["alpha"], k=2)
    assert fplan.strategy == "brute_force" and "flat corpus" in fplan.reason
    assert "PartitionFilters" not in fplan.df._jdf.queryExecution().executedPlan().toString()


def test_store_session_reads_no_python_rdd(spark):
    """Rows the driver holds (staged batch, id offsets, query vectors,
    delete keys, empty versions) enter plans as local relations: no SQL
    execution of a store session scans a pickled PythonRDD."""
    sc = spark.sparkContext._jsc.sc()
    status = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        execs = status.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    spark.range(1).collect()
    last = executions()[-1].executionId()
    s = SparkVectorStore.from_texts(TEXTS, spark, metadatas=METAS)
    s.add_texts(["Spark streams micro-batches", TEXTS[0]])
    assert s.delete_by_ids([1]) is True
    assert s.delete_by_texts([TEXTS[2]]) is True
    hits = s.batch_search([TEXTS[0], "spark"], k=2).collect()
    assert {r["query_id"] for r in hits} == {0, 1}
    assert s.get_document_count() == 3
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > last]
    assert len(plans) >= 5
    assert not [p for p in plans if "applySchemaToPythonRDD" in p]


def test_warm_store_calls_compile_nothing(spark):
    """After one call of each kind, calls with new ids, new texts and a
    new query text reuse the session's codegen classes, also an add to
    a store whose size has changed: per-call values reach the generated
    code as array literals or rows, never as Java source.  Answers
    match a plain-Python model of the store."""
    model = [f"warm doc {i} on subject {i % 5}" for i in range(40)]
    s = SparkVectorStore.from_texts(model, spark)

    def top3(text):
        vecs = np.array(HashEmbeddings().embed_documents(model))
        sims = vecs @ np.array(HashEmbeddings().embed_query(text))
        return [model[i] for i in np.argsort(-sims, kind="stable")[:3]]

    def calls(lookup_ids, added, delete_ids, text):
        got = s.get_documents_by_ids(lookup_ids)
        s.add_texts(added)
        model.extend(added)
        assert s.delete_by_ids(delete_ids) is True
        for i in sorted(delete_ids, reverse=True):
            del model[i]
        hits = s.similarity_search(text, k=3)
        return got, hits

    calls([1, 2, 3, 4, 5], ["first note", "second note", "third note"], [7, 11], model[3])
    text = model[9]
    expected = [(i, model[i]) for i in (6, 13, 20, 27, 30)]
    before = codegen_compiles(spark)
    got, hits = calls(
        [6, 13, 20, 27, 30], ["fourth remark", "fifth one"], [0, 19, 25], text
    )
    assert codegen_compiles(spark) == before
    assert [(d["doc_id"], d["page_content"]) for d in got] == expected
    assert [d["page_content"] for d in hits] == top3(text)
    assert [d["page_content"] for d in s.get_all_documents()] == model
