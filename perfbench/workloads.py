"""The two workloads, driven only through the engine's public entry
points: `QUERIES[name].fn` plus a collect, and the `SparkVectorStore`
methods.

Inputs are the project's seed-42 fixture tables, copied under
`fixture/`: the queries read `fixture/sf0.01`, and the store draws its
documents from `fixture/sf0.1/documents.parquet`.  The run's seed picks
only the rotation of the query list and the store's texts, search
strings and lookup/delete ids.

Each workload exposes
- ``warm_ops(spark)``: the set-up pass, every operation once;
- ``ops(spark)``: the operations of one measured pass, in order.
An `Op` carries the call to time and a check that runs outside the
timed span.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_DATA = os.path.join(HERE, "fixture", "sf0.01")
STORE_DOCUMENTS = os.path.join(HERE, "fixture", "sf0.1", "documents.parquet")

# Registry entries of the `curation` workload, by the layer that does
# their work.  q21 and cohort_retention are relational plans written
# inline in the registry.  The bounded video stream (the streaming
# runner, streaming.media and multimodal) stands in for the
# stream_gates workload, which the run-time budget leaves out.
CURATION = {
    "q18_large_orders": "operators.relational",
    "q21_sole_late_supplier": "operators.relational",
    "cohort_retention": "operators.relational",
    "dedup_clusters": "operators.dedup",
    "knn_graph_topk": "operators.dedup",
    "bm25_batch": "operators.ranking",
    "stream_video_contains_clip": "streaming.media",
}
OPERATOR_GROUPS = ("operators.dedup", "operators.relational", "operators.ranking")
STREAMS = tuple(q for q, g in CURATION.items() if g.startswith("streaming"))

STORE_METHODS = (
    "from_texts",
    "similarity_search",
    "get_documents_by_ids",
    "add_texts",
    "delete_by_ids",
    "get_storage_stats",
)
STORE_DOCS = 500
STORE_SEARCHES = 100  # p90 then has ten samples beyond it
STORE_LOOKUP_EVERY = 20  # searches per id lookup
STORE_NEW_DOCS = 20
STORE_DELETE_IDS = 3
WARM_DOCS = 20
WARM_SEARCHES = 3
SIMILARITY_FLOOR = 0.999


@dataclass
class Op:
    name: str  # the call being timed, e.g. a query or store method
    call: Callable[[], Any]
    check: Callable[[Any], tuple[bool, str]]


def _rotated(names, seed: int) -> list[str]:
    names = list(names)
    k = seed % len(names)
    return names[k:] + names[:k]


class QueryWorkload:
    """Passes over registry queries; each result is collected (timed)
    and compared with its DuckDB oracle (not timed)."""

    min_passes = 1

    def __init__(self, names, seed: int, data_dir: str = QUERY_DATA):
        from check_queries import duck_con

        self.order = _rotated(names, seed)
        self.data_dir = data_dir
        self._duck = duck_con(data_dir)
        self._oracle: dict[str, Any] = {}

    def _run(self, spark, name: str):
        from langchain_memvid_spark.plans.registry import QUERIES

        return QUERIES[name].fn(spark, self.data_dir).toPandas()

    def _check(self, name: str, got) -> tuple[bool, str]:
        from check_queries import compare
        from langchain_memvid_spark.plans.registry import QUERIES

        if name not in self._oracle:
            self._oracle[name] = self._duck.sql(QUERIES[name].oracle).df()
        return compare(got, self._oracle[name])

    def ops(self, spark) -> list[Op]:
        return [
            Op(n, lambda n=n: self._run(spark, n), lambda r, n=n: self._check(n, r))
            for n in self.order
        ]

    warm_ops = ops


class StoreModel:
    """What the store should hold: texts in id order.  Adds append,
    deletes drop ids and renumber the survivors 0..n-1 in order."""

    def __init__(self, texts: list[str]):
        self.texts = list(texts)

    def add(self, texts: list[str]) -> None:
        self.texts += texts

    def delete(self, ids: list[int]) -> None:
        gone = set(ids)
        self.texts = [t for i, t in enumerate(self.texts) if i not in gone]


def store_inputs(seed: int, path: str = STORE_DOCUMENTS) -> tuple[list[str], list[str]]:
    """The store's documents and the held-out texts its adds draw from,
    both chosen by the seed from the fixture's distinct document texts."""
    import pyarrow.parquet as pq

    pool = list(dict.fromkeys(pq.read_table(path, columns=["text"]).column("text").to_pylist()))
    pick = np.random.default_rng(seed).permutation(len(pool))
    return [pool[i] for i in sorted(pick[:STORE_DOCS])], [pool[i] for i in pick[STORE_DOCS:]]


class StoreWorkload:
    """One pass builds a fresh store from seed-chosen documents, then
    runs a closed mixed loop of searches, lookups, an add, a delete and
    a stats call, checking each answer against `StoreModel`."""

    min_passes = 1  # one pass already holds a hundred searches

    def __init__(self, seed: int):
        self.texts, self.held_out = store_inputs(seed)
        self.seed = seed

    def warm_ops(self, spark):
        """The same loop on a smaller store, every method once except
        add_texts, which reruns from_texts' ingest path and would add a
        whole write to every run's set-up."""
        return self._loop(spark, self.texts[:WARM_DOCS], WARM_SEARCHES, WARM_SEARCHES, add=False)

    def ops(self, spark):
        return self._loop(spark, self.texts, STORE_SEARCHES, STORE_LOOKUP_EVERY)

    def _loop(self, spark, texts: list[str], n_searches: int, lookup_every: int, add: bool = True):
        from langchain_memvid_spark import SparkVectorStore

        rng = np.random.default_rng(self.seed)
        state: dict[str, Any] = {}
        model = StoreModel(texts)
        new_texts = iter(self.held_out)
        metas = [
            {"source": f"src{i % 20}", "category": f"c{i % 7}", "id": i}
            for i in range(len(texts))
        ]

        def count_is(what: str):
            def check(_):
                got = state["store"].get_document_count()
                return got == len(model.texts), f"{what}: count {got}, model {len(model.texts)}"
            return check

        def ingest():
            state["store"] = SparkVectorStore.from_texts(texts, spark, metadatas=metas)
            return state["store"]

        def search_op():
            text = model.texts[int(rng.integers(0, len(model.texts)))]

            def check(res):
                hit = any(
                    d["page_content"] == text and d["metadata"]["similarity"] >= SIMILARITY_FLOOR
                    for d in res
                )
                return hit and len(res) == 10, f"exact-text search found itself: {hit}, {len(res)} hits"

            return Op("similarity_search",
                      lambda: state["store"].similarity_search(text, k=10), check)

        def lookup_op():
            ids = sorted({int(i) for i in rng.integers(0, len(model.texts), 5)})

            def check(res):
                want = [(i, model.texts[i]) for i in ids]
                got = [(d["doc_id"], d["page_content"]) for d in res]
                return got == want, f"lookup {ids}: {len(got)} rows, match {got == want}"

            return Op("get_documents_by_ids",
                      lambda: state["store"].get_documents_by_ids(ids), check)

        def add_op():
            new = [next(new_texts) for _ in range(STORE_NEW_DOCS)]

            def call():
                out = state["store"].add_texts(new)
                model.add(new)
                return out

            return Op("add_texts", call, count_is("add_texts"))

        def delete_op():
            ids = sorted({int(i) for i in rng.choice(len(model.texts), STORE_DELETE_IDS, replace=False)})

            def call():
                out = state["store"].delete_by_ids(ids)
                model.delete(ids)
                return out

            return Op("delete_by_ids", call, count_is("delete_by_ids"))

        def stats_op():
            def check(stats):
                return stats.document_count == len(model.texts), f"stats count {stats.document_count}"

            return Op("get_storage_stats",
                      lambda: state["store"].get_storage_stats(), check)

        # The loop is built lazily: each op picks its texts and ids from
        # the model as it stands when the op is reached.  The add comes
        # a third of the way through the searches, the delete two thirds.
        yield Op("from_texts", ingest, count_is("from_texts"))
        writes = [add_op, delete_op] if add else [delete_op]
        for s in range(n_searches):
            yield search_op()
            if s % lookup_every == lookup_every - 1:
                yield lookup_op()
            if writes and s + 1 == n_searches * (3 - len(writes)) // 3:
                yield writes.pop(0)()
        yield stats_op()


def make(name: str, seed: int):
    if name == "curation":
        return QueryWorkload(CURATION, seed)
    if name == "store_mixed":
        return StoreWorkload(seed)
    raise ValueError(f"unknown workload {name!r}")
