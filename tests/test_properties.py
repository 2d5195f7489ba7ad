"""Property-based tests (hypothesis) — semantics checked against plain
Python references on randomized inputs. Goes beyond the reference's
test strategy (SURVEY.md §5: no property-based testing there); settings
are derandomized so runs are reproducible."""

import bisect

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from langchain_memvid_spark.exceptions import ConfigError
from langchain_memvid_spark.operators.asof import asof_join
from langchain_memvid_spark.operators import dedup, joinopt

SET = settings(max_examples=6, deadline=None, derandomize=True)

_spark = None


def _get_spark(spark):
    # session-scoped fixture handle for use inside @given bodies
    global _spark
    _spark = spark
    return spark


@given(
    lefts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25),
    rights=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=25),
    strict=st.booleans(),
)
@SET
def test_asof_join_matches_bisect_reference(spark_handle, lefts, rights, strict):
    """asof_join == per-key bisect over sorted right timestamps, for
    random keys/timestamps including exact ts ties."""
    spark = spark_handle
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(1000 + j, k, t) for j, (k, t) in enumerate(rights)], "rid long, k long, ts long"
    )
    out = asof_join(left, right, on="k", strict=strict)
    got = {r["lid"]: r["r_rid"] for r in out.collect()}

    # python reference: per key, latest right with ts <= (or <) left ts;
    # ties between right rows at the same ts broken by latest (rid order
    # follows input order via stable sort, matching the window's
    # last-wins over (__t, __flag) ordering)
    by_key = {}
    for j, (k, t) in enumerate(rights):
        by_key.setdefault(k, []).append((t, 1000 + j))
    for k in by_key:
        by_key[k].sort(key=lambda p: (p[0],))
    want = {}
    for i, (k, t) in enumerate(lefts):
        cands = by_key.get(k, [])
        ts_only = [c[0] for c in cands]
        idx = (bisect.bisect_left if strict else bisect.bisect_right)(ts_only, t)
        want[i] = cands[idx - 1][1] if idx > 0 else None
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=30
    )
)
@SET
def test_exact_dedup_keeps_min_id_per_fingerprint(spark_handle, texts):
    """exact_dedup groups by normalized text and keeps the smallest
    doc_id; group sizes must sum to the corpus size."""
    spark = spark_handle
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = dedup.exact_dedup(df).collect()

    def norm(t):
        return " ".join((t or "").lower().split())

    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    assert len(rows) == len(groups)
    by_keep = {r["keep_doc_id"]: r["dup_count"] for r in rows}
    assert by_keep == {min(v): len(v) for v in groups.values()}


def _check_components(spark, n, pairs):
    """dedup_clusters labels == a plain union-find reference, with
    ``_LOCAL_EDGES`` at its shipped value, at 0 (every round
    distributed) and at half the edge count (contract, then solve
    locally)."""
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
    norm_pairs = [(min(a, b), max(a, b)) for a, b in pairs]
    edges = spark.createDataFrame(norm_pairs or [(0, 0)], "a_id long, b_id long")
    if not norm_pairs:
        edges = edges.filter(F.col("a_id") != F.col("b_id"))

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j in range(n) if find(j) == find(i)) for i in range(n)}

    for local_edges in (dedup._LOCAL_EDGES, 0, len(set(norm_pairs)) // 2):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_LOCAL_EDGES", local_edges)
            labels = dedup.dedup_clusters(docs, pairs=edges)
            got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        assert got == want, local_edges


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=20,
    )
)
@SET
def test_dedup_clusters_match_union_find(spark_handle, pairs):
    """Connected-component labels == a plain union-find reference on
    random edge sets (self-loops excluded by construction)."""
    _check_components(spark_handle, 15, pairs)


@given(order=st.permutations(range(24)), hub=st.integers(0, 23))
@settings(max_examples=3, deadline=None, derandomize=True)
def test_dedup_clusters_path_and_hub_match_union_find(spark_handle, order, hub):
    """The two extreme shapes: one long path over shuffled ids
    (diameter 23) and one hub joined to every other node."""
    _check_components(spark_handle, 24, list(zip(order, order[1:])))
    _check_components(spark_handle, 24, [(hub, j) for j in range(24) if j != hub])


def _chain(spark, n):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a_id long, b_id long")
    return docs, edges


def test_star_contraction_chain_round_count(spark, monkeypatch):
    """A 64-node path graph has diameter 63; forced through the star
    rounds (``_LOCAL_EDGES = 0``) it must converge in O(log n) rounds,
    far under the diameter: with max_iter=10 more rounds would raise."""
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
    docs, edges = _chain(spark, 64)
    labels = dedup.dedup_clusters(docs, pairs=edges, max_iter=10)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}  # log2(64)=6 rounds + convergence slack


def test_dedup_clusters_raises_when_rounds_run_out(spark, monkeypatch):
    """max_iter rounds that leave the graph above ``_LOCAL_EDGES``
    raise instead of returning unconverged labels."""
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
    docs, edges = _chain(spark, 64)
    with pytest.raises(ConfigError, match="max_iter"):
        dedup.dedup_clusters(docs, pairs=edges, max_iter=1)


def test_star_rounds_pin_one_checkpoint(spark, monkeypatch):
    """Each star round releases the edge checkpoint it replaced and its
    large-star step, so a run of several rounds leaves at most one
    persistent RDD: the edge set the lazy labels plan reads."""
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
    docs, edges = _chain(spark, 64)
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keySet())
    labels = dedup.dedup_clusters(docs, pairs=edges)
    assert len(set(pinned().keySet()) - before) <= 1
    assert {r["cluster_id"] for r in labels.collect()} == {0}


@given(
    w=st.integers(1, 64),
    h=st.integers(1, 32),
    seed=st.integers(0, 2**32 - 1),
)
@SET
def test_png_codec_roundtrip_property(w, h, seed):
    """Any dims + any pixel bytes: encode -> parse recovers the exact
    header, and the closed-form size the oracle relies on holds."""
    import numpy as np

    from langchain_memvid_spark.multimodal import binary as mm

    pixels = np.random.RandomState(seed).bytes(w * h)
    blob = mm.encode_png(w, h, pixels)
    assert mm.parse_png_info(blob) == {
        "width": w, "height": h, "bit_depth": 8, "color_type": 0
    }
    assert len(blob) == 57 + h * (w + 1) + 11


@given(
    rate=st.integers(1, 192_000),
    nch=st.integers(1, 8),
    n=st.integers(0, 500),
)
@SET
def test_wav_codec_roundtrip_property(rate, nch, n):
    from langchain_memvid_spark.multimodal import binary as mm

    blob = mm.encode_wav(rate, nch, bytes(n * nch * 2))
    info = mm.parse_wav_info(blob)
    assert info == {
        "n_channels": nch, "sample_rate": rate,
        "bits_per_sample": 16, "n_samples": n,
    }
    assert len(blob) == 44 + n * nch * 2


@given(
    vec=st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=1, max_size=64),
)
@SET
def test_quantization_error_bound_property(spark_handle, vec):
    """Dequantized values stay within half a quantization step of the
    original: |x - q*scale/127| <= scale/254 (+ float slack)."""
    spark = spark_handle
    from langchain_memvid_spark.operators.quantize import quantize_embeddings

    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<float>")
    row = quantize_embeddings(df).head()
    scale, q = row["scale"], row["qvec"]
    import numpy as np

    x = np.array(vec, dtype=np.float32).astype(np.float64)
    deq = np.array(q, dtype=np.float64) * scale / 127
    assert np.all(np.abs(x - deq) <= scale / 254 + 1e-9)
    assert all(-127 <= v <= 127 for v in q)


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    n_frames=st.integers(1, 6),
    fps=st.integers(1, 60),
    seed=st.integers(0, 2**32 - 1),
)
@SET
def test_avi_codec_roundtrip_property(w, h, n_frames, fps, seed):
    """Any dims/frame-count/fps: encode -> parse recovers the container
    fields, and the closed-form total size holds (including RIFF word
    alignment for odd frame sizes)."""
    import numpy as np

    from langchain_memvid_spark.multimodal import binary as mm

    rng = np.random.RandomState(seed)
    frames = [mm.encode_png(w, h, rng.bytes(w * h)) for _ in range(n_frames)]
    blob = mm.encode_avi(w, h, frames, fps)
    info = mm.parse_avi_info(blob)
    png = 68 + h * (w + 1)
    assert info["width"] == w and info["height"] == h
    assert info["n_frames"] == n_frames
    assert info["fps"] == 1_000_000 // (1_000_000 // fps)
    assert info["frame_bytes"] == n_frames * png
    assert len(blob) == 232 + n_frames * (8 + png + png % 2) + 16 * n_frames


@given(
    tokens=st.lists(st.integers(1, 300), min_size=1, max_size=40),
    budget=st.integers(8, 1024),
)
@SET
def test_sequence_packing_matches_python_reference(spark_handle, tokens, budget):
    """Packing over random token counts == plain running-sum reference."""
    from langchain_memvid_spark.operators.textops import sequence_packing

    spark = spark_handle
    docs = spark.createDataFrame(
        [(i, " ".join("w" for _ in range(t))) for i, t in enumerate(tokens)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in sequence_packing(docs, budget=budget).collect()
    }
    cum = 0
    for i, t in enumerate(tokens):
        assert got[i] == (t, cum // budget, cum % budget), (i, got[i], cum)
        cum += t


# ---------------------------------------------------------------- filters

_SCALAR = st.one_of(
    st.booleans(),
    st.integers(-5, 5),
    st.integers(-50, 50).map(lambda n: n / 10.0),
    st.sampled_from(["a", "b", "abc", "true", "false", "2", "x1"]),
)
_META_KEYS = ("k1", "k2", "source", "category")


def _spec(key):
    """One filter spec for a key: scalar, single-op dict, or range dict.
    Engine columns (source/category) are string-typed, so their filter
    values stay strings; $in stays same-typed (mixed types raise)."""
    val = st.sampled_from(["a", "b", "abc", "x1"]) if key in ("source", "category") else _SCALAR
    one_op = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"])
    return st.one_of(
        val,
        st.tuples(one_op, val).map(lambda t: {t[0]: t[1]}),
        st.lists(val, min_size=1, max_size=3).map(
            lambda vs: {"$in": [v for v in vs if type(v) is type(vs[0])]}
        ),
        st.tuples(val, val).map(lambda t: {"$gte": t[0], "$lt": t[1]}),
    )


def _raw_of(v):
    """The string get_json_object extracts for a canonical-JSON value."""
    import json as _json

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return _json.dumps(v)
    return v


def _py_one(meta, key, op, val):
    """Python model of store._one_predicate over one doc's metadata."""
    vals = val if op == "$in" else [val]
    if key in ("source", "category"):
        cv = meta.get(key)
        lits = list(vals)
        if cv is None:
            return False
    else:
        if key not in meta:
            return False  # null extraction: every comparison is False
        raw = _raw_of(meta[key])
        if all(isinstance(v, bool) for v in vals):
            cv, lits = raw, ["true" if v else "false" for v in vals]
        elif all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
            try:
                cv = float(raw)  # Spark cast-to-double; 'abc' -> null -> False
            except ValueError:
                return False
            lits = [float(v) for v in vals]
        else:
            cv, lits = raw, list(vals)
    if op == "$in":
        return cv in lits
    lit = lits[0]
    return {
        "$eq": cv == lit,
        "$ne": cv != lit,
        "$gt": cv > lit,
        "$gte": cv >= lit,
        "$lt": cv < lit,
        "$lte": cv <= lit,
    }[op]


def _py_match(meta, filt):
    for key, spec in filt.items():
        ops = spec if isinstance(spec, dict) else {"$eq": spec}
        for op, val in ops.items():
            if not _py_one(meta, key, op, val):
                return False
    return True


@given(
    metas=st.lists(
        st.dictionaries(st.sampled_from(_META_KEYS), _SCALAR, max_size=4).map(
            lambda m: {
                k: (str(v) if k in ("source", "category") else v) for k, v in m.items()
            }
        ),
        min_size=1,
        max_size=12,
    ),
    filters=st.lists(
        st.sampled_from(_META_KEYS).flatmap(
            lambda k: _spec(k).map(lambda s: {k: s})
        ),
        min_size=1,
        max_size=6,
    ),
)
@SET
def test_metadata_filter_dialect_matches_python_reference(spark_handle, metas, filters):
    """metadata_predicate over randomized metadata == a plain-Python
    model of the documented JSON-extraction dialect (typed comparisons,
    null-never-matches, $ops) — guards the ADVICE-r4 bug class where
    str(True) vs JSON 'true' silently matched nothing."""
    from langchain_memvid_spark.core.store import (
        _canonical_meta_json,
        metadata_predicate,
    )

    spark = spark_handle
    rows = [
        (i, m.get("source"), m.get("category"), _canonical_meta_json(m))
        for i, m in enumerate(metas)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, category string, metadata_json string"
    )
    sel = df.select(
        "doc_id",
        *[metadata_predicate(f).alias(f"f{j}") for j, f in enumerate(filters)],
    )
    got = {r["doc_id"]: [bool(r[f"f{j}"]) for j in range(len(filters))] for r in sel.collect()}
    for i, m in enumerate(metas):
        want = [_py_match(m, f) for f in filters]
        assert got[i] == want, (i, m, filters, got[i], want)


_TYPED_SCHEMA = {"k1": "double", "k2": "boolean", "k3": "string"}
# collision-prone stored values: numbers, numeric-LOOKING strings,
# bools, and bool-looking strings — exactly the cases the permissive
# dialect cannot tell apart (VERDICT r5 item 5)
# "NaN"/"Infinity"/"-INF" STRINGS included since r7: from_json parses
# them as doubles, so without the raw-text quote check they leaked into
# the double type and vanished from the string type (ADVICE r6)
_TYPED_STORED = st.one_of(
    st.booleans(),
    st.integers(-5, 5),
    st.integers(-50, 50).map(lambda n: n / 10.0),
    st.sampled_from(
        ["a", "true", "false", "2", "2.0", "-3", "x1", "NaN", "Infinity", "-INF"]
    ),
)


def _typed_spec(key):
    dtype = _TYPED_SCHEMA[key]
    if dtype == "double":
        val = st.one_of(st.integers(-5, 5), st.integers(-50, 50).map(lambda n: n / 10.0))
    elif dtype == "boolean":
        val = st.booleans()
    else:
        val = st.sampled_from(
            ["a", "true", "false", "2", "2.0", "-3", "x1", "NaN", "Infinity"]
        )
    one_op = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"])
    return st.one_of(
        val,
        st.tuples(one_op, val).map(lambda t: {t[0]: t[1]}),
        st.lists(val, min_size=1, max_size=3).map(lambda vs: {"$in": vs}),
    )


def _py_typed_one(meta, key, op, val, dtype):
    """Python model of the STRICT typed extraction: a declared-type
    mismatch on the stored value is a null extraction (never matches)."""
    vals = val if op == "$in" else [val]
    if key not in meta:
        return False
    sv = meta[key]
    if dtype == "double":
        if isinstance(sv, bool) or not isinstance(sv, (int, float)):
            return False
        cv, lits = float(sv), [float(v) for v in vals]
    elif dtype == "boolean":
        if not isinstance(sv, bool):
            return False
        cv, lits = sv, list(vals)
    else:
        if not isinstance(sv, str):
            return False
        cv, lits = sv, list(vals)
    if op == "$in":
        return cv in lits
    lit = lits[0]
    return {
        "$eq": cv == lit,
        "$ne": cv != lit,
        "$gt": cv > lit,
        "$gte": cv >= lit,
        "$lt": cv < lit,
        "$lte": cv <= lit,
    }[op]


@given(
    metas=st.lists(
        st.dictionaries(st.sampled_from(tuple(_TYPED_SCHEMA)), _TYPED_STORED, max_size=3),
        min_size=1,
        max_size=10,
    ),
    filters=st.lists(
        st.sampled_from(tuple(_TYPED_SCHEMA)).flatmap(
            lambda k: _typed_spec(k).map(lambda s: {k: s})
        ),
        min_size=1,
        max_size=5,
    ),
)
@SET
def test_typed_metadata_schema_matches_strict_python_model(spark_handle, metas, filters):
    """metadata_predicate WITH a {key: dtype} schema == the strict
    Python model: a numeric filter never matches a numeric-looking
    STRING value, a bool filter never matches the strings
    'true'/'false', and a string filter never matches stored numbers
    or booleans — the exact collision cases the permissive dialect
    documents as ambiguous."""
    from langchain_memvid_spark.core.store import (
        _canonical_meta_json,
        metadata_predicate,
    )

    spark = spark_handle
    rows = [(i, None, None, _canonical_meta_json(m)) for i, m in enumerate(metas)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, category string, metadata_json string"
    )
    sel = df.select(
        "doc_id",
        *[
            metadata_predicate(f, schema=_TYPED_SCHEMA).alias(f"f{j}")
            for j, f in enumerate(filters)
        ],
    )
    got = {r["doc_id"]: [bool(r[f"f{j}"]) for j in range(len(filters))] for r in sel.collect()}
    for i, m in enumerate(metas):
        want = []
        for f in filters:
            ok = True
            for key, spec in f.items():
                ops = spec if isinstance(spec, dict) else {"$eq": spec}
                for op, val in ops.items():
                    if not _py_typed_one(m, key, op, val, _TYPED_SCHEMA[key]):
                        ok = False
            want.append(ok)
        assert got[i] == want, (i, m, filters, got[i], want)


# ---------------------------------------------------------------- store lifecycle

_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("add"),
            st.lists(st.sampled_from([f"t{i}" for i in range(8)]), min_size=1, max_size=5),
        ),
        st.tuples(
            st.just("del_ids"),
            st.lists(st.floats(0, 0.999), min_size=1, max_size=3, unique=True),
        ),
        st.tuples(
            st.just("del_texts"),
            st.lists(st.sampled_from([f"t{i}" for i in range(8)]), min_size=1, max_size=3),
        ),
    ),
    min_size=2,
    max_size=5,
)


@given(ops=_OPS)
@settings(max_examples=4, deadline=None, derandomize=True)
def test_store_lifecycle_matches_python_model(spark_handle, ops):
    """Random add/delete sequences against a plain-Python model of the
    corpus: batch first-occurrence dedup, anti-join vs existing texts,
    delete-by-ids/texts, renumbering to contiguous ids after every
    delete. The invariant checked after EVERY op is the full corpus
    (ordered texts + ids 0..n-1 + count)."""
    from langchain_memvid_spark import SparkVectorStore

    store = SparkVectorStore(spark_handle)
    model: list[str] = []
    for kind, arg in ops:
        if kind == "add":
            store.add_texts(arg)
            for t in arg:
                if t not in model:
                    model.append(t)
        elif kind == "del_ids":
            if not model:
                continue
            ids = sorted({int(f * len(model)) for f in arg})
            store.delete_by_ids(ids)
            model = [t for i, t in enumerate(model) if i not in ids]
        else:  # del_texts
            victims = set(arg) & set(model)
            assert store.delete_by_texts(arg) == bool(victims)
            model = [t for t in model if t not in victims]
        docs = store.get_all_documents()
        assert [d["page_content"] for d in docs] == model, (kind, arg, model)
        assert [d["doc_id"] for d in docs] == list(range(len(model)))
        assert store.get_document_count() == len(model)


# ---------------------------------------------------------------- chunking

@given(
    token_counts=st.lists(st.integers(1, 90), min_size=1, max_size=12),
    chunk_tokens=st.integers(2, 40),
    overlap_frac=st.floats(0, 0.99),
)
@SET
def test_chunk_documents_matches_python_reference(
    spark_handle, token_counts, chunk_tokens, overlap_frac
):
    """Chunking over random doc lengths / chunk sizes / overlaps == a
    plain-Python slicing reference: stride chunk_tokens-overlap, starts
    at 0..n-1, every chunk is tokens[start:start+chunk_tokens]."""
    from langchain_memvid_spark.operators.textops import chunk_documents

    overlap = min(int(chunk_tokens * overlap_frac), chunk_tokens - 1)
    docs_tokens = [
        [f"w{i}_{j}" for j in range(t)] for i, t in enumerate(token_counts)
    ]
    df = spark_handle.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_tokens, overlap).collect()
    }
    want = {}
    step = chunk_tokens - overlap
    for i, toks in enumerate(docs_tokens):
        for cid, start in enumerate(range(0, len(toks), step)):
            chunk = toks[start : start + chunk_tokens]
            want[(i, cid)] = (len(chunk), " ".join(chunk))
    assert got == want


# ---------------------------------------------------------------- shingles

@given(
    docs=st.lists(
        st.lists(st.sampled_from([f"w{i}" for i in range(6)]), min_size=1, max_size=15),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 5),
    n=st.integers(2, 6),
)
@SET
def test_shingles_match_python_reference(spark_handle, docs, k, n):
    """word_shingles / char_ngrams over random docs == plain-Python
    sliding windows (short docs collapse to one whole-text shingle) —
    locks the primitive every Jaccard/MinHash operator builds on."""
    from langchain_memvid_spark.functions.text import char_ngrams, word_shingles

    df = spark_handle.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id long, text string"
    )
    out = df.select(
        "doc_id",
        word_shingles(F.col("text"), k).alias("ws"),
        char_ngrams(F.col("text"), n).alias("cn"),
    ).collect()
    for r in out:
        toks = docs[r["doc_id"]]
        text = " ".join(toks)
        want_ws = (
            [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            if len(toks) >= k
            else [text]
        )
        want_cn = (
            [text[i : i + n] for i in range(len(text) - n + 1)]
            if len(text) >= n
            else [text]
        )
        assert r["ws"] == want_ws, (toks, k, r["ws"], want_ws)
        assert r["cn"] == want_cn, (text, n, r["cn"], want_cn)


# ---------------------------------------------------------------------------
# BM25 / span dedup vs pure-Python references (round 5)
# ---------------------------------------------------------------------------

_DOC = st.lists(st.sampled_from("a b c d".split()), min_size=1, max_size=10)


@given(docs=st.lists(_DOC, min_size=1, max_size=8))
@SET
def test_bm25_scores_match_python_reference(spark_handle, docs):
    """bm25_scores == the straight-line Python formula on tiny random
    corpora (rounded to 4; compared with half-rounding slack)."""
    import math

    from langchain_memvid_spark.operators.ranking import bm25_scores

    spark = spark_handle
    terms = ("a", "b")
    k1, b = 1.2, 0.75
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, query_terms=terms).collect()}

    n = len(docs)
    avgdl = sum(len(t) for t in docs) / n
    dfreq = {t: sum(1 for d in docs if t in d) for t in terms}
    want = {}
    for i, d in enumerate(docs):
        s = 0.0
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(d) / avgdl)))
        if s != 0.0 or any(t in d for t in terms):
            want[i] = s
    assert set(got) == set(want)
    for i, w in want.items():
        assert abs(got[i] - w) <= 6e-5, (i, got[i], w)


def _py_span_model(docs, w):
    """Reference: per-doc dup windows, interval-union spans, and the
    keep-global-first cleaned text."""
    occ = {}
    for i, toks in enumerate(docs):
        for p in range(len(toks) - w + 1):
            occ.setdefault(tuple(toks[p : p + w]), []).append((i, p))
    dup = {k: v for k, v in occ.items() if len({d for d, _ in v}) > 1}
    per_doc_positions = {i: set() for i in range(len(docs))}
    removal_positions = {i: set() for i in range(len(docs))}
    for win, places in dup.items():
        keeper = min(places)
        for d, p in places:
            per_doc_positions[d].add(p)
            if (d, p) != keeper:
                removal_positions[d].add(p)

    def islands(pos_set):
        spans = []
        for p in sorted(pos_set):
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + w - 1)
            else:
                spans.append([p, p + w - 1])
        return spans

    stats = {}
    for i, toks in enumerate(docs):
        sp = islands(per_doc_positions[i])
        covered = sum(e - s + 1 for s, e in sp)
        stats[i] = dict(
            n_tokens=len(toks),
            n_dup_windows=len(per_doc_positions[i]),
            n_spans=len(sp),
            dup_tokens=covered,
        )
    cleaned = {}
    for i, toks in enumerate(docs):
        rm = set()
        for s, e in islands(removal_positions[i]):
            rm.update(range(s, e + 1))
        kept = [t for p, t in enumerate(toks) if p not in rm]
        cleaned[i] = (len(toks) - len(kept), " ".join(kept))
    return stats, cleaned


@given(docs=st.lists(_DOC, min_size=1, max_size=8), w=st.integers(2, 4))
@SET
def test_duplicate_spans_match_python_reference(spark_handle, docs, w):
    from langchain_memvid_spark.operators.ranking import duplicate_spans

    spark = spark_handle
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicate_spans(df, w=w).collect()}
    want, _ = _py_span_model(docs, w)
    assert set(got) == set(want)
    for i, wv in want.items():
        for k, v in wv.items():
            assert got[i][k] == v, (i, k, got[i][k], v)


@given(docs=st.lists(_DOC, min_size=1, max_size=8), w=st.integers(2, 4))
@SET
def test_remove_duplicate_spans_match_python_reference(spark_handle, docs, w):
    from langchain_memvid_spark.operators.ranking import remove_duplicate_spans

    spark = spark_handle
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, w=w).collect()}
    _, want = _py_span_model(docs, w)
    assert set(got) == set(want)
    for i, (n_rm, text) in want.items():
        assert got[i]["n_removed"] == n_rm, (i, got[i]["n_removed"], n_rm)
        assert got[i]["cleaned_text"] == text, (i, got[i]["cleaned_text"], text)


@given(docs=st.lists(_DOC, min_size=2, max_size=8))
@SET
def test_containment_and_knn_graph_match_python(spark_handle, docs):
    """containment_pairs and knn_graph == brute-force Python over
    3-word shingle sets on random corpora."""
    spark = spark_handle
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string"
    )

    def shingles(toks, k=3):
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingles(t) for i, t in enumerate(docs)}
    pairs = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                sh = len(sets[a] & sets[b])
                pairs[(a, b)] = (sh, len(sets[a]), len(sets[b]))

    got_c = {
        (r["a_id"], r["b_id"]): (r["shared"], r["na"], r["nb"], r["containment"])
        for r in dedup.containment_pairs(df, k=3, top_n=1000).collect()
    }
    assert set(got_c) == set(pairs)
    for key, (sh, na, nb) in pairs.items():
        assert got_c[key] == (sh, na, nb, round(sh / min(na, nb), 6)), key

    got_g = {}
    for r in dedup.knn_graph(df, k=3, neighbors=2).collect():
        got_g.setdefault(r["doc_id"], []).append((r["rank"], r["nbr_id"], r["jaccard"]))
    for d in sets:
        nbrs = []
        for (a, b), (sh, na, nb) in pairs.items():
            if d in (a, b):
                o = b if a == d else a
                nbrs.append((round(sh / (na + nb - sh), 6), o))
        want = sorted(nbrs, key=lambda x: (-x[0], x[1]))[:2]
        got = [(j, n) for _, n, j in sorted(got_g.get(d, []))]
        assert got == want, (d, got, want)


@given(
    metas=st.lists(
        st.dictionaries(
            st.sampled_from(["a", "b", "c", "d"]),
            st.one_of(
                st.none(),
                st.text(alphabet="xyz", min_size=1, max_size=4),
                st.floats(
                    min_value=-100, max_value=100,
                    allow_nan=False, allow_infinity=False,
                ).map(lambda v: round(v, 3) + 0.5),
                st.booleans(),
                # the divergence classes the first property run missed:
                # special float literals stored as STRINGS, a string
                # that merely LOOKS like a container, and genuine
                # nested containers
                st.sampled_from(["NaN", "Infinity", "-INF", '{"x": 1}', "[1, 2]"]),
                st.just({"q": 1}),
                st.just([1, "two"]),
            ),
            max_size=4,
        ),
        min_size=1,
        max_size=8,
    ),
    keys=st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=3, unique=True),
)
@SET
def test_first_match_col_matches_python_reference(spark_handle, metas, keys):
    """The Catalyst first_match_col walk == the reference-faithful
    Python get_on_first_match on the same dicts, for the string and
    double walks — across plain strings, floats, booleans, nested
    objects/arrays, container-shaped STRINGS, and the special float
    literals. The one inherent exclusion is Python ints: JSON has no
    int/float split, so the driver-side isinstance(3, float) skip is
    unrepresentable in the JSON walk (documented on first_match_col)."""
    import json

    from langchain_memvid_spark.functions.metadata import (
        first_match_col,
        get_on_first_match,
    )

    spark = spark_handle
    df = spark.createDataFrame(
        [(i, json.dumps(m)) for i, m in enumerate(metas)], "id long, mj string"
    )
    rows = {
        r["id"]: (r["s"], r["d"])
        for r in df.select(
            "id",
            first_match_col(F.col("mj"), keys).alias("s"),
            first_match_col(F.col("mj"), keys, dtype="double", default=-7.5).alias("d"),
        ).collect()
    }
    for i, m in enumerate(metas):
        want_s = get_on_first_match(m, *keys, expected_type=str)
        want_d = get_on_first_match(m, *keys, default=-7.5)  # type from default: float
        got_s, got_d = rows[i]
        assert got_s == want_s
        assert got_d == (want_d if want_d is not None else -7.5)


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=4, max_size=9), min_size=2, max_size=14
    ),
    max_d=st.integers(1, 2),
)
@settings(max_examples=6, deadline=None, derandomize=True)
def test_edit_distance_pairs_matches_dp_reference(spark_handle, texts, max_d):
    """Both blocking schemes (PassJoin segments, q-grams where the
    bound allows) recover EXACTLY the DP all-pairs truth on random
    low-alphabet strings — the zero-FN fuzz. Tiny alphabet forces
    heavy gram/segment collisions; lengths straddle the band filter."""
    spark = spark_handle
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, name STRING"
    )
    want = {
        (i, j): _py_levenshtein(a, b)
        for i, a in enumerate(texts)
        for j, b in enumerate(texts)
        if i < j and _py_levenshtein(a, b) <= max_d
    }
    min_len = min(len(t) for t in texts)
    if min_len >= max_d + 1:
        got_seg = {
            (r["a_id"], r["b_id"]): r["edit_distance"]
            for r in dedup.edit_distance_pairs(
                df, id_col="doc_id", str_col="name", max_d=max_d, blocking="segments"
            ).collect()
        }
        assert got_seg == want
    q = 2
    if min_len - q + 1 > q * max_d:
        got_gr = {
            (r["a_id"], r["b_id"]): r["edit_distance"]
            for r in dedup.edit_distance_pairs(
                df, id_col="doc_id", str_col="name", max_d=max_d, q=q, blocking="grams"
            ).collect()
        }
        assert got_gr == want


@settings(max_examples=20, deadline=None, derandomize=True)
@given(
    pixels=st.lists(st.integers(0, 100), min_size=50, max_size=200),
    shift=st.integers(0, 155),
    w=st.integers(10, 20),
)
def test_dhash_brightness_shift_invariant(pixels, shift, w):
    """dHash compares NEIGHBORING pixels, so a global brightness shift
    (no clipping) must not change a single bit — the invariance that
    makes perceptual dedup robust to exposure differences.  Pure codec
    + hash, no Spark."""
    from langchain_memvid_spark.multimodal import binary as mm

    h = max(2, len(pixels) // w)
    px = (pixels * ((w * h) // len(pixels) + 1))[: w * h]
    base = mm.encode_png(w, h, bytes(px))
    shifted = mm.encode_png(w, h, bytes(p + shift for p in px))
    assert mm.dhash_png(base) == mm.dhash_png(shifted)


@settings(max_examples=20, deadline=None, derandomize=True)
@given(
    amps=st.lists(st.integers(-300, 300), min_size=70, max_size=400),
    gain=st.integers(2, 50),
)
def test_envelope_hash_gain_invariant(amps, gain):
    """Positive gain scales every window's mean |amplitude| equally, so
    the louder-than comparisons — and the hash — are unchanged (the
    volume-normalization property audio dedup needs)."""
    import numpy as np

    from langchain_memvid_spark.multimodal import binary as mm

    base = np.array(amps, dtype=np.int16)
    a = mm.encode_wav(8000, 1, base.astype("<i2").tobytes())
    b = mm.encode_wav(8000, 1, (base * gain).astype("<i2").tobytes())
    assert mm.envelope_hash_wav(a) == mm.envelope_hash_wav(b)


@given(
    sigs=st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=24, unique=True
    ),
    wide=st.booleans(),
)
@SET
def test_hamming_band_table_pigeonhole_property(spark_handle, sigs, wide):
    """The shared banding kernel (dedup.hamming_band_table): every
    signature explodes into exactly n_bands rows; band values match
    the Python slicing reference bit-exactly; and pigeonhole holds —
    any pair within hamming ≤ n_bands-1 over the banded bits shares at
    least one (band, val).  Covers both layouts: one long sliced
    n_bands × band_bits — 4×16 (the media hashes), 4×4, 2×8 and 1×16
    (the random-hyperplane widths), each on every drawn signature set
    — and 4 whole longs (wide)."""
    spark = spark_handle
    if wide:
        rows = [(i, s, s ^ 1, s ^ (1 << 40), s ^ 3) for i, s in enumerate(sigs)]
        df = spark.createDataFrame(
            rows, "media_id long, s0 long, s1 long, s2 long, s3 long"
        )
        cases = [(["s0", "s1", "s2", "s3"], 4, 64, {r[0]: list(r[1:]) for r in rows})]

        def ham(a, b):
            return sum(bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(a, b))

    else:
        # a planted near copy: the first signature with its low bit flipped
        sigs = sigs + [sigs[0] ^ 1]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(sigs)], "media_id long, sig long"
        )
        cases = [
            (
                ["sig"], n_bands, band_bits,
                {
                    i: [
                        ((s & (2**64 - 1)) >> (band_bits * b)) & (2**band_bits - 1)
                        for b in range(n_bands)
                    ]
                    for i, s in enumerate(sigs)
                },
            )
            for n_bands, band_bits in [(4, 16), (4, 4), (2, 8), (1, 16)]
        ]

        def ham(a, b):
            return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    for cols, n_bands, band_bits, py_bands in cases:
        banded = dedup.hamming_band_table(df, cols, n_bands=n_bands, band_bits=band_bits)
        got = {}
        for r in banded.collect():
            got.setdefault(r["media_id"], {})[r["band"]] = r["val"]
        assert set(got) == set(py_bands)
        for i, bands in py_bands.items():
            assert len(got[i]) == n_bands
            for b in range(n_bands):
                assert got[i][b] == bands[b], (i, b, n_bands, band_bits)
        # pigeonhole: hamming ≤ n_bands-1 ⇒ ≥1 shared (band, val)
        ids = sorted(py_bands)
        for ai in ids:
            for bi in ids:
                if ai < bi and ham(py_bands[ai], py_bands[bi]) < n_bands:
                    assert any(got[ai][b] == got[bi][b] for b in range(n_bands)), (ai, bi)


@given(
    docs=st.lists(
        st.lists(st.integers(0, 3), min_size=8, max_size=8), min_size=2, max_size=12
    ),
    rows_per_band=st.sampled_from([1, 2, 4, 8]),
)
@SET
def test_minhash_band_table_matches_python_reference(spark_handle, docs, rows_per_band):
    """dedup._minhash_band_table, the band table of the MinHash
    kernels: each signature gives exactly 8/rows_per_band (band,
    bucket) rows, the bucket is the band's values joined by "_", and
    two docs share a (band, bucket) exactly when their rows_per_band
    MinHash values for that band are equal.  Values come from a small
    range so that equal bands are common."""
    spark = spark_handle
    n_bands = 8 // rows_per_band
    sig = spark.createDataFrame(
        [(i, *v) for i, v in enumerate(docs)],
        "doc_id long, " + ", ".join(f"mh{j} long" for j in range(8)),
    )
    got = {}
    for r in dedup._minhash_band_table(sig, rows_per_band).collect():
        assert [r[f"mh{j}"] for j in range(8)] == docs[r["doc_id"]]
        got.setdefault(r["doc_id"], {})[r["band"]] = r["bucket"]
    assert set(got) == set(range(len(docs)))

    def band(i, b):
        return docs[i][b * rows_per_band : (b + 1) * rows_per_band]

    for i in got:
        assert sorted(got[i]) == list(range(n_bands))
        for b in range(n_bands):
            assert got[i][b] == "_".join(str(x) for x in band(i, b))
            for j in got:
                assert (got[i][b] == got[j][b]) == (band(i, b) == band(j, b)), (i, j, b)


def _signed_longs(v: int, n_longs: int) -> list[int]:
    out = []
    for j in range(n_longs):
        x = (v >> (64 * j)) & (2**64 - 1)
        out.append(x - 2**64 if x >= 2**63 else x)
    return out


@given(
    bases=st.lists(st.integers(0, 2**256 - 1), min_size=2, max_size=8, unique=True),
    planted=st.lists(
        st.tuples(st.integers(0, 7), st.sets(st.integers(0, 255), max_size=5)),
        min_size=1,
        max_size=8,
    ),
    wide=st.booleans(),
    vs_corpus=st.booleans(),
    framed=st.booleans(),
)
@SET
def test_band_join_matches_brute_force_hamming(
    spark_handle, bases, planted, wide, vs_corpus, framed
):
    """dedup.band_join — the one LSH candidate join, here on media
    signatures — returns, after its exact-Hamming verify, exactly the
    brute-force all-pairs set with Hamming ≤ 3, for 64-bit (4×16-bit
    slices) and 256-bit (4 longs) signatures, in the self-join and
    batch-vs-corpus
    forms, with and without the frame_no key, on every side pick: A
    side broadcast, B side broadcast (a lazy count), shuffled hash,
    sort-merge."""
    from langchain_memvid_spark.multimodal import binary as mm

    spark = spark_handle
    bits = 256 if wide else 64
    n_longs = bits // 64
    sig_cols = [f"s{j}" for j in range(n_longs)]
    # planted near copies: a base with up to 5 bits flipped (some
    # within max_hamming, some beyond it)
    vals = [b % 2**bits for b in bases]
    near = []
    for i, flips in planted:
        v = vals[i % len(vals)]
        for f in flips:
            v ^= 1 << (f % bits)
        near.append(v)
    rows = [
        (k, k % 2 if framed else 0, v)
        for k, v in enumerate(vals + near)
    ]
    if vs_corpus:
        a_rows, b_rows = rows[len(vals):], rows[: len(vals)]
    else:
        a_rows = b_rows = rows
    schema = "media_id long, frame_no int, n_frames int, " + ", ".join(
        f"{c} long" for c in sig_cols
    )

    def bands(rs):
        df = spark.createDataFrame(
            [(k, f, 1, *_signed_longs(v, n_longs)) for k, f, v in rs], schema
        )
        return mm.banded_signature_table(df, sig_cols, frame_grain=True)

    want = {
        (ka, kb): bin(va ^ vb).count("1")
        for ka, fa, va in a_rows
        for kb, fb, vb in b_rows
        if (vs_corpus or ka < kb)
        and fa == fb
        and bin(va ^ vb).count("1") <= 3
    }
    keys = ("frame_no", "band", "val") if framed else ("band", "val")
    big = joinopt._PAIR_BROADCAST_ROW_LIMIT + 1
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    huge = parts * joinopt._SHJ_BUILD_ROWS_PER_PARTITION + 1
    picks = [
        (4 * len(a_rows), None, "BroadcastHashJoin"),
        (big, lambda: 4 * len(b_rows), "BroadcastHashJoin"),
        (big, big, "ShuffledHashJoin"),
        (huge, huge, "SortMergeJoin"),
    ]
    for n_a, n_b, strategy in picks:
        joined, ham = dedup.band_join(
            bands(a_rows), bands(b_rows),
            {"a_id": "media_id", "a_fno": "frame_no"},
            {"b_id": "media_id", "b_fno": "frame_no"},
            sig_cols, n_a, n_b, keys=keys,
        )
        out = joined.where(ham <= 3)
        if not vs_corpus:
            out = out.where(F.col("a_id") < F.col("b_id"))
        out = out.select("a_id", "b_id", ham.alias("h")).distinct()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert strategy in plan, (n_a, n_b)
        got = {(r["a_id"], r["b_id"]): r["h"] for r in out.collect()}
        assert got == want, (n_a, n_b)
