"""The order in which the oracle check visits registry queries, derived from
the committed oracle results and plan fingerprints.

The DuckDB oracle check covers only the first ~50 registry entries
each round, so the registry puts first what most needs a fresh check.
``driver_order`` reads each query's newest green round from the
``CORRECTNESS_r*.json`` files at the repo root and sorts once:

1. *changed*: its plan fingerprint moved after its newest green round,
   so no correctness row covers its current code;
2. *pending*: no row at all, or its newest row failed;
3. the rest;

each tier oldest green round first, then in registration order. Where
the files are missing (a Python worker imports the package from a zip
of its ``.py`` files) the order stays the registration order.

A plan fingerprint hashes the normalized physical plans of every SQL
execution a query starts (build-time jobs, stream microbatches and the
collect), read from the session's SQL status store, which Spark keeps
with the UI disabled too. ``plans/fingerprints.json`` maps each query
to ``{"fp": ..., "since": R}``, where R is the first round whose code
had that fingerprint; ``tools/check_queries.py`` refreshes it on every
sf0.001 sweep. This module imports nothing but the standard library.

``python -m langchain_memvid_spark.plans.driver_order`` prints the
front block with each query's tier and newest green round.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
FRONT = 50  # queries the oracle check covers per round
TIERS = ("changed", "pending", "green")


def _is_green(row: dict) -> bool:
    """All three matches, or the intended rows-only check of a query
    with no oracle."""
    if row.get("err") == "no_oracle":
        return (row.get("spark_rows") or 0) > 0
    return bool(row.get("rows_match") and row.get("schema_match") and row.get("hash_match"))


def correctness_rounds(root: str = _REPO) -> dict[int, dict[str, dict]]:
    rounds = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
    return rounds


def load_fingerprints(path: str = FINGERPRINTS) -> dict[str, dict]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def tiers(names, rounds: dict[int, dict[str, dict]], fingerprints: dict[str, dict]):
    """{name: (tier, newest green round or 0)} for every name."""
    newest, green = {}, {}
    for r in sorted(rounds):
        for name, row in rounds[r].items():
            newest[name] = _is_green(row)
            if newest[name]:
                green[name] = r
    out = {}
    for name in names:
        g = green.get(name, 0)
        if not newest.get(name):
            tier = "pending"
        elif fingerprints.get(name, {}).get("since", 0) > g:
            tier = "changed"
        else:
            tier = "green"
        out[name] = (tier, g)
    return out


def driver_order(names, root: str = _REPO, fingerprints_path: str = FINGERPRINTS) -> list[str]:
    """``names`` (registration order) in oracle-check order."""
    names = list(names)
    rounds = correctness_rounds(root)
    if not rounds:
        return names
    t = tiers(names, rounds, load_fingerprints(fingerprints_path))
    pos = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (TIERS.index(t[n][0]), t[n][1], pos[n]))


# -- plan fingerprints ------------------------------------------------------

_NORMALIZE = [
    (re.compile(r",? ?\[plan_id=\d+\]"), ""),
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1"),  # lambda variable ids
    (re.compile(r"(\$Lambda)\$\d+"), r"\1"),  # JVM lambda class ids
    (re.compile(r"codegen id : \d+"), "codegen id"),  # numbered in stage order
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(?:file:)?/(?=[\w.])[^\s,\[\]()]*"), "<path>"),  # temp, checkpoint, data
    (re.compile(r"RDD\[\d+\]((?: at \w+)?)(?: at [^,]*)?"), r"RDD[]\1"),  # RDD ids, Python call sites
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),  # JVM object identities
    (re.compile(r"`(\w+?)_\d+`"), r"`\1_N`"),  # per-process stream view counters
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),  # per-JVM counter
    # shuffle partition counts follow the host's cores
    (re.compile(r"(partitioning\(.*), \d+\)", re.I), r"\1, N)"),
    (re.compile(r"(RoundRobinPartitioning\(|numPartitions = )\d+"), r"\1N"),
]
_NODE = re.compile(r"\((\d+)\)(?=,| \(|$)", re.M)  # an operator's id in a tree line
_NODE_REF = re.compile(r"(Reuses operator id: |Hosting operator id = )(\d+)")


def _prefix(line: str) -> int:
    return len(line) - len(line.lstrip(" :"))


def _initial_plans(text: str) -> str:
    """``text`` with the final plan of every adaptive plan dropped, and
    the operators renumbered in order of appearance. The final plan
    depends on which stage finishes first; the initial plan is what the
    code asked for."""
    details, trees = {}, []
    for block in re.split(r"\n{2,}", text):
        m = re.match(r"\((\d+)\) ", block)
        if m:
            details[m.group(1)] = block
            continue
        kept, skip = [], None  # skip: the column of a Final Plan marker
        for line in block.split("\n"):
            if skip is not None and _prefix(line) > skip:
                continue
            skip = None
            if "+- == Final Plan ==" in line:
                skip = _prefix(line)
            elif "+- == Initial Plan ==" not in line:
                kept.append(line)
        trees.append("\n".join(kept))
    ids = {}
    for tree in trees:
        for old in _NODE.findall(tree):
            ids.setdefault(old, str(len(ids) + 1))

    def refs(s):
        return _NODE_REF.sub(lambda m: m.group(1) + ids.get(m.group(2), "?"), s)

    trees = [refs(_NODE.sub(lambda m: f"({ids[m.group(1)]})", t)) for t in trees]
    kept = sorted((int(ids[old]), refs(block.split(" ", 1)[1])) for old, block in details.items() if old in ids)
    return "\n\n".join(trees + [f"({new}) {block}" for new, block in kept])


def normalize_plan(text: str) -> str:
    text = _initial_plans(text)
    for pattern, repl in _NORMALIZE:
        text = pattern.sub(repl, text)
    # a multi-distinct aggregate numbers its distinct groups (the Expand's
    # gid column) and orders their columns in hash order, which differs
    # between sessions: compare those lines as token multisets
    return "\n".join(
        " ".join(sorted(re.split(r"[\s,\[\]()]+", line))) if "gid#" in line else line
        for line in text.split("\n")
    )


def fingerprint(plans) -> str:
    """Hash of the sorted, distinct normalized plans."""
    h = hashlib.sha256()
    for p in sorted({normalize_plan(p) for p in plans}):
        h.update(p.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def last_execution_id(spark) -> int:
    """The newest SQL execution id so far (-1 before the first)."""
    return max((e.executionId() for e in _executions(spark)), default=-1)


def plan_fingerprint(spark, after: int) -> str:
    """Fingerprint of the SQL executions started after execution ``after``."""
    return fingerprint(e.physicalPlanDescription() for e in _executions(spark) if e.executionId() > after)


def _executions(spark):
    """The SQL status store's executions, once every queued event is in."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        yield it.next()


def refresh_fingerprints(fps: dict[str, str], path: str = FINGERPRINTS, root: str = _REPO) -> list[str]:
    """Record the fingerprints of the queries just run; an entry that
    moved (or is new) gets ``since`` = the round after the newest
    CORRECTNESS file. Returns the names that moved."""
    entries = load_fingerprints(path)
    next_round = max(correctness_rounds(root), default=0) + 1
    moved = sorted(n for n, fp in fps.items() if entries.get(n, {}).get("fp") != fp)
    for name in moved:
        entries[name] = {"fp": fps[name], "since": next_round}
    with open(path, "w") as f:
        json.dump(dict(sorted(entries.items())), f, indent=1)
        f.write("\n")
    return moved


if __name__ == "__main__":
    from langchain_memvid_spark.plans.registry import QUERIES

    t = tiers(QUERIES, correctness_rounds(), load_fingerprints())
    for i, name in enumerate(list(QUERIES)[:FRONT], 1):
        print(f"{i:3d}  {t[name][0]:8s} r{t[name][1]:02d}  {name}")
    print({tier: sum(v[0] == tier for v in t.values()) for tier in TIERS})
