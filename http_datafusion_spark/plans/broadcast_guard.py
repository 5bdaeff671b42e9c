"""Structural guard against forced broadcasts of data-growing relations.

It catches operators that bake ``F.broadcast`` hints onto relations
that GROW with the data (vocabulary/bigram count tables,
per-document set sizes, fact-derived key sets). A baked-in hint is a
plan AQE cannot demote — at 100 TB each such site is an executor/driver
OOM. This module walks a query's ANALYZED logical plan (where
``ResolvedHint (strategy=broadcast)`` still wraps its subtree, before
the optimizer folds hints into Join nodes) and flags every broadcast
subtree that reads a fact-scale table without an intervening bound:

- a zero-grouping-key Aggregate (aggregation to a constant row), or
- a Limit / top-k (output bounded by a literal), or
- a ``spark.range(K)`` over a model/config constant.

Tables treated as fact-scale (row count linear in SF): documents,
lineitem, orders, events, embeddings, part. The dimension convention
(customer/supplier/nation/region as broadcast dims) is deliberately
exempt — it is the standard star-schema trade and AQE still applies to
un-hinted dims.

Used by tests/test_plans.py::test_no_forced_broadcast_of_fact_derived_relations,
which asserts the violation set over the ENTIRE registry stays inside a
documented allowlist (benchmark/eval probe sets that are constants of
the pipeline, not functions of corpus size).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Column-name fingerprints identifying the parquet relation. The
# analyzed plan prints only the output columns of a Relation node, so
# the table is recovered from its characteristic first columns.
_FACT_MARKERS: dict[str, str] = {
    "l_orderkey": "lineitem",
    "o_orderkey": "orders",
    "event_id": "events",
    "p_partkey": "part",
}


def _relation_table(line: str) -> str | None:
    m = re.search(r"Relation \[([^\]]*)\]", line)
    if not m:
        return None
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    for marker, table in _FACT_MARKERS.items():
        if marker in cols:
            return table
    if "text" in cols and "doc_id" in cols:
        return "documents"
    # embeddings schema is (vec_id, embedding, label) — no doc_id
    # (requiring doc_id would make this branch unreachable)
    if "vec_id" in cols or "embedding" in cols:
        return "embeddings"
    return None  # dimension or non-fact source


def _marker_pos(line: str) -> int | None:
    """Indent position of a tree node ('+- ' / ':- '), None for the root."""
    m = re.search(r"[+:]- ", line)
    return m.start() if m else None


_AGG_HEAD = re.compile(r"\bAggregate \[")
_BOUNDED = re.compile(r"\b(GlobalLimit|LocalLimit|Limit)\b|\bRange \(0, \d")


def _is_zero_key_aggregate(line: str) -> bool:
    """True for ``Aggregate [aggExprs]`` (no grouping keys — output is a
    constant row), False for ``Aggregate [keys], [exprs]``.

    Bracket-balanced: a grouping expression may itself contain ``[``
    (array element access, e.g. ``Aggregate [arr#1[0]], [...]``), so a
    naive "no '[' before '], ['" regex misclassifies grouped aggregates
    as zero-key. We scan the first balanced bracket group
    and check whether a second group follows."""
    m = _AGG_HEAD.search(line)
    if not m:
        return False
    depth = 1
    j = m.end()
    while j < len(line) and depth:
        if line[j] == "[":
            depth += 1
        elif line[j] == "]":
            depth -= 1
        j += 1
    if depth:  # malformed/truncated line: fail safe (treat as grouped)
        return False
    return not line[j:].lstrip().startswith(", [")


# Unique-key column per fact table: a Filter pinning this key to
# literals (=, <, <=, IN) caps the subtree's cardinality independent of
# SF — `vec_id < 32` is 32 rows at any corpus size because the key is
# unique. lineitem is absent: it has no unique single column.
_UNIQUE_KEYS: dict[str, str] = {
    "orders": "o_orderkey",
    "events": "event_id",
    "part": "p_partkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _key_literal_filter_bound(line: str, key: str) -> bool:
    """Filter line pinning the unique key to literal(s). Heuristic:
    assumes conjunctive predicates (an OR around the key term would not
    bound; no registry broadcast side uses one)."""
    if "Filter " not in line:
        return False
    # the key may print cast-wrapped: `cast(vec_id#7L as bigint) IN (...)`
    k = rf"\b{key}#\d+L?(?: as \w+\))?"
    lit = r"(?:cast\()?-?\d"
    return bool(
        re.search(rf"{k} (?:=|<|<=) {lit}", line) or re.search(rf"{k} IN \(", line)
    )


def _is_bound(line: str, key: str | None = None) -> bool:
    if _BOUNDED.search(line) or _is_zero_key_aggregate(line):
        return True
    return key is not None and _key_literal_filter_bound(line, key)


@dataclass
class BroadcastViolation:
    fact_tables: tuple[str, ...]
    subtree_head: str


def broadcast_hint_violations(df: DataFrame) -> list[BroadcastViolation]:
    """All broadcast-hinted subtrees of df's analyzed plan that scan a
    fact-scale table with no bounding Aggregate/Limit on the path
    between the hint and that scan.

    Bounds are attributed PER BRANCH: a Limit on one join
    branch must not exempt a fact scan on a sibling branch. A fact
    Relation is bounded iff one of its ANCESTOR nodes inside the hint
    subtree — the chain of preceding lines with strictly decreasing
    indent — is a Limit / literal Range / zero-key Aggregate; every
    row of the scan flows through an ancestor, so only an ancestor
    bound caps what the broadcast materializes."""
    text = df._jdf.queryExecution().analyzed().toString()
    lines = text.splitlines()
    out: list[BroadcastViolation] = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast" not in line:
            continue
        pos = _marker_pos(line)
        subtree: list[tuple[int | None, str]] = []
        for nxt in lines[i + 1 :]:
            npos = _marker_pos(nxt)
            if pos is not None and (npos is None or npos <= pos):
                break
            subtree.append((npos, nxt))
        unbounded: set[str] = set()
        for k, (kpos, ln) in enumerate(subtree):
            table = _relation_table(ln)
            if table is None:
                continue
            # walk the ancestor chain: nearest preceding line with a
            # strictly smaller indent, repeatedly, up to the hint
            key = _UNIQUE_KEYS.get(table)
            bounded = False
            cur = kpos if kpos is not None else 0
            for j in range(k - 1, -1, -1):
                jpos, jline = subtree[j]
                p = jpos if jpos is not None else -1
                if p < cur:
                    if _is_bound(jline, key):
                        bounded = True
                        break
                    cur = p
            if not bounded:
                unbounded.add(table)
        if unbounded:
            head = subtree[0][1].strip() if subtree else ""
            out.append(
                BroadcastViolation(fact_tables=tuple(sorted(unbounded)), subtree_head=head)
            )
    return out
