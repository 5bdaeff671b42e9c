"""Structural plan guards for the registry-wide tests in tests/test_plans.py.

Each guard walks one query's plan text and reports the sites a scale
argument depends on; the tests pin what they report to documented
allowlists, so a new unbounded site fails the suite and an allowlist
entry cannot outlive the site it explains. All three over-approximate:
a bound the plan text cannot show (a low-cardinality key, a probe set
that is a constant of the pipeline) needs an allowlist entry that
states it.

- ``broadcast_hint_violations`` — forced broadcasts of data-growing
  relations. A baked-in ``F.broadcast`` hint is a plan AQE cannot
  demote; on a relation that grows with the data (vocabulary/bigram
  count tables, per-document set sizes, fact-derived key sets) it is an
  executor/driver OOM at 100 TB. Walks the ANALYZED logical plan, where
  ``ResolvedHint (strategy=broadcast)`` still wraps its subtree before
  the optimizer folds hints into Join nodes, and flags every broadcast
  subtree that reads a fact-scale table without an intervening bound:
  a zero-grouping-key Aggregate (aggregation to a constant row), a
  Limit / top-k (output bounded by a literal), a ``spark.range(K)`` over
  a model/config constant, or a Filter pinning a unique key to
  literals. Fact-scale tables (row count linear in SF): documents,
  lineitem, orders, events, embeddings, part. Dimension tables
  (customer/supplier/nation/region) are exempt — broadcasting them is
  the standard star-schema trade and AQE still applies to un-hinted
  dims.

- ``ranking_window_violations`` — corpus-sized keyed window sorts. A
  ``row_number()/rank()/dense_rank() OVER (PARTITION BY k ORDER BY ...)``
  whose key has few distinct values by construction (an eval probe set,
  a literal grid) while the partition contents are corpus-sized hashes
  terabytes onto each of |distinct k| reducers at 100 TB. The fix is a
  literal rank bound right after the window (``.filter(rk <= K)``),
  which lets ``InferWindowGroupLimit`` insert Partial+Final
  ``WindowGroupLimit`` so every map task forwards at most K rows per
  key. Walks the PHYSICAL plan (where WindowGroupLimit is visible) and
  flags every ranking Window node that is not immediately bounded by
  its own WindowGroupLimit while a fact-scale scan with no bounding
  ancestor feeds it. Windows partitioned on ``bucket`` are exempt by
  name: that is the functions/ordstats two-phase global-rank
  convention, whose buckets are equi-depth by quantile construction.

- ``grouped_pandas_key_signatures`` — every grouped-pandas kernel must
  have a bounded group. ``groupBy(keys).applyInPandas(fn)`` (and the
  cogrouped variant) materializes an entire group as one pandas
  DataFrame on one executor, the one Python boundary where a bad key
  turns into an OOM rather than a slow shuffle (a kernel grouped on the
  fixed 8-value IVF bucket key held ~corpus/8 rows in one group).
  Reports each ``FlatMapGroupsInPandas`` / ``FlatMapCoGroupsInPandas``
  node's grouping keys, ``#id`` suffixes stripped.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


def _marker_pos(line: str) -> int | None:
    """Indent position of a tree node ('+- ' / ':- '), None for the root."""
    m = re.search(r"[+:]- ", line)
    return m.start() if m else None


def _subtree(lines: list[str], i: int) -> list[tuple[int | None, str]]:
    """(indent, line) of every node below ``lines[i]``, in plan order."""
    pos = _marker_pos(lines[i])
    subtree: list[tuple[int | None, str]] = []
    for nxt in lines[i + 1 :]:
        npos = _marker_pos(nxt)
        if pos is not None and (npos is None or npos <= pos):
            break
        subtree.append((npos, nxt))
    return subtree


def _has_bounding_ancestor(
    subtree: list[tuple[int | None, str]], k: int, is_bound: Callable[[str], bool]
) -> bool:
    """True iff a node on the ancestor chain of ``subtree[k]`` — the
    nearest preceding line with a strictly smaller indent, repeatedly,
    up to the subtree's root — satisfies ``is_bound``. Bounds attribute
    PER BRANCH: every row of a scan flows through its ancestors, so only
    an ancestor bound caps it, and a bound on a sibling branch does not."""
    kpos = subtree[k][0]
    cur = kpos if kpos is not None else 0
    for j in range(k - 1, -1, -1):
        jpos, jline = subtree[j]
        p = jpos if jpos is not None else -1
        if p < cur:
            if is_bound(jline):
                return True
            cur = p
    return False


# ---------------------------------------------------------------------------
# Broadcast guard

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
    fact-scale table with no bounding Aggregate/Limit/Range/key filter
    on the ancestor chain between the hint and that scan."""
    text = df._jdf.queryExecution().analyzed().toString()
    lines = text.splitlines()
    out: list[BroadcastViolation] = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast" not in line:
            continue
        subtree = _subtree(lines, i)
        unbounded: set[str] = set()
        for k, (_, ln) in enumerate(subtree):
            table = _relation_table(ln)
            if table is None:
                continue
            key = _UNIQUE_KEYS.get(table)
            if not _has_bounding_ancestor(subtree, k, lambda a: _is_bound(a, key)):
                unbounded.add(table)
        if unbounded:
            head = subtree[0][1].strip() if subtree else ""
            out.append(
                BroadcastViolation(fact_tables=tuple(sorted(unbounded)), subtree_head=head)
            )
    return out


# ---------------------------------------------------------------------------
# Ranking-window guard

# Physical-plan scan fingerprints for fact-scale tables (row count
# linear in SF). FileScan lines print the parquet path.
_FACT_FILES = ("documents.parquet", "lineitem.parquet", "orders.parquet",
               "events.parquet", "embeddings.parquet", "part.parquet")

_RANKING = re.compile(r"(?<!percent_)\b(?:row_number|dense_rank|rank)\(")
_ZERO_KEY_AGG = re.compile(r"\b(?:Hash|Sort|ObjectHash)Aggregate\(keys=\[\]")
_BOUNDED_NODE = re.compile(
    r"\b(?:GlobalLimit|LocalLimit|TakeOrderedAndProject|WindowGroupLimit)\b"
)


def _window_bound(line: str) -> bool:
    return bool(_BOUNDED_NODE.search(line) or _ZERO_KEY_AGG.search(line))


def _partition_keys(line: str) -> list[str]:
    """Partition columns of the first windowspecdefinition on the line:
    the leading arguments before the first ordered (ASC/DESC) column."""
    m = re.search(r"windowspecdefinition\(", line)
    if not m:
        return []
    depth, j, start = 1, m.end(), m.end()
    args: list[str] = []
    while j < len(line) and depth:
        c = line[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if not depth:
                args.append(line[start:j])
        elif c == "," and depth == 1:
            args.append(line[start:j])
            start = j + 1
        j += 1
    keys = []
    for a in args:
        if " ASC" in a or " DESC" in a or a.strip().startswith("specifiedwindowframe"):
            break
        keys.append(a.strip().split("#")[0])
    return keys


@dataclass
class WindowViolation:
    partition_keys: tuple[str, ...]
    window_head: str
    fact_scans: tuple[str, ...]


def ranking_window_violations(df: DataFrame) -> list[WindowViolation]:
    """All ranking Window nodes of df's physical plan that lack their
    own WindowGroupLimit while an unbounded fact-scale scan feeds them."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = text.splitlines()
    out: list[WindowViolation] = []
    for i, line in enumerate(lines):
        if "Window [" not in line or not _RANKING.search(line):
            continue
        keys = _partition_keys(line)
        if keys and keys[0] == "bucket":
            continue  # functions/ordstats convention (see module doc)
        subtree = _subtree(lines, i)
        # bounded by its own WindowGroupLimit: the first window-family
        # node below this Window is a WindowGroupLimit (the Final stage
        # sits directly under the Window it limits)
        own_wgl = False
        for _, ln in subtree:
            if "WindowGroupLimit" in ln:
                own_wgl = True
                break
            if "Window [" in ln:
                break
        if own_wgl:
            continue
        unbounded: list[str] = []
        for k, (_, ln) in enumerate(subtree):
            if "FileScan" not in ln:
                continue
            table = next((t for t in _FACT_FILES if t in ln), None)
            if table is None:
                continue
            if not _has_bounding_ancestor(subtree, k, _window_bound):
                unbounded.append(table.split(".")[0])
        if unbounded:
            out.append(
                WindowViolation(
                    partition_keys=tuple(keys),
                    window_head=line.strip()[:120],
                    fact_scans=tuple(sorted(set(unbounded))),
                )
            )
    return out


# ---------------------------------------------------------------------------
# Grouped-pandas guard

_NODE = re.compile(r"\bFlatMap(?:Co)?GroupsInPandas\b")
_KEYLIST = re.compile(r"\bFlatMap(?:Co)?GroupsInPandas(?:Exec)?\s+(\[[^\]]*\])")
_COL = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")


def grouped_pandas_key_signatures(df: DataFrame) -> list[tuple[str, ...]]:
    """Key signatures (normalized column-name tuples) of every
    grouped-pandas node in the physical plan, one per node."""
    text = df._jdf.queryExecution().executedPlan().toString()
    sigs: list[tuple[str, ...]] = []
    for line in text.splitlines():
        if not _NODE.search(line):
            continue
        m = _KEYLIST.search(line)
        if not m:
            # a grouped-pandas node whose keys we cannot parse is a
            # guard failure by construction — surface it loudly
            sigs.append(("<unparsed>", line.strip()[:120]))
            continue
        keys = tuple(_COL.findall(m.group(1)))
        sigs.append(keys if keys else ("<no-keys>",))
    return sigs
