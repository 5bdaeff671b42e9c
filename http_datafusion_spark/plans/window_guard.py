"""Structural guard against corpus-sized keyed window sorts.

The scale-killer class it guards against: a ranking window —
``row_number()/rank()/dense_rank() OVER (PARTITION BY k ORDER BY ...)``
— whose partition key
has few distinct values by construction (an eval probe set, a literal
grid) while the partition CONTENTS are corpus-sized. Spark hashes the
key onto |distinct k| reducers; at 100 TB each reducer sorts terabytes.
The fix is a LITERAL rank bound right after the window (``.filter(rk <=
K)``), which lets ``InferWindowGroupLimit`` insert Partial+Final
``WindowGroupLimit`` so every map task forwards at most K rows per key.

This module walks a query's PHYSICAL plan (where WindowGroupLimit is
visible) and flags every ranking Window node that

- is not immediately bounded by its own WindowGroupLimit, and
- has at least one fact-scale scan in its subtree with no bounding
  ancestor between the scan and the window (zero-key aggregate, limit /
  top-k, another WindowGroupLimit, or a deeper bounded structure).

Windows partitioned on ``bucket`` are exempt by name: that is the
functions/ordstats two-phase global-rank convention, whose buckets are
equi-depth by quantile construction (balanced contents, tunable count)
— the documented scale-safe replacement for global windows, not the
skewed probe-key shape this guard hunts.

Like plans/broadcast_guard.py, the guard over-approximates and the test
(tests/test_plans.py::test_no_unbounded_ranking_window_over_fact_scan)
pins the violation set to a documented allowlist — every exemption
states why the partition contents are bounded by construction.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Physical-plan scan fingerprints for fact-scale tables (row count
# linear in SF). FileScan lines print the parquet path.
_FACT_FILES = ("documents.parquet", "lineitem.parquet", "orders.parquet",
               "events.parquet", "embeddings.parquet", "part.parquet")

_RANKING = re.compile(r"(?<!percent_)\b(?:row_number|dense_rank|rank)\(")
_ZERO_KEY_AGG = re.compile(r"\b(?:Hash|Sort|ObjectHash)Aggregate\(keys=\[\]")
_BOUNDED_NODE = re.compile(
    r"\b(?:GlobalLimit|LocalLimit|TakeOrderedAndProject|WindowGroupLimit)\b"
)


def _marker_pos(line: str) -> int | None:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else None


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
        pos = _marker_pos(line)
        subtree: list[tuple[int | None, str]] = []
        for nxt in lines[i + 1 :]:
            npos = _marker_pos(nxt)
            if pos is not None and (npos is None or npos <= pos):
                break
            subtree.append((npos, nxt))
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
        # unbounded fact scans: ancestor chain up to the window holds
        # no limit / zero-key aggregate / WindowGroupLimit (per-branch
        # attribution, same walk as broadcast_guard)
        unbounded: list[str] = []
        for k, (kpos, ln) in enumerate(subtree):
            if "FileScan" not in ln:
                continue
            table = next((t for t in _FACT_FILES if t in ln), None)
            if table is None:
                continue
            bounded = False
            cur = kpos if kpos is not None else 0
            for j in range(k - 1, -1, -1):
                jpos, jline = subtree[j]
                p = jpos if jpos is not None else -1
                if p < cur:
                    if _BOUNDED_NODE.search(jline) or _ZERO_KEY_AGG.search(jline):
                        bounded = True
                        break
                    cur = p
            if not bounded:
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
