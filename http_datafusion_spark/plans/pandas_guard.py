"""Structural guard: every grouped-pandas kernel must have a BOUNDED
group.

``groupBy(keys).applyInPandas(fn)`` (and the cogrouped variant)
materializes an ENTIRE group as one pandas DataFrame on one executor —
the one Python boundary where a bad key turns into an OOM at scale
rather than a slow shuffle. A kernel grouped on the fixed 8-value IVF
bucket key was exactly this class: one group held ~corpus/8 rows. The
repaired kernel bounds its
groups by construction (salted sub-bucket split, ~2*cap rows); this
guard makes the argument STRUCTURAL for every grouped-pandas site in
every registry plan, so the next unbounded key cannot land silently.

Mechanism (same discipline as plans/broadcast_guard.py and
plans/window_guard.py): walk the physical plan text, collect each
``FlatMapGroupsInPandas`` / ``FlatMapCoGroupsInPandas`` node's grouping
keys (normalized — ``#id`` suffixes stripped), and let the test pin the
observed key signatures to a documented allowlist where every entry
states WHY a group with that key is bounded (row-cap construction,
block tiling, or a natural per-entity key whose group size tracks
entity activity, not corpus size). Stale allowlist entries — a
signature no longer produced by any plan — fail the test, so the
allowlist cannot rot.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

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
