"""``pin(df)`` — the repo's single frame-materialization primitive.

Every multi-consumer frame in the registry is pinned so its plan stops
re-deriving the fact scan once per consumer. The checkpoint-inventory
test in ``tests/test_plans.py`` derives the live call-site count from
the source, so the number is not restated here.

One policy, chosen by the frame's size class:

- A BOUNDED frame (an aggregate, a vocabulary, a small lookup) gets an
  eager ``localCheckpoint``: it is fully materialized before ``pin``
  returns and its lineage is severed, so deep iterative plans (the
  connected-components and label-propagation loops) do not grow. Callers
  may read a source, pin it and delete the source files (the streaming
  scratch-dir reclaims rely on this).
- A FACT-SCALE frame (``fact_scale=True``: proportional to a fact
  table) gets a lazy, lineage-recoverable ``MEMORY_AND_DISK`` persist:
  a fact-sized frame never sits solely in unreplicated executor
  storage, and a lost block recomputes instead of failing the job.

``storage=`` overrides the storage level, e.g. ``StorageLevel.DISK_ONLY``
for the largest label-propagation round frames, whose eager
MEMORY_AND_DISK blocks competed with aggregation memory in one unified
pool and ran the sf25 modularity probe out of memory below 48 g.

Call style: ``df.transform(pin)`` (chain-preserving), or
``df.transform(pin, storage=...)`` / ``pin(df)`` directly.

Lifecycle: a pin's storage outlives the query that created it. Nothing
unpersists a localCheckpoint's blocks or a persist's cache except
driver GC + ContextCleaner, whose timing is a JVM-GC accident
(``spark.cleaner.periodicGC.interval`` defaults to 30 minutes), so in a
long-lived session storage grows until a GC cycle happens to run.
``pin_scope()`` bounds that: harness code wraps each query execution
(plan build + action) in a scope, and on scope exit every pin created
inside it is unpersisted immediately. Tracking is opt-in — ``pin()``
outside any scope leaves its blocks to GC, so library consumers that
hold pinned frames across calls are unaffected. Scopes are
thread-local: concurrent service threads each release only their own
query's pins (releasing another in-flight query's local checkpoint
would kill it — lineage is severed).
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCOPES = threading.local()
_log = logging.getLogger(__name__)


def _scope_stack() -> list:
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    return stack


def _track(release) -> None:
    stack = _scope_stack()
    if stack:
        stack[-1].append(release)


def _persist_release(df: DataFrame):
    def release() -> None:
        df.unpersist(blocking=False)

    return release


def _checkpoint_release(df: DataFrame):
    # A checkpointed Dataset's logical plan IS the RDD leaf (LogicalRDD);
    # capture the JVM RDD now — DataFrame.unpersist goes through the
    # CacheManager and cannot see checkpoint blocks.
    jrdd = df._jdf.queryExecution().logical().rdd()

    def release() -> None:
        jrdd.unpersist(False)

    return release


@contextmanager
def pin_scope():
    """Release every pin created (by this thread) inside the ``with``
    block when it exits — AFTER the consuming action has run.

    Releasing is best-effort: the query's results are already out when
    the scope exits, so a failed unpersist (stopped session, lost
    executor) logs a warning naming the exception and raises nothing —
    the remaining releases still run, and the failed pin's blocks fall
    back to the GC + ContextCleaner path."""
    stack = _scope_stack()
    entries: list = []
    stack.append(entries)
    try:
        yield
    finally:
        stack.pop()
        for release in reversed(entries):
            try:
                release()
            except Exception as e:  # noqa: BLE001 — best-effort cleanup only
                _log.warning("pin_scope: releasing a pin failed: %r", e, exc_info=True)


def pin(
    df: DataFrame,
    *,
    storage: StorageLevel | None = None,
    fact_scale: bool = False,
) -> DataFrame:
    """Materialize ``df`` once so every downstream consumer reads the
    stored frame instead of re-deriving its lineage.

    Bounded frames get an eager ``localCheckpoint`` (materialized before
    this call returns); ``fact_scale=True`` frames get a lazy
    ``MEMORY_AND_DISK`` persist. See the module docstring.
    """
    if fact_scale:
        out = df.persist(storage or StorageLevel.MEMORY_AND_DISK)
        _track(_persist_release(out))
        return out
    out = df.localCheckpoint(eager=True, storageLevel=storage)
    _track(_checkpoint_release(out))
    return out
