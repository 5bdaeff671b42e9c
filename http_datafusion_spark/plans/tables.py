"""Test-data table loader, and the one rule for derived on-disk layouts.

Loads the driver-generated parquet star schema (TESTDATA.md) and
registers each table as a temp view, so queries can use either the
DataFrame API or ``spark.sql``.

Fact tables (lineitem, orders, events, documents, embeddings — the
ones that grow with SF) are plain ``spark.read.parquet`` so Catalyst's
predicate pushdown and column pruning reach the parquet scan (check
with ``.explain``: PushedFilters/ReadSchema). The five DIMENSION
tables (region/nation/customer/supplier/part) are ``.cache()``d at
first load per (session, sf_dir, file-mtime): they are constant-size
by the star schema's design, every join head re-reads them, and on a
real cluster pinning the dims in executor memory is the standard
pattern — the q9 warm-latency decomposition (32 cores, sf0.1) measured
~0.15-0.2 s/query of repeated dim scan + broadcast-build cost that
this removes. Caching swaps the parquet scan for an InMemoryTableScan
(still column-pruned + filtered; pushdown to parquet no longer
applies, which is fine — the relation is resident).

Scratch storage has two rules. A layout DERIVED from source tables (a
bucketed copy, an index, a staged stream source) comes from
``derived_dir``: built once per (session, kind, sf_dir, source
fingerprint) into a fresh directory under one per-process root, which
is removed at interpreter exit. Storage that lives for one run (a
stream checkpoint, a foreachBatch sink) is a
``tempfile.TemporaryDirectory`` block in the code that runs it.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from http_datafusion_spark.session import RUNTIME_CONFS

_log = logging.getLogger(__name__)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _ensure_session_confs(spark: SparkSession) -> None:
    """Queries must behave identically on a session we didn't build
    (the driver harness creates its own): pin the runtime-settable
    confs the corpus depends on (``session.RUNTIME_CONFS``). A conf the
    session refuses is logged as a warning and the rest are still set."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — non-settable on some builds
            _log.warning("could not set %s=%s on the session: %r", k, v, e)


# DataFrame memo stored ON the session object (dies with it — safe
# across session restarts), keyed by (sf_dir, table, file mtime). A
# DataFrame is an immutable logical plan, so reuse is safe; what it
# saves is the spark.read.parquet footer/schema read plus its py4j
# round-trips — ~20-40 ms per table per query BUILD, which bench.py
# pays on every run (it rebuilds the plan each run, mirroring the
# DuckDB proxy's re-parse). The mtime in the key makes regenerated
# source parquet invalidate both the memo and any .cache() hanging off
# it. Views are still (re)registered on every call because the active
# sf_dir may have changed between calls.

# Constant-size at every SF by the star schema's design — safe to pin.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def _mtime_token(path: str) -> int:
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # parquet dir: newest part file decides staleness
            parts = [os.path.join(path, f) for f in os.listdir(path)]
            return max([st.st_mtime_ns] + [os.stat(p).st_mtime_ns for p in parts])
        return st.st_mtime_ns
    except OSError:
        return -1


def fingerprint_tables(sf_dir: str, *tables: str) -> str:
    """8-hex-char md5 fingerprint of the named source tables' mtimes —
    DETERMINISTIC across processes (unlike builtin ``hash``, which is
    salted per-process by PYTHONHASHSEED), so two runs over identical
    data produce the same tag."""
    import hashlib

    toks = tuple(_mtime_token(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)
    return hashlib.md5(repr(toks).encode()).hexdigest()[:8]


# One scratch root per process, made on first use and removed at exit.
_SCRATCH_LOCK = threading.Lock()
_scratch_root: str | None = None


def _fresh_scratch_dir(kind: str) -> str:
    global _scratch_root
    with _SCRATCH_LOCK:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="hds_scratch_")
            atexit.register(shutil.rmtree, _scratch_root, True)
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=_scratch_root)


def derived_dir(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    build: Callable[[str], None],
) -> str:
    """Directory holding the layout ``build(path)`` derives from the
    named source ``tables`` of ``sf_dir``; ``kind`` names the layout and
    every build parameter that shapes it.

    Built once per (session, kind, sf_dir, source fingerprint): a
    regenerated source table gets a new build, never a stale copy.
    Concurrent callers of one key wait for a single build; different
    keys build in parallel. ``build`` writes into a fresh empty
    directory (so Spark writes use ``mode("overwrite")``) under this
    process's scratch root; a failed build's directory is removed.
    The memo is per session, not shared across processes by
    fingerprint: a layout published that way would outlive a change
    to the code that wrote it."""
    _ensure_session_confs(spark)
    key = (kind, sf_dir, fingerprint_tables(sf_dir, *tables))
    with _SCRATCH_LOCK:
        memo = spark.__dict__.setdefault("_hds_derived", {})
        slot = memo.setdefault(key, {"lock": threading.Lock()})
    with slot["lock"]:
        if "path" not in slot:
            path = _fresh_scratch_dir(kind)
            try:
                build(path)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            slot["path"] = path
        return slot["path"]


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    cache: dict[tuple, DataFrame] = spark.__dict__.setdefault("_hds_df_cache", {})
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (sf_dir, name, _mtime_token(path))
    if key in cache:
        return cache[key]
    df = spark.read.parquet(path)
    if name == "events":
        # ts is TIMESTAMP(NANOS) in parquet, read as int64 ns via
        # spark.sql.legacy.parquet.nanosAsLong (session.py); restore a
        # real timestamp at µs precision (the data carries none finer).
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # Integer division (`div`), NOT `/1000`: float division routes
            # the ~1.7e18 ns value through a double whose 53-bit mantissa
            # drops the low bits, leaving ~13% of stamps off by 1µs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name in DIM_TABLES:
        # Pin the dims: constant-size (a few MB even at sf10), re-joined
        # by nearly every query.
        df = df.cache()
    cache[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Read the requested tables (all when none named) and register
    same-named temp views. Returns name -> DataFrame."""
    _ensure_session_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        df = _read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to the session's shuffle width
    (``spark.sql.shuffle.partitions``), for CPU-heavy per-row work over
    a projection of a loaded ``documents`` or ``embeddings`` table.

    Those files are written once by other tools, often as one row group,
    so the scan can hand every row to one task: at a local sf5 (4 cores)
    the 26 MB ``embeddings`` file plans as 4 splits of which 1 holds
    rows, and spreading it took ``sim_matryoshka_recall`` from 20.3 s to
    6.8 s. The width is explicit because AQE merges a small exchange
    partitioned by key alone into one partition, which undoes the
    spread: ``documents`` repartitioned by ``doc_id`` alone runs as 1
    task at sf0.1 and at sf5 (4 cores). Spread before an explode, so
    the exchange carries raw text, not the exploded stream: at sf5 35 MB
    of text vs 154 MB of shingle tokens (32 cores). Project only the
    columns the map work needs first; the exchange carries every column
    given to it. Nothing here plans ``df`` on the driver."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, key)
