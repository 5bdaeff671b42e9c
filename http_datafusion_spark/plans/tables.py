"""Test-data table loader.

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
"""

from __future__ import annotations

import logging
import os

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
    data produce the same tag and a derived-layout path is debuggable
    by inspection."""
    import hashlib

    toks = tuple(_mtime_token(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)
    return hashlib.md5(repr(toks).encode()).hexdigest()[:8]


def scratch_path(kind: str, sf_dir: str, *tables: str) -> str:
    """Session-safe /tmp materialization dir for derived layouts
    (bucketed tables, IVF-PQ index, corpus store). The leaf dir name
    carries (a) an md5 mtime fingerprint of the source parquet, so
    regenerated data can never be served a stale derived copy, and
    (b) the pid, so concurrent sessions (driver gate + a stray pytest)
    never overwrite each other's files mid-read."""
    fp = fingerprint_tables(sf_dir, *tables)
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        "/tmp", f"http_datafusion_spark_{kind}", f"{tag}_{fp}_{os.getpid()}"
    )


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
