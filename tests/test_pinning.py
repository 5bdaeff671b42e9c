"""functions/pinning.py — the centralized materialization primitive.

One policy: a bounded frame is an eager ``localCheckpoint`` (lineage
severed, materialized before ``pin`` returns), a ``fact_scale=True``
frame a lazy, lineage-recoverable ``MEMORY_AND_DISK`` persist.
``pin_scope`` releases the pins a thread created inside it.
"""

from __future__ import annotations

import pytest

from pyspark.storagelevel import StorageLevel

from http_datafusion_spark.functions.pinning import pin


@pytest.fixture
def df(spark):
    return spark.range(10).selectExpr("id", "id * 2 AS v")


def test_local_mode_severs_lineage_and_matches_values(spark, df):
    out = df.transform(pin)
    # localCheckpoint replaces the logical plan with an RDD scan leaf
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]


def test_local_mode_storage_override(spark, df):
    out = df.transform(pin, storage=StorageLevel.DISK_ONLY)
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
    # the checkpoint's blocks must carry the requested level
    rdd_infos = [
        i
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.numCachedPartitions() > 0 and "Disk Serialized" in i.storageLevel().description()
    ]
    assert rdd_infos, "no DISK_ONLY-cached RDD found after an eager DISK_ONLY pin"


def test_fact_scale_is_lineage_recoverable_persist(spark, df):
    out = df.transform(pin, fact_scale=True)
    try:
        # persist keeps lineage: the optimized plan still shows the range,
        # NOT a severed RDD leaf — executor loss recomputes instead of dying
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
        assert out.storageLevel.useDisk and out.storageLevel.useMemory
        assert out.storageLevel.replication == 1
        assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
    finally:
        out.unpersist()


def test_default_pin_materializes_before_return(spark, df, tmp_path):
    """The streaming read-then-delete sites pin a parquet read and then
    rmtree the source: a default pin must be fully materialized before
    it returns, so collecting after the delete still sees every row."""
    import shutil

    src = str(tmp_path / "src")
    df.write.parquet(src)
    out = spark.read.parquet(src).transform(pin)
    shutil.rmtree(src)
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]


# ------------------------- pin lifecycle


def _cached_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    return {i.id() for i in sc.getRDDStorageInfo() if i.numCachedPartitions() > 0}


def test_pin_scope_releases_local_checkpoint_blocks(spark, df):
    from http_datafusion_spark.functions.pinning import pin_scope

    base = _cached_rdd_ids(spark)
    with pin_scope():
        out = df.transform(pin)
        assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
        assert _cached_rdd_ids(spark) - base, "pin cached no RDD blocks"
    # scope exit unpersisted the checkpoint's blocks immediately — no
    # waiting on driver GC + ContextCleaner (periodicGC is 30 min).
    # Subset, not equality: blocks leaked by EARLIER tests in the shared
    # session can be reclaimed asynchronously at any moment, shrinking
    # `base` out from under a strict == (observed flake).
    assert _cached_rdd_ids(spark) <= base


def test_pin_scope_releases_fact_scale_persist(spark, df):
    from http_datafusion_spark.functions.pinning import pin_scope

    base = _cached_rdd_ids(spark)
    with pin_scope():
        out = df.transform(pin, fact_scale=True)
        assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
        assert _cached_rdd_ids(spark) - base
    assert _cached_rdd_ids(spark) <= base
    # the DataFrame's persist mark is gone too, not just the blocks
    assert not out.storageLevel.useMemory and not out.storageLevel.useDisk


def test_pin_outside_scope_is_untracked(spark, df):
    """Opt-in contract: without a scope, pin() behaves exactly as before
    (blocks linger until GC + ContextCleaner) — a library consumer that
    holds a pinned frame across calls is unaffected."""
    from http_datafusion_spark.functions.pinning import _checkpoint_release

    base = _cached_rdd_ids(spark)
    out = df.transform(pin)
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
    held = _cached_rdd_ids(spark) - base
    assert held, "unscoped pin must keep its blocks"
    # cleanup so later storage-sensitive tests see a clean slate
    _checkpoint_release(out)()
    assert _cached_rdd_ids(spark) <= base


def test_pin_scope_is_thread_local(spark, df):
    """Concurrent service threads must release only their OWN pins:
    releasing another in-flight query's local checkpoint would kill it
    (lineage is severed)."""
    import threading

    from http_datafusion_spark.functions.pinning import pin_scope

    base = _cached_rdd_ids(spark)
    with pin_scope():
        out = df.transform(pin)
        mine = _cached_rdd_ids(spark) - base

        def worker():
            with pin_scope():
                w = df.selectExpr("id + 100 AS id").transform(pin)
                w.count()

        t = threading.Thread(target=worker)
        t.start()
        t.join()
        # worker's scope released its pin; ours survives
        assert _cached_rdd_ids(spark) - base == mine
        assert sorted(r.v for r in out.collect()) == [2 * i for i in range(10)]
    assert _cached_rdd_ids(spark) <= base


def test_pin_scope_logs_a_failed_release_and_runs_the_rest(caplog):
    """A release that raises is logged with its exception and does not
    stop the scope: the other releases still run and the scope exits
    cleanly (the query's results are already out)."""
    import logging

    from http_datafusion_spark.functions.pinning import _track, pin_scope

    ran = []

    def failing() -> None:
        raise RuntimeError("executor lost")

    with caplog.at_level(logging.WARNING, logger="http_datafusion_spark.functions.pinning"):
        with pin_scope():
            _track(lambda: ran.append("first"))
            _track(failing)
            _track(lambda: ran.append("last"))
    assert sorted(ran) == ["first", "last"]
    [record] = [r for r in caplog.records if r.name == "http_datafusion_spark.functions.pinning"]
    assert record.levelno == logging.WARNING
    assert "RuntimeError" in record.getMessage() and "executor lost" in record.getMessage()
