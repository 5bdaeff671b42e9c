"""Structured Streaming behavior tests beyond the oracle-checked
aggregations: append-mode watermark emission, streaming dedup within
watermark, and the custom stateful per-user operator.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from http_datafusion_spark.streaming.queries import read_events_stream, run_to_memory
from http_datafusion_spark.streaming.stateful import user_profile_stream
from http_datafusion_spark.plans.tables import load_tables


def test_append_mode_emits_only_closed_windows(spark, sf_dir):
    # In append mode a window is emitted only once the watermark passes
    # its end; with a single input batch the watermark advances once, so
    # emitted windows must be a strict prefix of the complete set.
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    appended = run_to_memory(agg, "append")
    complete_n = (
        load_tables(spark, sf_dir, "events")["events"]
        .groupBy(F.floor(F.unix_timestamp("ts") / 300))
        .count()
        .count()
    )
    n_appended = appended.count()
    assert 0 < n_appended < complete_n  # tail windows held back by watermark


def test_drop_duplicates_within_watermark(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(stream)  # every event twice
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_memory(deduped.groupBy().agg(F.count(F.lit(1)).alias("n")), "complete")
    total = load_tables(spark, sf_dir, "events")["events"].count()
    assert out.collect()[0].n == total  # duplicates collapsed back to originals


def test_stateful_user_profile(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(user_profile_stream(stream), "update")
    profiles = {r.user_id: r for r in out.collect()}
    batch = load_tables(spark, sf_dir, "events")["events"]
    expected = {
        r.user_id: (r.n, round(r.total, 4))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(profiles) == set(expected)
    for uid, (n, total) in expected.items():
        assert profiles[uid].n_events == n
        assert profiles[uid].total_value == pytest.approx(total, abs=1e-3)
        assert profiles[uid].max_gap_sec >= 0


def test_stateful_session_timeout_closes_sessions(spark, sf_dir):
    """EventTimeTimeout path: sessions close either on an in-batch gap
    or when the watermark passes last_event + gap; closed sessions must
    tile each user's event stream exactly (batch sessionization twin)."""
    from http_datafusion_spark.streaming.stateful import (
        SESSION_GAP_SEC,
        session_close_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(session_close_stream(stream), "append")
    got = out.filter(F.col("closed")).collect()
    assert got, "no sessions closed"
    # Batch twin: lag+cumsum sessionization over the same events.
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "user_id", F.unix_timestamp("ts").alias("s")
    )
    w = W.partitionBy("user_id").orderBy("s")
    sess = (
        ev.withColumn("prev", F.lag("s").over(w))
        .withColumn(
            "new", (F.col("prev").isNull() | (F.col("s") - F.col("prev") >= SESSION_GAP_SEC)).cast("int")
        )
        .withColumn("sid", F.sum("new").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("s").alias("start"), F.max("s").alias("end"), F.count(F.lit(1)).alias("n"))
    )
    expected = {
        (r.user_id, r.start, r.end, r.n) for r in sess.collect()
    }
    emitted = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events) for r in got
    }
    # Every emitted closed session must be a real batch session; the
    # final (unclosed-at-end-of-stream) session per user may be missing.
    assert emitted <= expected
    assert len(emitted) >= len(expected) - ev.select("user_id").distinct().count()


def test_rate_limited_ingest_bounds_each_trigger(spark, sf_dir):
    # maxFilesPerTrigger=1 over an 8-file staging of events: the query
    # must take (at least) one micro-batch per file, and no single
    # trigger may ingest more than one file's worth of rows — the
    # backpressure property that keeps a backlogged-source replay from
    # swallowing the whole backlog in trigger one.
    from http_datafusion_spark.streaming.queries import (
        RATE_LIMIT_FILES,
        rate_limited_stream,
    )

    progress: list = []
    out = rate_limited_stream(spark, sf_dir, progress_out=progress)
    total = load_tables(spark, sf_dir, "events")["events"].count()

    fed = [p for p in progress if p["numInputRows"] > 0]
    assert len(fed) >= RATE_LIMIT_FILES  # one bounded batch per file
    # Repartition makes files near-equal; 1.5x headroom for row skew.
    per_file_cap = int(total / RATE_LIMIT_FILES * 1.5)
    assert max(p["numInputRows"] for p in fed) <= per_file_cap
    assert sum(p["numInputRows"] for p in fed) == total  # nothing dropped
    # Final state still equals the batch twin.
    twin = (
        load_tables(spark, sf_dir, "events")["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, twin.collect()))


def test_update_mode_window_state_is_evicted(spark, sf_dir):
    """Watermark eviction in update mode: run the topk query's windowed
    (window, user) aggregation over a multi-file staging so the
    watermark advances BETWEEN micro-batches. Closed windows must leave
    the state store (numRowsRemoved > 0) and the final state must be
    watermark-bounded — strictly smaller than the stream-length bound
    (total distinct (window, user) keys)."""
    from http_datafusion_spark.streaming.queries import staged_multifile_dir

    d = staged_multifile_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    progress: list = []
    run_to_memory(agg, "update", progress)
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert state, "no stateful progress recorded"
    removed = sum(s.get("numRowsRemoved", 0) or 0 for s in state)
    assert removed > 0  # closed windows were evicted from the store
    total_keys = (
        load_tables(spark, sf_dir, "events")["events"]
        .select(F.window("ts", "1 hour"), "user_id")
        .distinct()
        .count()
    )
    assert state[-1]["numRowsTotal"] < total_keys  # watermark-, not stream-length-bounded


def test_run_to_memory_leaves_no_sink_view(spark, sf_dir):
    """Each run's memory-sink view is dropped once its frame is resolved:
    repeated runs in one session leave no stream_out_* view behind, and
    the frames still read the sink's rows."""
    from http_datafusion_spark.plans.compare import compare_query
    from http_datafusion_spark.plans.registry import all_queries

    spec = all_queries()["stream_rate_limited"]
    for _ in range(3):
        res = compare_query(spark, spec, sf_dir)
        assert res.ok and res.exact, res.detail
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    assert views == []


def test_incremental_minhash_store_grows_by_batch_only(spark, sf_dir):
    """O(new docs) store growth: each foreachBatch appends EXACTLY its
    own band rows to the signature store — the per-batch delta equals
    the batch's band-row count, never a function of corpus size."""
    from http_datafusion_spark.streaming.queries import stream_incremental_minhash

    audit: list = []
    stream_incremental_minhash(spark, sf_dir, audit_out=audit)
    assert audit, "no micro-batches audited"
    assert any(a["batch_band_rows"] > 0 for a in audit)
    for a in audit:
        assert a["store_rows_after"] - a["store_rows_before"] == a["batch_band_rows"]


def test_timeordered_staging_replays_in_event_time_order(spark, sf_dir):
    """staged_timeordered_dir must replay ranges in event-time order:
    each micro-batch's max(ts) <= next batch's min(ts) (ranges are
    disjoint and files are served oldest-mtime first)."""
    from http_datafusion_spark.streaming.queries import (
        TIMEORDER_FILES,
        staged_timeordered_dir,
    )

    d = staged_timeordered_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    seen: list[tuple] = []

    def check(batch, batch_id):
        row = batch.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if row.n:
            seen.append((batch_id, row.lo, row.hi))

    q = stream.writeStream.foreachBatch(check).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(seen) >= TIMEORDER_FILES
    seen.sort()
    for (_, _, hi), (_, lo, _) in zip(seen, seen[1:]):
        assert hi <= lo  # event-time-ordered replay


def test_watermark_drops_late_rows_and_accounts_them(spark, sf_dir):
    """Late-data accounting: the round-robin multifile staging delivers
    out-of-event-time-order batches, so after batch 1 advances the
    watermark near max(ts), later batches' old rows are LATE — append
    mode must drop them and report numRowsDroppedByWatermark."""
    from http_datafusion_spark.streaming.queries import staged_multifile_dir

    d = staged_multifile_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    progress: list = []
    run_to_memory(agg, "append", progress)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) or 0)
        for p in progress
        if p.get("stateOperators")
    )
    assert dropped > 0  # late rows were dropped AND accounted for


def test_late_drop_twin_actually_drops_rows(spark, sf_dir):
    """The oracle-checked stream_watermark_late_drop models Spark 4.1's
    two-watermark drop semantics (late filter = watermarkForLateEvents,
    one batch behind eviction; SPARK-40925). That model is vacuous if
    the staged replay never produces a drop — a ±6h jitter against
    ~5-day arrival buckets drops NOTHING in any batch, so the oracle
    could not distinguish eager from lagged semantics. Pin that with
    the ±5d jitter at least
    one micro-batch reports numRowsDroppedByWatermark > 0, so the
    operator demonstrably exercises the drop path it claims to model."""
    import http_datafusion_spark.streaming.queries as sq

    sq.stream_watermark_late_drop(spark, sf_dir).collect()
    assert sq.WM_LAST_PROGRESS, "progress capture wired through run_to_memory"
    per_batch = [
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) or 0)
        for p in sq.WM_LAST_PROGRESS
        if p.get("stateOperators")
    ]
    assert sum(per_batch) > 0, f"no batch dropped rows: {per_batch}"


def test_wm_conformance_matrix_drop_accounting(spark, sf_dir):
    """Per-config drop accounting for the conformance matrix — the
    evidence the SQL oracle cannot see: the drops-fire geometry drops
    rows in at least one batch, the ±6h zero-drop geometry drops
    NOTHING (under the eager-drop misreading it would), and widening
    the slack cannot increase drops."""
    import http_datafusion_spark.streaming.queries as sq

    sq.stream_wm_conformance_matrix(spark, sf_dir).collect()
    drops = {
        label: sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) or 0)
            for p in prog
            if p.get("stateOperators")
        )
        for label, prog in sq.WM_MATRIX_PROGRESS.items()
    }
    assert set(drops) == {c[0] for c in sq.WM_CONFORMANCE_CONFIGS}
    assert drops["drop_j5d_s30m"] > 0, drops
    assert drops["nodrop_j6h_s30m"] == 0, drops  # the ±6h geometry never drops
    assert 0 < drops["drop_j5d_s4h"] <= drops["drop_j5d_s30m"], drops


def test_chained_dedup_absorbs_echoes_and_both_operators_account(spark, sf_dir):
    """stream_dedup_windowed_chain runs TWO stateful operators in one
    append-mode query (SPARK-40925's reason to exist). Pin the
    structural evidence the oracle can't see: both operators report
    state; the dedup stage absorbed the echo retransmissions (total
    rows reaching it exceed the unique originals, yet the downstream
    agg matches the originals-only oracle — that match is the gate);
    and the dedup late filter actually dropped rows in some batch
    (ts-level drops, the chain's observable cost)."""
    import http_datafusion_spark.streaming.queries as sq

    sq.stream_dedup_windowed_chain(spark, sf_dir).collect()
    with_state = [p for p in sq.WM_CHAIN_PROGRESS if p.get("stateOperators")]
    assert with_state, "no stateful progress captured"
    names = {o["operatorName"] for p in with_state for o in p["stateOperators"]}
    assert "dedupe" in names and "stateStoreSave" in names, names
    dedup_drops = sum(
        (o.get("numRowsDroppedByWatermark", 0) or 0)
        for p in with_state
        for o in p["stateOperators"]
        if o["operatorName"] == "dedupe"
    )
    assert dedup_drops > 0, "dedup late filter never fired — geometry regressed"
    n_input = sum(p.get("numInputRows", 0) for p in sq.WM_CHAIN_PROGRESS)
    n_orig = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_input > n_orig, "staging carried no echo retransmissions"


def test_outer_join_emits_null_rows_only_after_watermark(spark, sf_dir):
    """The left-outer interval join must emit null-padded rows for
    unmatched clicks (the outer part works) while never emitting MORE
    rows than clicks exist — and the oracle hash-match (parity suite)
    pins that clicks within 1h+30min of the stream end are held back."""
    import pyspark.sql.functions as F

    import http_datafusion_spark.streaming.queries as sq

    df = sq.stream_outer_interval_join(spark, sf_dir)
    row = df.agg(
        F.sum("n_matched").alias("m"), F.sum("n_null_emitted").alias("nn")
    ).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    n_clicks = clicks.count()
    # n_matched counts join PAIRS — a click matching 2+ purchases inside
    # its 30-min window legitimately yields more pairs than clicks, so
    # `m + nn <= n_clicks` is NOT an invariant. The
    # per-click invariant: every click is matched (>=1 pair), null-emitted
    # (exactly one row), or held back — so distinct MATCHED clicks plus
    # null-emitted rows never exceed the click count.
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    n_matched_clicks = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftsemi",
    ).count()
    assert row.nn > 0, "no null-padded outer rows emitted"
    assert row.m >= n_matched_clicks, (row.m, n_matched_clicks)
    assert n_matched_clicks + row.nn <= n_clicks, (n_matched_clicks, row.nn, n_clicks)


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-stateful API)


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self._timers = []
        self._state = _FakeValueState()

    def getValueState(self, name, schema):
        return self._state

    def registerTimer(self, ts):
        self._timers.append(int(ts))

    def deleteTimer(self, ts):
        self._timers.remove(int(ts))

    def listTimers(self):
        return list(self._timers)


class _FakeExpiredInfo:
    def __init__(self, ms):
        self._ms = ms

    def getExpiryTimeInMs(self):
        return self._ms


def _feed(proc, user, ts_us_list):
    import pandas as pd

    pdf = pd.DataFrame({"ts": pd.Series([t * 1000 for t in ts_us_list], dtype="int64")})
    return list(proc.handleInputRows((user,), iter([pdf]), None))


def test_tws_session_processor_logic():
    """The TWS processor's full state machine, driven directly: fold
    across batches, inline close on a within-batch gap, exactly one
    live timer (re-registered to the new session end), timer close,
    and the stale-timer guard."""
    from http_datafusion_spark.streaming.tws import (
        SESSION_GAP_US,
        SessionProcessor,
    )

    proc = SessionProcessor()
    h = _FakeHandle()
    proc.init(h)

    t0 = 1_700_000_000 * 1_000_000
    out = _feed(proc, 7, [t0, t0 + 60_000_000])  # one open session
    assert out == []
    assert h._state.get() == (t0, t0 + 60_000_000, 2)
    assert h._timers == [(t0 + 60_000_000) // 1000 + SESSION_GAP_US // 1000]

    # within-batch gap: closes inline, new session opens, timer moves
    t1 = t0 + 60_000_000 + SESSION_GAP_US + 1
    out = _feed(proc, 7, [t1])
    assert len(out) == 1 and out[0]["n_events"].iloc[0] == 2
    assert out[0]["start_us"].iloc[0] == t0
    assert h._timers == [t1 // 1000 + SESSION_GAP_US // 1000]

    # stale timer (predates current end) is ignored, state kept
    stale = list(
        proc.handleExpiredTimer((7,), None, _FakeExpiredInfo(t1 // 1000 - 1))
    )
    assert stale == [] and h._state.exists()

    # the real close timer fires: emits and clears state
    fired = list(
        proc.handleExpiredTimer(
            (7,), None, _FakeExpiredInfo(t1 // 1000 + SESSION_GAP_US // 1000)
        )
    )
    assert len(fired) == 1 and fired[0]["n_events"].iloc[0] == 1
    assert not h._state.exists()


def test_tws_processor_timestamp_resolutions_and_empty_batch():
    """The processor must fold identically whether
    the Arrow path hands it datetime64[ns] or datetime64[us] (pandas
    2.x preserves resolution), and an all-empty batch iterator for a
    fresh key must be a clean no-op (no state write, no timer)."""
    import pandas as pd

    from http_datafusion_spark.streaming.tws import SessionProcessor

    t0 = 1_700_000_000 * 1_000_000  # µs

    def run(dtype):
        proc = SessionProcessor()
        h = _FakeHandle()
        proc.init(h)
        ts = pd.Series([t0 * 1000, (t0 + 60_000_000) * 1000]).astype(
            "datetime64[ns]"
        )
        pdf = pd.DataFrame({"ts": ts.astype(dtype)})
        list(proc.handleInputRows((1,), iter([pdf]), None))
        return h._state.get(), list(h._timers)

    state_ns, timers_ns = run("datetime64[ns]")
    state_us, timers_us = run("datetime64[us]")
    assert state_ns == state_us == (t0, t0 + 60_000_000, 2)
    assert timers_ns == timers_us

    # fresh key, only empty batches: no crash, no state, no timer
    proc = SessionProcessor()
    h = _FakeHandle()
    proc.init(h)
    empty = pd.DataFrame({"ts": pd.Series([], dtype="datetime64[ns]")})
    out = list(proc.handleInputRows((2,), iter([empty]), None))
    assert out == [] and not h._state.exists() and h._timers == []


def test_tws_sessionize_e2e(spark, sf_dir):
    """End-to-end TWS run vs the batch sessionization twin — auto-skips
    where the protobuf runtime (TWS state protocol) is absent."""
    import pyspark.sql.functions as F

    from http_datafusion_spark.streaming.queries import (
        read_events_stream,
        run_to_memory,
    )
    from http_datafusion_spark.streaming.tws import HAVE_PROTOBUF, tws_sessionize

    if not HAVE_PROTOBUF:
        pytest.skip("google.protobuf runtime not available (TWS protocol)")
    out = tws_sessionize(read_events_stream(spark, sf_dir))
    res = run_to_memory(out, "append")
    closed = res.count()
    # batch twin upper bound: total gap-sessions
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql.window import Window as W

    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(W.partitionBy("user_id").orderBy(us))
    n_sessions = (
        ev.select(
            F.when(prev.isNull() | ((us - prev) > 1800 * 1_000_000), 1)
            .otherwise(0)
            .alias("new_s")
        )
        .agg(F.sum("new_s"))
        .collect()[0][0]
    )
    assert 0 < closed <= n_sessions
