"""Spark 4 arbitrary-stateful API (``transformWithStateInPandas``) —
timer-driven sessionization.

Completes the stateful-API matrix beyond ``applyInPandasWithState``
(streaming/stateful.py): the TWS API adds named state variables, an
explicit timer registry (register/list/delete), and a separate
``handleExpiredTimer`` callback — the shape Spark recommends for new
stateful operators from 4.0 on (SPARK-46815 umbrella, public).

ENVIRONMENT GATE: the TWS Python worker speaks a protobuf protocol to
the JVM state server (pyspark/sql/streaming/proto/StateMessage_pb2.py),
so it requires the ``google.protobuf`` runtime, which this container
does not ship (and installs are off-limits). The processor logic is
therefore structured so everything EXCEPT the protocol is real and
unit-tested:

- ``SessionProcessor`` is a complete, correct StatefulProcessor whose
  logic is exercised directly against an in-memory fake handle/state
  (tests/test_streaming.py::test_tws_session_processor_logic) — the
  fold, the within-batch close, the timer re-registration, and the
  stale-timer guard;
- ``tws_sessionize`` wires the real query (RocksDB provider conf,
  event-time mode, append output) and raises a clear error when the
  protobuf runtime is absent; the e2e test auto-skips on that marker.

The semantics mirror stateful.session_close_stream (gap = 1800 s):
state holds the OPEN session per user; a gap larger than SESSION_GAP
closes inline; the event-time timer at end + gap closes it when the
watermark passes. Sessions still open at the final watermark never
emit — the held-back tail that distinguishes the streaming form from
its batch twin.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

try:  # the TWS protocol needs the protobuf runtime
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAVE_PROTOBUF = True
except ImportError:
    HAVE_PROTOBUF = False

from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

SESSION_GAP_US = 1800 * 1_000_000
TWS_OUTPUT_SCHEMA = "user_id bigint, start_us bigint, end_us bigint, n_events bigint"
TWS_STATE_SCHEMA = "start_us long, end_us long, n long"


class SessionProcessor(StatefulProcessor):
    """Per-user gap sessionization with explicit event-time timers.

    State: one (start_us, end_us, n) value per key — O(active users),
    never stream length. Exactly one live timer per key (the close
    timer of the open session); re-registration deletes the previous
    one, and a belt-and-suspenders stale check in handleExpiredTimer
    ignores a timer that predates the current session end.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("sess", TWS_STATE_SCHEMA)

    @staticmethod
    def _close_row(user_id: int, start: int, end: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "start_us": [start],
                "end_us": [end],
                "n_events": [n],
            }
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self.state.exists():
            start, end, n = self.state.get()
        else:
            start, end, n = None, None, 0
        out = []
        for pdf in rows:
            # µs integers: the same precision/ordering as the batch twin.
            # Normalize explicitly through datetime64[ns] — pandas 2.x
            # Arrow conversion may deliver datetime64[us], and a bare
            # .astype('int64') on that would be µs already, making the
            # //1000 below shear the gap math by 1000×.
            ns = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").astype("int64")
            for us in sorted(ns // 1_000):
                us = int(us)
                if start is None:
                    start, end, n = us, us, 1
                elif us - end > SESSION_GAP_US:
                    out.append(self._close_row(user_id, start, end, n))
                    start, end, n = us, us, 1
                else:
                    end, n = us, n + 1
        if end is None:
            # Only empty batches were delivered for a fresh key: nothing
            # to fold, no state to write, no timer to (re)arm.
            return iter(out)
        self.state.update((start, end, n))
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(end // 1000 + SESSION_GAP_US // 1000)
        return iter(out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if not self.state.exists():
            return iter([])
        start, end, n = self.state.get()
        if expiredTimerInfo.getExpiryTimeInMs() < end // 1000 + SESSION_GAP_US // 1000:
            return iter([])  # stale: state advanced past this timer
        self.state.clear()
        return iter([self._close_row(user_id, start, end, n)])


def tws_sessionize(events_stream: DataFrame) -> DataFrame:
    """Attach the TWS session processor (event-time mode, append).

    Raises RuntimeError when the protobuf runtime is missing — callers
    and tests key off that marker rather than a worker-side crash."""
    if not HAVE_PROTOBUF:
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "runtime (TWS state-server protocol); not available in this "
            "environment"
        )
    spark = events_stream.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        events_stream.select("user_id", "ts")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )
