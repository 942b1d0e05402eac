"""Order unification on the v2 arbitrary-stateful API
(``transformWithStateInPandas``, Spark 4): the reference's punctuator as
explicit per-key timers.

Same semantics as ``unify_stream`` (see unify_stream.py for the full
parity list into /root/reference):

- 5 s processing-time buffer started on first event
  (OrderProjectionTopology.java:29, OrderProjectionTransformer.java:60-68)
- stale-flush-on-arrival (OrderProjectionTransformer.java:45-58)
- first-wins per type (OrderProjection.java:55-58)
- emit only at expiry; incomplete buffers dropped silently
  (OrderProjectionTransformer.java:90-124)
- output ordered created -> placed -> cancelled (OrderProjection.java:74-84)

Why a second implementation: the v1 ``applyInPandasWithState`` timeout is
a single implicit per-key deadline; TWS timers are explicit and
addressable — ``registerTimer(deadline)`` IS the reference's
``context.schedule`` + per-buffer deadline, and ``deleteTimer`` lets the
stale-flush path cancel the superseded deadline instead of relying on an
expiry-time guard alone. TWS also brings composable typed state
(value/list/map), state TTL, and init-from-batch — the extension surface
the reference's Transformer interface plays (SURVEY.md §2.6).

Scale notes: timers live in the state store, fire per expired key at
micro-batch boundaries (no O(all keys) sweep — the reference's known
flaw, SURVEY.md §4.2); state per key is O(1). TWS requires the RocksDB
state store provider (``spark.sql.streaming.stateStore.providerClass =
...RocksDBStateStoreProvider``) — the at-scale choice anyway, and the
same engine the reference's store runs on.

Restart caveat (measured, pinned by the recovery test): while a query
RUNS, processing-time mode schedules continuous no-data micro-batches,
so timers fire on schedule with or without input. But a query RESTARTED
from a fully-committed checkpoint with no new input runs no batch at
all — MicroBatchExecution decides no-data batches from an in-memory
``lastExecution`` that a fresh restart lacks — so buffered state and
pending timers (both fully recovered) wait for the FIRST post-restart
data batch before firing. On a production Kafka topology input is
continuous and the gap is unobservable; a replay/backfill restart of a
drained topic should append one sentinel record (any key) to drain
pending buffers.

Runtime dependency note: Spark's TWS Python runner speaks a
protobuf-based state-server protocol. With the ``protobuf`` package
installed (``pip install pyspark[connect]``) the generated module is
used as-is; without it, importing THIS module installs the pure-stdlib
wire-format shim (streaming/proto_shim.py) in its place — and because a
Spark worker imports this module while unpickling the processor, the
shim lands in every worker process before the state client's first lazy
protobuf import. The processor's semantics are additionally covered
deterministically in tests/test_unify_tws.py without any runner.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

from kafka_stream_unify_order_messages_spark.streaming import proto_shim

proto_shim.install()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from kafka_stream_unify_order_messages_spark.schemas import (
    PENDING_ORDER_STATE_SCHEMA,
)
from kafka_stream_unify_order_messages_spark.streaming.unify_stream import (
    REQUIRED,
    UNIFY_OUTPUT_SCHEMA,
    _decode_state,
    _emission_frame,
    _event_rows,
    _payload_json,
    _state_tuple,
)


class OrderUnifyProcessor(StatefulProcessor):
    """Per-order buffering processor. One ValueState row (same schema as
    the v1 operator) + one timer per live buffer."""

    def __init__(self, buffer_ms: int = 5000):
        self.buffer_ms = buffer_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("pending", PENDING_ORDER_STATE_SCHEMA)

    def close(self) -> None:
        pass

    # -- emission ----------------------------------------------------------

    def _emit_if_complete(
        self, order_id: str, events: dict[str, dict[str, Any]]
    ) -> list[tuple[str, int, str]]:
        # completeness gate: silently drop incomplete buffers
        if all(t in events for t in REQUIRED):
            return [(order_id, len(events), _payload_json(order_id, events))]
        return []

    # -- data arrival ------------------------------------------------------

    def handleInputRows(
        self,
        key: tuple,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        now = timerValues.getCurrentProcessingTimeInMs()
        emissions: list[tuple[str, int, str]] = []

        if self.state.exists():
            deadline, events = _decode_state(self.state.get())
            # stale-flush-on-arrival: an expired-or-corrupt buffer is
            # flushed BEFORE the new event is considered, and its timer is
            # CANCELLED — otherwise the superseded deadline would fire
            # later and expire the fresh buffer early. (The v1 operator
            # cannot cancel; this is the TWS-native expression of
            # OrderProjectionTransformer.java:45-58.)
            if not events or deadline <= 0 or now >= deadline:
                emissions.extend(self._emit_if_complete(order_id, events))
                if deadline > 0:
                    self.handle.deleteTimer(deadline)
                deadline, events = 0, {}
        else:
            deadline, events = 0, {}

        for ev in _event_rows(rows):
            if ev.get("type") not in REQUIRED:
                continue  # unknown type: ignored (addEvent parity)
            if not events:
                # new buffer: deadline = first event arrival + window
                deadline = now + self.buffer_ms
                self.handle.registerTimer(deadline)
            if ev["type"] in events:
                continue  # first-wins duplicate suppression
            events[ev["type"]] = ev

        if events:
            self.state.update(_state_tuple(deadline, events))
        elif self.state.exists():
            self.state.clear()

        if emissions:
            yield _emission_frame(emissions)

    # -- timer expiry (the punctuator path) --------------------------------

    def handleExpiredTimer(
        self,
        key: tuple,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        if not self.state.exists():
            return
        deadline, events = _decode_state(self.state.get())
        # a timer the stale-flush path re-registered can race one already
        # queued for this batch: only the CURRENT buffer's deadline expires
        # it (defensive guard; deleteTimer makes this near-unreachable)
        if deadline > expiredTimerInfo.getExpiryTimeInMs():
            return
        emissions = self._emit_if_complete(order_id, events)
        self.state.clear()
        if emissions:
            yield _emission_frame(emissions)


class OrderUnifyEventProcessor(OrderUnifyProcessor):
    """Event-time twin of ``OrderUnifyProcessor``: the buffer deadline is
    ``first event's event-time + buffer_ms`` and the per-key timer fires
    when the WATERMARK passes it (``timeMode="eventTime"``) — replaying
    the same input yields the same projections, the deterministic-
    reprocessing mode the reference's wall-clock punctuator
    (OrderProjectionTransformer.java:35,43) cannot offer. Mirrors the v1
    ``make_unify_fn_event_time`` semantics on the v2 API, with the
    TWS-native improvement that the stale-flush path CANCELS the
    superseded timer instead of guarding at expiry."""

    def handleInputRows(
        self,
        key: tuple,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        wm = timerValues.getCurrentWatermarkInMs()
        emissions: list[tuple[str, int, str]] = []

        if self.state.exists():
            deadline, events = _decode_state(self.state.get())
            # watermark passed the deadline before this event arrived:
            # the old buffer is stale — flush it (emit-if-complete),
            # cancel its timer, seed fresh
            if not events or deadline <= 0 or wm >= deadline:
                emissions.extend(self._emit_if_complete(order_id, events))
                if deadline > 0:
                    self.handle.deleteTimer(deadline)
                deadline, events = 0, {}
        else:
            deadline, events = 0, {}

        for ev in _event_rows(rows):
            ev_ms = ev.pop("event_ms", None)
            ev.pop("_event_time", None)
            if ev.get("type") not in REQUIRED:
                continue  # unknown type: ignored (addEvent parity)
            if ev_ms is None:
                # ts_col failed to_timestamp parsing upstream: whether
                # a null-event-time row reaches the processor at all is
                # engine-version-dependent (the watermark filter
                # normally drops it) — skip rather than crash on
                # int(None) if one ever does
                continue
            if not events:
                # new buffer: deadline = first event's EVENT time +
                # window; a timer at a past event-time (late first
                # event) fires on the next micro-batch
                deadline = int(ev_ms) + self.buffer_ms
                self.handle.registerTimer(deadline)
            if ev["type"] in events:
                continue  # first-wins duplicate suppression
            events[ev["type"]] = ev

        if events:
            self.state.update(_state_tuple(deadline, events))
        elif self.state.exists():
            self.state.clear()

        if emissions:
            yield _emission_frame(emissions)


def unify_stream_tws_event_time(
    events: DataFrame,
    buffer_ms: int = 5000,
    ts_col: str = "timestamp",
    watermark_delay: str = "2 seconds",
) -> DataFrame:
    """Event-time unification on the v2 API: same output contract as
    ``unify_stream_tws`` but windows are measured in EVENT time and
    closed by the watermark — deterministic under replay. ``ts_col``
    must be an ISO-8601 string or timestamp column. Requires the RocksDB
    state store provider, like every TWS query.

    The watermark column and ``event_ms`` ride through the grouping into
    the processor (dropping ``_event_time`` would detach the watermark
    that event-time timers require); the processor pops both before
    buffering, so state rows stay on the shared v1 schema.
    """
    import pyspark.sql.functions as F

    with_ts = events.withColumn(
        "_event_time", F.to_timestamp(ts_col)
    ).withColumn("event_ms", F.unix_millis(F.col("_event_time")))
    return (
        with_ts.withWatermark("_event_time", watermark_delay)
        .groupBy("order_id")
        .transformWithStateInPandas(
            statefulProcessor=OrderUnifyEventProcessor(buffer_ms),
            outputStructType=UNIFY_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


def unify_stream_tws(
    events: DataFrame,
    buffer_ms: int = 5000,
) -> DataFrame:
    """v2-API equivalent of ``unify_stream``: input columns
    (order_id, type, timestamp, order_details), type already canonicalized,
    null ids filtered. Returns append-mode (order_id, n_events, payload).

    Requires the RocksDB state store provider (see module docstring);
    ``app.apply_state_store_config`` sets it.
    """
    return events.groupBy("order_id").transformWithStateInPandas(
        statefulProcessor=OrderUnifyProcessor(buffer_ms),
        outputStructType=UNIFY_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="processingTime",
    )
