"""Streaming order-event unification: the reference's stateful core as a
Structured Streaming ``applyInPandasWithState`` operator.

Parity targets (file:line into /root/reference):
- 5 s processing-time buffer per order, started on first event
  (OrderProjectionTopology.java:29, OrderProjectionTransformer.java:60-68)
- stale-flush-on-arrival: an event hitting an already-expired buffer flushes
  the old buffer FIRST, then seeds a fresh one with itself
  (OrderProjectionTransformer.java:45-58)
- first-wins per event type (OrderProjection.java:55-58)
- emission ONLY at expiry — complete buffers still wait out their deadline
  (the punctuator is the only emit path, OrderProjectionTransformer.java:90-104)
- completeness gate: incomplete buffers are dropped silently at expiry
  (OrderProjectionTransformer.java:110-116)
- output events ordered created -> placed -> cancelled
  (OrderProjection.java:74-84)

Scale notes: Spark fires ProcessingTimeTimeout per expired key at micro-batch
boundaries, but finding those keys IS an O(all keys) store sweep, like the
reference's 1 s punctuator (its known scale flaw, SURVEY.md §4.2): Spark
4.1's ``FlatMapGroupsInPandasWithStateExec`` ``processTimedOutState`` runs
``StateManager.getAllState(store).filter(timeoutTimestamp < threshold)``,
which scans every partition's whole store on every micro-batch. The TWS
twin (unify_tws.py) keeps its timers in an index and has no such sweep.
State per key is O(1) (three nullable event structs + a deadline). Run with
``trigger(processingTime='1 second')`` to match the reference's punctuation
cadence; at-least-once sink semantics match the reference default.

Restart caveat (shared by every micro-batch stateful operator here; found
and pinned on the TWS twin — see unify_tws.py's module docstring): a query
restarted from a fully-committed checkpoint with no new input runs no
micro-batch, so recovered timeouts/timers wait for the first post-restart
data batch. Continuous sources never notice; a drained-topic replay should
append one sentinel record to flush pending buffers.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kafka_stream_unify_order_messages_spark.schemas import (
    PENDING_ORDER_STATE_SCHEMA,
)

REQUIRED = ("created", "placed", "cancelled")

UNIFY_OUTPUT_SCHEMA = StructType(
    [
        StructField("order_id", StringType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("payload", StringType(), False),
    ]
)


def _payload_json(order_id: str, events: dict[str, dict[str, Any]]) -> str:
    """Reference OrderProjectionPayload JSON: {"orderId", "events": [...]},
    events priority-ordered, each {"order-id","type","timestamp",
    "order_details"} with order_details passed through as parsed JSON
    (Jackson serializes the JsonNode inline, not as a string).
    """
    out_events = []
    for t in REQUIRED:
        ev = events[t]
        details = ev.get("order_details")
        try:
            details_val = json.loads(details) if details is not None else None
        except (TypeError, ValueError):
            details_val = details  # not JSON: pass the raw string through
        out_events.append(
            {
                "order-id": ev.get("order_id"),
                "type": ev.get("type"),
                "timestamp": ev.get("timestamp"),
                "order_details": details_val,
            }
        )
    return json.dumps(
        {"orderId": order_id, "events": out_events}, separators=(",", ":")
    )


def _state_tuple(deadline_ms: int, events: dict[str, dict[str, Any]]):
    def ev_tuple(t: str):
        ev = events.get(t)
        if ev is None:
            return None
        return (
            ev.get("order_id"),
            ev.get("type"),
            ev.get("timestamp"),
            ev.get("order_details"),
        )

    return (deadline_ms, ev_tuple("created"), ev_tuple("placed"), ev_tuple("cancelled"))


def _decode_state(value: tuple) -> tuple[int, dict[str, dict[str, Any]]]:
    """Inverse of ``_state_tuple``: state row -> (deadline_ms, events)."""
    deadline_ms, *evs = value
    events: dict[str, dict[str, Any]] = {}
    for t, ev in zip(REQUIRED, evs):
        if ev is not None and ev[1] is not None:
            events[t] = {
                "order_id": ev[0],
                "type": ev[1],
                "timestamp": ev[2],
                "order_details": ev[3],
            }
    return int(deadline_ms or 0), events


def _load_state(state: GroupState) -> tuple[int, dict[str, dict[str, Any]]]:
    return _decode_state(state.get)


def _event_rows(pdfs: Iterator[pd.DataFrame]) -> Iterator[dict[str, Any]]:
    """Every row of every frame as a column -> value dict. Zipping the
    column lists takes about half the time per group of ``itertuples()``
    + ``_asdict()``, and keeps column names that are not identifiers (or
    start with ``_``) as they are."""
    for pdf in pdfs:
        cols = list(pdf.columns)
        for values in zip(*(pdf[c].tolist() for c in cols)):
            yield dict(zip(cols, values))


def _emission_frame(emissions: list[tuple[str, int, str]]) -> pd.DataFrame:
    """The (order_id, n_events, payload) output frame, built column-wise."""
    return pd.DataFrame(
        {c: list(v) for c, v in zip(UNIFY_OUTPUT_SCHEMA.names, zip(*emissions))},
        copy=False,
    )


def make_unify_fn(buffer_ms: int = 5000, clock=None):
    """Build the per-group state function. ``clock`` (ms) is injectable for
    deterministic tests; defaults to wall clock like the reference
    (context.currentSystemTimeMs, OrderProjectionTransformer.java:43).
    """
    now_ms = clock or (lambda: int(time.time() * 1000))

    def fn(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        emissions: list[tuple[str, int, str]] = []

        def emit_if_complete(events: dict[str, dict[str, Any]]) -> None:
            # completeness gate: silently drop incomplete buffers
            if all(t in events for t in REQUIRED):
                emissions.append(
                    (order_id, len(events), _payload_json(order_id, events))
                )

        if state.hasTimedOut:
            # punctuator path: deadline passed with no new data
            _, events = _load_state(state)
            emit_if_complete(events)
            state.remove()
        else:
            now = now_ms()
            if state.exists:
                deadline, events = _load_state(state)
                # stale-flush-on-arrival: expired-or-corrupt buffer is
                # flushed BEFORE the new event is considered
                if not events or deadline <= 0 or now >= deadline:
                    emit_if_complete(events)
                    deadline, events = 0, {}
            else:
                deadline, events = 0, {}

            for ev in _event_rows(pdfs):
                if ev.get("type") not in REQUIRED:
                    continue  # unknown type: ignored (addEvent parity)
                if not events:
                    deadline = now + buffer_ms  # new buffer, new deadline
                if ev["type"] in events:
                    continue  # first-wins duplicate suppression
                events[ev["type"]] = ev

            if events:
                state.update(_state_tuple(deadline, events))
                state.setTimeoutDuration(max(deadline - now, 1))
            elif state.exists:
                state.remove()

        if emissions:
            yield _emission_frame(emissions)

    return fn


def make_unify_fn_event_time(buffer_ms: int = 5000):
    """Event-time variant of the state function: the buffer's deadline is
    ``first event's timestamp + buffer_ms`` and expiry is driven by the
    WATERMARK, not the wall clock. Replaying the same input yields the
    same projections — the deterministic-reprocessing mode the reference
    (wall-clock punctuation, OrderProjectionTransformer.java:35,43) cannot
    offer. Requires ``withWatermark`` on the event-time column and rows
    carrying ``event_ms`` (epoch millis).
    """

    def fn(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]
        emissions: list[tuple[str, int, str]] = []

        def emit_if_complete(events: dict[str, dict[str, Any]]) -> None:
            if all(t in events for t in REQUIRED):
                emissions.append(
                    (order_id, len(events), _payload_json(order_id, events))
                )

        if state.hasTimedOut:
            _, events = _load_state(state)
            emit_if_complete(events)
            state.remove()
        else:
            if state.exists:
                deadline, events = _load_state(state)
            else:
                deadline, events = 0, {}
            watermark = state.getCurrentWatermarkMs()
            # watermark passed the deadline before this event arrived:
            # the old buffer is stale — flush it, then seed a fresh one
            if events and watermark >= deadline > 0:
                emit_if_complete(events)
                deadline, events = 0, {}

            for ev in _event_rows(pdfs):
                ev_ms = ev.pop("event_ms", None)
                ev.pop("_event_time", None)
                if ev.get("type") not in REQUIRED:
                    continue
                if not events:
                    deadline = int(ev_ms) + buffer_ms
                if ev["type"] in events:
                    continue
                events[ev["type"]] = ev

            if events:
                state.update(_state_tuple(deadline, events))
                state.setTimeoutTimestamp(deadline)
            elif state.exists:
                state.remove()

        if emissions:
            yield _emission_frame(emissions)

    return fn


def unify_stream_event_time(
    events: DataFrame,
    buffer_ms: int = 5000,
    ts_col: str = "timestamp",
    watermark_delay: str = "2 seconds",
) -> DataFrame:
    """Event-time unification: same semantics as ``unify_stream`` but the
    5 s window is measured in EVENT time and closed by the watermark —
    deterministic under replay (same input files => same output), which
    the reference's wall-clock design cannot do. ``ts_col`` must be an
    ISO-8601 string or timestamp column.
    """
    from pyspark.sql import functions as F

    with_ts = events.withColumn(
        "_event_time", F.to_timestamp(ts_col)
    ).withColumn("event_ms", F.unix_millis(F.col("_event_time")))
    # the watermark column rides through the stateful op (dropping it would
    # detach the watermark EventTimeTimeout requires); the state fn ignores
    # fields outside the state schema
    watermarked = with_ts.withWatermark("_event_time", watermark_delay)
    return (
        watermarked
        .groupBy("order_id")
        .applyInPandasWithState(
            make_unify_fn_event_time(buffer_ms),
            outputStructType=UNIFY_OUTPUT_SCHEMA,
            stateStructType=PENDING_ORDER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def unify_stream(
    events: DataFrame,
    buffer_ms: int = 5000,
    clock=None,
) -> DataFrame:
    """Apply the stateful unification to a streaming DataFrame with columns
    (order_id, type, timestamp, order_details); ``type`` must already be
    canonicalized (functions.normalize) and null ids filtered — compose:

        normalized = events.withColumn("type", canonicalize_type(...))
                           .filter(col("order_id").isNotNull())
        projections = unify_stream(normalized)

    Returns an append-mode stream of (order_id, n_events, payload).
    """
    return events.groupBy("order_id").applyInPandasWithState(
        make_unify_fn(buffer_ms, clock),
        outputStructType=UNIFY_OUTPUT_SCHEMA,
        stateStructType=PENDING_ORDER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
