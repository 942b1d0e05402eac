"""Output check for the stream workloads.

The expected projections come from the engine's batch twin,
``operators.unify.unify_events``, run over the same generated events in
structured form (so the stream's serde layer is checked too). The
comparison itself is owned here, so later clean-ups of the program or its
test harnesses cannot weaken it.
"""

from __future__ import annotations

import json
from collections import Counter

from workload import TYPES, Event, is_complete

# canonical form of one projection: ((type, timestamp, details), ...)
Projection = tuple[tuple[str, str, str], ...]


def _canon_details(details) -> str:
    if isinstance(details, str):
        details = json.loads(details)
    return json.dumps(details, sort_keys=True, separators=(",", ":"))


def expected_projections(spark, events: list[Event]) -> dict[str, Projection]:
    """order_id -> projection, from the batch twin over ``events``."""
    import pandas as pd

    from kafka_stream_unify_order_messages_spark.operators.unify import unify_events

    pdf = pd.DataFrame(
        [(e.order_id, e.raw_type, e.topic, e.timestamp, e.order_details,
          e.arrival_seq) for e in events],
        columns=["order_id", "type", "topic", "timestamp", "order_details",
                 "arrival_seq"],
    )
    df = spark.createDataFrame(  # through Arrow: seconds faster than rows
        pdf,
        "order_id string, type string, topic string, timestamp string,"
        " order_details string, arrival_seq long",
    )
    out = unify_events(
        df,
        topic_col="topic",
        arrival_cols=["arrival_seq"],
        payload_cols=["order_id", "type", "timestamp", "order_details"],
    )
    return {
        row["order_id"]: tuple(
            (ev["type"], ev["timestamp"], _canon_details(ev["order_details"]))
            for ev in row["events"]
        )
        for row in out.collect()
    }


def reference_projections(lifecycles: list[list[Event]]) -> dict[str, Projection]:
    """The same projections computed straight from the generator, without
    the engine: the first published event of each type, complete orders
    only. Guards the batch twin itself."""
    out = {}
    for lc in filter(is_complete, lifecycles):
        first: dict[str, Event] = {}
        for e in sorted(lc, key=lambda e: e.arrival_seq):
            first.setdefault(e.type, e)
        out[lc[0].order_id] = tuple(
            (t, first[t].timestamp, _canon_details(first[t].order_details))
            for t in TYPES)
    return out


def parse_payload(order_id: str, payload: str) -> Projection | None:
    """A stream projection's payload in canonical form, or None when its
    order ids disagree with the key it was emitted under."""
    body = json.loads(payload)
    if body.get("orderId") != order_id:
        return None
    if any(ev.get("order-id") != order_id for ev in body["events"]):
        return None
    return tuple(
        (ev["type"], ev["timestamp"], _canon_details(ev["order_details"]))
        for ev in body["events"]
    )


def failed_orders(expected: dict[str, Projection],
                  emitted: list[tuple[str, str]],
                  orders: set[str],
                  reference: dict[str, Projection] | None = None) -> set[str]:
    """Orders whose outcome is wrong: expected but never emitted, emitted
    but not expected (or never published), emitted more than once, or
    emitted with a payload unequal to the batch twin's; and, given the
    generator's ``reference``, orders where the batch twin disagrees
    with it."""
    seen = Counter(oid for oid, _ in emitted)
    bad = {oid for oid in orders | set(seen)
           if oid not in orders or seen[oid] != (1 if oid in expected else 0)}
    for oid, payload in emitted:
        if oid in expected and parse_payload(oid, payload) != expected[oid]:
            bad.add(oid)
    if reference is not None:
        bad |= {oid for oid in expected.keys() | reference.keys()
                if expected.get(oid) != reference.get(oid)}
    return bad
