"""Seeded order-lifecycle inputs for the benchmark, and the open-loop
file publisher that feeds the live workload.

Everything here is pure Python (no Spark): the engine only ever sees the
parquet files of raw ``(value, topic)`` records this module writes.

A lifecycle is one order with its three events (created, placed,
cancelled). Even-numbered lifecycles get duplicate injection and odd ones
missing-event injection, so about half the orders carry duplicate events
and about a tenth are incomplete. Raw types use canonical names, aliases,
mixed case and junk (which falls back to the topic), so the normalize
layer has real work.
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

TYPES = ("created", "placed", "cancelled")
TOPIC = {t: f"order-{t}" for t in TYPES}
MISSING_PATTERNS = (("placed", "cancelled"), ("created", "cancelled"), ("created",))
DUPLICATE_P = 0.3
MISSING_P = 0.2
BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


@dataclass(frozen=True)
class Event:
    order_id: str
    type: str  # canonical type
    raw_type: str  # type as written on the wire
    topic: str
    timestamp: str
    order_details: str  # raw JSON text
    arrival_seq: int

    def value(self) -> str:
        """Wire form: the reference's OrderEvent JSON, order_details last."""
        return (
            f'{{"order-id":{json.dumps(self.order_id)},'
            f'"type":{json.dumps(self.raw_type)},'
            f'"timestamp":{json.dumps(self.timestamp)},'
            f'"order_details":{self.order_details}}}'
        )


def _iso(ms: int) -> str:
    s, milli = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{milli:03d}Z"


def _raw_type(rng: random.Random, etype: str) -> str:
    return rng.choice(
        (etype, etype, f"order-{etype}", etype.upper(), etype.capitalize(), "bogus")
    )


def _details(rng: random.Random, etype: str) -> str:
    if etype == "created":
        body = {
            "customer_id": f"cust-{rng.randrange(1000)}",
            "items": [
                {"sku": f"sku-{rng.randrange(100)}", "quantity": rng.randrange(1, 5),
                 "unit_price": round(rng.uniform(1, 100), 2)}
                for _ in range(rng.randrange(1, 4))
            ],
            "total": round(rng.uniform(10, 400), 2),
            "currency": "USD",
        }
    elif etype == "placed":
        body = {
            "payment_reference": f"pay-{rng.randrange(10**6)}",
            "shipping_method": rng.choice(("standard", "express")),
            "shipping_address": {"city": "Springfield",
                                 "postal_code": f"{rng.randrange(10000, 99999)}"},
        }
    else:
        body = {
            "reason": rng.choice(("customer_request", "payment_failed")),
            "refund_reference": f"ref-{rng.randrange(10**6)}",
        }
    return json.dumps(body, separators=(",", ":"))


def lifecycles(n: int, seed: int) -> list[list[Event]]:
    """``n`` seeded lifecycles, each a list of its published events in
    publish order (always shuffled, as the reference producer does)."""
    rng = random.Random(seed)
    out: list[list[Event]] = []
    seq = 0
    for i in range(n):
        oid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        t = BASE_MS + i * 10
        events = []
        for etype in TYPES:
            events.append((etype, t, _details(rng, etype)))
            t += rng.randrange(0, 101)
        if i % 2 == 0 and rng.random() < DUPLICATE_P:
            copies = rng.randrange(2, 6)
            events += [e for e in events[: rng.choice((1, 2))] for _ in range(copies - 1)]
        elif i % 2 == 1 and rng.random() < MISSING_P:
            keep = rng.choice(MISSING_PATTERNS)
            events = [e for e in events if e[0] in keep]
        rng.shuffle(events)
        # duplicates are exact copies of their original, raw type included
        raw = {etype: _raw_type(rng, etype) for etype in TYPES}
        lifecycle = []
        for etype, ms, details in events:
            lifecycle.append(
                Event(oid, etype, raw[etype], TOPIC[etype], _iso(ms), details, seq)
            )
            seq += 1
        out.append(lifecycle)
    return out


def is_complete(lifecycle: list[Event]) -> bool:
    return {e.type for e in lifecycle} == set(TYPES)


def write_file(path: str, lifecycles_: list[list[Event]]) -> None:
    """Write raw records atomically: readers never see a partial file."""
    events = [e for lc in lifecycles_ for e in lc]
    table = pa.table({
        "value": pa.array([e.value() for e in events], pa.string()),
        "topic": pa.array([e.topic for e in events], pa.string()),
    })
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def tick_divides(tick_ms: int, trigger_ms: int) -> bool:
    """True when publishing every ``tick_ms`` would phase-lock with the
    trigger: the tick divides the trigger interval or the reverse."""
    return trigger_ms % tick_ms == 0 or tick_ms % trigger_ms == 0


def publish(src_dir: str, ticks: list[list[list[Event]]], start: float,
            tick_s: float, late_out) -> None:
    """Open-loop publisher, run in its own process: file ``k`` is due at
    ``start + k * tick_s`` whatever the engine is doing. Sends the list of
    per-file lateness (publish time minus due time, seconds) to
    ``late_out`` (a multiprocessing connection) when done."""
    late = []
    for k, batch in enumerate(ticks):
        due = start + k * tick_s
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        write_file(os.path.join(src_dir, f"live-{k:05d}.parquet"), batch)
        late.append(time.time() - due)
    late_out.send(late)
    late_out.close()
