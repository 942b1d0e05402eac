"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys

import pytest

import run
from check import expected_projections, failed_orders, parse_payload, reference_projections
from measure import percentile
from workload import is_complete, lifecycles, tick_divides

sys.path.insert(0, run.ROOT)  # the engine package


def _payload(oid, projection):
    """A projection in the stream's wire form."""
    return json.dumps({"orderId": oid, "events": [
        {"order-id": oid, "type": t, "timestamp": ts, "order_details": json.loads(d)}
        for t, ts, d in projection]})


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        percentile(list(range(100)), 0.95)  # 5 samples beyond
    with pytest.raises(ValueError):
        percentile(list(range(999)), 0.99)  # 9 beyond
    assert percentile(list(range(1000)), 0.99) == 989  # 10 beyond


def test_tick_does_not_divide_trigger():
    from kafka_stream_unify_order_messages_spark.app import UnifyConfig

    trigger_ms = int(1000 * float(UnifyConfig().trigger_interval.split()[0]))
    assert not tick_divides(run.TICK_MS, trigger_ms)
    assert tick_divides(500, 1000) and tick_divides(2000, 1000)


def test_generator_is_seeded_and_mixed():
    a, b = lifecycles(200, seed=5), lifecycles(200, seed=5)
    assert a == b and a != lifecycles(200, seed=6)
    assert any(len(lc) > 3 for lc in a)  # duplicates injected
    assert not all(map(is_complete, a))  # missing events injected
    assert len({e.raw_type for lc in a for e in lc}) > 3  # aliases, case, junk


def test_output_check_catches_planted_faults():
    lcs = lifecycles(30, seed=7)
    expected = reference_projections(lcs)
    orders = {lc[0].order_id for lc in lcs}
    good = [(oid, _payload(oid, p)) for oid, p in expected.items()]
    assert failed_orders(expected, good, orders) == set()

    victim = next(iter(expected))
    t, ts, d = expected[victim][1]
    wrong = list(expected[victim])
    wrong[1] = (t, ts, d.replace("pay-", "pay-9"))
    planted = [(oid, _payload(oid, wrong) if oid == victim else p) for oid, p in good]
    assert failed_orders(expected, planted, orders) == {victim}
    assert failed_orders(expected, good[1:], orders) == {good[0][0]}  # missing
    assert failed_orders(expected, good + good[:1], orders) == {good[0][0]}  # twice
    incomplete = next(lc[0].order_id for lc in lcs if not is_complete(lc))
    extra = good + [(incomplete, good[0][1])]
    assert failed_orders(expected, extra, orders) == {incomplete}
    assert parse_payload("someone-else", good[0][1]) is None
    # a batch twin that drifts from the generator's reference is caught too
    drifted = dict(expected, **{victim: tuple(wrong)})
    assert failed_orders(drifted, planted, orders, expected) == {victim}


@pytest.fixture(scope="module")
def spark():
    from kafka_stream_unify_order_messages_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield spark
    spark.stop()


def test_expected_set_on_tiny_seed(spark):
    lcs = lifecycles(60, seed=3)
    got = expected_projections(spark, [e for lc in lcs for e in lc])
    assert got == reference_projections(lcs)
    assert 0 < len(got) < len(lcs)
