"""Event-time streaming mode (deterministic replay) and checkpoint
recovery: state must survive a stop/restart with the same checkpoint."""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_stream_unify_order_messages_spark.session import (
    _FS_CHECKPOINT_MANAGER,
    _checkpoint_conf,
)
from kafka_stream_unify_order_messages_spark.streaming import (
    unify_stream,
    unify_stream_event_time,
)

SCHEMA = "order_id string, type string, timestamp string, order_details string"
COLS = ["order_id", "type", "timestamp", "order_details"]


def write_batch(src_dir, rows, batch_no):
    table = pa.table({k: [r[i] for r in rows] for i, k in enumerate(COLS)})
    pq.write_table(table, f"{src_dir}/batch-{batch_no:04d}.parquet")


def ev(order_id, etype, second, details=None):
    return (
        order_id,
        etype,
        f"2026-01-01T00:00:{second:02d}.000Z",
        details or json.dumps({"s": second}),
    )


def wait_for(spark, query, name, predicate, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception():
            raise query.exception()
        if predicate():
            return True
        time.sleep(0.3)
    return False


def start_query(spark, src_dir, ckpt, name, event_time=False):
    events = spark.readStream.schema(SCHEMA).parquet(str(src_dir))
    unified = (
        unify_stream_event_time(events, buffer_ms=5000)
        if event_time
        else unify_stream(events, buffer_ms=1500)
    )
    return (
        unified.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def test_event_time_mode_emits_on_watermark(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    name = f"et_{uuid.uuid4().hex[:8]}"
    q = start_query(spark, src, tmp_path / "ckpt", name, event_time=True)
    try:
        # o1 completes within its 5 s event-time window
        write_batch(src, [ev("o1", "created", 0), ev("o1", "placed", 2),
                          ev("o1", "cancelled", 4)], 0)
        # o2 stays incomplete
        write_batch(src, [ev("o2", "created", 1)], 1)
        # a late "heartbeat" event pushes the watermark far past both
        # deadlines (event time 60 s; watermark delay 2 s)
        write_batch(src, [ev("hb", "created", 59)], 2)

        assert wait_for(
            spark, q, name,
            lambda: any(r.order_id == "o1" for r in spark.table(name).collect()),
        )
        out = {r.order_id: json.loads(r.payload) for r in spark.table(name).collect()}
        assert [e["type"] for e in out["o1"]["events"]] == [
            "created", "placed", "cancelled",
        ]
        assert "o2" not in out  # incomplete: dropped silently at expiry
    finally:
        q.stop()


def test_event_time_mode_deterministic_replay(spark, tmp_path):
    # same input files, fresh checkpoint => identical emissions (the
    # property the reference's wall-clock punctuator cannot provide)
    src = tmp_path / "in"
    src.mkdir()
    write_batch(src, [ev("o1", "cancelled", 4), ev("o1", "created", 0),
                      ev("o1", "placed", 2),
                      ev("o2", "created", 1),
                      ev("hb", "created", 59)], 0)

    results = []
    for run in range(2):
        name = f"replay{run}_{uuid.uuid4().hex[:8]}"
        q = start_query(spark, src, tmp_path / f"ckpt{run}", name, event_time=True)
        try:
            assert wait_for(
                spark, q, name,
                lambda: spark.table(name).count() >= 1,
            )
            # allow any trailing emissions to land
            time.sleep(1.0)
            results.append(
                sorted(
                    (r.order_id, r.payload) for r in spark.table(name).collect()
                )
            )
        finally:
            q.stop()
    assert results[0] == results[1]
    assert [oid for oid, _ in results[0]] == ["o1"]


import pytest


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_checkpoint_recovery_preserves_buffered_state(spark, tmp_path, provider):
    # memory sink can't recover, so this test writes parquet (the sink a
    # real deployment would use alongside Kafka). Runs under BOTH state
    # store providers: recovery through RocksDB's changelog/snapshot
    # checkpointing is the at-scale path (the reference's store is
    # RocksDB, OrderProjectionTopology.java:48-52)
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
    try:
        _recovery_body(spark, tmp_path)
    finally:
        # restore even on mid-test assertion failures — a leaked
        # provider conf would silently move every later streaming test
        # onto RocksDB
        if provider == "rocksdb":
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)


def _recovery_body(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        events = spark.readStream.schema(SCHEMA).parquet(str(src))
        return (
            unify_stream_event_time(events, buffer_ms=5000)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def out_rows():
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []

    q1 = start()
    try:
        # two of three events arrive, watermark stays low: buffer is OPEN
        write_batch(src, [ev("o9", "created", 0), ev("o9", "placed", 1)], 0)
        deadline = time.time() + 45
        while time.time() < deadline:
            if q1.exception():
                raise q1.exception()
            lp = q1.lastProgress or {}
            if lp.get("batchId", -1) >= 1:
                break  # the data batch committed; state is checkpointed
            time.sleep(0.3)
        else:
            raise AssertionError("first query never committed the data batch")
    finally:
        q1.stop()
    assert out_rows() == []  # nothing emitted yet: buffer still open

    # restart from the SAME checkpoint: the buffered o9 state must survive
    q2 = start()
    try:
        write_batch(src, [ev("o9", "cancelled", 2)], 1)  # completes the buffer
        write_batch(src, [ev("hb", "created", 59)], 2)  # watermark push
        deadline = time.time() + 60
        while time.time() < deadline:
            if q2.exception():
                raise q2.exception()
            if any(r.order_id == "o9" for r in out_rows()):
                break
            time.sleep(0.3)
        out = {r.order_id: json.loads(r.payload) for r in out_rows()}
        assert "o9" in out
        assert [e["type"] for e in out["o9"]["events"]] == [
            "created", "placed", "cancelled",
        ]
        # created/placed came from RECOVERED state, not reprocessing
        assert out["o9"]["events"][0]["order_details"] == {"s": 0}
    finally:
        q2.stop()


# ---------------------------------------------------------------------------
# Checkpoint file manager: local masters write checkpoints through the
# FileSystem API (session._checkpoint_conf); cluster masters keep Spark's
# FileContext default.
# ---------------------------------------------------------------------------

CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_masters_default_to_filesystem_checkpoint_manager(master):
    assert _checkpoint_conf(master) == {CKPT_MANAGER_KEY: _FS_CHECKPOINT_MANAGER}


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443"]
)
def test_cluster_masters_keep_filecontext_checkpoint_manager(master):
    assert _checkpoint_conf(master) == {}


def test_session_carries_checkpoint_manager_default(spark):
    # the suite's session is built by get_spark on a local master
    assert spark.conf.get(CKPT_MANAGER_KEY) == _FS_CHECKPOINT_MANAGER


def _crc_gaps(ckpt: str) -> list[str]:
    """Checkpoint files without their ChecksumFileSystem ``.crc`` sidecar."""
    gaps = []
    for d, _, files in os.walk(ckpt):
        for f in files:
            if not f.startswith(".") and f".{f}.crc" not in files:
                gaps.append(os.path.join(d, f))
    return gaps


def test_restart_across_checkpoint_managers(spark, tmp_path):
    # run 1 writes the checkpoint through Spark's FileContext manager,
    # run 2 resumes it through the FileSystem default: o2's buffered state
    # must survive, and o1 (emitted by run 1) must not be emitted again
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        events = spark.readStream.schema(SCHEMA).parquet(str(src))
        return (
            unify_stream_event_time(events, buffer_ms=5000)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def out_ids():
        try:
            return [r.order_id for r in spark.read.parquet(out_dir).collect()]
        except Exception:
            return []

    prior = spark.conf.get(CKPT_MANAGER_KEY)
    spark.conf.set(CKPT_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    try:
        q1 = start()
        try:
            # o1 completes and closes (watermark 29 > deadline 5); o2's
            # buffer (deadline 35) stays open across the restart
            write_batch(src, [ev("o1", "created", 0), ev("o1", "placed", 1),
                              ev("o1", "cancelled", 2), ev("o2", "created", 30),
                              ev("o2", "placed", 31)], 0)
            assert wait_for(spark, q1, None, lambda: "o1" in out_ids())
            assert wait_for(
                spark, q1, None,
                lambda: (q1.lastProgress or {}).get("batchId", -1) >= 1,
            )
        finally:
            q1.stop()
    finally:
        spark.conf.set(CKPT_MANAGER_KEY, prior)
    assert out_ids() == ["o1"]

    q2 = start()
    try:
        write_batch(src, [ev("o2", "cancelled", 32), ev("hb", "created", 59)], 1)
        assert wait_for(spark, q2, None, lambda: "o2" in out_ids())
        out = {r.order_id: json.loads(r.payload)
               for r in spark.read.parquet(out_dir).collect()}
    finally:
        q2.stop()
    assert sorted(out_ids()) == ["o1", "o2"]  # each emitted exactly once
    # created/placed came from the state run 1 checkpointed
    assert [e["order_details"] for e in out["o2"]["events"]] == [
        {"s": 30}, {"s": 31}, {"s": 32},
    ]
    # both managers leave the same layout, .crc sidecars included
    assert _crc_gaps(ckpt) == []
