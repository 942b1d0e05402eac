"""Benchmark of the order-unify streaming core (union -> serde -> normalize
-> per-order first-wins 5 s buffer -> ordered projection).

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 25 --trace 0

Workloads (both run the full ``app.unify_topology`` with the v1 state
function, the 5 s buffer and the default HDFS state store on
``local[nproc]`` with nproc shuffle partitions and a 1 GB driver heap, from
a file source of raw ``(value, topic)`` JSON records into a
``foreachBatch`` sink):

- ``stream_replay``: a backfill of REPLAY_RATE x ``--seconds`` lifecycles,
  ready at start, sliced into REPLAY_BATCHES micro-batches that trigger as
  fast as they can. The python state function and the stateful shuffle
  carry nearly all the work.
- ``stream_live``: an open loop that publishes LIVE_RATE lifecycles/s on a
  fixed TICK_MS schedule for ``--seconds`` seconds after a warm-up, with
  the deployment defaults of ``UnifyConfig`` (1 s trigger, ``low_latency``
  on). The per-trigger fixed cost sets latency and CPU.

Delay is emission time minus the time the order's file was due minus the
buffer; for the backfill every file is due when the backlog appears.

With ``--trace 0`` the last stdout line reports the end-to-end metrics,
with ``--trace 1`` the per-layer ones (and spans are written to
``.bench_build/``). Every run checks every projection against the batch
twin ``operators.unify.unify_events``; a wrong, missing, extra or
repeated projection counts its order as failed. The line before the
result carries the host probes and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import RssSampler, Spans, calibrate, jvm_cpu_s, median, percentile  # noqa: E402
import workload  # noqa: E402
from check import expected_projections, failed_orders, reference_projections  # noqa: E402

SETUPS = 3  # session + query start-ups per run; setup_s is their median
WARMUP_LIFECYCLES = 100  # in the file every start-up's first batch reads
REPLAY_RATE = 160  # backlog lifecycles per --seconds
REPLAY_FILES = 100
REPLAY_BATCHES = 10
LIVE_RATE = 100  # lifecycles per second
TICK_MS = 300  # publish period; must not divide the 1 s trigger
LIVE_WARM_S = 2.0  # published before the measured window, not measured
DEADLINE_S = 150  # whole-run guard, so a stuck run still ends inside 180 s


def _engine_ready() -> bool:
    """Whether the program under test can be imported."""
    sys.path.insert(0, ROOT)
    try:
        from kafka_stream_unify_order_messages_spark import app, session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return False
    return True


class Sink:
    """The query's foreachBatch: collects every projection and stamps its
    emission time after the batch's collect (the collect runs the whole
    micro-batch, so stamping before it would read early)."""

    def __init__(self, spans: Spans):
        self.spans = spans
        self.emitted: list[tuple[str, str]] = []
        self.emit_time: dict[str, float] = {}
        self.callbacks: list[tuple[float, float]] = []  # (end time, seconds)

    def __call__(self, batch_df, batch_id: int) -> None:
        t = time.perf_counter()
        with self.spans.span("sink.callback"):
            rows = batch_df.select("order_id", "payload").collect()
        now = time.time()
        for oid, payload in rows:
            self.emitted.append((oid, payload))
            self.emit_time.setdefault(oid, now)
        self.callbacks.append((now, time.perf_counter() - t))


class Probe:
    """Engine CPU (total and JVM), the JVM's JIT, GC and Janino counters,
    and the engine tree's RSS, over a window."""

    def __init__(self, spark):
        from kafka_stream_unify_order_messages_spark.cpuclock import EngineCpuClock

        self.root = spark.sparkContext._gateway.proc.pid
        self.jvm = spark.sparkContext._jvm
        self.clock = EngineCpuClock(spark)
        self.clock.read()
        self.rss = RssSampler(self.root).start()

    def mark(self) -> dict[str, float]:
        mf = self.jvm.java.lang.management.ManagementFactory
        codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "cpu": self.clock.read(),
            "jvm_cpu": jvm_cpu_s(self.root),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


def _start_query(spark, cfg, src: str, ckpt: str, sink: Sink, spans: Spans,
                 max_files: int | None):
    from kafka_stream_unify_order_messages_spark.app import unify_topology

    reader = spark.readStream.schema("value string, topic string")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    with spans.span("app.unify_topology"):
        projections = unify_topology(reader.parquet(src), cfg)
    return (
        projections.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(processingTime=cfg.trigger_interval)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _wait(q, cond, deadline: float, step: float = 0.02) -> bool:
    while not cond():
        if q.exception():
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        if time.time() > deadline:
            return False
        time.sleep(step)
    return True


def _start_up(work: str, cfg, warm, spans: Spans, max_files, run_deadline):
    """SETUPS times: build the session, start the query on the warm-up file
    and wait for its first batch. Every start-up but the last is torn down;
    the last one's session, query and sink are returned, with the host
    probes, which run in their own process beside the first (cold)
    start-up so they add no time to the run."""
    import multiprocessing as mp
    from kafka_stream_unify_order_messages_spark.app import apply_state_store_config
    from kafka_stream_unify_order_messages_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.local.dir": os.path.join(work, "local"),
    }
    times = {"setup": [], "session": [], "first_batch": []}
    ctx = mp.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    prober = ctx.Process(target=calibrate, args=(send,))
    prober.start()
    send.close()
    try:
        for k in range(SETUPS):
            src, ckpt = os.path.join(work, f"src{k}"), os.path.join(work, f"ckpt{k}")
            os.makedirs(src)
            workload.write_file(os.path.join(src, "warm.parquet"), warm)
            sink = Sink(spans)
            t0 = time.perf_counter()
            with spans.span("session.get_spark"):
                spark = get_spark("perfbench", master=f"local[{nproc}]",
                                  shuffle_partitions=nproc, extra_conf=extra)
            t1 = time.perf_counter()
            apply_state_store_config(spark, cfg)
            with spans.span("app.start_to_first_batch"):
                q = _start_query(spark, cfg, src, ckpt, sink, spans, max_files)
                if not _wait(q, lambda: sink.callbacks, run_deadline):
                    raise RuntimeError("no first micro-batch before the deadline")
            t2 = time.perf_counter()
            times["setup"].append(t2 - t0)
            times["session"].append(t1 - t0)
            times["first_batch"].append(t2 - t1)
            if k == 0:
                host = {"nproc": nproc, **recv.recv()}
            if k < SETUPS - 1:
                q.stop()
                spark.stop()
    finally:
        if prober.is_alive():
            prober.kill()
        prober.join()
    return spark, q, sink, times, host


def _batches(q, t_from: float, t_to: float) -> list[dict]:
    """Progress of the micro-batches that started inside [t_from, t_to]."""
    from datetime import datetime

    out = []
    for p in q.recentProgress:
        d = json.loads(p.json)
        ts = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        if t_from <= ts <= t_to:
            out.append(d)
    return out


def _layer_metrics(batches: list[dict], sink: Sink, t_from: float, t_to: float) -> dict:
    """Per-layer figures from Spark's own progress of the window's
    micro-batches (phase times, the unify operator's state store) and from
    the sink's callbacks."""
    ops = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]

    def dur(key):
        return [b["durationMs"].get(key, 0) for b in batches]

    def op(key):
        return [o.get(key, 0) for o in ops] or [0]

    trig = dur("triggerExecution") or [0]
    rows = [b.get("numInputRows", 0) for b in batches] or [0]
    return {
        "batch.count": len(batches),
        "batch.trigger_ms_p50": median(trig),
        "batch.trigger_ms_max": max(trig),
        "batch.input_rows_p50": median(rows),
        "batch.input_rows_max": max(rows),
        **{f"batch.{k}_ms": sum(dur(k)) for k in (
            "addBatch", "queryPlanning", "walCommit", "commitOffsets",
            "latestOffset", "getBatch")},
        "state.rows_total_max": max(op("numRowsTotal")),
        "state.rows_updated": sum(op("numRowsUpdated")),
        "state.rows_removed": sum(op("numRowsRemoved")),
        "state.updates_ms": sum(op("allUpdatesTimeMs")),
        "state.removals_ms": sum(op("allRemovalsTimeMs")),
        "state.commit_ms": sum(op("commitTimeMs")),
        "state.memory_bytes_max": max(op("memoryUsedBytes")),
        "sink.callback_ms": 1000 * sum(
            s for end, s in sink.callbacks if t_from <= end <= t_to + 1.0),
    }


def _backlog_grew(batches: list[dict]) -> bool:
    """True when the input per micro-batch rose across the window: the
    engine fell behind the open-loop schedule."""
    rows = [b.get("numInputRows", 0) for b in batches]
    third = len(rows) // 3
    if third < 3:
        return False
    first, last = rows[:third], rows[-third:]
    return sum(last) / third > 1.5 * sum(first) / third + 100


class _StubState:
    """Stand-in GroupState for driving the state function off-engine."""

    def __init__(self):
        self.value, self.hasTimedOut = None, False

    exists = property(lambda self: self.value is not None)
    get = property(lambda self: self.value)

    def update(self, v):
        self.value = tuple(v)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):  # noqa: N802 (GroupState API)
        pass


def _unify_fn_us_per_group(lifecycles, buffer_ms: int, limit: int = 2000) -> float:
    """Per-group cost of ``streaming.make_unify_fn``: one arrival call and
    one expiry call per order, over the run's own lifecycles."""
    import pandas as pd

    from kafka_stream_unify_order_messages_spark.streaming.unify_stream import make_unify_fn

    fn = make_unify_fn(buffer_ms, clock=lambda: 0)
    groups = [
        ((lc[0].order_id,), pd.DataFrame(
            [(e.order_id, e.type, e.timestamp, e.order_details) for e in lc],
            columns=["order_id", "type", "timestamp", "order_details"]))
        for lc in lifecycles[:limit]
    ]
    t = time.perf_counter()
    for key, pdf in groups:
        state = _StubState()
        for _ in fn(key, iter([pdf]), state):
            pass
        state.hasTimedOut = True
        for _ in fn(key, iter([]), state):
            pass
    return 1e6 * (time.perf_counter() - t) / len(groups)


def run_stream(name: str, seed: int, seconds: int, spans: Spans, work: str) -> dict:
    from kafka_stream_unify_order_messages_spark.app import UnifyConfig

    live = name == "stream_live"
    run_deadline = time.time() + DEADLINE_S
    # live keeps the deployment defaults; the backfill triggers as fast as
    # it can, so its drain time follows processing speed, not the trigger
    cfg = UnifyConfig(low_latency=True) if live else UnifyConfig(trigger_interval="0 seconds")
    trigger_ms = 1000 * float(cfg.trigger_interval.split()[0])
    if live and workload.tick_divides(TICK_MS, int(trigger_ms)):
        raise ValueError("the publish tick phase-locks with the trigger")
    buffer_s = cfg.buffer_ms / 1000
    n = int(LIVE_RATE * (LIVE_WARM_S + seconds)) if live else REPLAY_RATE * seconds
    every = workload.lifecycles(WARMUP_LIFECYCLES + n, seed)
    warm, main = every[:WARMUP_LIFECYCLES], every[WARMUP_LIFECYCLES:]

    max_files = None if live else REPLAY_FILES // REPLAY_BATCHES
    spark, q, sink, times, host = _start_up(work, cfg, warm, spans, max_files, run_deadline)
    src = os.path.join(work, f"src{SETUPS - 1}")
    n_complete = sum(map(workload.is_complete, every))
    all_emitted = lambda: len(sink.emit_time) >= n_complete  # noqa: E731
    probe = Probe(spark)
    try:
        if live:
            per_tick = LIVE_RATE * TICK_MS // 1000
            ticks = [main[i:i + per_tick] for i in range(0, len(main), per_tick)]
            late, due, (t_from, t_to), m0, m1 = _publish_live(
                src, ticks, probe, run_deadline, seconds)
            measured = {lc[0].order_id: due[k] for k, batch in enumerate(ticks)
                        for lc in batch if t_from <= due[k] < t_to}
        else:
            stage = os.path.join(work, "stage")
            os.makedirs(stage)
            size = -(-len(main) // REPLAY_FILES)
            names = []
            for i in range(0, len(main), size):
                names.append(f"replay-{i // size:04d}.parquet")
                workload.write_file(os.path.join(stage, names[-1]), main[i:i + size])
            m0 = probe.mark()
            t_from = time.time()
            for f in names:
                os.rename(os.path.join(stage, f), os.path.join(src, f))
            late = [0.0]
            measured = {lc[0].order_id: t_from for lc in main}
        # live drains for the buffer plus a margin; a missing order then
        # fails the check instead of stretching the run to its deadline
        drain = min(run_deadline, t_to + buffer_s + 15) if live else run_deadline
        _wait(q, all_emitted, drain)
        if not live:
            m1 = probe.mark()
            t_to = time.time()
        rss = probe.rss.stop()
        batches = _batches(q, t_from, t_to)
    finally:
        q.stop()

    with spans.span("check.batch_twin"):
        expected = expected_projections(spark, [e for lc in every for e in lc])
    orders = {lc[0].order_id for lc in every}
    bad = failed_orders(expected, sink.emitted, orders, reference_projections(every))
    done = [oid for oid in measured if oid in expected and oid in sink.emit_time]
    delays = [sink.emit_time[oid] - measured[oid] - buffer_s for oid in done]
    events = sum(len(lc) for lc in main if lc[0].order_id in measured)
    t_last = max(sink.emit_time[oid] for oid in done)
    backlog = live and _backlog_grew(batches)
    span_s = t_last - min(measured.values())
    d = Probe.delta(m0, m1)
    result = {
        "correct": not bad and not backlog,
        "attempted": len(orders),
        "failed": len(bad),
        "e2e": {
            "setup_s": median(times["setup"]),
            "events_per_s": events / span_s,
            "delay_mean_s": statistics.fmean(delays),
            "delay_p99_s": percentile(delays, 0.99),
            "engine_cpu_s": d["cpu"],
            "rss_p50_mb": median(rss),
        },
        "info": {
            "host": host, "workload": name, "seed": seed, "delay_samples": len(delays),
            "delay_deciles": [round(x, 3) for x in statistics.quantiles(delays, n=10)],
            "delay_p50_s": median(delays),
            "rss_samples": len(rss), "batches": len(batches),
            "backlog_grew": backlog, "window_s": t_to - t_from,
        },
    }
    if spans.enabled:
        with spans.span("check.unify_fn_stub"):
            us = _unify_fn_us_per_group(every, cfg.buffer_ms)
        result["layers"] = {
            "session.get_spark_s": median(times["session"]),
            "session.cold_start_s": times["session"][0],
            "app.start_to_first_batch_s": median(times["first_batch"]),
            **_layer_metrics(batches, sink, t_from, t_to),
            "unify_fn.us_per_group": us,
            "gen.late_p50_s": median(late),
            "gen.late_max_s": max(late),
            "jvm.jit_ms": d["jit_ms"],
            "jvm.gc_ms": d["gc_ms"],
            "codegen.compiles": d["compiles"],
            "cpu.jvm_s": d["jvm_cpu"],
            "cpu.python_s": d["cpu"] - d["jvm_cpu"],
            "trace.events_per_s": result["e2e"]["events_per_s"],
            "trace.delay_mean_s": result["e2e"]["delay_mean_s"],
        }
    _stop(spark)
    return result


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on end of input
    gateway.proc.wait(timeout=60)


def _publish_live(src, ticks, probe: Probe, run_deadline: float, seconds: int):
    """Run the open-loop publisher in its own process; mark the probe at
    the edges of the measured window. Returns per-file lateness, per-file
    due times, the window and the two probe marks."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    start = time.time() + 1.0  # room for the publisher's interpreter start
    tick_s = TICK_MS / 1000
    due = [start + k * tick_s for k in range(len(ticks))]
    window = (start + LIVE_WARM_S, start + LIVE_WARM_S + seconds)
    proc = ctx.Process(target=workload.publish, args=(src, ticks, start, tick_s, send))
    proc.start()
    send.close()
    try:
        time.sleep(max(0.0, window[0] - time.time()))
        m0 = probe.mark()
        time.sleep(max(0.0, window[1] - time.time()))
        m1 = probe.mark()
        if not recv.poll(max(1.0, run_deadline - time.time())):
            raise RuntimeError("publisher did not finish")
        late = recv.recv()
    finally:
        proc.join(timeout=10)
        if proc.is_alive():
            proc.kill()
            proc.join()
    return late, due, window, m0, m1


WORKLOADS = ("stream_replay", "stream_live")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_ready():
        return 2
    build = os.path.join(ROOT, ".bench_build")
    work = os.path.join(build, f"perfbench-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # a small heap fills early, so the JVM's RSS plateaus instead of
    # following heap-sizing ergonomics (at 2 GB it spread ~10-16% run to run)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # every JVM (the launcher's too) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    spans = Spans(bool(args.trace), f"{args.workload}-{args.seed}")
    try:
        res = run_stream(args.workload, args.seed, args.seconds, spans, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # spawn started multiprocessing's resource tracker; end it and wait
        from multiprocessing import resource_tracker
        getattr(resource_tracker._resource_tracker, "_stop", lambda: None)()
    spans.write(os.path.join(build, f"perfbench-trace-{args.workload}-{args.seed}.json"))
    if args.trace:
        metrics = {**res["layers"], "trace.spans": len(spans.spans),
                   "trace.record_ms": 1000 * spans.record_s}
    else:
        metrics = res["e2e"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    print(json.dumps(res["info"]))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
