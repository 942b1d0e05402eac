"""Measurement helpers: percentiles that refuse thin tails, an in-memory
span recorder, and /proc readers for the engine process tree (the
benchmark's own, so refactors of the program's private helpers cannot
change how it measures)."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-quantile (0 < p < 1). Raises ValueError when
    fewer than MIN_BEYOND samples lie beyond it, so a reported tail is
    never set by one or two outliers."""
    n = len(values)
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p * 100:g} over {n} samples has {n - rank} beyond it;"
            f" need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


class Spans:
    """Span recorder: (name, start, end, parent, run id) kept in memory and
    written once at exit. Disabled recorders cost one attribute check."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.record_s = 0.0  # time spent inside the recorder itself

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)


class _Span:
    def __init__(self, rec: Spans, name: str):
        self.rec = rec
        self.name = name

    def __enter__(self):
        rec = self.rec
        if rec.enabled:
            t = time.perf_counter()
            self.idx = len(rec.spans)
            rec.spans.append({
                "name": self.name, "start": time.time(), "end": None,
                "parent": rec._stack[-1] if rec._stack else None,
                "run": rec.run_id,
            })
            rec._stack.append(self.idx)
            rec.record_s += time.perf_counter() - t
        return self

    def __exit__(self, *exc):
        rec = self.rec
        if rec.enabled:
            t = time.perf_counter()
            rec.spans[self.idx]["end"] = time.time()
            rec._stack.pop()
            rec.record_s += time.perf_counter() - t
        return False


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, utime+stime ticks)} for every live process."""
    rows = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            rows[int(entry)] = (int(parts[1]), int(parts[11]) + int(parts[12]))
    return rows


def _tree(rows: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in rows.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in rows:
            out.append(p)
            stack.extend(kids.get(p, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its live descendants, MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(_proc_table(), root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * page / 2**20


def jvm_cpu_s(root: int) -> float:
    """CPU seconds of the JVM process itself (all its threads)."""
    ppid_ticks = _proc_table().get(root)
    return (ppid_ticks[1] if ppid_ticks else 0) / os.sysconf("SC_CLK_TCK")


def calibrate(conn) -> None:
    """Send the repository's fixed-work host probes (``bench.calibration_cpu``)
    over ``conn``; run in a process of its own."""
    from bench import calibration_cpu

    conn.send(calibration_cpu())
    conn.close()


class RssSampler:
    """Samples the engine tree's RSS every ``period`` seconds on a daemon
    thread between start() and stop()."""

    def __init__(self, root: int, period: float = 0.25):
        self.root = root
        self.period = period
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> list[float]:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.samples
