"""Shared pieces of the workloads: run context, the closed-loop query
clients, and small measurement helpers."""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Run:
    """State one workload run accumulates."""

    spark: object
    tracer: object
    work: str  # scratch dir inside the checkout
    seed: int
    seconds: float
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    _lap: float = field(default_factory=time.perf_counter)

    def lap(self, name: str) -> None:
        """Note the wall time since the previous lap as phase ``name``."""
        now = time.perf_counter()
        self.notes.append(f"phase {name}: {now - self._lap:.2f} s")
        self._lap = now

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed check counts as a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"MISMATCH {what}")
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.notes.append(f"ERROR {what}: {exc!r}")
        traceback.print_exception(exc)


def timed(fn):
    """-> (result, seconds)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def median(vals: list[float]) -> float:
    return float(statistics.median(vals))


def report_queries(run: Run, plain: list[float], rich: list[float], wall: float) -> None:
    """Record the query loop's medians (ms) and throughput."""
    q = {
        "query.topk_p50_ms": median(plain),
        "query.rich_p50_ms": median(rich),
        "query.qps": (len(plain) + len(rich)) / wall,
    }
    run.layers.update(q)
    run.notes.append(
        f"queries: {len(plain)} plain, {len(rich)} rich; "
        + ", ".join(f"{k} {v:.4g}" for k, v in q.items())
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def closed_loop(run: Run, streams: list[list], execute, min_items: int = 0):
    """One thread per stream, each with its own FAIR scheduler pool,
    sends its stream's items one at a time (the next only after the
    reply) until ``run.seconds`` have passed and it has sent at least
    ``min_items``. ``execute(item)`` returns the collected answer.

    -> (records [(client, item, seconds, answer or exception)],
        wall seconds from start to the last reply)."""
    sc = run.spark.sparkContext
    records: list = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    last = [t0]

    def client(cid: int, stream: list) -> None:
        sc.setLocalProperty("spark.scheduler.pool", f"client-{cid}")
        try:
            for n, item in enumerate(stream):
                if n >= min_items and time.perf_counter() >= deadline:
                    break
                q0 = time.perf_counter()
                try:
                    with run.tracer.span(f"query.{item_kind(item)}"):
                        ans = execute(item)
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    ans = exc
                q1 = time.perf_counter()
                with lock:
                    records.append((cid, item, q1 - q0, ans))
                    last[0] = max(last[0], q1)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    threads = [
        threading.Thread(target=client, args=(c, s)) for c, s in enumerate(streams)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, last[0] - t0


def item_kind(item) -> str:
    return item.kind if hasattr(item, "kind") else item[0]
