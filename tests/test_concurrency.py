"""Concurrency storm: interleaved writers and flushers must never
lose, duplicate, or tear rows (the locking contract of engine.write +
TieredEngine.flush/query)."""

from __future__ import annotations

import sys
import threading
import time

from lynx_spark.model import WriteRequest
from lynx_spark.sources.coldtier import TieredEngine


def test_concurrent_writes_and_flushes_exact(spark, tmp_path):
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", max_segment_size=512
    )
    errors: list[str] = []

    def writer(lo: int, hi: int) -> None:
        try:
            for i in range(lo, hi):
                eng.write(WriteRequest("ns", "cpu", str(i), {}, i))
        except Exception as e:  # noqa: BLE001
            errors.append(f"write: {e!r}")

    def flusher(n: int) -> None:
        try:
            for _ in range(n):
                eng.flush("ns")
        except Exception as e:  # noqa: BLE001
            errors.append(f"flush: {e!r}")

    threads = [
        threading.Thread(target=writer, args=(k * 100, (k + 1) * 100))
        for k in range(4)
    ]
    threads += [threading.Thread(target=flusher, args=(5,)) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    eng.flush("ns")

    assert errors == []
    row = eng.query(
        "ns", "SELECT count(*) AS n, count(DISTINCT value) AS dv FROM cpu"
    ).collect()[0]
    assert (row["n"], row["dv"]) == (400, 400)


def test_queries_see_consistent_snapshots_under_storm(spark, tmp_path):
    """Queries racing writers, flushers and an optimize: each count
    lies between the writes acknowledged before the query was sent and
    the writes started before query() returned (its snapshot is taken
    inside). A flush caught between the hot snapshot and the cold
    listing would count its rows in both tiers: flushes are spaced so
    the hot buffer they drain outgrows the writes one query() call
    overlaps, and such a double count overshoots the upper bound."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", max_segment_size=512
    )
    errors: list[str] = []
    violations: list[str] = []
    lock = threading.Lock()
    started = acked = packed = 0
    readers_left = 2
    done = threading.Event()

    def writer() -> None:
        nonlocal started, acked
        try:
            while not done.is_set():
                with lock:
                    i = started
                    started += 1
                eng.write(WriteRequest("ns", "cpu", str(i), {}, i))
                with lock:
                    acked += 1
                time.sleep(0.01)
        except Exception as e:  # noqa: BLE001
            errors.append(f"write: {e!r}")

    def flusher() -> None:
        try:
            while not done.wait(0.5):
                eng.flush("ns")
        except Exception as e:  # noqa: BLE001
            errors.append(f"flush: {e!r}")

    def optimizer() -> None:
        nonlocal packed
        try:
            while not done.wait(0.3):
                packed += eng.optimize("ns")
        except Exception as e:  # noqa: BLE001
            errors.append(f"optimize: {e!r}")

    def reader(n_queries: int) -> None:
        nonlocal readers_left
        try:
            for _ in range(n_queries):
                with lock:
                    lo = acked
                df = eng.query("ns", "SELECT count(*) AS n FROM cpu")
                with lock:
                    hi = started
                n = 0 if df is None else df.collect()[0]["n"]
                if not lo <= n <= hi:
                    violations.append(f"count {n} outside [{lo}, {hi}]")
        except Exception as e:  # noqa: BLE001
            errors.append(f"query: {e!r}")
        finally:
            with lock:
                readers_left -= 1
                if readers_left == 0:
                    done.set()

    threads = [threading.Thread(target=writer) for _ in range(4)]
    threads += [threading.Thread(target=flusher) for _ in range(2)]
    threads += [threading.Thread(target=optimizer)]
    threads += [threading.Thread(target=reader, args=(12,)) for _ in range(2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        done.set()
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    eng.flush("ns")

    assert errors == []
    assert violations == []
    assert packed > 0  # the optimize really raced the queries
    row = eng.query(
        "ns", "SELECT count(*) AS n, count(DISTINCT value) AS dv FROM cpu"
    ).collect()[0]
    assert (row["n"], row["dv"]) == (acked, acked)
