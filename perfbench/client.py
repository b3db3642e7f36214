"""Load generator: keep-alive HTTP connections driven by threads of
this one process, never more than ``nproc`` of either."""

from __future__ import annotations

import http.client
import itertools
import threading
import time

HEADERS = {"Content-Type": "application/json"}


class Conn:
    def __init__(self, port: int):
        self.port = port
        self.c = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def post(self, path: str, body: bytes) -> tuple[int, bytes]:
        try:
            self.c.request("POST", path, body, HEADERS)
            r = self.c.getresponse()
            return r.status, r.read()
        except (OSError, http.client.HTTPException):
            self.c.close()
            self.c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            return 0, b""

    def close(self) -> None:
        self.c.close()


def _run_threads(n: int, target) -> None:
    threads = [threading.Thread(target=target, args=(k,), daemon=True) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def closed_loop(port: int, path: str, bodies: list[bytes], conns: int,
                seconds: float, min_ok: int) -> dict:
    """Each connection sends its next request only when the previous
    reply is in. Bodies are sent in order (wrapping round) until
    ``seconds`` have passed and at least ``min_ok`` requests got a 200,
    or until ``min_ok`` requests have failed. Returns the index into
    ``bodies``, latency (s), status and reply of every request, and the
    wall time."""
    nxt = itertools.count()
    results: list[tuple] = []
    lock = threading.Lock()
    tally = {"ok": 0, "failed": 0}
    t0 = time.perf_counter()

    def more() -> bool:
        with lock:
            if tally["failed"] >= min_ok:
                return False
            return tally["ok"] < min_ok or time.perf_counter() - t0 < seconds

    def worker(_k):
        c = Conn(port)
        while more():
            i = next(nxt) % len(bodies)
            t = time.perf_counter()
            status, data = c.post(path, bodies[i])
            results.append((i, time.perf_counter() - t, status, data))
            with lock:
                tally["ok" if status == 200 else "failed"] += 1
        c.close()

    _run_threads(conns, worker)
    return {"results": results, "wall": time.perf_counter() - t0}


class OpenLoop:
    """Send ``bodies[i]`` when it falls due at ``start + i / rate``,
    whatever happened to earlier requests, over ``conns`` connections,
    until ``target`` requests got a 200 (a failed one is replaced by the
    next body of the pool). Latency runs from the due time, so a stall
    also counts against the requests queued behind it; ``late`` is how
    far behind schedule the generator sent each request."""

    def __init__(self, port: int, path: str, bodies: list[bytes], rate: float,
                 conns: int, target: int):
        self.port, self.path, self.bodies = port, path, bodies
        self.rate, self.conns, self.target = rate, conns, target
        self.latency: list[float] = []
        self.late: list[float] = []
        self.status: list[int] = []
        self.claimed = 0
        self.started = 0
        self.acked = 0
        self.failed = 0
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "OpenLoop":
        self.t0 = time.perf_counter() + 0.05
        self._thread.start()
        return self

    def join(self) -> None:
        self._thread.join()
        self.wall = self._last_done - self.t0

    def _claim(self) -> int | None:
        """The next body to send, or None once ``target`` writes were
        acknowledged or are still in flight, or the pool is used up."""
        with self._lock:
            if self.claimed - self.failed >= self.target or self.claimed >= len(self.bodies):
                return None
            self.claimed += 1
            return self.claimed - 1

    def _run(self) -> None:
        self._last_done = self.t0

        def worker(_k):
            c = Conn(self.port)
            while (i := self._claim()) is not None:
                due = self.t0 + i / self.rate
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                sent = time.perf_counter()
                with self._lock:
                    self.started += 1
                status, _ = c.post(self.path, self.bodies[i])
                done = time.perf_counter()
                with self._lock:
                    if status == 200:
                        self.acked += 1
                    else:
                        self.failed += 1
                    self.status.append(status)
                    self.late.append(sent - due)
                    self.latency.append(done - due)
                    self._last_done = max(self._last_done, done)
            c.close()

        _run_threads(self.conns, worker)

    def counts(self) -> tuple[int, int]:
        """(acknowledged, started) so far."""
        with self._lock:
            return self.acked, self.started
