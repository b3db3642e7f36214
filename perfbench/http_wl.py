"""The two workloads that drive the deployed server over loopback HTTP.

dashboard: read-only queries over a preloaded hot buffer.
mixed:     open-loop writes beside a closed-loop query client on the
           tiered engine, then (traced runs) SIGKILL, restart and recount.

Both return a ``Result`` (see ``run.py``). A wrong answer raises
``GateFailed`` and fails the run. A refused or failed request is
counted and replaced, so the percentiles always rest on successful
requests; ``RunInvalid`` fails the run only when too few succeed.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
from pathlib import Path

import client
import gen
import lynx1
import proc
import stats
import tracing
from result import GateFailed, Result, RunInvalid

NS = gen.NAMESPACE
DAYS = 7

# dashboard
DASH_PRELOAD = 20_000
DASH_HOSTS = 50
DASH_CLIENTS = 2
DASH_WARM_ROUNDS = 2  # passes over the four templates before timing
DASH_MIN_QUERIES = 100  # successful ones; p90 needs ten samples beyond it

# mixed
MIX_PRELOAD = 20_000
#: offered writes per second: a third of the write capacity measured
#: beside the closed-loop query client (see README.md)
MIX_RATE = 110
MIX_MIN_WRITES = 1000  # p99 needs ten samples beyond it
MIX_WRITE_CONNS = 3
MIX_WATERMARK = 250  # auto-flush rows; crossed 4 times per run
SEGMENT_BYTES = 64 * 1024
#: latency limit on the write p99: a write answered later than this
#: after its due time counts as failed, as it would for a client that
#: gives up then, so p99 is within the limit while under 1% fail
WRITE_LIMIT_MS = 1000.0


def _query(sql: str, fmt: str = "Json") -> dict:
    return {"namespace": NS, "query": sql, "format": fmt}


def _query_body(sql: str, fmt: str = "Json") -> bytes:
    return json.dumps(_query(sql, fmt)).encode()


def _decode(fmt: str, data: bytes):
    return json.loads(data) if fmt == "Json" else data.decode()


def _check_dashboard(q: dict, data: bytes) -> None:
    got = _decode(q["format"], data)
    if q["format"] == "Json":
        key = next(iter(q["expect"][0]))
        got = sorted(got, key=lambda r: r[key])
    if got != q["expect"]:
        raise GateFailed(f"dashboard {q['template']} answer differs: {q['query']}")


def _server_layers(srv: proc.Server) -> dict[str, float]:
    return tracing.summarize(srv.collect_trace())


def _start(wd: Path, args: list[str], trace: bool) -> proc.Server:
    return proc.Server(wd, args, wd / "spans.json" if trace else None)


def dashboard(seed: int, seconds: float, trace: bool, wd: Path) -> Result:
    pts = gen.points(seed, DASH_PRELOAD, span_us=DAYS * gen.DAY_US,
                     hosts=DASH_HOSTS, label="dashboard")
    pool = gen.dashboard_queries(seed, pts, DAYS, count=400)
    lynx1.write_segments(wd / "wal", pts, per_segment=5000)
    srv = _start(wd, ["--wal-directory", str(wd / "wal")], trace)
    try:
        srv.wait_ready()
        warm = {}
        for q in pool:
            warm.setdefault(q["template"], q)
        for q in list(warm.values()) * DASH_WARM_ROUNDS:
            status, data = srv.post("/api/v1/query", _query(q["query"], q["format"]))
            if status != 200:
                raise GateFailed(f"warm-up query failed with {status}")
            _check_dashboard(q, data)
        setup_s = time.perf_counter() - srv.t_start
        srv.start_window()
        run = client.closed_loop(srv.port, "/api/v1/query",
                                 [_query_body(q["query"], q["format"]) for q in pool],
                                 DASH_CLIENTS, seconds, DASH_MIN_QUERIES)
        ok = []
        for i, lat, status, data in run["results"]:
            if status == 200:
                _check_dashboard(pool[i], data)
                ok.append(lat * 1000.0)
        rss = srv.rss_mb()
        layers = {}
        if trace:
            layers = _server_layers(srv)
            layers["loadgen.sent"] = float(len(run["results"]))
    finally:
        srv.stop()
    attempted = len(run["results"])
    tput = attempted / run["wall"]
    by_template: dict[str, list[float]] = {}
    for i, lat, status, _ in run["results"]:
        if status == 200:
            by_template.setdefault(pool[i]["template"], []).append(lat * 1000.0)
    report = {
        "setup_s": (setup_s, "s"),
        "query_tput": (tput, "queries/s"),
        "query_p50_ms": (stats.median(ok), "ms"),
        "query_p90_ms": (stats.percentile(ok, 90), "ms"),
        "rss_mb": (rss, "MiB"),
        "failed_frac": ((attempted - len(ok)) / attempted, "ratio"),
        "queries": (attempted, "count"),
    }
    for name, lats in sorted(by_template.items()):
        report[f"{name}_p50_ms"] = (stats.median(lats), "ms")
    return Result(
        e2e={"setup_s": setup_s, "ops_per_s": tput,
             "latency_ms": stats.median(ok), "tail_ms": stats.percentile(ok, 90), "rss_mb": rss},
        layers=layers, attempted=attempted, failed=attempted - len(ok), report=report,
    )


class _QueryClient(threading.Thread):
    """One closed-loop client: last-hour window, full-table count and a
    read-your-writes probe, round-robin in a seeded order, each checked
    against the writes the load generator had acknowledged before it
    was sent and had started before its reply arrived."""

    def __init__(self, seed: int, port: int, write_counts,
                 window_sql: str, window_base: int, total_base: int):
        super().__init__(daemon=True)
        self.kinds = random.Random(f"{seed}/mixed-queries").sample(("window", "total", "probe"), 3)
        self.conn = client.Conn(port)
        #: () -> (writes acknowledged, writes started) so far
        self.write_counts = write_counts
        self.window = (window_sql, window_base)
        self.total = ("SELECT COUNT(*) AS n FROM cpu", total_base)
        self.stop_flag = threading.Event()
        self.latency: list[float] = []
        self.by_kind: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.markers = 0
        self.busy_s = 0.0
        self.error: Exception | None = None

    def _count(self, sql: str) -> tuple[int, int]:
        status, data = self.conn.post("/api/v1/query", _query_body(sql))
        return status, (json.loads(data)[0]["n"] if status == 200 else -1)

    def one(self, kind: str) -> None:
        t0 = time.perf_counter()
        self.attempted += 1
        if kind == "probe":
            tag = f"m{self.markers}"
            body = json.dumps({"namespace": NS, "measurement": "marker", "value": tag,
                               "metadata": {}, "timestamp": gen.BASE_US + DAYS * gen.DAY_US - 1})
            status, _ = self.conn.post("/api/v1/write", body.encode())
            if status != 200:
                self.failed += 1
                return
            self.markers += 1
            status, n = self._count(f"SELECT COUNT(*) AS n FROM marker WHERE value = '{tag}'")
            if status == 200 and n != 1:
                raise GateFailed(f"read-your-writes: marker {tag} seen {n} times")
        else:
            sql, base = self.window if kind == "window" else self.total
            acked_before, _ = self.write_counts()
            status, n = self._count(sql)
            _, started_after = self.write_counts()
            if status == 200 and not acked_before <= n - base <= started_after:
                raise GateFailed(f"mixed {kind}: {n - base} live rows, "
                                 f"expected {acked_before}..{started_after}")
        if status != 200:
            self.failed += 1
            return
        ms = (time.perf_counter() - t0) * 1000.0
        self.latency.append(ms)
        self.by_kind.setdefault(kind, []).append(ms)

    def run(self) -> None:
        t0 = time.perf_counter()
        try:
            k = 0
            while not self.stop_flag.is_set():
                self.one(self.kinds[k % 3])
                k += 1
        except Exception as e:  # noqa: BLE001 - re-raised by the workload
            self.error = e
        finally:
            self.busy_s = time.perf_counter() - t0
            self.conn.close()


def _committed_files(cold: Path) -> int:
    files: set[str] = set()
    replaced: set[str] = set()
    for p in (cold / "_commits").glob("*.json"):
        commit = json.loads(p.read_text())
        files.update(commit.get("files", []))
        replaced.update(commit.get("replaced", []))
    return len(files - replaced)


def mixed(seed: int, seconds: float, trace: bool, wd: Path) -> Result:
    end = gen.BASE_US + DAYS * gen.DAY_US
    window_lo = end - gen.HOUR_US
    pre = gen.points(seed, MIX_PRELOAD, span_us=DAYS * gen.DAY_US, hosts=50, label="mixed-preload")
    n_live = max(MIX_MIN_WRITES, int(MIX_RATE * seconds))
    # twice the writes needed: a refused write is replaced by the next
    pool = gen.points(seed, 2 * n_live, span_us=gen.HOUR_US - 1_000_000, hosts=50, zipf=1.1,
                      start_us=window_lo, label="mixed-live")
    in_window = sum(p["timestamp"] >= window_lo for p in pre)
    lynx1.write_segments(wd / "wal", pre, per_segment=5000)
    args = ["--wal-directory", str(wd / "wal"), "--cold-directory", str(wd / "cold"),
            "--auto-flush-rows", str(MIX_WATERMARK), "--wal-max-segment-size", str(SEGMENT_BYTES)]
    window_sql = ("SELECT COUNT(*) AS n FROM cpu WHERE timestamp >= "
                  f"'{gen.render_ts(window_lo).replace('T', ' ')}'")
    srv = _start(wd, args, trace)
    restarted = None
    try:
        srv.wait_ready()
        status, _ = srv.post("/api/v1/flush", {"namespace": NS})
        if status != 200:
            raise GateFailed(f"draining the preload failed with {status}")
        warm = _QueryClient(seed, srv.port, lambda: (0, 0), window_sql, in_window, MIX_PRELOAD)
        for kind in ("window", "total", "probe"):
            warm.one(kind)
        if warm.failed:
            raise GateFailed("warm-up query failed")
        markers = warm.markers
        setup_s = time.perf_counter() - srv.t_start

        srv.start_window()
        writes = client.OpenLoop(srv.port, "/api/v1/write", gen.bodies(pool), MIX_RATE,
                                 MIX_WRITE_CONNS, target=n_live).start()
        reader = _QueryClient(seed, srv.port, writes.counts, window_sql, in_window, MIX_PRELOAD)
        reader.markers = markers
        reader.start()
        writes.join()
        reader.stop_flag.set()
        reader.join()
        if reader.error is not None:
            raise reader.error
        rss = srv.rss_mb()
        acked, started = writes.counts()
        _check_total(srv, MIX_PRELOAD, acked, started, "after the run")
        layers = {}
        if trace:
            layers = _server_layers(srv)
            layers["coldtier.committed_files"] = float(_committed_files(wd / "cold"))
            layers["loadgen.late_ms.p99"] = stats.percentile([x * 1000.0 for x in writes.late], 99)
            layers["loadgen.sent"] = float(started)
            # the crash-recovery gate costs a second JVM start and a cold
            # first query, about 15 s; it runs in traced runs (and so in
            # every ``--workload all``) to keep the untraced runs short
            srv.kill()
            restarted = proc.Server(wd, args)
            restarted.wait_ready()
            _check_total(restarted, MIX_PRELOAD, acked, started, "after SIGKILL and restart")
            seen = restarted.query("SELECT COUNT(*) AS n FROM marker")[0]["n"]
            if seen != reader.markers:
                raise GateFailed(f"after restart {seen} markers, {reader.markers} acknowledged")
    finally:
        srv.stop()
        if restarted is not None:
            restarted.stop()
    write_ms = [x * 1000.0 for x, s in zip(writes.latency, writes.status) if s == 200]
    p95 = stats.percentile(write_ms, 95)
    over_limit = sum(ms > WRITE_LIMIT_MS for ms in write_ms)
    if not reader.latency:
        raise RunInvalid("mixed: the query client got no answer")
    attempted = started + reader.attempted
    failed = writes.failed + over_limit + reader.failed
    q_tput = len(reader.latency) / reader.busy_s
    report = {
        "setup_s": (setup_s, "s"),
        "write_mean_ms": (statistics.fmean(write_ms), "ms"),
        "write_p50_ms": (stats.median(write_ms), "ms"),
        "write_p95_ms": (p95, "ms"),
        "write_p99_ms": (stats.percentile(write_ms, 99), "ms"),
        "write_limit_ms": (WRITE_LIMIT_MS, "ms"),
        "writes_over_limit": (over_limit, "count"),
        "write_tput": (acked / writes.wall, "writes/s"),
        "query_tput": (q_tput, "queries/s"),
        "query_p50_ms": (stats.median(reader.latency), "ms"),
        "rss_mb": (rss, "MiB"),
        "failed_frac": (failed / attempted, "ratio"),
        "writes": (started, "count"),
        "queries": (reader.attempted, "count"),
    }
    for kind, lats in sorted(reader.by_kind.items()):
        report[f"{kind}_p50_ms"] = (stats.median(lats), "ms")
    return Result(
        # the mean, not the p50: a write either finds _wal_lock free or
        # waits behind a query, and the p50 sits on the edge between
        # the two, jumping with the share of time the lock is held.
        # The p95, not the p99: slow writes come in bursts behind one
        # stall, and the p99's writes fall in 4-5 stalls, the p95's in
        # about 20 (see README.md)
        e2e={"setup_s": setup_s, "ops_per_s": q_tput, "latency_ms": statistics.fmean(write_ms),
             "tail_ms": p95, "rss_mb": rss},
        layers=layers, attempted=attempted, failed=failed, report=report,
    )


def _check_total(srv: proc.Server, base: int, acked: int, started: int, when: str) -> None:
    n = srv.query("SELECT COUNT(*) AS n FROM cpu")[0]["n"] - base
    if not acked <= n <= started:
        raise GateFailed(f"{when}: {n} live rows, {acked} writes acknowledged")
