"""Per-layer spans for the traced run, recorded from outside the program.

``install_server()`` wraps the public functions of the program's
modules at their layer boundaries, before the server starts. Each call
becomes a span (id, parent, request id, name, start, end, extra) held
in memory; ``Tracer.dump`` writes them out and ``summarize`` turns a
dump into the per-layer metrics. Nothing in the program is edited: the
wrappers replace module and class attributes in the server process
only, so the untraced runs execute the program exactly as shipped.

Spans nest per thread; the request id is set by the WSGI span, so the
spans of one HTTP request share it. A span's self time is its duration
minus that of its direct children, which run on its thread and so never
overlap.
"""

from __future__ import annotations

import functools
import gc
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.mark = 0.0
        self._ids = itertools.count(1)
        self._rids = itertools.count(1)
        self._local = threading.local()
        self._gc_t0 = 0.0

    # -------------------------------------------------------- recording

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def call(self, name: str, fn, args, kwargs, measure=None):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        rid = getattr(self._local, "rid", 0)
        stack.append(sid)
        t0 = time.perf_counter()
        extra = None
        try:
            result = fn(*args, **kwargs)
            if measure is not None:
                extra = measure(args, result)
            return result
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, rid, name, t0, t1, extra))

    def record(self, name: str, t0: float, t1: float, extra=None) -> None:
        """A span for work that is not a function call (a lock wait, a
        GC pause), as a child of whatever span the thread is in."""
        stack = self._stack()
        self.spans.append((next(self._ids), stack[-1] if stack else 0,
                           getattr(self._local, "rid", 0), name, t0, t1, extra))

    def new_request(self) -> int:
        rid = self._local.rid = next(self._rids)
        return rid

    def end_request(self) -> None:
        self._local.rid = 0

    def start_window(self) -> None:
        """Mark the start of the timed window: ``summarize`` counts only
        spans that begin after it (WAL replay excepted)."""
        self.mark = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, measure=None) -> None:
        """Replace ``owner.attr`` (a function, method, staticmethod or
        classmethod) with a traced twin."""
        raw = vars(owner)[attr]
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs, measure)

        setattr(owner, attr, kind(traced) if kind else traced)

    def watch_gc(self) -> None:
        def on_gc(phase, _info):
            if phase == "start":
                self._gc_t0 = time.perf_counter()
            else:
                self.record("runtime.gc", self._gc_t0, time.perf_counter())

        gc.callbacks.append(on_gc)

    def dump(self, path: str) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": list(self.spans), "mark": self.mark}, f)
        os.replace(path + ".tmp", path)


class TimedLock:
    """Stands in for an engine lock and records how long each acquire
    waited."""

    def __init__(self, tracer: Tracer, name: str, lock) -> None:
        self._tracer, self._name, self._lock = tracer, name, lock

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        t0 = time.perf_counter()
        ok = self._lock.acquire(blocking, timeout)
        self._tracer.record(self._name, t0, time.perf_counter())
        return ok

    def release(self) -> None:
        self._lock.release()

    def locked(self) -> bool:
        return self._lock.locked()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *_exc):
        self.release()


def _snapshot_rows(_args, tables) -> int:
    if not tables:
        return 0
    return sum(len(m) for parts in tables.values() for m in parts.values())


def group_profile(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under a job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def install_server() -> Tracer:
    """Wrap the server-side layers: server, model, wal, buffer, engine,
    session, formatting and coldtier."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    import lynx_spark.engine as engine
    import lynx_spark.server as server
    import lynx_spark.sources.coldtier as coldtier
    from lynx_spark.buffer import MemBuffer
    from lynx_spark.model import WriteRequest
    from lynx_spark.wal import Segment, Wal

    t = Tracer()
    t.watch_gc()
    t.wrap(WriteRequest, "from_json_dict", "model.parse")
    t.wrap(Wal, "write", "wal.append")
    t.wrap(Wal, "rotate", "wal.rotate")
    t.wrap(Wal, "replay", "wal.replay")
    t.wrap(coldtier.TieredEngine, "_replay_wal", "wal.replay")
    t.wrap(Segment, "write", "wal.segment_write", lambda a, _r: len(a[1]))
    t.wrap(MemBuffer, "insert", "buffer.insert")
    t.wrap(MemBuffer, "tables", "buffer.snapshot", _snapshot_rows)
    t.wrap(engine.LynxEngine, "write", "engine.write")
    for mod in (engine, coldtier):
        t.wrap(mod, "select_days", "engine.select_days",
               lambda a, r: (len(r), len(a[0])))
        t.wrap(mod, "measurements_to_arrow", "engine.arrow",
               lambda _a, r: r.num_rows)
    t.wrap(SparkSession, "createDataFrame", "engine.create_df")
    t.wrap(SparkSession, "sql", "engine.analyze")
    t.wrap(DataFrame, "collect", "session.collect")
    t.wrap(server, "rows_to_json", "formatting.render", lambda _a, r: len(r))
    t.wrap(server, "rows_to_table", "formatting.render", lambda _a, r: len(r))
    t.wrap(coldtier.TieredEngine, "flush", "coldtier.flush", lambda _a, r: r)

    init = engine.LynxEngine.__init__

    @functools.wraps(init)
    def traced_init(self, *args, **kwargs):
        init(self, *args, **kwargs)
        self._wal_lock = TimedLock(t, "engine.wal_lock", self._wal_lock)
        self._query_lock = TimedLock(t, "engine.query_lock", self._query_lock)

    engine.LynxEngine.__init__ = traced_init

    create_app = server.create_app

    def traced_create_app(eng):
        app = create_app(eng)
        inner = app.wsgi_app
        sc = eng.spark.sparkContext

        def wsgi(environ, start_response):
            rid = t.new_request()
            group = None
            if environ.get("PATH_INFO") == "/api/v1/query":
                group = f"bench-request-{rid}"
                sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                return t.call("server.request", inner, (environ, start_response), {})
            finally:
                if group is not None:
                    t.record("session.profile", t0, time.perf_counter(), group_profile(sc, group))
                t.end_request()

        app.wsgi_app = wsgi
        return app

    server.create_app = traced_create_app
    return t


# ------------------------------------------------------------- summary


def _pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile of a span population; 0 when the layer
    had no spans. Unlike ``stats.percentile`` it does not refuse thin
    tails: per-layer figures explain end-to-end ones, they carry no
    bound."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[max(0, -(-len(ordered) * p // 100) - 1)]


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def summarize(dump: dict) -> dict[str, float]:
    """Per-layer metrics from one server's spans in the timed window
    (WAL replay, which only happens before it, is counted whole). A
    layer that never ran in the workload reports 0."""
    spans = [s for s in dump["spans"] if s[4] >= dump["mark"] or s[3] == "wal.replay"]
    child_ms: dict[int, float] = {}
    ms: dict[str, list[float]] = {}
    extras: dict[str, list] = {}
    for sid, parent, _rid, name, t0, t1, extra in spans:
        ms.setdefault(name, []).append((t1 - t0) * 1000.0)
        if extra is not None:
            extras.setdefault(name, []).append(extra)
        if parent:
            child_ms[parent] = child_ms.get(parent, 0.0) + (t1 - t0) * 1000.0
    requests = [s for s in spans if s[3] == "server.request"]
    self_ms = [(s[5] - s[4]) * 1000.0 - child_ms.get(s[0], 0.0) for s in requests]
    days = extras.get("engine.select_days", [])
    days_in = sum(d[1] for d in days)
    profiles = extras.get("session.profile", [])
    writes = len(ms.get("wal.append", []))
    flushes = extras.get("coldtier.flush", [])
    return {
        "server.request_ms.p50": _pct(ms.get("server.request", []), 50),
        "server.self_ms.p50": _pct(self_ms, 50),
        "server.requests": float(len(requests)),
        "model.parse_us.mean": _mean(ms.get("model.parse", [])) * 1000.0,
        "wal.append_us.mean": _mean(ms.get("wal.append", [])) * 1000.0,
        "wal.bytes_per_write": sum(extras.get("wal.segment_write", [])) / writes if writes else 0.0,
        "wal.rotations": float(len(ms.get("wal.rotate", []))),
        "wal.replay_s": sum(ms.get("wal.replay", [])) / 1000.0,
        "buffer.insert_us.mean": _mean(ms.get("buffer.insert", [])) * 1000.0,
        "buffer.snapshot_ms.p50": _pct(ms.get("buffer.snapshot", []), 50),
        "buffer.snapshot_rows.mean": _mean(extras.get("buffer.snapshot", [])),
        "engine.write_us.mean": _mean(ms.get("engine.write", [])) * 1000.0,
        "engine.wal_lock_wait_ms.p99": _pct(ms.get("engine.wal_lock", []), 99),
        "engine.query_lock_wait_ms.p90": _pct(ms.get("engine.query_lock", []), 90),
        "engine.days_selected_ratio": sum(d[0] for d in days) / days_in if days_in else 0.0,
        "engine.arrow_ms.p50": _pct(ms.get("engine.arrow", []), 50),
        "engine.arrow_rows.mean": _mean(extras.get("engine.arrow", [])),
        "engine.create_df_ms.p50": _pct(ms.get("engine.create_df", []), 50),
        "engine.analyze_ms.p50": _pct(ms.get("engine.analyze", []), 50),
        "session.collect_ms.p50": _pct(ms.get("session.collect", []), 50),
        "session.jobs_per_query.mean": _mean(p[0] for p in profiles),
        "session.stages_per_query.mean": _mean(p[1] for p in profiles),
        "formatting.render_ms.p50": _pct(ms.get("formatting.render", []), 50),
        "formatting.bytes_out.mean": _mean(extras.get("formatting.render", [])),
        "coldtier.flushes": float(len(flushes)),
        "coldtier.flush_ms.max": max(ms.get("coldtier.flush", []), default=0.0),
        "coldtier.flush_rows.mean": _mean(flushes),
        "runtime.gc_ms.total": sum(ms.get("runtime.gc", [])),
    }
