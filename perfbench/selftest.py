"""Self-tests of the benchmark's own parts.

    python3 perfbench/selftest.py

They need the source tree next to ``perfbench/`` (the WAL round trip
decodes with the program's reader) but no Spark.
"""

from __future__ import annotations

import sys
import tempfile
import threading
import unittest
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import client  # noqa: E402
import gen  # noqa: E402
import http_wl  # noqa: E402
import lynx1  # noqa: E402
import stats  # noqa: E402
from result import RunInvalid  # noqa: E402


def _inputs(seed: int) -> bytes:
    """Every generated input of both HTTP workloads, as bytes."""
    dash = gen.points(seed, 3000, span_us=http_wl.DAYS * gen.DAY_US, hosts=50, label="dashboard")
    queries = gen.dashboard_queries(seed, dash, http_wl.DAYS, count=48)
    live = gen.points(seed, 500, span_us=gen.HOUR_US, hosts=50, zipf=1.1, label="mixed-live")
    parts = gen.bodies(dash) + gen.bodies(live)
    parts += [repr(sorted(q.items())).encode() for q in queries]
    with tempfile.TemporaryDirectory() as d:
        for path in lynx1.write_segments(Path(d), dash, per_segment=1000):
            parts.append(path.read_bytes())
    return b"\n".join(parts)


class SelfTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(_inputs(7), _inputs(7))
        self.assertNotEqual(_inputs(7), _inputs(8))

    def test_lynx1_segments_decode_to_the_generated_records(self):
        from lynx_spark.wal import read_segment

        pts = gen.points(3, 2500, span_us=gen.DAY_US, hosts=20, zipf=1.1)
        with tempfile.TemporaryDirectory() as d:
            paths = lynx1.write_segments(Path(d), pts, per_segment=1000)
            self.assertEqual([p.name for p in paths], ["1.wal", "2.wal", "3.wal"])
            decoded = [r for p in paths for r in read_segment(p)]
        self.assertEqual(len(decoded), len(pts))
        for r, p in zip(decoded, pts):
            self.assertEqual(
                (r.namespace, r.measurement, r.value, r.metadata, r.timestamp),
                (p["namespace"], p["measurement"], p["value"], p["metadata"], p["timestamp"]),
            )
        self.assertTrue(any(isinstance(v, int) for p in pts for v in p["metadata"].values()))

    def test_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        with self.assertRaises(RunInvalid):
            stats.percentile(list(range(1, 100)), 90)
        with self.assertRaises(RunInvalid):
            stats.percentile(list(range(1, 1000)), 99)
        with self.assertRaises(RunInvalid):
            stats.percentile([], 50)

    def test_failed_requests_are_counted_and_replaced(self):
        """A server that refuses every body ending in 0 or 5: both load
        generators still collect the successful requests they need."""

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                self.send_response(500 if body[-1:] in (b"0", b"5") else 200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_address[1]
            bodies = [str(i).encode() for i in range(100)]
            run = client.closed_loop(port, "/", bodies, conns=2, seconds=0.0, min_ok=30)
            ok = [r for r in run["results"] if r[2] == 200]
            self.assertGreaterEqual(len(ok), 30)
            self.assertGreater(len(run["results"]), len(ok))

            writes = client.OpenLoop(port, "/", bodies, rate=2000.0, conns=3, target=40).start()
            writes.join()
            self.assertEqual(writes.acked, 40)
            self.assertEqual(writes.failed, writes.status.count(500))
            self.assertEqual(writes.started, 50)  # 10 of the first 50 refused

            refused = client.closed_loop(port, "/", [b"0"], conns=2, seconds=0.0, min_ok=5)
            self.assertEqual({r[2] for r in refused["results"]}, {500})
            with self.assertRaises(RunInvalid):
                stats.percentile([r[1] for r in refused["results"] if r[2] == 200], 50)
        finally:
            srv.shutdown()
            srv.server_close()


if __name__ == "__main__":
    unittest.main()
