"""Seeded inputs: points, request bodies and dashboard queries.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs (checked by ``selftest.py``). The program under
test only ever sees what these functions return.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timezone

NAMESPACE = "bench"
#: 2026-01-01T00:00:00Z in microseconds
BASE_US = 1_767_225_600_000_000
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

_EXTRA_TAGS = ("region", "rack", "core")
_REGIONS = ("eu-west", "eu-north", "us-east", "us-west", "ap-south")


def day_str(day: int) -> str:
    return datetime.fromtimestamp((BASE_US + day * DAY_US) / 1e6, timezone.utc).strftime("%Y-%m-%d")


def _zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (k ** s) for k in range(1, n + 1)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    return cdf


def points(
    seed: int,
    n: int,
    *,
    span_us: int,
    hosts: int,
    zipf: float | None = None,
    start_us: int = BASE_US,
    label: str = "",
) -> list[dict]:
    """``n`` points with strictly increasing timestamps spread over
    ``span_us`` microseconds from ``start_us``. Hosts are uniform, or Zipf-skewed
    with exponent ``zipf``; every point has a ``host`` tag plus 0-3 of
    ``region`` (string), ``rack`` (string) and ``core`` (u64). Values
    are integers 0-999 written as strings, as lynx stores every value.
    ``label`` separates streams drawn from one seed."""
    rng = random.Random(f"{seed}/{label}/{n}/{span_us}/{hosts}")
    cdf = _zipf_cdf(hosts, zipf) if zipf else None
    step = span_us // n
    out = []
    for i in range(n):
        if cdf is None:
            h = rng.randrange(hosts)
        else:
            u = rng.random()
            h = next((k for k, c in enumerate(cdf) if u <= c), hosts - 1)
        metadata: dict[str, str | int] = {"host": f"h{h:03d}"}
        for tag in rng.sample(_EXTRA_TAGS, rng.randrange(4)):
            if tag == "core":
                metadata[tag] = rng.randrange(64)
            elif tag == "region":
                metadata[tag] = rng.choice(_REGIONS)
            else:
                metadata[tag] = f"r{rng.randrange(20):02d}"
        out.append({
            "namespace": NAMESPACE,
            "measurement": "cpu",
            "value": str(rng.randrange(1000)),
            "metadata": metadata,
            "timestamp": start_us + i * step + rng.randrange(step),
        })
    return out


def bodies(pts: list[dict]) -> list[bytes]:
    """The JSON request bodies for ``POST /api/v1/write``."""
    return [json.dumps(p, separators=(",", ":")).encode() for p in pts]


# ------------------------------------------------------------ dashboard


def render_ts(us: int) -> str:
    """A timestamp as the server renders it: seconds, then 3 digits if
    the fraction is whole milliseconds, else 6."""
    dt = datetime.fromtimestamp(us // 1_000_000, timezone.utc)
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    frac = us % 1_000_000
    if frac == 0:
        return base
    if frac % 1000 == 0:
        return f"{base}.{frac // 1000:03d}"
    return f"{base}.{frac:06d}"


def render_table(columns: list[str], rows: list[list[str]]) -> str:
    widths = [max([len(c)] + [len(r[i]) for r in rows]) for i, c in enumerate(columns)]
    border = "+" + "+".join("-" * (w + 2) for w in widths) + "+"

    def line(cells):
        return "| " + " | ".join(c.ljust(widths[i]) for i, c in enumerate(cells)) + " |"

    return "\n".join([border, line(columns), border] + [line(r) for r in rows] + [border])


def dashboard_queries(seed: int, pts: list[dict], days: int, count: int) -> list[dict]:
    """``count`` (a multiple of 4) queries drawn from four templates,
    each with the exact response it must produce, computed here from
    the generated points.

    Json answers are compared as sets of row objects; the Table answer
    is compared as text."""
    rng = random.Random(f"{seed}/dashboard-queries")
    by_host: dict[str, list[int]] = {}
    for p in pts:
        h = p["metadata"]["host"]
        c = by_host.setdefault(h, [0, 0])
        c[0] += 1
        c[1] += int(p["value"])
    group_by = {
        "query": "SELECT host, COUNT(*) AS n, SUM(CAST(value AS BIGINT)) AS s "
        "FROM cpu GROUP BY host",
        "format": "Json",
        "template": "group_by",
        "expect": sorted([{"host": h, "n": c[0], "s": c[1]} for h, c in by_host.items()],
                         key=lambda r: r["host"]),
    }
    last = days - 1
    last_lo = BASE_US + last * DAY_US
    hourly: dict[int, list[int]] = {}
    for p in pts:
        if p["timestamp"] >= last_lo:
            c = hourly.setdefault((p["timestamp"] - last_lo) // HOUR_US, [0, 0])
            c[0] += 1
            c[1] += int(p["value"])
    downsample = {
        "query": "SELECT date_trunc('hour', timestamp) AS h, COUNT(*) AS n, "
        "SUM(CAST(value AS BIGINT)) AS s FROM cpu "
        f"WHERE timestamp >= '{day_str(last)} 00:00:00' "
        "GROUP BY date_trunc('hour', timestamp)",
        "format": "Json",
        "template": "hourly",
        "expect": sorted([{"h": render_ts(last_lo + k * HOUR_US), "n": c[0], "s": c[1]}
                          for k, c in hourly.items()], key=lambda r: r["h"]),
    }
    day_q = []
    for d in range(days):
        lo, hi = BASE_US + d * DAY_US, BASE_US + (d + 1) * DAY_US
        vals = [int(p["value"]) for p in pts if lo <= p["timestamp"] < hi]
        day_q.append({
            "query": "SELECT COUNT(*) AS n, SUM(CAST(value AS BIGINT)) AS s, "
            "MAX(CAST(value AS BIGINT)) AS mx FROM cpu WHERE timestamp BETWEEN "
            f"'{day_str(d)} 00:00:00' AND '{day_str(d)} 23:59:59.999999'",
            "format": "Json",
            "template": "day",
            "expect": [{"n": len(vals), "s": sum(vals), "mx": max(vals)}],
        })
    per_host: dict[str, list[dict]] = {}
    for p in pts:
        per_host.setdefault(p["metadata"]["host"], []).append(p)
    top = []
    for h in sorted(per_host):
        rows = sorted(per_host[h], key=lambda p: (int(p["value"]), p["timestamp"]),
                      reverse=True)[:10]
        top.append({
            "query": f"SELECT timestamp, value FROM cpu WHERE host = '{h}' "
            "ORDER BY CAST(value AS BIGINT) DESC, timestamp DESC LIMIT 10",
            "format": "Table",
            "template": "top_n",
            "expect": render_table(["timestamp", "value"],
                                   [[render_ts(p["timestamp"]), p["value"]] for p in rows]),
        })
    # every run of four holds one query of each template, in a seeded
    # order, so the template mix of a run does not vary with the seed
    out = []
    for _ in range(count // 4):
        block = [group_by, rng.choice(day_q), downsample, rng.choice(top)]
        rng.shuffle(block)
        out += block
    return out
