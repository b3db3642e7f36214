#!/usr/bin/env python
"""Dump the tiered query plans of the ``mixed`` benchmark's two counts
to plans/r16/mixed_<query>_<tag>.txt, with the Spark jobs each call ran.

    python plans/r16/capture_plans.py before|after [SOURCE_ROOT]

SOURCE_ROOT (default: this checkout) is the tree whose ``lynx_spark``
is imported, so one script captures both sides of a change. The engine
is built at ``mixed``'s shape: 24 committed cold files (6 flushes over
4 days) under about 130 hot rows. Each query runs three times; for each
run the file records the jobs ``query()`` ran (building the views) and
the jobs ``collect()`` ran, counted under a job group, then the
``explain("formatted")`` plan of the last run.
"""
import io
import sys
import tempfile
from contextlib import redirect_stdout
from pathlib import Path

OUT = Path(__file__).resolve().parent
ROOT = Path(sys.argv[2]).resolve() if len(sys.argv) > 2 else OUT.parents[1]
sys.path.insert(0, str(ROOT))

from lynx_spark.model import WriteRequest  # noqa: E402
from lynx_spark.session import get_spark  # noqa: E402
from lynx_spark.sources.coldtier import TieredEngine  # noqa: E402

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
END_US = 4 * DAY_US
QUERIES = {
    "window": "SELECT COUNT(*) AS n FROM cpu WHERE timestamp >= "
    "'1970-01-04 23:00:00'",
    "total": "SELECT COUNT(*) AS n FROM cpu",
}


def build(spark, tmp: Path) -> TieredEngine:
    eng = TieredEngine(spark, tmp / "wal", tmp / "cold", 64 * 1024)
    seq = 0
    for _ in range(6):  # 6 flushes x 4 day partitions = 24 files
        for day in range(4):
            for i in range(50):
                ts = day * DAY_US + (seq * 7_919_000) % DAY_US
                eng.write(WriteRequest("ns", "cpu", str(seq), {"host": f"h{i % 5}"}, ts))
                seq += 1
        eng.flush("ns")
    for i in range(130):  # the hot rows, all in the last hour
        eng.write(WriteRequest("ns", "cpu", str(seq), {"host": f"h{i % 5}"}, END_US - HOUR_US + i))
        seq += 1
    return eng


def jobs(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    tag = sys.argv[1]
    spark = get_spark("plan_capture_r16")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as tmp:
        eng = build(spark, Path(tmp))
        for name, sql in QUERIES.items():
            lines = [f"-- {sql}", f"-- source: lynx_spark ({tag})"]
            for run in range(1, 4):
                g = f"r16-{tag}-{name}-{run}"
                df, q_jobs = jobs(sc, g + "-q", lambda: eng.query("ns", sql))
                rows, c_jobs = jobs(sc, g + "-c", df.collect)
                lines.append(
                    f"-- run {run}: n={rows[0]['n']} jobs in query()={q_jobs} "
                    f"jobs in collect()={c_jobs}"
                )
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = "\n".join(lines) + "\n\n" + buf.getvalue()
            (OUT / f"mixed_{name}_{tag}.txt").write_text(text.replace(tmp, "<tmp>"))
            print(f"ok {name}: " + "; ".join(lines[2:]), file=sys.stderr)
        eng.wal.close()


if __name__ == "__main__":
    main()
