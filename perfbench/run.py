"""The repo benchmark: drive lynx_spark as its users do and time it.

    python3 perfbench/run.py --workload mixed|analytics|dashboard \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

One workload per run. ``BENCHMARK.json`` lists the workloads a
comparison runs; ``dashboard`` is runnable on its own (see
``README.md``). The run builds its inputs from the seed, starts
the program from the source tree it sits in, measures, checks every
answer, and prints the workload's figures followed, as its last line,
by one JSON object::

    {"correct": true, "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from a traced run (see ``tracing.py``). A wrong
answer fails the run: it exits 1 and prints no JSON, and so does a run
whose figures would not hold (too few successful operations for a
percentile, open-loop writes over their latency limit). ``--workload all``
runs every workload untraced and then traced, prints the figures by
name, the per-layer table and the tracing overhead, and exits non-zero
if any gate failed. See ``README.md`` for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E_UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def workloads():
    import analytics_wl
    import http_wl

    return {"mixed": http_wl.mixed, "analytics": analytics_wl.run, "dashboard": http_wl.dashboard}


def run_one(name: str, seed: int, seconds: float, trace: bool):
    """Run one workload in a scratch directory inside the checkout and
    return its Result."""
    wd = ROOT / ".perfbench-run" / f"{name}-{seed}-{int(trace)}-{time.time_ns()}"
    wd.mkdir(parents=True)
    try:
        res = workloads()[name](seed, seconds, trace, wd)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    if trace:
        # peak RSS is reported, not bounded: it follows when G1 grows its
        # heap more than what the program holds (see README.md)
        res.layers["runtime.rss_mb"] = res.e2e["rss_mb"]
    return res


def _print_report(name: str, res) -> None:
    print(f"== {name}: {res.attempted} operations, {res.failed} failed")
    for key, (value, unit) in res.report.items():
        print(f"   {key:<28} {value:>12.4f} {unit}")


def _line(res, trace: bool) -> str:
    if trace:
        missing = [k for k in LAYER_UNITS if k not in res.layers]
        metrics = {k: {"value": res.layers.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
        if missing:
            print(f"   (layers with no activity in this workload report 0: {len(missing)})")
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return json.dumps({"correct": True, "attempted": res.attempted,
                       "failed": res.failed, "metrics": metrics})


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced; the tracing overhead is the
    traced end-to-end figure over the untraced one."""
    from result import GateFailed, RunInvalid

    status = 0
    for name in workloads():
        try:
            plain = run_one(name, seed, seconds, False)
            traced = run_one(name, seed, seconds, True)
        except GateFailed as e:
            print(f"== {name}: CORRECTNESS GATE FAILED: {e}")
            status = 1
            continue
        except RunInvalid as e:
            print(f"== {name}: RUN INVALID: {e}")
            status = 1
            continue
        _print_report(name, plain)
        print(f"   -- per-layer (traced run) --")
        for key in LAYER_UNITS:
            if key in traced.layers:
                print(f"   {key:<44} {traced.layers[key]:>12.4f} {LAYER_UNITS[key]}")
        print(f"   -- tracing overhead: traced vs untraced --")
        for key, unit in E2E_UNITS.items():
            a, b = plain.e2e[key], traced.e2e[key]
            print(f"   {key:<20} {a:>12.4f} -> {b:>12.4f} {unit:<6} ({(b - a) / a:+.1%})")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "lynx_spark" / "server.py").is_file():
        print("perfbench: no lynx_spark source tree next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import proc

    proc.become_subreaper()
    # a SIGTERM unwinds through the workloads' ``finally`` blocks, which
    # stop the servers they started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if args.workload not in workloads():
        ap.error(f"unknown workload {args.workload!r}")
    from result import GateFailed, RunInvalid

    try:
        res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except GateFailed as e:
        print(f"perfbench: correctness gate failed: {e}", file=sys.stderr)
        return 1
    except RunInvalid as e:
        print(f"perfbench: run invalid: {e}", file=sys.stderr)
        return 1
    _print_report(args.workload, res)
    print(_line(res, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
