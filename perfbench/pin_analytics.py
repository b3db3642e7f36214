"""Pin the analytics workload's expected results from DuckDB.

    python3 perfbench/pin_analytics.py

Runs each query's ``oracle`` SQL from the registry in DuckDB over the
benchmark's copy of the sf0.01 tables and writes the normalized row set
to ``perfbench/expected/<query>.json``. The benchmark compares Spark's
collected rows against these files, order-insensitively, the way
``tests/test_queries_oracle.py`` compares against the oracle.
"""

from __future__ import annotations

import json
import sys

import analytics_wl as wl


def main() -> None:
    import duckdb

    sys.path.insert(0, str(wl.ROOT))
    from lynx_spark.plans.analytics import REGISTRY

    con = duckdb.connect()
    for t in sorted(p.stem for p in wl.DATA.glob("*.parquet")):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wl.DATA / t}.parquet')")
    wl.EXPECTED.mkdir(exist_ok=True)
    for name in wl.QUERIES:
        rel = con.sql(REGISTRY[name].oracle)
        rows = wl.rowset(list(rel.columns), rel.fetchall())
        (wl.EXPECTED / f"{name}.json").write_text(json.dumps(rows) + "\n")
        print(name, len(rows), "rows")


if __name__ == "__main__":
    main()
