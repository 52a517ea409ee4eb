"""Record expected.json: the row count and digest of every query key the
benchmark runs, each one first checked against its DuckDB oracle.

    python3 perfbench/make_expected.py

Run from the root of a full checkout (it imports ``tests/oracle.py``).
Keys without an oracle SQL are recorded anyway and listed under
``"_no_oracle"``. Re-run only when the data snapshot under data/ or the
key lists change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads as w
from spans import NoTrace


def main() -> int:
    run_dir = os.path.join(run.HERE, "_run", f"expected-{os.getpid()}")
    run.pin_environment(run_dir)
    sys.path.insert(0, run.ROOT)
    import duckdb

    from modevetl_spark.queries import all_oracle, all_queries
    from tests.oracle import compare

    registry, oracle = all_queries(), all_oracle()
    out: dict = {"_no_oracle": []}
    spark = run.start_session(run_dir)
    try:
        for name, (kind, sf, _) in run.WORKLOADS.items():
            if kind == "etl":
                continue
            sf_dir = os.path.join(run.DATA, sf)
            con = duckdb.connect()
            for f in sorted(os.listdir(sf_dir)):
                table = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
            out[name] = {}
            for key in w.RELATIONAL_KEYS if kind == "relational" else w.OPERATOR_KEYS:
                if key in oracle:
                    compare(registry[key](spark, sf_dir), con, oracle[key])
                else:
                    out["_no_oracle"].append(key)
                columns, rows = w.run_query(spark, registry[key], sf_dir, NoTrace())
                out[name][key] = w.digest(columns, rows)
                print(f"{name} {key}: {out[name][key]}", file=sys.stderr)
            con.close()
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
