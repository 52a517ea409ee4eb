"""Per-query measurement: wall time with the noop sink, Spark job counts,
classes compiled by code generation, and .explain("formatted") capture.

Usage:
    python scripts/measure.py [--plans DIR] [--runs N] [--queries a,b,c]
                              [--sf-dir DIR]

Runs the headline queries (or the given list) in ``--runs`` passes; each
pass runs every query once, in order, with BOTH the bench's count()
action (comparability with bench.py) and the noop sink (computes every
column, no pruning). Per query it reports the best time of each action,
how many Spark jobs one run submits (driver-latency proxy: at sf0.1 each
job costs ~0.2 s of scheduler latency), and the classes code generation
compiled for it on the first pass (``compiles_first``) and on the last
(``compiles_repeat``). A pass is the unit because the generated-class
cache is shared: a query repeated on its own finds its classes cached,
while a pass over many queries can evict them before their next run.
The summary line gives the first pass's total, the distinct classes the
queries need when the cache holds them all, the last pass's total, the
recompiles a warm round pays, and the JVM's metaspace in use at the end.
Writes each formatted plan to --plans/<name><suffix>.txt when --plans
is given.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import HEADLINE
    from modevetl_spark.queries import all_queries
    from modevetl_spark.session import get_spark, quiet_bounded_window_warnings

    spark = get_spark(app_name="modevetl-measure")
    quiet_bounded_window_warnings(spark)
    sc = spark.sparkContext
    queries = all_queries()
    names = args.queries.split(",") if args.queries else [n for n in HEADLINE if n in queries]

    spark.range(1000).count()
    tracker = sc.statusTracker()
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    inf = float("inf")
    out = {n: {"count_s": inf, "noop_s": inf, "jobs": 0} for n in names}
    for i in range(args.runs):
        for name in names:
            fn, rec = queries[name], out[name]
            sc.setJobDescription(name)
            c0 = compiled()
            j0 = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            e1 = time.perf_counter() - t0
            rec["jobs"] = max(rec["jobs"], len(set(tracker.getJobIdsForGroup(None) or []) - j0))
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            e2 = time.perf_counter() - t0
            rec["compiles_first" if i == 0 else "compiles_repeat"] = compiled() - c0
            rec["count_s"] = min(e1, rec["count_s"])
            rec["noop_s"] = min(e2, rec["noop_s"])
            sc.setJobDescription(None)
    for name, rec in out.items():
        rec["count_s"], rec["noop_s"] = round(rec["count_s"], 3), round(rec["noop_s"], 3)
        print(
            f"# {name}: count={rec['count_s']:.3f}s noop={rec['noop_s']:.3f}s jobs~{rec['jobs']}"
            f" compiles={rec['compiles_first']}/{rec.get('compiles_repeat', '-')}",
            file=sys.stderr,
        )
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                queries[name](spark, args.sf_dir).explain("formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
    first = sum(r["compiles_first"] for r in out.values())
    repeat = sum(r.get("compiles_repeat", 0) for r in out.values())
    pools = sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    meta = next(p.getUsage().getUsed() for p in pools if p.getName() == "Metaspace")
    print(f"# compiles: first pass {first}, last pass {repeat}; metaspace {meta / 2**20:.1f} MB", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
