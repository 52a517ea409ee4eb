"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Starts one Spark session at local[2],
warms the workload up at the timed scale factor, runs the timed pass and
checks every output. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it records the setting (seed, nproc, load average, Spark and
Java versions) and any failures. See NOTES.md for what each workload and
metric is for.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
CORES = 2
# Untimed rounds before the timed pass. After one, round walls still fell
# by a quarter across the next four rounds as the JIT kept compiling.
WARM_ROUNDS = 2

# name -> (kind, scale factor, nominal seconds of one warm round at local[2]
# on a 4-core x86 host). The timed pass is max(2, seconds / nominal) whole
# rounds, so every run of a workload does the same work.
WORKLOADS = {
    "relational_sf0.01": ("relational", "sf0.01", 6.0),
    "operators_sf0.1": ("operators", "sf0.1", 4.0),
    "etl_ticks": ("etl", "sf0.1", 5.0),
}

END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s", "tick_p50_s", "read_p50_s")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Fix what the run would otherwise inherit from the host: core count,
    scratch and temp dirs (fresh, inside the checkout), driver heap."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(run_dir: str):
    from modevetl_spark.queries import prep
    from modevetl_spark.session import get_spark, quiet_bounded_window_warnings

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    quiet_bounded_window_warnings(spark)
    prep(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def make_workload(name: str, spark, rng, run_dir: str):
    import workloads as w

    kind, sf, _ = WORKLOADS[name]
    sf_dir = os.path.join(DATA, sf)
    if kind == "etl":
        return w.EtlWorkload(spark, os.path.join(sf_dir, "events.parquet"), os.path.join(run_dir, "etl"), rng)
    keys = w.RELATIONAL_KEYS if kind == "relational" else w.OPERATOR_KEYS
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[name]
    return w.QueryWorkload(spark, keys, sf_dir, rng, expected)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. With 20 samples or fewer no percentile above the
    median has ten beyond it, so the (lower) median is returned."""
    xs = sorted(values)
    i = max(len(xs) - 11, (len(xs) - 1) // 2)
    return xs[i], 100.0 * (i + 1) / len(xs)


def end_to_end(setup_s: float, rounds) -> tuple[dict, dict]:
    ops = [op for r in rounds for op in r.ops]
    reads = [op.wall_s for op in ops if op.name == "etl.read"] or [op.wall_s for op in ops]
    ticks = [r.tick_s if r.tick_s is not None else r.wall_s for r in rounds]
    tail_s, pct = tail([op.wall_s for op in ops])
    values = {
        "setup_s": setup_s,
        "pass_s": sum(r.wall_s for r in rounds),
        "op_p50_s": statistics.median(op.wall_s for op in ops),
        "op_tail_s": tail_s,
        "tick_p50_s": statistics.median(ticks),
        "read_p50_s": statistics.median(reads),
    }
    metrics = {k: {"value": values[k], "unit": "s"} for k in END_TO_END}
    return metrics, {"ops": len(ops), "op_tail_percentile": round(pct, 1), "rounds": len(rounds)}


def _subtree_jobs(spans: list[dict]) -> dict[int, int]:
    """Jobs per span, including those of its child spans."""
    total = {s["id"]: len(s["jobs"]) for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):
        if s["parent"] is not None:
            total[s["parent"]] += total[s["id"]]
    return total


def per_layer(tracer, session: dict, traced_wall: float, overhead: float, sinks: dict) -> dict:
    jobs = _subtree_jobs(tracer.spans)

    def spans(name):
        return [s for s in tracer.spans if s["name"] == name]

    def secs(name):
        return sum(s["end"] - s["start"] for s in spans(name))

    def njobs(name):
        return sum(jobs[s["id"]] for s in spans(name))

    def total(key):
        return sum(op[key] for op in tracer.ops)

    run_ms, cpu_ms = total("executor_run_ms"), total("executor_cpu_ns") / 1e6
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.warm_s": (session["warm_s"], "s"),
        "session.jvm_peak_rss_mb": (session["jvm_peak_rss_mb"], "MB"),
        "catalog.load_calls": (len(spans("catalog.load")), "count"),
        "catalog.load_s": (secs("catalog.load"), "s"),
        "catalog.load_jobs": (njobs("catalog.load"), "count"),
        "queries.build_s": (secs("queries.build"), "s"),
        "queries.build_jobs": (njobs("queries.build"), "count"),
        "queries.plan_s": (secs("queries.plan"), "s"),
        "queries.exec_s": (secs("queries.exec"), "s"),
        "queries.exec_jobs": (njobs("queries.exec"), "count"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "spark.executor_run_ms": (run_ms, "ms"),
        "spark.executor_cpu_ms": (cpu_ms, "ms"),
        "spark.gc_ms": (total("gc_ms"), "ms"),
        "spark.non_cpu_ms": (run_ms - cpu_ms, "ms"),
        "spark.busy_share": (run_ms / (traced_wall * 1000 * CORES), "ratio"),
        "spark.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (total("spill_bytes"), "bytes"),
        "spark.input_bytes": (total("input_bytes"), "bytes"),
        "jobs.scd2_s": (secs("jobs.scd2"), "s"),
        "jobs.scd2_jobs": (njobs("jobs.scd2"), "count"),
        "jobs.reviews_s": (secs("jobs.reviews"), "s"),
        "jobs.reviews_jobs": (njobs("jobs.reviews"), "count"),
        "incremental.upsert_s": (secs("incremental.upsert"), "s"),
        "incremental.upsert_jobs": (njobs("incremental.upsert"), "count"),
        "scd2.merge_s": (secs("scd2.merge"), "s"),
        "sink.files": (sinks.get("sink.files", 0), "count"),
        "sink.bytes": (sinks.get("sink.bytes", 0), "bytes"),
        "sink.bytes_written": (sinks.get("sink.bytes_written", 0), "bytes"),
        "sink.write_amplification": (sinks.get("sink.write_amplification", 0), "ratio"),
        "trace.overhead_s": (overhead, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("modevetl_spark") is None:
        sys.exit(f"modevetl_spark not found under {ROOT}: run from the root of a checkout")
    run_dir = os.path.join(HERE, "_run", str(os.getpid()))
    pin_environment(run_dir)

    from spans import NoTrace, Tracer

    load_start, cpu_start = os.getloadavg()[0], _cpu_times()
    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    spark = start_session(run_dir)
    try:
        start_s = time.perf_counter() - t0
        workload = make_workload(args.workload, spark, rng, run_dir)
        workload.warm(WARM_ROUNDS)
        setup_s = time.perf_counter() - t0
        n_rounds = max(2, round(args.seconds / WORKLOADS[args.workload][2]))

        untraced, traced = [], []
        tracer = Tracer(spark)
        for i in range(n_rounds):
            untraced.append(workload.round(NoTrace(), label=f"r{i}"))
            if args.trace:
                tracer.install()
                try:
                    traced.append(workload.round(tracer, label=f"t{i}"))
                finally:
                    tracer.remove()
        workload.check(untraced + traced)
        sinks = workload.finish()
        session = {
            "start_s": start_s,
            "warm_s": setup_s - start_s,
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        }
        versions = {"spark": spark.version, "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version")}
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    import workloads as w

    metrics, shape = end_to_end(setup_s, untraced)
    ops = [op for r in untraced + traced for op in r.ops]
    failures = [op for op in ops if op.failed]
    if args.trace:
        overhead = sum(r.wall_s for r in traced) - sum(r.wall_s for r in untraced)
        metrics = per_layer(tracer, session, sum(r.wall_s for r in traced), overhead, sinks)
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "ops": tracer.ops}, f)
        shape["trace_file"] = os.path.relpath(trace_path, ROOT)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        "steal_share": _steal_share(cpu_start, _cpu_times()),
        "round_s": [r.wall_s for r in untraced],
        **versions,
        **shape,
        "session": session,
        "sinks": sinks,
        "failures": {
            op.name: {"ops": sum(o.name == op.name for o in failures), "last": op.failed} for op in failures
        },
    }
    print(json.dumps({"info": info}))
    result = {
        "correct": all(op.name in w.KNOWN_DIVERGENCE for op in failures),
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
