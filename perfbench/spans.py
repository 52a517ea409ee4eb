"""Spans and Spark counters for the traced rounds of a benchmark run.

A span is (id, name, start, end, parent, op). Each span runs under its
own Spark job group, so the jobs it submitted are read exactly with
``getJobIdsForGroup`` right after it ends; diffing the global job list
would not work, because the status store keeps only
``spark.ui.retainedJobs`` jobs. Spans are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time

# (module, attribute, span name) of the engine functions wrapped in a traced
# round. The engine imports them by name into many modules (``load`` into
# 27), so every module-level binding of the original object is rebound.
WRAPPED = (
    ("modevetl_spark.sources.catalog", "load", "catalog.load"),
    ("modevetl_spark.streaming.incremental", "upsert_parquet", "incremental.upsert"),
    ("modevetl_spark.operators.scd2", "merge_scd2_state", "scd2.merge"),
)

STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("failed_tasks", "numFailedTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("executor_cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
    ("input_bytes", "inputBytes"),
)


class Tracer:
    """Records spans and per-op Spark counters while ``active``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time ``name`` and collect its jobs. ``op`` opens a new op; an
        inner span joins the op of its parent. Outside any op (result
        checks, set-up) and while inactive, nothing is recorded."""
        if not self.active or (op is None and not self._stack):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else parent["op"],
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if parent:
                self.sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{parent['id']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.ops.append(self._op_record(rec))

    def _op_record(self, top: dict) -> dict:
        mine = [s for s in self.spans if s["op"] == top["op"] and s["id"] >= top["id"]]
        jobs = sorted({j for s in mine for j in s["jobs"]})
        counters = self.stage_counters(jobs)
        return {"op": top["op"], "name": top["name"], "wall_s": top["end"] - top["start"], **counters}

    def stage_counters(self, jobs: list[int]) -> dict:
        """Sum the status store's metrics over the stages that ran for
        ``jobs``; skipped stages (reused shuffle output) are not counted."""
        out = {"jobs": len(jobs), "job_ids": jobs, "stages": 0}
        out.update({k: 0 for k, _ in STAGE_FIELDS})
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            data = self.store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter in STAGE_FIELDS:
                out[key] += getattr(data, getter)()
        return out

    def install(self) -> None:
        """Rebind the engine functions in WRAPPED to span-recording wrappers."""
        for module, attr, name in WRAPPED:
            original = getattr(importlib.import_module(module), attr)
            wrapper = self._wrap(original, name)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("modevetl_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self._patches.append((mod, key, original))
        self.active = True

    def remove(self) -> None:
        for mod, key, original in reversed(self._patches):
            setattr(mod, key, original)
        self._patches.clear()
        self.active = False

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


class NoTrace:
    """Stand-in for an untraced round: spans cost nothing."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield
