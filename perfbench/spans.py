"""Spans and Spark counters for the benchmark.

Every timed boundary is a span: id, name, workload, pass, phase, layer,
start, end and parent. Untraced runs keep the spans only to read their
durations. A traced run also makes each span's id the Spark job group, so
that jobs, stages and spans join on it, and pulls the stage counters of
that group from the status store as soon as the span ends: the store keeps
only about the last 1000 jobs and stages, and a stage that one job ran and a
later job skips is rewritten as skipped when the later job ends.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

# StageData getters summed per span: run and GC times in ms, CPU time in ns,
# the rest in bytes.
STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "peakExecutionMemory",
)
COUNTERS = ("jobs", "stages", "skipped_stages", "tasks", *STAGE_FIELDS)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Span recorder for one run; counters are pulled only when ``enabled``
    and ``spark`` is set."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    def top(self) -> dict:
        """The innermost open span."""
        return self._stack[-1]

    def begin(self, name: str, phase: str, layer: str, pass_no: int, **attrs) -> dict:
        rec = {
            "id": next(self._ids),
            "name": name,
            "workload": self.workload,
            "pass": pass_no,
            "phase": phase,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "traced": self.enabled,
            **attrs,
        }
        self._stack.append(rec)
        if self.enabled and self.spark is not None:
            self.spark.sparkContext.setJobGroup(self._group(rec), name)
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec: dict) -> dict:
        rec["end"] = time.perf_counter()
        if self._stack.pop() is not rec:
            raise RuntimeError(f"span {rec['name']} ended out of order")
        if self.enabled and self.spark is not None:
            rec["counters"] = self._counters(self._group(rec))
            sc = self.spark.sparkContext
            if self._stack:
                sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, phase: str, layer: str, pass_no: int, **attrs):
        rec = self.begin(name, phase, layer, pass_no, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def catalyst(self, df, pass_no: int) -> None:
        """Traced runs only: plan ``df`` and record its Catalyst phase times
        as a ``plan`` span. The noop write plans its own copy again, so this
        work is part of ``trace.overhead_s``."""
        if not self.enabled:
            return
        with self.span("plan", "plan", "catalyst", pass_no) as rec:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for name in CATALYST_PHASES:
                opt = phases.get(name)
                rec[f"{name}_ms"] = int(opt.get().durationMs()) if opt.isDefined() else 0

    def _group(self, rec: dict) -> str:
        return f"span-{rec['id']}"

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # The status store is fed asynchronously by the listener bus.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                for field in STAGE_FIELDS:
                    out[field] += getattr(stage, field)()
        return out


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def metric(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _sum(spans: list[dict], key: str) -> float:
    return sum(r.get("counters", {}).get(key, 0) for r in spans)


def warm_passes(spans: list[dict], traced: bool) -> list[dict]:
    return [r for r in spans if r["phase"] == "pass" and r["pass"] > 0 and r["traced"] == traced]


def layer_metrics(spans: list[dict]) -> dict:
    """Per-layer metrics of a traced run: set-up layers from the one set-up,
    the rest per traced warm pass; ``trace.overhead_s`` is the mean traced
    warm pass wall minus the mean untraced one."""
    traced = warm_passes(spans, True)
    untraced = warm_passes(spans, False)
    ids = {r["pass"] for r in traced}
    n = len(ids)
    in_pass = [r for r in spans if r["pass"] in ids and r["phase"] != "pass"]
    build = [r for r in in_pass if r["phase"] == "build"]
    write = [r for r in in_pass if r["phase"] == "write"]
    plans = [r for r in in_pass if r["phase"] == "plan"]
    build_s = sum(map(duration, build)) / n
    write_s = sum(map(duration, write)) / n
    session = next(r for r in spans if r["phase"] == "session")
    warm = next(r for r in spans if r["phase"] == "warm")
    stages, skipped = _sum(in_pass, "stages"), _sum(in_pass, "skipped_stages")
    out = {
        "session.get_spark_s": metric(duration(session), "s", 1),
        "tables.warm_s": metric(duration(warm), "s", 1),
        "tables.input_bytes": metric(_sum([warm], "inputBytes"), "bytes", 1),
        "tables.scan_tasks": metric(_sum([warm], "tasks"), "count", 1),
        "operators.build_s": metric(build_s, "s", n),
        "operators.build_jobs": metric(_sum(build, "jobs") / n, "count", n),
        "operators.build_share": metric(build_s / (build_s + write_s), "ratio", n),
    }
    for phase in CATALYST_PHASES:
        out[f"catalyst.{phase}_ms"] = metric(sum(r[f"{phase}_ms"] for r in plans) / n, "ms", n)
    out.update(
        {
            "exec.write_s": metric(write_s, "s", n),
            "exec.jobs": metric(_sum(in_pass, "jobs") / n, "count", n),
            "exec.stages": metric(stages / n, "count", n),
            "exec.skipped_stages": metric(skipped / n, "count", n),
            "exec.stage_reuse_ratio": metric(skipped / max(stages + skipped, 1), "ratio", n),
            "exec.tasks": metric(_sum(in_pass, "tasks") / n, "count", n),
            "exec.executor_run_s": metric(_sum(in_pass, "executorRunTime") / 1e3 / n, "s", n),
            "exec.executor_cpu_s": metric(_sum(in_pass, "executorCpuTime") / 1e9 / n, "s", n),
            "exec.jvm_gc_s": metric(_sum(in_pass, "jvmGcTime") / 1e3 / n, "s", n),
            "exec.shuffle_read_bytes": metric(_sum(in_pass, "shuffleReadBytes") / n, "bytes", n),
            "exec.shuffle_write_bytes": metric(_sum(in_pass, "shuffleWriteBytes") / n, "bytes", n),
            "exec.peak_execution_memory_bytes": metric(
                _sum(in_pass, "peakExecutionMemory") / n, "bytes", n
            ),
            "trace.overhead_s": metric(
                statistics.mean(map(duration, traced)) - statistics.mean(map(duration, untraced)),
                "s",
                n + len(untraced),
            ),
        }
    )
    return out


def layer_details(spans: list[dict]) -> dict:
    """Workload-specific layers, kept in the trace file and the report:
    each operator module's build and write time and each query group's build
    share per traced warm pass, the cold churn lifecycle, and serving."""
    ids = {r["pass"] for r in warm_passes(spans, True)}
    n = max(len(ids), 1)
    in_pass = [r for r in spans if r["pass"] in ids]
    spilled = _sum(in_pass, "memoryBytesSpilled") + _sum(in_pass, "diskBytesSpilled")
    out = {"exec.spill_bytes": metric(spilled / n, "bytes", n)}
    groups: dict[str, dict[str, float]] = {}
    for r in spans:
        if r["pass"] in ids and r["phase"] in ("build", "write") and "module" in r:
            key = f"operators.{r['module']}.{r['phase']}_s"
            out.setdefault(key, metric(0.0, "s", n))["value"] += duration(r) / n
            group = groups.setdefault(r["group"], {"build": 0.0, "write": 0.0})
            group[r["phase"]] += duration(r)
    for name, g in groups.items():
        out[f"operators.{name}.build_share"] = metric(g["build"] / (g["build"] + g["write"]), "ratio", n)
    lifecycle = [r for r in spans if r["layer"] == "ml.workflow"]
    for r in lifecycle:
        out[f"ml.workflow.{r['name']}_s"] = metric(duration(r), "s", 1)
    if lifecycle:
        out["ml.workflow.jobs"] = metric(_sum(lifecycle, "jobs"), "count", len(lifecycle))
        out["ml.workflow.bytes_written"] = metric(_sum(lifecycle, "outputBytes"), "bytes", len(lifecycle))
    predicts = [r for r in spans if r["phase"] == "predict" and r["pass"] in ids]
    for r in spans:
        if r["phase"] == "load":
            out["serving.load_s"] = metric(duration(r), "s", 1)
    if predicts:
        kids = {r["id"] for r in predicts}
        inner = [r for r in spans if r["parent"] in kids or r["id"] in kids]
        out["serving.predict_jobs"] = metric(_sum(inner, "jobs") / len(predicts), "count", len(predicts))
        out["serving.predict_tasks"] = metric(_sum(inner, "tasks") / len(predicts), "count", len(predicts))
    return out


def layer_self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Self time per layer, summed over the set-up and over the cold pass,
    and for the mean traced warm pass."""
    own = self_times(spans)
    ids = {r["pass"] for r in warm_passes(spans, True)}
    out: dict[str, dict[str, float]] = {"setup": {}, "cold": {}, "warm": {}}
    for r in spans:
        if r["phase"] in ("setup", "session", "warm"):
            group, scale = "setup", 1.0
        elif r["pass"] == 0:
            group, scale = "cold", 1.0
        elif r["pass"] in ids:
            group, scale = "warm", 1.0 / len(ids)
        else:
            continue
        out[group][r["layer"]] = out[group].get(r["layer"], 0.0) + own[r["id"]] * scale
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover."""
    child = {}
    for rec in spans:
        if rec["parent"] is not None:
            child[rec["parent"]] = child.get(rec["parent"], 0.0) + duration(rec)
    return {rec["id"]: duration(rec) - child.get(rec["id"], 0.0) for rec in spans}
