"""Tracing from outside the program.

Spans are recorded around calls into the engine's public functions, by
wrapping them at their call sites; the program itself is not changed.
Spark's side comes from its own bookkeeping: jobs and stages from the
status store (read per job group, with the UI off), and Catalyst phase
times from each query execution's phase tracker, delivered by a
``QueryExecutionListener``. Everything stays in memory until the run ends.

Self time: every instant of a step is given to the most specific layer
active then. Running stages outrank Catalyst phases, which outrank the
innermost Python span. So the self times of a step add up to its wall
time exactly.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time

# Python-side layers wrapped in the v2f plan module: attribute -> layer
V2F_WRAPS = {
    "build_extraction_tables": "plans.v2f.build",
    "read_tsv": "sources.tsv.read",
    "columns_to_snake_case": "naming.snake",
    "transform_table": "plans.v2f.transform",
    "distinct_by": "operators.transforms.distinct_by",
    "write_json_lines": "sources.jsonl.write",
}
PY_EXEC_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "PythonMapInArrow")
EXEC_PRIO = 1000
CATALYST_PRIO = 500


class Tracer:
    """Collects the spans, counters and Spark records of one step at a time."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.status = self.jsc.statusTracker()
        jvm = self.sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala_module, "MODULE$")
        )
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.qe_events: list[dict] = []
        self.depth = 0
        self._listener = _QEListener(self)
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def span(self, layer: str, fn, count=None):
        """Wrap ``fn`` so each call records a span named ``layer``;
        ``count(args, kwargs)`` adds counters after the span has closed."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            self.depth += 1
            t0 = time.time()
            try:
                res = fn(*args, **kwargs)
            finally:
                self.spans.append({"layer": layer, "t0": t0, "t1": time.time(),
                                   "depth": self.depth})
                self.depth -= 1
            if count is not None:
                for k, v in count(args, kwargs).items():
                    self.counts[k] = self.counts.get(k, 0) + v
            return res

        return wrapped

    def patch_v2f(self) -> None:
        from monster_etl_spark.plans import v2f

        for attr, layer in V2F_WRAPS.items():
            orig = getattr(v2f, attr)
            self._patched.append((v2f, attr, orig))
            setattr(v2f, attr, self.span(layer, orig, _V2F_COUNTS.get(layer)))

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- listener -----------------------------------------------------------

    def start(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def stop(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- per step -----------------------------------------------------------

    def begin_step(self, group: str) -> None:
        self.spans, self.counts, self.qe_events = [], {}, []
        self.sc.setJobGroup(group, group)

    def end_step(self, name: str, groups: dict[str, str], t0: float, t1: float) -> dict:
        """Collect Spark's side of a finished step. ``groups`` maps a role
        (``build`` / ``action``) to the job group used for it."""
        self.jsc.listenerBus().waitUntilEmpty()
        rec = {"name": name, "t0": t0, "t1": t1, "spans": self.spans,
               "counts": self.counts, "qe": self.qe_events, "jobs": {}}
        for role, group in groups.items():
            rec["jobs"][role] = [self._job(j) for j in self.status.getJobIdsForGroup(group)]
        return rec

    def _job(self, job_id: int) -> dict:
        jd = json.loads(self.mapper.writeValueAsString(self.store.job(job_id)))
        stages = []
        for sid in jd["stageIds"]:
            sd = json.loads(self.mapper.writeValueAsString(self.store.lastStageAttempt(sid)))
            if sd["status"] in ("COMPLETE", "FAILED") and sd.get("submissionTime"):
                stages.append({k: sd.get(k) for k in (
                    "stageId", "status", "numTasks", "numCompleteTasks", "executorRunTime",
                    "executorCpuTime", "shuffleWriteBytes", "shuffleReadBytes",
                    "memoryBytesSpilled", "diskBytesSpilled", "submissionTime", "completionTime")})
        return {"jobId": job_id, "status": jd["status"], "stages": stages}


class _QEListener:
    """Receives every finished query execution (py4j callback)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(func_name, qe)

    def _record(self, func_name, qe) -> None:
        tr = self.tracer
        phases = json.loads(tr.mapper.writeValueAsString(qe.tracker().phases()))
        plan = qe.executedPlan().toString()
        tr.qe_events.append({
            "func": func_name,
            "phases": {k: (v["startTimeMs"] / 1000, v["endTimeMs"] / 1000) for k, v in phases.items()},
            "python": any(node in plan for node in PY_EXEC_NODES),
        })

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _tsv_files(args, kwargs) -> dict:
    path = args[1] if len(args) > 1 else kwargs["path"]
    return {"sources.tsv.files": len(glob.glob(path, recursive=True))}


def _jsonl_out(args, kwargs) -> dict:
    path = args[1] if len(args) > 1 else kwargs["path"]
    parts = glob.glob(f"{path}/part-*")
    return {"sources.jsonl.files_out": len(parts),
            "sources.jsonl.mb_out": sum(os.path.getsize(p) for p in parts) / 1e6}


_V2F_COUNTS = {"sources.tsv.read": _tsv_files, "sources.jsonl.write": _jsonl_out}


# ---------------------------------------------------------------------------
# Step analysis
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def step_intervals(rec: dict) -> list[tuple[str, float, float, int]]:
    """Every layer interval of a step as ``(layer, start, end, priority)``,
    clipped to the step."""
    t0, t1 = rec["t0"], rec["t1"]
    out = [("step", t0, t1, 0)]
    out += [(s["layer"], s["t0"], s["t1"], s["depth"]) for s in rec["spans"]]
    for ev in rec["qe"]:
        for phase, (s, e) in ev["phases"].items():
            out.append((f"catalyst.{phase}", s, e, CATALYST_PRIO))
    for jobs in rec["jobs"].values():
        for job in jobs:
            for st in job["stages"]:
                out.append(("exec", st["submissionTime"] / 1000,
                            (st["completionTime"] or st["submissionTime"]) / 1000, EXEC_PRIO))
    return [(n, max(s, t0), min(e, t1), p) for n, s, e, p in out if min(e, t1) > max(s, t0)]


def self_times(rec: dict) -> dict[str, float]:
    """Self time per layer; the values add up to the step's wall time."""
    iv = step_intervals(rec)
    cuts = sorted({x for _, s, e, _ in iv for x in (s, e)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        # most specific active layer; among equals the latest started
        layer = max((p, s, n) for n, s, e, p in iv if s <= mid < e)[2]
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def step_metrics(rec: dict, slots: int) -> dict[str, float]:
    """Per-layer counters and times of one step."""
    wall = rec["t1"] - rec["t0"]
    m: dict[str, float] = dict(rec["counts"])

    def add(k, v):
        m[k] = m.get(k, 0) + v

    for s in rec["spans"]:
        add(f"{s['layer']}_s", s["t1"] - s["t0"])
    for ev in rec["qe"]:
        for phase, (s, e) in ev["phases"].items():
            add(f"catalyst.{phase}_s", e - s)
    python_step = any(ev["python"] for ev in rec["qe"])
    stage_spans = []
    for role, jobs in rec["jobs"].items():
        add("exec.jobs", len(jobs))
        if role == "build":
            add("queries.build_jobs", len(jobs))
        for job in jobs:
            for st in job["stages"]:
                run_s = st["executorRunTime"] / 1e3
                cpu_s = st["executorCpuTime"] / 1e9
                add("exec.stages", 1)
                add("exec.tasks", st["numCompleteTasks"])
                if role == "build":
                    add("queries.build_tasks", st["numCompleteTasks"])
                add("exec.run_s", run_s)
                add("exec.cpu_s", cpu_s)
                add("exec.shuffle_write_mb", st["shuffleWriteBytes"] / 1e6)
                add("exec.shuffle_read_mb", st["shuffleReadBytes"] / 1e6)
                add("exec.spill_mb", (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6)
                if python_step:
                    add("pyworker.wait_s", max(run_s - cpu_s, 0.0))
                stage_spans.append((st["submissionTime"] / 1e3,
                                    (st["completionTime"] or st["submissionTime"]) / 1e3))
    clipped = [(max(s, rec["t0"]), min(e, rec["t1"])) for s, e in stage_spans]
    add("exec.idle_s", wall - _union([c for c in clipped if c[1] > c[0]]))
    add("step.wall_s", wall)
    add("exec.slot_capacity_s", wall * slots)
    return m
