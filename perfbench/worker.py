"""Measuring process: one Spark session, one closed-loop client.

Started by ``run.py``, which owns the inputs and samples this process
tree from outside. A single thread runs each step after the previous one
has finished. Protocol: one JSON object per stdout line (``ready``,
``pass_start``, ``pass_end``, ``result``); Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402

_OUT = sys.stdout


def emit(ev: str, **kw) -> None:
    _OUT.write(json.dumps({"ev": ev, **kw}) + "\n")
    _OUT.flush()


class Runner:
    def __init__(self, spark, wl: W.Workload, data_dir: str, facts: dict, out_dir: str,
                 tracer=None):
        self.spark = spark
        self.wl = wl
        self.data_dir = data_dir
        self.facts = facts
        self.out_dir = out_dir
        self.tracer = tracer
        self.registry = None
        if not wl.is_v2f:
            from monster_etl_spark.queries import all_queries

            self.registry = all_queries()
        self.n = 0

    def step(self, name: str, traced: bool = False, check: bool = False) -> dict:
        """Run one step; returns its wall time, outcome and, with
        ``check``, the result hash (v2f: problems found). The check runs
        outside the timed span; ``check_s`` is its own cost."""
        self.n += 1
        group = f"step{self.n}"
        tr = self.tracer if traced else None
        rec: dict = {"name": name, "ok": True}
        check_s = 0.0
        if self.wl.is_v2f:
            from monster_etl_spark.plans.v2f import run_extraction_pipeline

            shutil.rmtree(self.out_dir, ignore_errors=True)
            if tr:
                tr.begin_step(group)
            w0, t0 = time.time(), time.perf_counter()
            try:
                run_extraction_pipeline(self.spark, self.data_dir, self.out_dir)
            except Exception as e:  # noqa: BLE001 - a failed step is data
                rec.update(ok=False, error=repr(e)[:300])
            t1, w1 = time.perf_counter(), time.time()
            if tr:
                rec["trace"] = tr.end_step(name, {"action": group}, w0, w1)
            if check:
                check_s = self.check_v2f(rec, full=True)
        else:
            spec = self.registry[name]
            if tr:
                tr.begin_step(group + "b")
            w0, t0 = time.time(), time.perf_counter()
            wb = None
            try:
                df = spec.fn(self.spark, self.data_dir)
                wb = time.time()
                if tr:
                    self.spark.sparkContext.setJobGroup(group + "a", group + "a")
                if check:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                rec.update(ok=False, error=repr(e)[:300])
            t1, w1 = time.perf_counter(), time.time()
            if tr:
                wb = wb or w1
                tr.spans += [
                    {"layer": "queries.build", "t0": w0, "t1": wb, "depth": 1},
                    {"layer": "queries.action", "t0": wb, "t1": w1, "depth": 1},
                ]
                rec["trace"] = tr.end_step(name, {"build": group + "b", "action": group + "a"},
                                           w0, w1)
            if check and rec["ok"]:
                c0 = time.perf_counter()
                rec["hash"] = W.result_hash(df.columns, rows)
                check_s = time.perf_counter() - c0
        rec["wall_s"] = t1 - t0
        rec["check_s"] = check_s
        return rec

    def check_v2f(self, rec: dict, full: bool = False) -> float:
        """Check a v2f step's output against the generator's facts; returns
        the seconds the check took."""
        c0 = time.perf_counter()
        if rec["ok"]:
            problems = (W.check_v2f_full if full else W.check_v2f_counts)(self.out_dir, self.facts)
            if problems:
                rec.update(ok=False, error="; ".join(problems)[:300])
        return time.perf_counter() - c0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--deadline", type=float, default=150.0,
                    help="seconds after which no pass beyond the minimum starts")
    args = ap.parse_args()
    wl = W.WORKLOADS[args.workload]
    slots = len(os.sched_getaffinity(0))
    t_start = time.perf_counter()
    from monster_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(args.work, 'tmp')}",
        },
    )
    get_spark_s = time.perf_counter() - t_start

    facts = {}
    if wl.is_v2f:
        with open(os.path.join(args.data, "facts.json")) as f:
            facts = json.load(f)
    tracer = None
    if args.trace:
        import tracing as T

        tracer = T.Tracer(spark)
    runner = Runner(spark, wl, args.data, facts, os.path.join(args.work, "out"), tracer)

    # warm-up until steady; the last warm pass collects and checks outputs
    t0 = time.perf_counter()
    check_s = 0.0
    checks: dict[str, dict] = {}
    warm_pass_s = []
    for i in range(wl.warm_passes):
        last = i == wl.warm_passes - 1
        recs = [runner.step(name, check=last) for name in wl.steps]
        warm_pass_s.append(sum(r["wall_s"] for r in recs))
        check_s += sum(r["check_s"] for r in recs)
        if last:
            checks = {r["name"]: {k: r.get(k) for k in ("ok", "hash", "error")} for r in recs}
    warm_s = time.perf_counter() - t0 - check_s
    emit("ready", get_spark_s=get_spark_s, warm_s=warm_s, check_s=check_s, checks=checks,
         warm_pass_s=warm_pass_s)

    rng = random.Random(args.seed)
    passes: list[dict] = []
    # traced runs interleave untraced and traced passes as U T T U, so
    # the difference of their medians (the tracing overhead) is not
    # biased by the process still warming up
    min_passes = max(wl.min_passes, 4) if args.trace else wl.min_passes
    w0 = time.perf_counter()
    # once the minimum is done, no pass starts that would end after the
    # window or the deadline
    while len(passes) < min_passes or (
        (next_end := time.perf_counter() + statistics.median(p["wall_s"] for p in passes))
        <= w0 + args.seconds
        and next_end <= t_start + args.deadline
    ):
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        if traced:
            tracer.start()
            if wl.is_v2f:
                tracer.patch_v2f()
        emit("pass_start", traced=traced)
        steps = [runner.step(name, traced=traced) for name in rng.sample(wl.steps, len(wl.steps))]
        emit("pass_end", traced=traced)
        # a pass is the sum of its steps: the between-step work of the
        # benchmark (trace collection, v2f output checks) is not in it
        wall = sum(s["wall_s"] for s in steps)
        if wl.is_v2f:
            runner.check_v2f(steps[0])
        if traced:
            tracer.unpatch()
            tracer.stop()
        passes.append({"traced": traced, "wall_s": wall, "steps": steps})
    window_s = time.perf_counter() - w0

    layer = None
    if args.trace:
        layer = [
            [dict(T.step_metrics(s["trace"], slots), self=T.self_times(s["trace"]))
             for s in p["steps"]] if p["traced"] else None
            for p in passes
        ]
        with open(os.path.join(args.work, "trace.json"), "w") as f:
            json.dump([s["trace"] for p in passes if p["traced"] for s in p["steps"]], f)
    for p in passes:
        for s in p["steps"]:
            s.pop("trace", None)
    emit("result", passes=passes, layer=layer, window_s=window_s, slots=slots,
         median_pass_s=statistics.median(p["wall_s"] for p in passes))
    spark.stop()


if __name__ == "__main__":
    main()
