"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes the workload's inputs from the
seed under ``perfbench/.work/``, starts one measuring process
(``worker.py``) with a pinned environment, samples that process tree from
outside, checks the outputs and prints one JSON object as the last line
of stdout. With ``--trace 0`` its metrics are the end-to-end metrics, with
``--trace 1`` the per-layer ones. The line before it is the run record:
box state, sample counts, the tail percentile used and ``failed_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import workloads as W  # noqa: E402

# generous per-run limit, below the 180 s a run may take
DEADLINE_S = 170.0
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "step_p50_s": "s", "step_tail_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warm_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_tasks": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.idle_s": "s",
    "exec.slot_util": "ratio",
    "pyworker.cpu_s": "s", "pyworker.wait_s": "s", "pyworker.spawned": "count",
    "sources.tsv.read_s": "s", "sources.tsv.files": "count", "naming.snake_s": "s",
    "plans.v2f.build_s": "s", "plans.v2f.transform_s": "s",
    "operators.transforms.distinct_by_s": "s", "sources.jsonl.write_s": "s",
    "sources.jsonl.mb_out": "MB", "sources.jsonl.files_out": "count",
    "trace.overhead_s": "s",
    # per run, not per layer: kept here, without a bound, because the JVM's
    # heap growth makes it vary too much between runs for one (README.md)
    "proc.peak_rss_mb": "MB",
}


COUNT_METRICS = ("exec.jobs", "exec.stages", "exec.tasks", "queries.build_jobs",
                 "exec.shuffle_write_mb", "sources.tsv.files", "sources.jsonl.files_out")


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile."""
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def make_inputs(wl: W.Workload, seed: int, work: str) -> str:
    """v2f: a fresh tree from the seed. Mixes: the fixed table set, made
    once per checkout."""
    import datagen

    if wl.is_v2f:
        data = os.path.join(work, "v2f")
        facts = datagen.write_v2f_tree(data, seed)
        with open(os.path.join(data, "facts.json"), "w") as f:
            json.dump(facts, f)
        return data
    data = os.path.join(HERE, ".data", f"tables-{W.DATA_SEED}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, W.DATA_SEED)
        os.rename(tmp, data)
    return data


def pinned_env(work: str) -> dict:
    """The measuring process's environment: every Spark setting the
    benchmark depends on is set here, nothing in the program changes."""
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_INITIAL_PARTITIONS",
              "PYSPARK_SUBMIT_ARGS", "PYSPARK_DRIVER_PYTHON"):
        env.pop(k, None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the Python workers import the engine too (mapInPandas closures)
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
        TMPDIR=os.path.join(work, "tmp"),
        # no hsperfdata files in the system temp dir
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    return env


def kill_group(pgid: int) -> None:
    """SIGKILL the measuring process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while procfs.alive_in_group(pgid):
        time.sleep(0.05)


def measure(wl: W.Workload, args, data: str, work: str) -> dict:
    """Run the measuring process; returns its events and the samples
    taken at each."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", wl.name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work,
           "--deadline", str(DEADLINE_S - 20 - (time.perf_counter() - T_START))]
    with open(os.path.join(work, "worker.log"), "w") as log:
        t_spawn = time.perf_counter()
        child = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(work), stdout=subprocess.PIPE,
                                 stderr=log, text=True, start_new_session=True)
        # a terminated benchmark takes its measuring process group with it
        signal.signal(signal.SIGTERM, lambda *_: (kill_group(child.pid), sys.exit(1)))
        timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START),
                                kill_group, (child.pid,))
        timer.start()
        out: dict = {"events": [], "t_spawn": t_spawn}
        try:
            for line in child.stdout:
                if not line.startswith("{"):
                    continue
                snap = procfs.snapshot(child.pid)
                out["events"].append(dict(json.loads(line), snap=snap))
            child.wait()
        finally:
            timer.cancel()
            kill_group(child.pid)
    out["returncode"] = child.returncode
    return out


def peak_rss_mb(snaps: list) -> float:
    """Peak resident memory of the tree, read at the end of the last pass
    while every process is alive."""
    return snaps[-1][1]["snap"]["peak_rss"] / 1e6


def end_to_end(wl: W.Workload, ready: dict, passes: list[dict], snaps: list,
               t_spawn: float) -> tuple[dict, dict]:
    steps = [s["wall_s"] for p in passes for s in p["steps"]]
    cpu = [e["snap"]["cpu_s"] - s["snap"]["cpu_s"] for s, e in snaps]
    setup = ready["snap"]["t"] - t_spawn - ready["check_s"]
    metrics = {
        "setup_s": setup,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "step_p50_s": statistics.median(steps),
        "step_tail_s": percentile(steps, wl.tail_pct),
        "cpu_s": statistics.median(cpu),
    }
    info = {"tail_pct": wl.tail_pct, "step_samples": len(steps), "passes": len(passes),
            "peak_rss_mb": peak_rss_mb(snaps)}
    return metrics, info


def per_layer(ready: dict, passes: list[dict], layer: list, snaps: list) -> tuple[dict, dict]:
    per_pass = []
    self_s: list[dict] = []
    for p, steps, (s, e) in zip(passes, layer, snaps):
        if not p["traced"]:
            continue
        tot: dict[str, float] = {}
        selfs: dict[str, float] = {}
        for m in steps:
            for k, v in m.items():
                if k == "self":
                    for lk, lv in v.items():
                        selfs[lk] = selfs.get(lk, 0.0) + lv
                else:
                    tot[k] = tot.get(k, 0) + v
        # byte sums in MB: rounded, so equal counts compare equal whatever
        # the order of the float additions
        tot.update({k: round(v, 6) for k, v in tot.items() if k.endswith("_mb")})
        tot["exec.slot_util"] = tot.get("exec.run_s", 0) / tot["exec.slot_capacity_s"]
        tot["pyworker.cpu_s"] = e["snap"]["pyworker_cpu_s"] - s["snap"]["pyworker_cpu_s"]
        tot["pyworker.spawned"] = len(set(e["snap"]["pyworker_pids"]) - set(s["snap"]["pyworker_pids"]))
        per_pass.append(tot)
        self_s.append(selfs)
    walls = {t: [p["wall_s"] for p in passes if p["traced"] == t] for t in (False, True)}
    metrics = {}
    for name in PER_LAYER:
        if name == "session.get_spark_s":
            metrics[name] = ready["get_spark_s"]
        elif name == "session.warm_s":
            metrics[name] = ready["warm_s"]
        elif name == "proc.peak_rss_mb":
            metrics[name] = peak_rss_mb(snaps)
        elif name == "trace.overhead_s":
            metrics[name] = statistics.median(walls[True]) - statistics.median(walls[False])
        else:
            metrics[name] = statistics.median(tp.get(name, 0) for tp in per_pass)
    layers = sorted({k for d in self_s for k in d})
    info = {
        "traced_passes": len(per_pass),
        "traced_pass_s": statistics.median(walls[True]),
        "untraced_pass_s": statistics.median(walls[False]),
        "self_s": {k: statistics.median(d.get(k, 0.0) for d in self_s) for k in layers},
        # counts must repeat exactly between traced passes
        "counts_per_pass": [{k: tp.get(k, 0) for k in COUNT_METRICS} for tp in per_pass],
    }
    return metrics, info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "monster_etl_spark")):
        print(f"no engine sources next to {HERE}: run from a checkout of the repo",
              file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    box_start = procfs.box_state()
    data = make_inputs(wl, args.seed, work)
    run = measure(wl, args, data, work)
    box_end = procfs.box_state()

    by = {}
    for ev in run["events"]:
        by.setdefault(ev["ev"], []).append(ev)
    if run["returncode"] != 0 or "result" not in by:
        print(f"measuring process failed (exit {run['returncode']}); see {work}/worker.log",
              file=sys.stderr)
        return 1
    ready, result = by["ready"][0], by["result"][0]
    passes = result["passes"]
    snaps = list(zip(by["pass_start"], by["pass_end"]))

    # output checks: warm-up check pass against the generator (v2f, done
    # in the worker) or against each query's DuckDB oracle (mixes)
    checks = ready["checks"]
    if not wl.is_v2f:
        oracle = W.expected_hashes(wl.steps, data)
        for name, c in checks.items():
            if c["ok"] and c["hash"] != oracle[name]:
                c.update(ok=False, error="result differs from the DuckDB oracle")
    bad = {n for n, c in checks.items() if not c["ok"]}
    untimed = [p for p in passes if not p["traced"]]
    attempted = sum(len(p["steps"]) for p in passes)
    failed = sum(1 for p in passes for s in p["steps"] if not s["ok"] or s["name"] in bad)

    if args.trace:
        metrics, info = per_layer(ready, passes, result["layer"], snaps)
        units = PER_LAYER
    else:
        metrics, info = end_to_end(wl, ready, untimed, snaps, run["t_spawn"])
        units = END_TO_END
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / attempted,
        "failed_steps": sorted(bad | {s["name"] for p in passes for s in p["steps"] if not s["ok"]}),
        "errors": {n: c["error"] for n, c in checks.items() if not c["ok"]},
        "box": {"nproc": box_start["nproc"], "loadavg_start": box_start["loadavg"],
                "loadavg_end": box_end["loadavg"],
                "steal_share": procfs.steal_share(box_start, box_end)},
        "setup": {k: ready[k] for k in ("get_spark_s", "warm_s", "check_s", "warm_pass_s")},
        "pass_s": [p["wall_s"] for p in passes],
        "window_s": result["window_s"],
        "peak_rss_mb_by_process": [(c, round(b / 1e6))
                                   for c, b in snaps[-1][1]["snap"]["peak_rss_by_process"]],
        **info,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


T_START = time.perf_counter()

if __name__ == "__main__":
    sys.exit(main())
