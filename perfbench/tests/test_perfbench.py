"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first group is static (names, units, self-time arithmetic); the last
test starts a local Spark session and runs traced steps twice.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_workloads_are_defined():
    names = [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names)) >= 2
    assert set(names) <= W.WORKLOADS.keys()
    for wl in W.WORKLOADS.values():
        if not wl.is_v2f:
            assert len(wl.steps) == len(set(wl.steps))


def test_metric_names_and_units_match_the_output():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert "setup_s" in run.END_TO_END
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")


def test_stored_oracle_hashes_cover_every_mix_step():
    with open(W.ORACLE_FILE) as f:
        stored = json.load(f)["hashes"]
    for wl in W.WORKLOADS.values():
        if not wl.is_v2f:
            assert set(wl.steps) <= stored.keys()


def test_tail_percentile_has_ten_samples_beyond_it():
    for wl in W.WORKLOADS.values():
        n = len(wl.steps) * wl.min_passes
        if wl.tail_pct > 50:
            assert n * (100 - wl.tail_pct) / 100 >= 10


def test_result_hash_ignores_row_and_column_order():
    a = W.result_hash(["x", "y"], [(1, "a"), (2.0, None)])
    b = W.result_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != W.result_hash(["x", "y"], [(1, "a")])


def _rec(t0, t1, spans=(), phases=(), stages=()):
    return {
        "t0": t0, "t1": t1, "counts": {},
        "spans": [{"layer": n, "t0": s, "t1": e, "depth": d} for n, s, e, d in spans],
        "qe": [{"phases": {p: (s, e)}, "python": False} for p, s, e in phases],
        "jobs": {"action": [{"stages": [
            {"submissionTime": s * 1000, "completionTime": e * 1000, "executorRunTime": 0,
             "executorCpuTime": 0, "numCompleteTasks": 1, "shuffleWriteBytes": 0,
             "shuffleReadBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0}
            for s, e in stages]}]},
    }


def test_self_times_add_up_to_the_step_wall():
    rec = _rec(
        10.0, 20.0,
        spans=[("queries.build", 10.0, 13.0, 1), ("queries.action", 13.0, 20.0, 1),
               ("inner", 11.0, 12.5, 2)],
        phases=[("optimization", 13.0, 13.5), ("planning", 13.5, 14.0)],
        # overlapping stages, one spilling past the step's end
        stages=[(14.0, 17.0), (15.0, 18.0), (19.0, 21.0)],
    )
    st = tracing.self_times(rec)
    assert sum(st.values()) == pytest.approx(10.0)
    assert st["exec"] == pytest.approx(5.0)
    assert st["inner"] == pytest.approx(1.5)
    assert st["queries.build"] == pytest.approx(1.5)
    assert st["catalyst.optimization"] == pytest.approx(0.5)
    assert st["queries.action"] == pytest.approx(1.0)
    m = tracing.step_metrics(rec, slots=4)
    assert m["exec.idle_s"] == pytest.approx(5.0)
    assert m["exec.stages"] == 3


COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "queries.build_jobs",
          "exec.shuffle_write_mb", "exec.shuffle_read_mb", "sources.tsv.files",
          "sources.jsonl.files_out")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from monster_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    s = get_spark(app_name="perfbench-test", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_traced_counts_repeat_and_self_times_add_up(spark, tmp_path):
    import datagen
    import worker

    tables = tmp_path / "tables"
    datagen.write_tables(str(tables), W.DATA_SEED)
    v2f = tmp_path / "v2f"
    facts = datagen.write_v2f_tree(str(v2f), 1)
    tracer = tracing.Tracer(spark)
    cases = [
        (W.WORKLOADS["v2f_extract"], str(v2f), "run_extraction_pipeline"),
        (W.WORKLOADS["curation_mix"], str(tables), "q_corpus_curation"),
    ]
    for wl, data, step in cases:
        runner = worker.Runner(spark, wl, data, facts, str(tmp_path / "out"), tracer)
        runner.step(step)  # warm
        tracer.start()
        if wl.is_v2f:
            tracer.patch_v2f()
        try:
            recs = [runner.step(step, traced=True) for _ in range(2)]
        finally:
            tracer.unpatch()
            tracer.stop()
        assert all(r["ok"] for r in recs), recs
        counts = [tracing.step_metrics(r["trace"], slots=2) for r in recs]
        for k in COUNTS:
            assert counts[0].get(k) == counts[1].get(k), k
        assert counts[0]["exec.jobs"] > 0
        if wl.is_v2f:
            assert counts[0]["sources.tsv.files"] > 0
            assert counts[0]["sources.jsonl.files_out"] > 0
        else:
            assert counts[0]["queries.build_jobs"] > 0
        for r in recs:
            st = tracing.self_times(r["trace"])
            assert sum(st.values()) == pytest.approx(r["trace"]["t1"] - r["trace"]["t0"], abs=1e-6)
