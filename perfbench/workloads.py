"""The benchmark's workloads and their output checks.

A workload is a list of steps; one pass runs every step once, in an order
drawn from the seed. A mix step is one registry query: the plan-building call
``spec.fn(spark, data_dir)``, then its action into the noop sink. The
``v2f_extract`` step is one ``run_extraction_pipeline`` call.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import glob
import hashlib
import json
import math
import os
from dataclasses import dataclass

RELATIONAL = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q7_volume_shipping", "q13_customer_distribution", "q17_small_quantity_revenue",
    "q18_large_orders", "q21_waiting_supplier", "q_window_topk", "q_running_total",
    "q_rollup", "q_asof_merge_join", "q_hourly_rollup", "q_funnel", "p4_union_dedup",
)
CURATION = (
    "q_corpus_curation", "q_quality_survivor", "text_token_pagerank",
    "semantic_dedup_verdicts_arrow", "knn_pq", "knn_ivf_arrow", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "text_bigram_logprob",
)
MEDIA = (
    "multimodal_jpeg_pixel_stats", "multimodal_gif_frame_stats",
    "multimodal_flac_sample_stats", "multimodal_webp_pixel_stats",
)
V2F_STEP = "run_extraction_pipeline"


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[str, ...]
    # untimed passes before the window; the last one checks outputs
    warm_passes: int
    # the window runs whole passes until --seconds have passed and at
    # least this many passes are done, so every run has the same minimum
    # sample count and uses the same tail percentile
    min_passes: int

    @property
    def is_v2f(self) -> bool:
        return self.steps == (V2F_STEP,)

    @property
    def tail_pct(self) -> int:
        """The highest of 50/75/90/95/99 with at least 10 step samples
        beyond it at the guaranteed minimum sample count; the median when
        a run is too short for any of them."""
        n = len(self.steps) * self.min_passes
        fits = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10]
        return fits[-1] if fits else 50


WORKLOADS = {
    w.name: w
    for w in (
        Workload("v2f_extract", (V2F_STEP,), warm_passes=3, min_passes=5),
        Workload("curation_mix", CURATION, warm_passes=2, min_passes=2),
        # runnable, but not in BENCHMARK.json: the time budget of the
        # benchmark format (22 runs per workload) holds two (see README.md)
        Workload("relational_mix", RELATIONAL, warm_passes=2, min_passes=3),
        Workload("media_decode", MEDIA, warm_passes=2, min_passes=5),
    )
}


# ---------------------------------------------------------------------------
# Mix check: order-insensitive hash of a result, compared with the
# registry's DuckDB oracle (same canonical form as the oracle harness).
# ---------------------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == int(v) and abs(v) < 2**53:
            return f"i:{int(v)}"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return _canon(int(f)) if f == int(f) else f"f:{f!r}"
    if isinstance(v, _dt.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, _dt.date):
        return f"t:{v.isoformat()}T00:00:00"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    return f"s:{v}"


def result_hash(columns: list[str], rows: list) -> str:
    """Row count, sorted column names and the sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(f"{len(rows)}|{','.join(sorted(columns))}\n".encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# The mixes read one fixed table set, like the engine's own read-only test
# tables; their --seed orders the steps of each pass. The DuckDB oracle
# hashes of that table set are stored next to this file, because the two
# heaviest oracles take tens of seconds to run.
DATA_SEED = 0
ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def tables_fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_hashes(names, data_dir: str) -> dict[str, str]:
    """Run each query's DuckDB oracle over the tables in ``data_dir``."""
    import duckdb

    from monster_etl_spark.queries import all_queries

    registry = all_queries()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.sql(registry[name].oracle)
        out[name] = result_hash(res.columns, res.fetchall())
    return out


def expected_hashes(names, data_dir: str) -> dict[str, str]:
    """Oracle hashes for ``names``: stored ones when they were made from
    these exact tables, else computed now."""
    try:
        with open(ORACLE_FILE) as f:
            stored = json.load(f)
    except FileNotFoundError:
        stored = {}
    if stored.get("fingerprint") == tables_fingerprint(data_dir) and set(names) <= stored["hashes"].keys():
        return {n: stored["hashes"][n] for n in names}
    return oracle_hashes(names, data_dir)


# ---------------------------------------------------------------------------
# v2f check: facts the generator knows about its own tree
# ---------------------------------------------------------------------------


def _part_files(out_dir: str, sink: str) -> list[str]:
    return sorted(glob.glob(f"{out_dir}/{sink}/part-*"))


def count_lines(out_dir: str, sink: str) -> int:
    n = 0
    for f in _part_files(out_dir, sink):
        with open(f, "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def check_v2f_counts(out_dir: str, facts: dict) -> list[str]:
    """Rows per sink (cheap; run after every step)."""
    want = dict(facts["rows"], variants=facts["variants"])
    return [
        f"{sink}: {got} rows, want {n}"
        for sink, n in want.items()
        if (got := count_lines(out_dir, sink)) != n
    ]


def _records(out_dir: str, sink: str):
    for f in _part_files(out_dir, sink):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def check_v2f_full(out_dir: str, facts: dict) -> list[str]:
    """Row counts plus unique variant ids and the sparse-key invariants."""
    problems = check_v2f_counts(out_dir, facts)
    ids = [r["id"] for r in _records(out_dir, "variants")]
    if len(ids) != len(set(ids)):
        problems.append("variants: ids not unique")
    freq = list(_records(out_dir, "frequency-analysis"))
    missing = sum("eaf" not in r for r in freq)
    if missing != facts["missing_eaf"]:
        problems.append(f"frequency-analysis: {missing} records without eaf, want {facts['missing_eaf']}")
    if any("position" in r for r in freq):
        problems.append("frequency-analysis: removed field position present")
    tc = list(_records(out_dir, "variant-effect/transcript-consequences"))
    dbl = sum("cadd_phred" in r for r in tc)
    arr = [r["sift_score"] for r in tc if "sift_score" in r]
    nan = sum(x == "nan" for a in arr for x in a)
    for what, got, want in (
        ("cadd_phred keys", dbl, facts["tc_double_present"]),
        ("sift_score keys", len(arr), facts["tc_array_present"]),
        ('sift_score "nan" elements', nan, facts["tc_array_nan"]),
    ):
        if got != want:
            problems.append(f"transcript-consequences: {got} {what}, want {want}")
    return problems

