"""Seeded benchmark inputs, made inside the checkout.

Two families, both pure functions of the seed:

- ``write_tables``: the ten registry tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) as one parquet file each,
  with the column names, types and value domains of the engine's test
  tables at scale factor 0.01 (lineitem about 60 k rows). The registry
  queries and their DuckDB oracles read them through the usual
  ``<dir>/<table>.parquet`` layout.
- ``write_v2f_tree``: a V2F TSV tree in the reference's layout
  (phenotype directories, ``ancestry=X/`` partitions, empty files, a
  110-column ``transcript-consequences`` table with sparse cells, ``,``
  and ``:`` arrays and ``.`` nan sentinels inside them). It returns the
  facts the output check needs (rows per sink, distinct variant ids,
  sparse-cell counts).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# scale factor 0.01 row counts of the engine's test tables
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
EMBED_DIM = 64
N_USERS = 150
DUP_SHARE = 0.05  # documents that repeat an earlier one plus " dup"


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten registry tables for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })

    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    colors = np.array(COLORS)[rng.integers(0, len(COLORS), n)]
    nouns = np.array(NOUNS)[rng.integers(0, len(NOUNS), n)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [f"{c} {w}" for c, w in zip(colors, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })

    n = ROWS["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })

    n = ROWS["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
    })

    n = ROWS["events"]
    # one event every ~4.3 minutes over January 2024, microsecond precision
    gaps = rng.exponential(259.0, n) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, n), i64),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })


# ---------------------------------------------------------------------------
# V2F TSV tree
# ---------------------------------------------------------------------------

PHENOTYPES = ("CHOL", "Alb", "T2D")
ANCESTRIES = ("AA", "EA", "EU")
FREQ_ROWS = 2000  # per phenotype
ANC_ROWS = 700  # per phenotype x ancestry (two phenotypes)
TRANS_ROWS = 1500  # per phenotype
REG_ROWS = 1500
TC_ROWS = 1500
SPARSE = 0.3  # share of empty optional cells

# transcript-consequences raw header (reference layout, 110 columns)
TC_HEADER = """id amino_acids biotype cadd_phred cadd_raw cadd_raw_rankscore canonical ccds
cdna_end cdna_start cds_end cds_start clinvar_clnsig clinvar_golden_stars
clinvar_rs clinvar_trait codons consequence_terms dann_rankscore dann_score
distance eigen-pc-raw eigen-pc-raw_rankscore eigen-phred eigen-raw
fathmm-mkl_coding_group fathmm-mkl_coding_pred fathmm-mkl_coding_rankscore
fathmm-mkl_coding_score fathmm_converted_rankscore fathmm_pred fathmm_score
flags gene_id genocanyon_score genocanyon_score_rankscore gerp++_nr gerp++_rs
gerp++_rs_rankscore gm12878_confidence_value gm12878_fitcons_score
gm12878_fitcons_score_rankscore gtex_v6p_gene gtex_v6p_tissue
h1-hesc_confidence_value h1-hesc_fitcons_score h1-hesc_fitcons_score_rankscore
huvec_confidence_value huvec_fitcons_score huvec_fitcons_score_rankscore impact
integrated_confidence_value integrated_fitcons_score
integrated_fitcons_score_rankscore interpro_domain lof lof_filter lof_flags
lof_info lrt_converted_rankscore lrt_omega lrt_pred lrt_score metalr_pred
metalr_rankscore metalr_score metasvm_pred metasvm_rankscore metasvm_score
mutationassessor_pred mutationassessor_score mutationassessor_score_rankscore
mutationassessor_uniprotid mutationassessor_variant mutationtaster_aae
mutationtaster_converted_rankscore mutationtaster_model mutationtaster_pred
mutationtaster_score phastcons100way_vertebrate
phastcons100way_vertebrate_rankscore phastcons20way_mammalian
phastcons20way_mammalian_rankscore phylop100way_vertebrate
phylop100way_vertebrate_rankscore phylop20way_mammalian
phylop20way_mammalian_rankscore pick polyphen2_hdiv_pred polyphen2_hdiv_rankscore
polyphen2_hdiv_score polyphen2_hvar_pred polyphen2_hvar_rankscore
polyphen2_hvar_score polyphen_prediction polyphen_score protein_end protein_start
provean_converted_rankscore provean_pred provean_score reliability_index
sift_converted_rankscore sift_pred sift_prediction sift_score siphy_29way_logodds
siphy_29way_logodds_rankscore siphy_29way_pi strand transcript_id
transcript_id_vest3 transcript_var_vest3 variant_allele vest3_rankscore
vest3_score""".split()

TC_LONGS = {"cdna_end", "cdna_start", "cds_end", "cds_start", "distance",
            "protein_end", "protein_start", "reliability_index"}
TC_STR_ARRAYS = {"consequence_terms", "fathmm_pred", "flags", "lof_flags",
                 "mutationtaster_aae", "mutationtaster_model", "mutationtaster_pred",
                 "provean_pred", "sift_pred", "transcript_id_vest3",
                 "transcript_var_vest3", "interpro_domain"}
TC_DBL_ARRAYS = {"mutationtaster_score", "vest3_score", "polyphen2_hdiv_score",
                 "polyphen2_hvar_score", "sift_score", "fathmm_score", "provean_score"}
TC_STRINGS = {"amino_acids", "biotype", "ccds", "clinvar_clnsig", "clinvar_golden_stars",
              "clinvar_rs", "clinvar_trait", "codons", "fathmm-mkl_coding_group",
              "fathmm-mkl_coding_pred", "gene_id", "gtex_v6p_gene", "gtex_v6p_tissue",
              "impact", "lof", "lof_filter", "lof_info", "lrt_pred", "metalr_pred",
              "metasvm_pred", "mutationassessor_pred", "mutationassessor_uniprotid",
              "mutationassessor_variant", "polyphen2_hdiv_pred", "polyphen2_hvar_pred",
              "polyphen_prediction", "sift_prediction", "transcript_id", "variant_allele"}
# checked in the output: sparse double, sparse double array (with "." cells)
TC_CHECK_DOUBLE = "cadd_phred"
TC_CHECK_ARRAY = "sift_score"


def _vid(i: int) -> str:
    """Deterministic variant id ``chrom:pos:ref:alt`` for variant number i."""
    bases = "ACGT"
    return f"{i % 22 + 1}:{100000 + i}:{bases[i % 4]}:{bases[(i // 4) % 4]}"


def _write_tsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def _empty(path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()


def _variant_cols(i: int) -> list[str]:
    c, p, r, a = _vid(i).split(":")
    return [_vid(i), c, p, r, a]


def write_v2f_tree(root: str, seed: int) -> dict:
    """Write the V2F input tree for ``seed`` under ``root``; return the
    expected output facts."""
    rng = np.random.default_rng([seed, 2])
    facts: dict = {"rows": {}}
    ids: set[int] = set()
    n_freq = len(PHENOTYPES) * FREQ_ROWS

    def f4() -> str:
        return f"{rng.random():.4f}"

    # frequency-analysis: fresh variant ids 0..n_freq-1, some empty eaf
    missing_eaf = 0
    uid = 0
    for ph in PHENOTYPES:
        rows = []
        for _ in range(FREQ_ROWS):
            eaf = "" if rng.random() < SPARSE else f4()
            missing_eaf += eaf == ""
            rows.append(_variant_cols(uid) + [eaf, f4(), str(rng.choice(ANCESTRIES)), ph])
            ids.add(uid)
            uid += 1
        d = f"{root}/frequency-analysis/{ph}"
        _write_tsv(f"{d}/part-00000.csv",
                   "varId chromosome position reference alt eaf maf ancestry phenotype".split(),
                   rows)
        _empty(f"{d}/empty.csv")
    facts["rows"]["frequency-analysis"] = n_freq
    facts["missing_eaf"] = missing_eaf

    def shared_or_new() -> int:
        """Half the ids repeat a frequency-analysis id, half are new, so
        the variants dedup removes a known share."""
        nonlocal uid
        if rng.random() < 0.5:
            return int(rng.integers(0, n_freq))
        uid += 1
        return uid - 1

    n_anc = 0
    for ph in PHENOTYPES[:2]:
        for anc in ANCESTRIES:
            rows = []
            for _ in range(ANC_ROWS):
                i = shared_or_new()
                ids.add(i)
                rows.append(_variant_cols(i) + [
                    ph, f"{rng.random():.3e}", f"{rng.uniform(-1, 1):.4f}", f4(),
                    f"{float(rng.integers(1000, 99999))}",
                ])
            d = f"{root}/meta-analysis/ancestry-specific/{ph}/ancestry={anc}"
            _write_tsv(f"{d}/part-00000.csv",
                       "varId chromosome position reference alt phenotype pValue beta stdErr n".split(),
                       rows)
            _empty(f"{d}/empty.csv")
            n_anc += ANC_ROWS
    facts["rows"]["meta-analysis/ancestry-specific"] = n_anc

    for ph in PHENOTYPES:
        rows = []
        for _ in range(TRANS_ROWS):
            i = shared_or_new()
            ids.add(i)
            rows.append(_variant_cols(i) + [
                ph, f"{rng.random():.3e}", f"{rng.uniform(-1, 1):.4f}",
                f"{rng.uniform(-5, 5):.4f}", f4(), f"{float(rng.integers(1000, 99999))}",
                str(rng.choice(["true", "false"])),
            ])
        d = f"{root}/meta-analysis/trans-ethnic/{ph}"
        _write_tsv(f"{d}/part-00000.csv",
                   "varId chromosome position reference alt phenotype pValue beta zScore stdErr n top".split(),
                   rows)
        _empty(f"{d}/empty.csv")
    facts["rows"]["meta-analysis/trans-ethnic"] = len(PHENOTYPES) * TRANS_ROWS
    facts["variants"] = len(ids)
    facts["variant_rows_in"] = n_freq + n_anc + len(PHENOTYPES) * TRANS_ROWS

    rows = []
    for _ in range(REG_ROWS):
        i = int(rng.integers(0, uid))
        rows.append([_vid(i), "enhancer", "regulatory_region_variant,TF_binding_site_variant",
                     "MODIFIER", "1", f"ENSR{i:011d}", "T"])
    d = f"{root}/variant-effect/regulatory-feature-consequences"
    _write_tsv(f"{d}/part-00000.csv",
               "id biotype consequence_terms impact pick regulatory_feature_id variant_allele".split(),
               rows)
    _empty(f"{d}/empty.csv")
    facts["rows"]["variant-effect/regulatory-feature-consequences"] = REG_ROWS

    def cell(col: str) -> str:
        if col == "id":
            return _vid(int(rng.integers(0, uid)))
        if rng.random() < SPARSE:
            return ""
        if col in TC_STR_ARRAYS:
            return ",".join(f"{col[:3]}{int(k)}" for k in rng.integers(0, 9, int(rng.integers(1, 4))))
        if col in TC_DBL_ARRAYS:
            return ",".join("." if rng.random() < 0.25 else f"{rng.random():.3f}"
                            for _ in range(int(rng.integers(1, 4))))
        if col == "siphy_29way_pi":
            return ":".join("." if rng.random() < 0.1 else f"{rng.random():.3f}" for _ in range(4))
        if col in ("canonical", "pick"):
            return str(rng.choice(["true", "false", "1"]))
        if col == "strand":
            return str(rng.choice(["1", "-1"]))
        if col in TC_LONGS:
            return str(int(rng.integers(1, 5000)))
        if col in TC_STRINGS:
            return f"{col[:4]}_{int(rng.integers(0, 50))}"
        return f"{rng.uniform(-3, 30):.4f}"

    rows = [[cell(c) for c in TC_HEADER] for _ in range(TC_ROWS)]
    d = f"{root}/variant-effect/transcript-consequences"
    _write_tsv(f"{d}/part-00000.csv", TC_HEADER, rows)
    _empty(f"{d}/empty.csv")
    facts["rows"]["variant-effect/transcript-consequences"] = TC_ROWS
    ci = TC_HEADER.index(TC_CHECK_DOUBLE)
    ai = TC_HEADER.index(TC_CHECK_ARRAY)
    facts["tc_double_present"] = sum(r[ci] != "" for r in rows)
    facts["tc_array_present"] = sum(r[ai] != "" for r in rows)
    facts["tc_array_nan"] = sum(r[ai].split(",").count(".") for r in rows if r[ai])
    return facts
