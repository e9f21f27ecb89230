"""Refresh ``oracle_hashes.json``: the DuckDB oracle hash of every mix
step over the fixed table set. Run after changing the generator, the
step lists or an oracle:

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import workloads as W  # noqa: E402


def main() -> None:
    names = sorted({n for wl in W.WORKLOADS.values() if not wl.is_v2f for n in wl.steps})
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        datagen.write_tables(tmp, W.DATA_SEED)
        out = {"fingerprint": W.tables_fingerprint(tmp), "hashes": W.oracle_hashes(names, tmp)}
    with open(W.ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
