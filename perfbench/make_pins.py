"""Regenerate ``pins.json``: the expected output of every batch entry.

Each entry's fingerprint comes from its DuckDB oracle
(``all_oracle_sql()``, re-rendered through ``oracle_renderers()`` for
the size-law oracles) run on the same parquet tables the benchmark
reads. Spark is not involved, so the pins are independent of the code
under test.

Usage (from the repository root):
    python3 perfbench/make_pins.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.outputs import PINS_PATH, fingerprint  # noqa: E402
from perfbench.workloads import BATCH_ENTRIES, DATA_DIR  # noqa: E402
from tests.oracle import duck_connection  # noqa: E402
from torua_spark.queries import all_oracle_sql, oracle_renderers  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DATA_DIR
    con = duck_connection(sf_dir)
    oracles = all_oracle_sql()
    n_emb = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    for name, render in oracle_renderers().items():
        if name in oracles:
            oracles[name] = render(n_emb, sf_dir=sf_dir)
    pins = {}
    for name in sorted({n for names in BATCH_ENTRIES.values() for n in names}):
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        pins[name] = fingerprint(cols, res.fetchall())
        print(f"{name}: {pins[name]['rows']} rows", file=sys.stderr)
    with open(PINS_PATH, "w") as f:
        json.dump({"sf_dir": sf_dir, "entries": pins}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
