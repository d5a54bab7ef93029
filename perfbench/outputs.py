"""Order-insensitive output fingerprints, normalised by ``tests/oracle.py``.

A result's fingerprint is its sorted column names, its row count and
the sha256 of its rows rendered by the test oracle's
``_rows_to_multiset``. The same function fingerprints Spark rows in the
benchmark and DuckDB rows in ``make_pins.py``, so a pinned fingerprint
taken from an oracle matches a correct Spark result, and the pins follow
any change to the test oracle's normalisation.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle import _rows_to_multiset

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    lines = _rows_to_multiset(columns, rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(rows), "sha256": digest}


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)
