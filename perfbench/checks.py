"""Output checks: row count plus an order-insensitive value hash.

Rows are canonicalized by the repository's DuckDB-oracle comparison
itself (``tests/oracle_compare._row_multiset``: columns sorted by name,
cells canonicalized by its ``_canon``), and the hash is taken over the
sorted multiset of canonical rows. A pin is ``{"rows", "hash",
"source"}``; ``source`` says whether it came from the operation's
DuckDB oracle or from a reviewed engine run.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")
# The engine's test tables, as the repository's oracle tests use them:
# the benchmark's catalog input and the smoke test's.
DATA_DIR = os.path.join(HERE, "data")
TABLES = os.path.join(DATA_DIR, "sf0.01")
SMOKE_TABLES = os.path.join(DATA_DIR, "sf0.001")


class CheckFailed(Exception):
    pass


def rows_hash(rows: list[tuple], columns: list[str]) -> tuple[int, str]:
    from tests.oracle_compare import _row_multiset

    canon = sorted(repr(row) for row in _row_multiset(rows, columns).elements())
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def df_hash(df) -> tuple[int, str]:
    return rows_hash([tuple(r) for r in df.collect()], df.columns)


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def check_pin(df, pin: dict) -> None:
    rows, digest = df_hash(df)
    if (rows, digest) != (pin["rows"], pin["hash"]):
        raise CheckFailed(f"got {rows} rows / {digest}, pinned {pin['rows']} / {pin['hash']}")
