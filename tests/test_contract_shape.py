"""Driver-contract shape guards (no Spark session needed).

The driver evaluates only the FIRST 50 ``queries()`` dict entries, so
dict order is the evidence roster (rotation policy documented at the top
of queries()). These tests pin the invariants that round-4's verdict
found violated by accident: rows with weak evidence must sit inside the
window, every oracle key must resolve, and no oracle may emit a column
DuckDB types outside int64/double (the HUGEINT class that kept
``sessionize`` red for four rounds)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as entrymod

# rows whose SQL isn't expressible; they get the weaker rows-only check.
# Empty since r6: ts_features_models gained an invariant-pinning oracle
# (the q_ts_features_ets pattern — VERDICT r5 #1), so every contract row
# is now hash-checked.
ROWS_ONLY_OK = set()

# rows that have EVER gone red in a driver round: pinned in the window
# until two consecutive green driver rounds (rotation policy rule 2)
EVER_RED = {"sessionize"}

# rows introduced or materially changed this round: need driver evidence
NEEDS_EVIDENCE_R5 = {
    # new in r6
    "hll_distinct_tier", "tdigest_tier", "url_features_psl",
    # r5 no_oracle -> r6 invariant oracle
    "ts_features_models",
    # new in r5, first driver run is r6
    "repetition_signals", "cleaning_stats", "decontaminate",
    "near_dup_clusters",
}


def test_queries_oracle_key_parity():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) - set(q) == set(), "oracle without a query"
    assert set(q) - set(o) == ROWS_ONLY_OK, (
        "rows-only set drifted — document or add the oracle"
    )


def test_driver_window_membership():
    names = list(entrymod.queries())
    assert len(names) >= 50
    window = set(names[:50])
    missing = (EVER_RED | NEEDS_EVIDENCE_R5) - window
    assert not missing, f"rows lacking driver evidence outside window: {missing}"


@pytest.mark.slow
def test_oracle_dtypes_are_hashable_int64_or_double():
    """Every oracle column must land in pandas as int64/float64/object/
    bool/datetime — never an int128-backed float64 from HUGEINT sums
    (DuckDB DESCRIBE is cheap: no query execution)."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").df()
        except Exception as exc:  # malformed SQL is its own failure
            bad.append((name, f"DESCRIBE failed: {exc}"))
            continue
        for col, typ in zip(desc["column_name"], desc["column_type"]):
            if typ.upper() in ("HUGEINT", "UHUGEINT") or typ.startswith(
                "DECIMAL"
            ):
                bad.append((name, f"{col}: {typ}"))
    assert not bad, f"oracles emitting non-int64-representable ints: {bad}"
