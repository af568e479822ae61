"""DuckDB oracle parity for queries() entries past the driver's 50-row
correctness window.

The driver records CORRECTNESS rows for only the first 50 queries()
entries; the first 50 are all oracle-bearing already, so any further
oracle-bearing query would otherwise carry no recorded parity evidence.
This test applies the SAME compare discipline as the driver (columns
sorted by name, values normalized, full multiset equality) at sf0.001 to
every overflow entry that has an oracle_sql() string."""

from __future__ import annotations

import math

import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
WINDOW = 50


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr
    )


def _overflow_oracle_queries():
    import __spark_entry__ as E

    names = list(E.queries())
    oracles = E.oracle_sql()
    return [n for n in names[WINDOW:] if n in oracles]


@pytest.mark.parametrize("name", _overflow_oracle_queries())
def test_overflow_query_matches_duckdb(spark, name):
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    sdf = E.queries()[name](spark, SF_DIR)
    srows = _norm([tuple(r) for r in sdf.collect()], sdf.columns)
    res = con.execute(E.oracle_sql()[name])
    orows = _norm(res.fetchall(), [d[0] for d in res.description])
    assert len(srows) == len(orows), (len(srows), len(orows))
    assert srows == orows


def test_window_holds_all_oracle_bearing_possible():
    """Guard the ordering contract: every one of the first 50 entries has
    an oracle (no rows-only query occupies a recordable slot)."""
    import __spark_entry__ as E

    names = list(E.queries())
    oracles = E.oracle_sql()
    missing = [n for n in names[:WINDOW] if n not in oracles]
    assert missing == [], missing


@pytest.mark.parametrize("limit", [None, 2])
def test_roundtrip_queries_on_both_decode_sides(spark, monkeypatch, limit):
    """The entry's two round-trip queries read 0 mismatches with collected
    dictionaries and with DICT_BROADCAST_LIMIT forced to 2, where both go
    through the decode's join side."""
    import __spark_entry__ as E
    from clp_spark.caching import DRIVER_VALUES
    from clp_spark.plans import grep as G

    if limit is not None:
        monkeypatch.setattr(G, "DICT_BROADCAST_LIMIT", limit)
    DRIVER_VALUES.clear()
    try:
        for name in ("roundtrip_mismatches", "json_clpstring_roundtrip"):
            (row,) = E.queries()[name](spark, SF_DIR).collect()
            assert row["mismatches"] == 0, name
    finally:
        DRIVER_VALUES.clear()
