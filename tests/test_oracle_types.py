"""Oracle output-type hygiene (the r1/r2 driver-hash failure class).

DuckDB materializes HUGEINT (the result type of sum(INTEGER)/sum(BIGINT),
scalar or windowed) and some DECIMALs as float64 in pandas, so an oracle
whose Spark twin returns int64 hash-mismatches on any dtype-strict compare
(`3.0` vs `3`) even when every value is equal. This cost rounds 1 and 2
(tile_agg_regions, events_sessionize). These tests pin the fix:

1. No oracle may emit a HUGEINT or DECIMAL output column — integer sums
   must CAST(... AS BIGINT), rounded decimal sums must CAST(... AS DOUBLE).
2. Any round(sum(<expr>)) in oracle SQL must sum an order-insensitive
   carrier (DECIMAL cast or exact small-integer arithmetic), because a
   float sum near a rounding boundary can flip the last digit with
   partition order.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as E
from tools.check_oracles import TABLES

SF_DIR = "/root/testdata/sf0.001"

# Oracles whose round(sum(...)) argument is exact by construction (DuckDB
# types the arithmetic DECIMAL via its decimal literals, or the summands are
# small integers scaled by exact binary fractions) — verified by the
# DESCRIBE test below which proves the output column itself is DOUBLE.
_EXACT_SUM_OK = {
    "dissolve_union_by_key",   # (2+k%5)*(2.0+k%4): DECIMAL literal arithmetic
    "collect_multipoint_bounds",  # closed-form n·cx sums of sub-unit terms, round 6
    "explode_coordinates_ngon",   # same closed-form coordinate identity
    # round(sum(CASE..0/1..)::DOUBLE / nullif(sum(...),0), 6): both sums
    # are exact BIGINT 0/1 counts (partition-order free); only the final
    # single division is floating — deterministic for any partitioning.
    "recrawl_change_stats",
    "crawl_schedule_topk",  # same change-rate expression as above
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_hugeint_or_decimal_output(con):
    bad = []
    for name, sql in E.oracle_sql().items():
        cols = con.execute(f"DESCRIBE {sql}").fetchall()
        for cname, typ, *_ in cols:
            if "HUGEINT" in typ or "DECIMAL" in typ:
                bad.append((name, cname, typ))
    assert not bad, f"oracles emit pandas-float64-prone types: {bad}"


def test_exact_sum_exemptions_are_registered():
    """A stale exemption would silently exempt a later query that reuses
    the name, so every exempted name must be a registered oracle."""
    stale = sorted(_EXACT_SUM_OK - set(E.oracle_sql()))
    assert not stale, f"_EXACT_SUM_OK names no registered oracle: {stale}"


def test_rounded_sums_ride_a_decimal_carrier():
    pat = re.compile(r"round\s*\(\s*sum\s*\(", re.IGNORECASE)
    offenders = []
    for name, sql in E.oracle_sql().items():
        if name in _EXACT_SUM_OK:
            continue
        for m in pat.finditer(sql):
            tail = sql[m.end(): m.end() + 200]
            if "DECIMAL" not in tail.upper():
                offenders.append(name)
                break
    assert not offenders, (
        "round(sum(<double>)) without a DECIMAL carrier is partition-order "
        f"sensitive: {offenders}"
    )


def test_oracle_pandas_dtypes_have_no_object_numbers(con):
    """A Decimal/HUGEINT column would surface as object or float64-from-int;
    spot-check the queries that historically emitted DECIMAL."""
    for name in ["geo_bounds_boxes", "dissolve_union_by_key",
                 "explode_multipolygon_parts", "offset_curve_lengths",
                 "tile_agg_regions"]:
        pdf = con.execute(E.oracle_sql()[name]).fetchdf()
        for c in pdf.columns:
            assert pdf[c].dtype != object or pdf[c].map(
                lambda v: not hasattr(v, "as_tuple")).all(), (name, c)
