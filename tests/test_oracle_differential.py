"""Differential gate: every registered query vs its DuckDB oracle.

This mirrors the driver's CORRECTNESS check (row-count + schema +
order-insensitive values, STRICT float equality) at sf0.001 so every
operator addition is verified before commit. Queries without an oracle
get a rows-materialize smoke check.
"""

from __future__ import annotations

import re

import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import _LITERAL, compare_query, divisor_token

SPECS = load_all()

#: The two non-literal divisor spellings an oracle may use: NULL on a
#: zero divisor whatever DuckDB version runs it, or floored above zero.
_NULLIF = re.compile(r"nullif\(.*,\s*0\s*\)", re.I | re.S)
_GREATEST = re.compile(r"greatest\(.*,\s*(\d+(?:\.\d*)?)\s*\)", re.I | re.S)


def unsafe_divisors(sql: str) -> list[str]:
    """Every '/', '//' and '%' of ``sql`` whose divisor is neither a
    numeric literal, ``NULLIF(<expr>, 0)`` nor ``greatest(<expr>,
    <positive literal>)``. Comments and string literals are stripped
    first: strftime formats and LIKE patterns are full of '%'."""
    sql = re.sub(r"--[^\n]*", "", sql)
    sql = re.sub(r"'[^']*'", "''", sql)
    bad = []
    for pat, op in (
        (r"(?<!/)/(?![*/])", "/"),
        (r"(?<!/)//(?!/)", "//"),
        (r"%", "%"),
    ):
        for m in re.finditer(pat, sql):
            d = divisor_token(sql, m.end())
            if _LITERAL.match(d) or not re.search(r"[a-zA-Z_]", d):
                continue
            if _NULLIF.fullmatch(d):
                continue
            g = _GREATEST.fullmatch(d)
            if g and float(g.group(1)) > 0:
                continue
            bad.append(f"{op} {' '.join(d.split())[:80]}")
    return bad


def test_oracle_divisors_are_null_safe():
    """DuckDB 1.0 returns NULL for x / 0, as Spark does, but newer
    releases return inf for float division. A NULLIF divisor keeps
    every oracle's zero-divisor rows NULL on any DuckDB version, and it
    is plain SQL the driver's bare connection runs."""
    bad = {
        name: sites
        for name, spec in SPECS.items()
        if spec.oracle and (sites := unsafe_divisors(spec.oracle))
    }
    assert not bad, bad


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, sf_dir, name):
    problems = compare_query(spark, SPECS[name], sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems[:3])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["window_start", "event_type", "cnt"]


def test_contract_shapes():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert q, "queries() must not be empty"
    assert set(o) <= set(q), "oracle_sql keys must be a subset of queries"
