"""Differential regression for the round-11 empty-input audit findings.

Every query below returned a WRONG answer (or crashed) when an
upstream filter produced zero rows — phantom/missing ungrouped-
aggregate rows, NULL-vs-0 count divergences, schema-inference crashes
on empty partitioned writes, and an oracle ln(0) error. The fixture
gates can't reach the empty path (the sf tables are never empty), so
this test pins each fix by running the full strict Spark-vs-DuckDB
compare against 0-row copies of all ten tables — the same check
``scripts/check_queries.py --shape empty`` sweeps across the whole
registry.
"""

from __future__ import annotations

import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import build_shaped_fixture, compare_query

#: The 12 round-11 audit findings (BASELINE.md), by registry name.
AUDIT_FINDINGS = [
    "agg_cube",
    "agg_rollup",
    "agg_grouping_sets",
    "agg_welch_ttest",
    "agg_hll_intersection",
    "table_time_travel",
    "validate_order_totals",
    "validate_referential_integrity",
    "sink_parquet_partitioned",
    "join_dpp_partitioned",
    "text_heaps_law",
    "text_quality_calibration",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("empty_sf")
    build_shaped_fixture(sf_dir, str(dest), "empty")
    return str(dest)


@pytest.mark.parametrize("name", AUDIT_FINDINGS)
def test_empty_input_matches_oracle(spark, empty_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], empty_sf)
    assert not problems, f"{name} diverges on empty input: {problems}"
