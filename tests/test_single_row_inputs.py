"""Differential regression for the round-12 single-row audit finds.

The ``single_row`` shape (``testing.SHAPES``; swept by
``scripts/check_queries.py --shape single_row``) runs every registered
query against 1-row copies of all ten tables — the shape that drives
every n = 1 / constant-group path at once. Its first full sweep found
two ANSI DIVIDE_BY_ZERO crashes the sf fixtures can never reach:

- ``agg_regression_exact_moments``: a 1-point group's OLS denominator
  n·Σx² − (Σx)² is 0 — no slope exists;
- ``agg_cramers_v``: a 1-type × 1-hour grid has min(r,k) − 1 = 0 — V
  is undefined.

Both now yield the oracle's NULL; this test pins them (plus the other
round-12-guarded aggregate statistics) via the strict differential
compare on the 1-row fixture.
"""

from __future__ import annotations

import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import build_shaped_fixture, compare_query

AUDIT_FINDINGS = [
    "agg_regression_exact_moments",
    "agg_cramers_v",
    # neighbors in the same statistics family, green on the sweep but
    # worth pinning against regression on the same degenerate shape
    "agg_mutual_information",
    "agg_welch_ttest",
    "anomaly_zscore_outliers",
]


@pytest.fixture(scope="module")
def single_row_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("single_sf")
    build_shaped_fixture(sf_dir, str(dest), "single_row")
    return str(dest)


@pytest.mark.parametrize("name", AUDIT_FINDINGS)
def test_single_row_input_matches_oracle(spark, single_row_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], single_row_sf)
    assert not problems, f"{name} diverges on single-row input: {problems}"
