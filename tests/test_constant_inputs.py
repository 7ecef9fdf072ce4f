"""Differential regression for the round-12 constant-value audit finds.

The ``constant`` shape (``testing.SHAPES``; swept by
``scripts/check_queries.py --shape constant``) keeps every key and row
count intact but pins all money/value columns to one constant — zero
variance with n > 1, the shape neither the empty nor the single-row
audit can reach. Its first full sweep found two ANSI DIVIDE_BY_ZERO crashes:

- ``agg_statistics``: Spark's NATIVE ``corr`` aggregate itself raises
  under ANSI when either side has zero variance (DuckDB's corr yields
  NULL) — now composed as ``try_divide(covar, σx·σy)``, the identical
  Pearson estimator;
- ``agg_welch_ttest``: two zero-variance cohorts give t = 0/0 and
  df = 0/0 (and a 1-sample cohort divides its variance term by zero).

This test pins both (plus zero-variance-adjacent neighbors) via the
strict differential compare on the constant fixture.
"""

from __future__ import annotations

import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import build_shaped_fixture, compare_query

AUDIT_FINDINGS = [
    "agg_statistics",
    "agg_welch_ttest",
    # zero-variance-adjacent neighbors, green on the sweep but pinned
    # against regression on the same degenerate shape
    "anomaly_zscore_outliers",
    "agg_regression_exact_moments",
    "quality_iqr_fences",
    "profile_ks_two_sample",
]


@pytest.fixture(scope="module")
def constant_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("const_sf")
    build_shaped_fixture(sf_dir, str(dest), "constant")
    return str(dest)


@pytest.mark.parametrize("name", AUDIT_FINDINGS)
def test_constant_value_input_matches_oracle(spark, constant_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], constant_sf)
    assert not problems, f"{name} diverges on constant-value input: {problems}"
