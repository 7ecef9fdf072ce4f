"""Differential regression for the round-11 ANSI crash-vs-NULL guards.

Spark 4 runs with ANSI mode ON: any division whose divisor evaluates
to zero raises ``SparkArithmeticException`` — including double
division, where DuckDB's oracle yields NULL. The round-11 review
empirically confirmed four degenerate inputs that crashed the engine
while the oracle answered:

- ``anomaly_zscore_outliers``: a priority group of size 1 (variance
  divides by n−1 = 0) and a constant-price group (z divides by σ = 0);
- ``quality_benford_digits``: a positive price below half a cent
  rounds to 0 cents, whose leading digit 0 divides Benford's 1/d;
- ``sample_weighted_priority``: a zero-weight row's A-ES priority is
  Exp/0;
- ``sample_bootstrap_means``: a small group whose md5 draws all land
  on weight 0 divides the resampled mean by Σw = 0.

None of the sf fixtures contain these shapes, so this test builds a
throwaway degenerate fixture and runs the full strict Spark-vs-DuckDB
compare on it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import compare_query


def _bootstrap_zero_weight_id() -> int:
    """Smallest event_id with at least one rep in 0..4 drawing w = 0
    (md5 first-8-hex % 1000 < 368) — guarantees an all-zero-weight
    (event_type, rep) group when that event is alone in its group."""
    for eid in range(1, 10_000):
        for rep in range(5):
            h = hashlib.md5(f"{eid}:{rep}".encode()).hexdigest()
            if int(h[:8], 16) % 1000 < 368:
                return eid
    raise AssertionError("unreachable: P(no zero draw in 5 reps) ~ 0.632^5")


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("ansi_sf")
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        shutil.copy(p, dest / os.path.basename(p))

    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    base = orders.slice(0, 5).to_pylist()
    # group P1: n = 1 (no sample variance); group P2: variance 0;
    # group P3: a sub-half-cent price (0 cents) and a zero weight.
    for row, (prio, price) in zip(
        base,
        [("P1", 123.45), ("P2", 50.0), ("P2", 50.0), ("P3", 0.004), ("P3", 0.0)],
    ):
        row["o_orderpriority"] = prio
        row["o_totalprice"] = price
    pq.write_table(
        pa.Table.from_pylist(base, schema=orders.schema),
        dest / "orders.parquet",
    )

    events = pq.read_table(f"{sf_dir}/events.parquet")
    erows = events.slice(0, 1).to_pylist()
    erows[0]["event_id"] = _bootstrap_zero_weight_id()
    erows[0]["event_type"] = "solo_type"
    erows[0]["value"] = 7.25
    pq.write_table(
        pa.Table.from_pylist(erows, schema=events.schema),
        dest / "events.parquet",
    )
    return str(dest)


@pytest.mark.parametrize(
    "name",
    [
        "anomaly_zscore_outliers",
        "quality_benford_digits",
        "sample_weighted_priority",
        "sample_bootstrap_means",
    ],
)
def test_degenerate_input_matches_oracle(spark, degenerate_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], degenerate_sf)
    assert not problems, f"{name} diverges on degenerate input: {problems}"
