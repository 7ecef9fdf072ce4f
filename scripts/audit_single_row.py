"""Single-row-input audit: run registered queries (Spark AND their
DuckDB oracles, strict compare) against 1-row copies of every table.

The natural sibling of ``audit_empty.py``: a corpus of exactly one
row per table drives every "degenerate group" path at once — n = 1
statistics (variance, OLS, t-tests), single-node graphs, one-element
windows, self-joins with no second row, samplers whose strata have
one member. The sf fixtures never produce these shapes, so phantom
NULL/NaN divergences and crash paths hide behind green gates.

Usage:
    PYTHONPATH=. python scripts/audit_single_row.py             # all
    PYTHONPATH=. python scripts/audit_single_row.py q1 q2 ...   # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_empty import TEMPLATE_SF  # noqa: E402


def build_single_row_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    """One row per table: the FIRST row of each template parquet (a
    deterministic, referentially self-consistent-enough slice — FK
    orphans are legitimate audit results, not fixture bugs, since both
    engines see the identical rows)."""
    import pyarrow.parquet as pq

    for p in sorted(glob.glob(f"{template}/*.parquet")):
        t = pq.read_table(p)
        pq.write_table(
            t.slice(0, 1).combine_chunks(),
            os.path.join(dest, os.path.basename(p)),
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--template", default=TEMPLATE_SF)
    args = ap.parse_args()
    if not os.path.isdir(args.template):
        print(f"template fixture dir not found: {args.template!r}",
              file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.session import configure_runtime
    from jubilant_garbanzo_spark.testing import compare_query

    spark = configure_runtime(
        SparkSession.builder.master("local[8]").config(
            "spark.sql.shuffle.partitions", "8"
        )
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    specs = load_all()
    names = args.names or sorted(specs)

    bad = 0
    with tempfile.TemporaryDirectory(prefix="single_sf_") as sf:
        build_single_row_fixture(sf, template=args.template)
        for name in names:
            try:
                problems = compare_query(spark, specs[name], sf)
                status = (
                    "ok"
                    if not problems
                    else "DIVERGE: " + "; ".join(problems[:2])
                )
            except Exception as e:  # noqa: BLE001 — audit keeps going
                first = str(e).splitlines()[0][:140] if str(e) else ""
                status = f"CRASH: {type(e).__name__}: {first}"
            if status != "ok":
                bad += 1
            print(f"{name:40s} {status}", flush=True)
    print(f"\n{len(names) - bad}/{len(names)} single-row clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
