"""Constant-value audit: run registered queries (Spark AND their
DuckDB oracles, strict compare) against copies of every table whose
MONEY/VALUE columns are a single constant.

Third member of the degenerate-input audit family (empty, single-row,
constant): keys and row counts stay exactly as in the template — so
total orders, joins, and group sizes are untouched — but every
variance, spread, and difference of the measure columns is ZERO. This
fires the zero-variance paths the other two audits cannot reach with
n > 1: z-scores over constant groups, t-statistics with zero pooled
variance, correlation/regression denominators, IQR fences of width 0,
single-distinct-value CDFs.

Usage:
    PYTHONPATH=. python scripts/audit_constant.py             # all
    PYTHONPATH=. python scripts/audit_constant.py q1 q2 ...   # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_empty import TEMPLATE_SF  # noqa: E402

#: column -> constant, applied wherever the column exists. Values are
#: exactly representable doubles so cents-rounding is noise-free.
CONSTANTS: dict[str, float] = {
    "value": 1.25,
    "o_totalprice": 100.0,
    "c_acctbal": 10.5,
    "s_acctbal": 10.5,
    "l_extendedprice": 50.0,
    "l_discount": 0.0,
    "l_tax": 0.0,
    "l_quantity": 1.0,
    "p_retailprice": 20.0,
}


def build_constant_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for p in sorted(glob.glob(f"{template}/*.parquet")):
        t = pq.read_table(p)
        for name, const in CONSTANTS.items():
            if name in t.column_names:
                i = t.column_names.index(name)
                typ = t.schema.field(i).type
                col = pa.array([const] * len(t), type=typ)
                t = t.set_column(i, t.schema.field(i), col)
        pq.write_table(t, os.path.join(dest, os.path.basename(p)))


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
    with tempfile.TemporaryDirectory(prefix="const_sf_") as sf:
        build_constant_fixture(sf, template=args.template)
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
    print(f"\n{len(names) - bad}/{len(names)} constant-value clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
