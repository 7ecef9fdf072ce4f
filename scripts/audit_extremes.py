"""Extreme-values audit: run registered queries (Spark AND their DuckDB
oracles, strict compare) against copies of every table whose money /
measure columns sit at the EDGE of the engine's numeric contract.

Sixth member of the degenerate-input audit family (empty, single-row,
constant, null-payload, multi-byte, extremes — VERDICT r12 #7). Keys,
row counts, strings, and timestamps stay exactly as in the template;
every money/measure double becomes a large exactly-representable
constant. This fires the magnitude paths the CONSTANT audit (small
values) cannot: BIGINT headroom of the scaled-integer money idiom
(functions/money.py), float rounding at 2^30-scale measures, basis-
point products near 1e13/row, and negative-balance boundary filters
(every acctbal flips sign, so "positive customers" sets go EMPTY and
scalar aggregates over zero rows are exercised engine-side).

THE NUMERIC CONTRACT this audit also pins (previously implicit in
functions/money.py): measure/money doubles are exact at 2 (money) or
6 (metric) decimals, and |scaled value| x row count stays inside
BIGINT — i.e. prices to 1e7 dollars (1e9 cents), metric values to
2^30, quantities to 1e6 at the fixture row counts. Inputs BEYOND the
envelope (1e308 doubles, cent sums past 2^63) are out of contract:
the exact-integer idiom is then the wrong tool and an ANSI overflow
error is the correct behavior, so the audit deliberately stops at the
edge rather than past it. Embedding coordinates are excluded for the
same reason: the ANN tier's contract is unit-scale vectors.

Usage:
    PYTHONPATH=. python scripts/audit_extremes.py             # all
    PYTHONPATH=. python scripts/audit_extremes.py q1 q2 ...   # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_empty import TEMPLATE_SF  # noqa: E402

#: column -> extreme constant, applied wherever the column exists.
#: Every value is exactly representable as a double AND exact at the
#: column's money/metric scale, so the scaled-integer idiom has no
#: rounding ties — the audit stresses MAGNITUDE, not representability.
EXTREMES: dict[str, float] = {
    # metric measure: 2^30 — x1e6 scaling lands at ~1.07e15/row, a
    # 1000-row sum at ~1.07e18, inside BIGINT with one decade to spare
    "value": 1073741824.0,
    # money: 1e7 dollars = 1e9 cents; q1's 1e6-scaled charge products
    # reach ~1e13/row, 6000-row sums ~6e16 — large, exact, in range
    "o_totalprice": 10000000.0,
    "l_extendedprice": 10000000.0,
    "p_retailprice": 10000000.0,
    # NEGATIVE balances: every "acctbal > 0" customer/supplier filter
    # goes empty — the scalar-aggregate-over-zero-rows boundary
    "c_acctbal": -10000000.0,
    "s_acctbal": -10000000.0,
    # boundary rates, exactly representable, inside [0, 1]
    "l_discount": 0.5,
    "l_tax": 0.5,
    # large integral quantity: q1's x100 scale -> 1e8/row
    "l_quantity": 1000000.0,
}


def build_extremes_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for p in sorted(glob.glob(f"{template}/*.parquet")):
        t = pq.read_table(p)
        for name, const in EXTREMES.items():
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
    with tempfile.TemporaryDirectory(prefix="extreme_sf_") as sf:
        build_extremes_fixture(sf, template=args.template)
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
    print(f"\n{len(names) - bad}/{len(names)} extreme-values clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
