"""Empty-input audit: run registered queries (Spark AND their DuckDB
oracles, strict compare) against 0-row copies of every table.

The sf fixtures never produce empty inputs, so phantom
ungrouped-aggregate rows, NULL-vs-value divergences, and
degenerate-corpus crashes hide behind green gates — this audit
surfaces them (round 11: 286/298 clean; the 12 findings are listed in
BASELINE.md and queued for the round-12 rotation window).

Usage:
    PYTHONPATH=. python scripts/audit_empty.py                 # all queries
    PYTHONPATH=. python scripts/audit_empty.py q1 q2 ...       # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Schema source for the empty tables (layout must match the driver's).
#: Overridable via --template / $SPARK_GRAFT_SF_DIR for checkouts
#: without the driver fixture tree (ADVICE r11).
TEMPLATE_SF = os.environ.get(
    "SPARK_GRAFT_TEMPLATE_SF",
    os.path.join(
        os.path.dirname(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        ),
        "sf0.001",
    ),
)


def build_empty_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    import pyarrow.parquet as pq

    for p in sorted(glob.glob(f"{template}/*.parquet")):
        schema = pq.read_schema(p).remove_metadata()
        pq.write_table(
            schema.empty_table(), os.path.join(dest, os.path.basename(p))
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument(
        "--template",
        default=TEMPLATE_SF,
        help="directory whose parquet schemas seed the 0-row tables",
    )
    args = ap.parse_args()
    if not os.path.isdir(args.template):
        print(
            f"template fixture dir not found: {args.template!r} — pass "
            "--template or set SPARK_GRAFT_TEMPLATE_SF/SPARK_GRAFT_SF_DIR",
            file=sys.stderr,
        )
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
    with tempfile.TemporaryDirectory(prefix="empty_sf_") as sf:
        build_empty_fixture(sf, template=args.template)
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
    print(f"\n{len(names) - bad}/{len(names)} empty-input clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
