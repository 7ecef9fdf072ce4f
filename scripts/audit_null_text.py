"""NULL-payload audit: run registered queries (Spark AND their DuckDB
oracles, strict compare) against copies of the tables where every
``documents.text`` and ``events.props`` value is NULL.

Fourth member of the degenerate-input audit family (empty,
single-row, constant, NULL-payload): rows, keys, counts, and every
other column are exactly the template's, but the free-text payloads
are all NULL — the shape a crawler batch of fetch failures produces.
This fires the NULL-propagation paths the other audits cannot:
``split(NULL)`` explosions, shingling/tokenizing NULL, JSON
extraction from NULL, length/statistics over all-NULL columns.

Usage:
    PYTHONPATH=. python scripts/audit_null_text.py             # all
    PYTHONPATH=. python scripts/audit_null_text.py q1 q2 ...   # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_empty import TEMPLATE_SF  # noqa: E402

#: (table basename, column) pairs nulled wherever present.
NULL_COLUMNS: tuple[tuple[str, str], ...] = (
    ("documents.parquet", "text"),
    ("events.parquet", "props"),
)


def build_null_text_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    nulled = {t: c for t, c in NULL_COLUMNS}
    for p in sorted(glob.glob(f"{template}/*.parquet")):
        t = pq.read_table(p)
        base = os.path.basename(p)
        if base in nulled and nulled[base] in t.column_names:
            i = t.column_names.index(nulled[base])
            typ = t.schema.field(i).type
            col = pa.nulls(len(t), type=typ)
            t = t.set_column(i, t.schema.field(i), col)
        pq.write_table(t, os.path.join(dest, base))


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
    with tempfile.TemporaryDirectory(prefix="nulltext_sf_") as sf:
        build_null_text_fixture(sf, template=args.template)
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
    print(f"\n{len(names) - bad}/{len(names)} null-payload clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
