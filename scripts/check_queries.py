"""Dev loop: run registry queries against the DuckDB oracle locally.

Usage: python scripts/check_queries.py [--sf DIR] [name ...]
Mirrors the driver's differential gate (jubilant_garbanzo_spark.testing).
With no names it runs the whole registry, sorted by name.
"""

from __future__ import annotations

import argparse
import sys
import time

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.session import get_spark
from jubilant_garbanzo_spark.testing import compare_query, duckdb_connection


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    specs = load_all()
    names = args.names or sorted(specs)
    spark = get_spark("check-queries")
    con = duckdb_connection(args.sf)
    failures = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            problems = compare_query(spark, spec, args.sf, con=con)
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        dt = time.time() - t0
        mode = "oracle" if spec.oracle else "rows-only"
        if problems:
            failures += 1
            print(f"FAIL {name} [{mode}] ({dt:.1f}s)")
            for p in problems:
                print(f"     {p[:500]}")
        else:
            print(f"ok   {name} [{mode}] ({dt:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
