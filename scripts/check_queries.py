"""Dev loop: run registry queries against the DuckDB oracle locally.

Usage: python scripts/check_queries.py [--sf DIR] [--shape SHAPE] [name ...]
Mirrors the driver's differential gate (jubilant_garbanzo_spark.testing).
With no names it runs the whole registry, sorted by name.

``--shape`` runs the same check on a degenerate copy of ``--sf``
(``testing.SHAPES``: empty, single_row, constant, null_text, unicode,
extremes) built in a temp dir. The extremes numeric contract is stated
at sf0.001 row counts, so sweep the shapes with the sf0.001 fixture
as ``--sf``.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.session import get_spark
from jubilant_garbanzo_spark.testing import (
    SHAPES,
    build_shaped_fixture,
    compare_query,
    duckdb_connection,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--shape", choices=list(SHAPES))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    specs = load_all()
    names = args.names or sorted(specs)
    if args.shape is None:
        return sweep(specs, names, args.sf)
    with tempfile.TemporaryDirectory(prefix=f"{args.shape}_sf_") as sf:
        build_shaped_fixture(args.sf, sf, args.shape)
        return sweep(specs, names, sf)


def sweep(specs: dict, names: list[str], sf_dir: str) -> int:
    spark = get_spark("check-queries")
    con = duckdb_connection(sf_dir)
    failures = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            problems = compare_query(spark, spec, sf_dir, con=con)
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
