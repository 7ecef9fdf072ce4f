"""Print or capture the plan of registered queries, from the working
tree OR from a pinned git ref (VERDICT r15 #3: plan pairs must come
from the respective trees, not from one tree twice) — the engine's
`EXPLAIN` entry point (SURVEY §3.2).

Usage:
  python scripts/capture_plan.py [--rev REF] [--sf DIR]
      [--mode simple|extended|formatted|cost|codegen]
      [--outdir D --suffix before|after] name...

Without --outdir each plan prints to stdout under a `==== name ====`
header. With --outdir, files land as <outdir>/<name>_<suffix>.txt.
With --rev, the ref's whole package is materialized via
scripts/ab_round.materialize_rev and the plans are the ref's own code
planning under the ref's RUNTIME_CONF.
"""

from __future__ import annotations

import argparse
import importlib
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ap.add_argument("--outdir", default=None)
    ap.add_argument("--suffix", default=None)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.outdir and not args.suffix:
        ap.error("--outdir needs --suffix")

    root = None
    if args.rev:
        from ab_round import OLD_PKG, materialize_rev

        root = materialize_rev(args.rev)
        sys.path.insert(0, str(root))
        queries = importlib.import_module(f"{OLD_PKG}.queries")
        session = importlib.import_module(f"{OLD_PKG}.session")
    else:
        from jubilant_garbanzo_spark import queries, session

    try:
        specs = queries.load_all()
        spark = session.get_spark("capture-plan")
        outdir = Path(args.outdir) if args.outdir else None
        if outdir is not None:
            outdir.mkdir(parents=True, exist_ok=True)
        for name in args.names:
            df = specs[name].fn(spark, args.sf)
            text = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), args.mode
            )
            if outdir is None:
                print(f"==== {name} ====\n{text}")
                continue
            path = outdir / f"{name}_{args.suffix}.txt"
            path.write_text(text)
            print(f"wrote {path} ({len(text.splitlines())} lines)")
        return 0
    finally:
        if root is not None:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
