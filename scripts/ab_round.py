"""Cross-round attribution bench: HEAD (working tree) vs a pinned git
ref, interleaved in ONE JVM (VERDICT r15 #1b).

Why this exists: the box carries ambient load waves that make two
separate bench runs incomparable (r15: the driver's own 8-core run beat
its 32-core run on 33/55 queries). Alternating the two code versions
run-by-run inside one session exposes both variants to the same load,
so the per-pair ratio is attribution-grade even when the walls are not.

It loads the pinned ref's ENTIRE package: `git archive <rev>` is
unpacked into a tempdir, the package directory is renamed, and every
self-import is textually rewritten — so the old variant runs its own
operators/catalog/session code, not a hybrid. Runtime SQL confs follow
each variant automatically: both trees' `load_table` funnel through
their own `configure_runtime`, and before every run the harness applies
that tree's RUNTIME_CONF and resets keys exclusive to the other tree.

Usage:
  python scripts/ab_round.py --rev <ref> [--pairs 3] [--sf DIR]
      [--out x.json] [--headline | name ...]

Recipes:
  A conf, an env default or a kernel choice: edit the working tree
  (a RUNTIME_CONF value, the default of an `os.environ.get`, or the
  kernel a query body calls), leave the env var unset, and run
  `--rev HEAD name ...`. HEAD is the old variant, the edited tree the
  new one; each applies its own RUNTIME_CONF, and a key only one tree
  has is reset to the bare session's value for the other. Static
  confs (e.g. spark.io.compression.codec) cannot change inside one
  JVM, so they need two separate bench.py runs instead.

  Scale: build a replica with `python scripts/bench_scale.py --scales 10
  --queries <grid query> --out /tmp/scale.json`, which leaves it in
  /tmp/jg_scale/x10, then run `--rev <ref> --sf /tmp/jg_scale/x10
  name ...`.

Output (stdout + --out): per query {old_walls, new_walls, old_med,
new_med, speedup, wins, identical, rows} plus a summary line with the
set totals and geomean — the artifact a judge can re-run.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import shutil
import subprocess
import sys
import tarfile
import tempfile
import time
from io import BytesIO
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PKG = "jubilant_garbanzo_spark"
OLD_PKG = "jgs_pinned"


def materialize_rev(rev: str) -> Path:
    """Unpack `git archive rev -- PKG` into a tempdir as OLD_PKG with
    self-imports rewritten; return the tempdir (import root)."""
    raw = subprocess.run(
        ["git", "-C", str(REPO), "archive", rev, "--", PKG],
        check=True,
        capture_output=True,
    ).stdout
    root = Path(tempfile.mkdtemp(prefix="ab_round_"))
    with tarfile.open(fileobj=BytesIO(raw)) as tf:
        tf.extractall(root)  # noqa: S202 - our own git archive
    (root / PKG).rename(root / OLD_PKG)
    for py in (root / OLD_PKG).rglob("*.py"):
        src = py.read_text()
        if PKG in src:
            py.write_text(src.replace(PKG, OLD_PKG))
    return root


def digest(spark, fn, sf_dir):
    rows = fn(spark, sf_dir).collect()
    canon = sorted(tuple(str(v) for v in r) for r in rows)
    return hashlib.md5(repr(canon).encode()).hexdigest()[:12], len(rows)


def run_once(spark, fn, sf_dir, conf: dict[str, str], reset: dict[str, str]):
    for k, v in reset.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True, help="pinned git ref (old)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--headline", action="store_true", help="run bench.py's HEADLINE set"
    )
    ap.add_argument("--skip-digest", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    root = materialize_rev(args.rev)
    sys.path.insert(0, str(root))
    try:
        old_queries = importlib.import_module(f"{OLD_PKG}.queries")
        old_session = importlib.import_module(f"{OLD_PKG}.session")
        old_specs = old_queries.load_all()
        from jubilant_garbanzo_spark import session as new_session
        from jubilant_garbanzo_spark.queries import load_all

        new_specs = load_all()
        if args.headline or not args.names:
            import bench

            names = [n for n in bench.HEADLINE if n in new_specs]
        else:
            names = args.names
        missing = [n for n in names if n not in old_specs]
        if missing:
            print(f"# not in {args.rev}, skipped: {missing}", file=sys.stderr)
            names = [n for n in names if n not in missing]

        old_conf = dict(getattr(old_session, "RUNTIME_CONF", {}))
        new_conf = dict(new_session.RUNTIME_CONF)
        # Build a BARE session (no RUNTIME_CONF at build time) so the
        # baseline values below are Spark defaults, not HEAD's settings
        # — otherwise the pinned variant would silently inherit every
        # conf HEAD added since the ref. Each variant's own
        # configure_runtime/run_once applies its tree's RUNTIME_CONF.
        import os

        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        spark = (
            SparkSession.builder.appName("ab-round")
            .master(f"local[{cpus}]")
            .config("spark.ui.enabled", "false")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        # Both variants run at HEAD's production width (get_spark's rule).
        width = new_session.shuffle_width(spark.sparkContext.defaultParallelism)
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        # Baseline values for keys exclusive to one variant, so the
        # other variant runs with Spark-default behavior for them.
        union = set(old_conf) | set(new_conf)
        base = {}
        for k in union:
            try:
                base[k] = spark.conf.get(k)
            except Exception:
                pass
        reset_for_old = {
            k: base[k] for k in (set(new_conf) - set(old_conf)) if k in base
        }
        reset_for_new = {
            k: base[k] for k in (set(old_conf) - set(new_conf)) if k in base
        }

        # Warm-up both variants (JVM/codegen), excluded from timings.
        wu = names[0]
        run_once(spark, old_specs[wu].fn, args.sf, old_conf, reset_for_old)
        run_once(spark, new_specs[wu].fn, args.sf, new_conf, reset_for_new)

        out: dict[str, dict] = {}
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        for name in names:
            walls = {"old": [], "new": []}
            for _ in range(args.pairs):
                walls["old"].append(
                    run_once(
                        spark, old_specs[name].fn, args.sf, old_conf, reset_for_old
                    )
                )
                walls["new"].append(
                    run_once(
                        spark, new_specs[name].fn, args.sf, new_conf, reset_for_new
                    )
                )
            row = {
                "old_walls": [round(w, 3) for w in walls["old"]],
                "new_walls": [round(w, 3) for w in walls["new"]],
                "old_med": round(med(walls["old"]), 3),
                "new_med": round(med(walls["new"]), 3),
                "speedup": round(med(walls["old"]) / max(med(walls["new"]), 1e-9), 3),
                "wins": sum(
                    1 for o, n in zip(walls["old"], walls["new"]) if n < o
                ),
            }
            if not args.skip_digest:
                for k, v in {**reset_for_old, **old_conf}.items():
                    try:
                        spark.conf.set(k, v)
                    except Exception:
                        pass
                d_old = digest(spark, old_specs[name].fn, args.sf)
                for k, v in {**reset_for_new, **new_conf}.items():
                    try:
                        spark.conf.set(k, v)
                    except Exception:
                        pass
                d_new = digest(spark, new_specs[name].fn, args.sf)
                row["identical"] = d_old == d_new
                row["rows"] = d_new[1]
                if d_old != d_new:
                    print(
                        f"!! digest mismatch on {name}: {d_old} vs {d_new}",
                        file=sys.stderr,
                    )
            out[name] = row
            print(
                f"# {name}: {row['speedup']}x "
                f"({row['old_med']}->{row['new_med']}s, wins {row['wins']}/{args.pairs}"
                f"{', identical' if row.get('identical') else ''})",
                file=sys.stderr,
            )

        tot_old = round(sum(r["old_med"] for r in out.values()), 3)
        tot_new = round(sum(r["new_med"] for r in out.values()), 3)
        geo = round(
            math.exp(
                sum(math.log(max(r["speedup"], 1e-9)) for r in out.values())
                / max(len(out), 1)
            ),
            3,
        )
        payload = {
            "rev_old": args.rev,
            "sf": args.sf,
            "pairs": args.pairs,
            "total_old": tot_old,
            "total_new": tot_new,
            "total_speedup": round(tot_old / max(tot_new, 1e-9), 3),
            "geomean_speedup": geo,
            "all_identical": all(
                r.get("identical", True) for r in out.values()
            ),
            "queries": out,
        }
        print(json.dumps(payload, indent=1))
        if args.out:
            Path(args.out).write_text(json.dumps(payload, indent=1))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
