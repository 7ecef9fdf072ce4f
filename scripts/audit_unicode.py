"""Multi-byte-text audit: run registered queries (Spark AND their
DuckDB oracles, strict compare) against copies of the tables where
every ``documents.text`` is rewritten to a deterministic NON-ASCII
mix (2-, 3-, and 4-byte UTF-8 code points plus combining marks).

Fifth member of the degenerate-input audit family: the round-11
review caught two byte-vs-character divergences by hand
(``strlen``-bytes vs ``F.length``-characters in profile_table_stats;
the exactsubstr oracle counting bytes). This audit sweeps the whole
registry for the class — any oracle that measures BYTES where Spark
measures CHARACTERS (or slices/positions by the wrong unit) turns red
the moment a code point stops being one byte.

Usage:
    PYTHONPATH=. python scripts/audit_unicode.py             # all
    PYTHONPATH=. python scripts/audit_unicode.py q1 q2 ...   # explicit
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_empty import TEMPLATE_SF  # noqa: E402

#: Deterministic multi-byte word pool: 2-byte (Latin-1 sup / Greek),
#: 3-byte (CJK), 4-byte (emoji), and a combining-mark cluster.
WORDS = (
    "héllo", "wörld", "naïve", "café", "αβγδε", "Ωμέγα",
    "日本語", "中文字", "한국어", "データ", "分散処理",
    "🙂emoji", "🚀🚀launch", "🧪test",
    "éclair",  # e + combining acute: chars != graphemes != bytes
    "plain", "ascii", "words",
)


def unicode_text(doc_id: int) -> str:
    """8 deterministic pool words per doc — varied by doc_id so
    distinct-word paths and dedup structure stay non-trivial."""
    return " ".join(
        WORDS[(doc_id * 7 + k * 13) % len(WORDS)] for k in range(8)
    )


def build_unicode_fixture(dest: str, template: str = TEMPLATE_SF) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for p in sorted(glob.glob(f"{template}/*.parquet")):
        t = pq.read_table(p)
        base = os.path.basename(p)
        if base == "documents.parquet" and "text" in t.column_names:
            ids = t.column("doc_id").to_pylist()
            i = t.column_names.index("text")
            col = pa.array([unicode_text(d) for d in ids], type=pa.string())
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
    with tempfile.TemporaryDirectory(prefix="uni_sf_") as sf:
        build_unicode_fixture(sf, template=args.template)
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
    print(f"\n{len(names) - bad}/{len(names)} multi-byte clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
