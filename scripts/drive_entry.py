"""Simulate the external driver: vanilla SparkSession, import contract, run."""
import importlib.util
import sys

from pyspark.sql import SparkSession

# Vanilla session — deliberately NONE of the engine's configs.
spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

df = mod.entry(spark)
rows = df.collect()
print("ENTRY ROWS:", len(rows))
print("SCHEMA:", df.schema.simpleString())
for r in rows[:3]:
    print("  ", tuple(r))

q = mod.queries()
o = mod.oracle_sql()
print("N_QUERIES:", len(q), "N_ORACLE:", len(o))

# Run one oracle pair the driver's way at sf0.01
import duckdb
name = "trending_topk"
sdf = q[name](spark, "/root/testdata/sf0.01")
srows = sorted(tuple(r) for r in sdf.collect())
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")
drows = sorted(tuple(r) for r in con.execute(o[name]).fetchall())
print("MATCH:", srows == drows, "| spark rows:", len(srows), "| duck rows:", len(drows))
print("SAMPLE:", srows[0] if srows else None)

# --names a b c: rehearse the correctness check for an explicit query
# list under this vanilla session. This catches what the configured
# local gate masks — it found the DECIMAL-typed SQL outputs and the
# by-reference pickling of stateful update functions in round 7. Raw-tuple
# compare with only float rounding, i.e. STRICTER than the comparator in
# jubilant_garbanzo_spark.testing.
if "--names" in sys.argv:
    import math

    def _norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    def _key(row):
        # None-safe total order (outer-join nulls share columns with
        # ints; Python can't compare None < int) — same idiom as
        # jubilant_garbanzo_spark.testing._row_sort_key.
        return tuple((x is None, str(type(x)), str(x)) for x in row)

    targets = sys.argv[sys.argv.index("--names") + 1 :]
    unknown = [n for n in targets if n not in q]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    fails = []
    for name in targets:
        try:
            srows = sorted(
                (
                    tuple(_norm(x) for x in r)
                    for r in q[name](spark, "/root/testdata/sf0.01").collect()
                ),
                key=_key,
            )
            if name in o:
                drows = sorted(
                    (
                        tuple(_norm(x) for x in r)
                        for r in con.execute(o[name]).fetchall()
                    ),
                    key=_key,
                )
                ok = srows == drows
            else:
                ok = True
            if not ok:
                fails.append(name)
            print(("ok  " if ok else "FAIL"), name, len(srows), flush=True)
        except Exception as exc:  # noqa: BLE001
            fails.append(name)
            print("FAIL", name, "EXC", type(exc).__name__, flush=True)
    print(
        f"{len(targets) - len(fails)}/{len(targets)} vanilla-session "
        f"rehearsal pass; fails: {fails}"
    )

spark.stop()
