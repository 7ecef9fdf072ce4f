"""Catalog: schema'd views over the driver's parquet tables.

The reference is schemaless — fields are method calls on twitter4j
objects (``main.scala:42,45``) and there is no catalog at all
(SURVEY.md §1.1). Here every table is a typed DataFrame and registered
as a temp view so the DataFrame and SQL entry points are interchangeable
(SURVEY.md §3.2–3.3).

Scale note: at 100 TB these would be partitioned/bucketed external
tables (partition by date for ``events``/``orders``, bucket fact tables
by join key). Locally they are single parquet files; the read path is
identical either way (``spark.read.parquet``), and all downstream code
depends only on the view names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.session import configure_runtime

#: All driver-provided tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at EVERY scale factor —
#: region (5), nation (25), supplier (10 per sf unit) stay tiny even at
#: 100 TB fact scale; joins against them must be broadcast-hash joins.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Memo: parquet-footer split counts per (file path, dir_fingerprint of
#: its fixture dir) — one driver-side metadata read per table layout,
#: not per query; a table rewritten in place is read again.
_SCAN_SLICES_MEMO: dict[tuple[str, tuple], int] = {}


def _scan_slices(path: str) -> int:
    """Upper bound on the scan parallelism the file layout permits.

    Parquet is splittable at ROW-GROUP granularity only: a
    single-file, single-row-group table executes as ONE scan task no
    matter how `spark.sql.files.maxPartitionBytes` slices it, so the
    whole first stage (tokenize/shingle/explode fused above the scan)
    runs on one core. A directory layout (the 100 TB shape) has at
    least one split per file and never needs help.
    """
    try:
        if os.path.isdir(path):
            n = 0
            for entry in os.scandir(path):
                if entry.name.endswith(".parquet"):
                    n += 1
                    if n >= 1024:
                        break
            return max(n, 1)
        import pyarrow.parquet as pq

        return max(pq.ParquetFile(path).metadata.num_row_groups, 1)
    except Exception:
        return 1 << 30  # unreadable footer: assume splittable, no fan-out


def fan_out_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Round-robin ``df`` (a projection of table ``name``) to cluster
    parallelism when the table's file layout would bottleneck the scan
    stage (guide §2.5 "one huge unsplittable file … repartition
    immediately after the read").

    Scale-adaptive: the gate reads the parquet footer, so a production
    table with many files/row groups is untouched and the exchange
    only exists where the alternative is a single-task first stage.
    NOT applied blanket at load: an interleaved sf0.1 A/B over 30
    doc/embedding queries measured catalog-level fan-out net 0.89x —
    cheap queries pay the exchange for nothing and iterative
    small-dict loops inherit 32-way partitioning through their
    checkpoints (per-round task overhead). Callers are the measured
    winners only: heavy per-row map work (shingling, per-coordinate
    folds, opaque Python stages) fused directly above the scan."""
    parallelism = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"
    key = (path, dir_fingerprint(sf_dir))
    if key not in _SCAN_SLICES_MEMO:
        _SCAN_SLICES_MEMO[key] = _scan_slices(path)
    if _SCAN_SLICES_MEMO[key] >= parallelism:
        return df
    return df.repartition(parallelism)


def dir_fingerprint(*paths) -> tuple:
    """The key rule for session memos over fixture directories: a
    cheap content fingerprint of every directory among ``paths``
    (other parts are ignored) — (relative path, size, mtime_ns) per
    file, RECURSIVE (ADVICE r10: one level deep missed partitioned
    parquet subdirs regenerated in place with identical top-level
    entry names). A memo keyed by it cannot serve a result computed
    from a parquet dir REWRITTEN at the same path within one
    application (e.g. a regenerated scale dir)."""
    fps = []
    for part in paths:
        if isinstance(part, str) and os.path.isdir(part):
            for root, dirs, files in os.walk(part):
                dirs.sort()  # in-place: fixes walk order AND fps order
                rel = os.path.relpath(root, part)
                for name in sorted(files):
                    st = os.stat(os.path.join(root, name))
                    fps.append(
                        (os.path.join(rel, name), st.st_size, st.st_mtime_ns)
                    )
    return tuple(fps)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with schema normalization.

    ``events.ts`` is ns-precision parquet (FIXTURES.md): with
    ``nanosAsLong`` it arrives as a long; ``ts DIV 1000`` is the exact
    integer truncation to µs (matching DuckDB's ns→µs read), then
    ``timestamp_micros`` rebuilds a timestamp. Cast to TIMESTAMP_NTZ so
    all engine timestamps are naive-UTC like the other tables
    (``o_orderdate``/``l_shipdate`` already read as TIMESTAMP_NTZ).
    """
    configure_runtime(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table; keys are table names."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (idempotent) and return them."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
