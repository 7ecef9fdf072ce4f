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
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

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
    # One driver-side footer read per table layout, not per query.
    slices = session_index(
        spark, sf_dir, "scan_slices", lambda: _scan_slices(path), name
    )
    if slices >= parallelism:
        return df
    return df.repartition(parallelism)


def dir_fingerprint(sf_dir: str) -> tuple:
    """A cheap content fingerprint of the directory ``sf_dir`` (empty
    when it is not one): (relative path, size, mtime_ns) per file,
    RECURSIVE (ADVICE r10: one level deep missed partitioned parquet
    subdirs regenerated in place with identical top-level entry
    names)."""
    fps = []
    if os.path.isdir(sf_dir):
        for root, dirs, files in os.walk(sf_dir):
            dirs.sort()  # in-place: fixes walk order AND fps order
            rel = os.path.relpath(root, sf_dir)
            for name in sorted(files):
                st = os.stat(os.path.join(root, name))
                fps.append(
                    (os.path.join(rel, name), st.st_size, st.st_mtime_ns)
                )
    return tuple(fps)


def _nests(dtype: DataType) -> bool:
    """Whether ``dtype`` is or holds an array or a map."""
    if isinstance(dtype, StructType):
        return any(_nests(f.dataType) for f in dtype.fields)
    return isinstance(dtype, (ArrayType, MapType))


def materialize(df: DataFrame, eager=True, storage_level=None) -> DataFrame:
    """``df.localCheckpoint(eager, storage_level)``, broadcast-hinted
    when known to be small: the package's one materialization.

    A checkpoint keeps its origin plan's *estimated* size (233.5 PiB
    for the trade graph), so a join against it waits for AQE to measure
    a shuffle. An eager checkpoint whose stored bytes (block manager, no
    Spark job) are within ``spark.sql.autoBroadcastJoinThreshold`` comes
    back hinted. Lazy ones (nothing stored yet) and frames with an array
    or map column come back bare: a hint rides every unary operator up
    to the next join, explodes included. (py4j cannot build the
    ``scala.math.BigInt`` that real ``LogicalRDD`` statistics need.)
    """
    cp = df.localCheckpoint(eager, storage_level)
    if not eager or _nests(cp.schema):
        return cp
    jss = cp.sparkSession._jsparkSession
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    for info in jss.sparkContext().getRDDStorageInfo():
        if info.id() == rdd_id:
            full = info.numCachedPartitions() == info.numPartitions()
            stored = info.memSize() + info.diskSize()
            limit = jss.sessionState().conf().autoBroadcastJoinThreshold()
            if full and stored <= limit:
                return F.broadcast(cp)
    return cp


def free_local_checkpoint(df: DataFrame) -> None:
    """Drop the block-manager storage behind an eager :func:`materialize`
    result, hinted or not, or a projection of one. ONLY call when no
    downstream plan will read the frame again — a local checkpoint's
    lineage is truncated, so its blocks cannot be recomputed once
    dropped. Best-effort (storage pressure, not correctness): failures
    are swallowed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.children().size() == 1:
            plan = plan.children().head()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def _release(value) -> None:
    """Free the checkpoint storage of a replaced registry value: a
    DataFrame, or a tuple of them (other values hold no storage)."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            free_local_checkpoint(v)


#: The session index registry: (name, sf_dir, params) -> (applicationId,
#: dir_fingerprint(sf_dir), value). See :func:`session_index`.
_SESSION_INDEX: dict[tuple, tuple[str, tuple, object]] = {}


def session_index(spark: SparkSession, sf_dir: str, name: str, build, *params):
    """The one place work is reused across a session's queries: the
    value ``build()`` returns for (``name``, ``sf_dir``, ``params``),
    built once and served while the fixture directory is unchanged —
    the build-once, probe-many shape of a shared index (MinHash bands,
    suffix ranks, the IVF index, the trade graph; also the per-layout
    footer probes and the fixture exports of :mod:`.sources.formats`,
    whose value is a :func:`scratch_dir` path or a pair of bucketed
    tables written there). ``params`` must name everything ``build`` reads
    besides the tables under ``sf_dir``; a DataFrame value must be
    :func:`materialize`-d eagerly, never ``persist()``-ed:
    Spark's CacheManager matches a later read of the same path even
    after the files were rewritten.

    An entry is served only while :func:`dir_fingerprint` of ``sf_dir``
    still matches; on a changed fingerprint its checkpoint storage is
    freed and the value rebuilt, so at most one entry per key is live.
    Entries of another applicationId (a stopped session) are dropped
    without a release — their blocks and scratch files died with that
    session. There is no byte budget: the keys are the registry's call
    sites times the fixture directories a session reads. A replaced
    export's directory is not deleted (a frame returned earlier may
    still read it); it goes when the session stops.
    """
    app = spark.sparkContext.applicationId
    for key in [k for k, (a, _, _) in _SESSION_INDEX.items() if a != app]:
        del _SESSION_INDEX[key]
    key = (name, sf_dir, params)
    fp = dir_fingerprint(sf_dir)
    hit = _SESSION_INDEX.get(key)
    if hit is not None:
        if hit[1] == fp:
            return hit[2]
        del _SESSION_INDEX[key]
        _release(hit[2])
    value = build()
    _SESSION_INDEX[key] = (app, fp, value)
    return value


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh, empty directory for files that a returned frame reads
    lazily (fixture exports, write-then-read-back sinks, streaming side
    tables). It lies under ``jg/`` in Spark's per-SparkContext file root
    (``SparkFiles.getRootDirectory()``, inside ``spark.local.dir``),
    which Spark deletes on ``spark.stop()`` and at JVM exit, so nothing
    here outlives the session that wrote it. On a cluster the executors
    need this path on a shared filesystem."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.spark.SparkFiles.getRootDirectory()
    path = os.path.join(root, "jg", prefix + uuid.uuid4().hex)
    os.makedirs(path)
    return path


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
