"""Source/sink roundtrip queries (SURVEY.md §2b "Scans / sources / sinks").

Each query materializes a deterministic non-parquet export of a fixture
table once per sf_dir (see :mod:`..sources.formats`), exercises the real
read path (explicit schema, no inference), and reduces to an aggregate
the DuckDB oracle can compute straight from the original parquet view —
so a value-hash match proves the format roundtrip was lossless.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.functions.money import exact_sum, exact_sum_sql
from jubilant_garbanzo_spark.queries import register
from jubilant_garbanzo_spark.sources import formats as FMT


@register(
    "scan_csv",
    oracle="""
        SELECT n_regionkey,
               count(*) AS n_nations,
               min(n_name) AS first_name,
               max(n_name) AS last_name
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("source", "csv", "scan"),
)
def scan_csv(spark, sf_dir):
    """CSV scan with explicit schema; agg proves a lossless roundtrip
    (reference has no file sources at all — receiver only,
    ``main.scala:41``)."""
    path = FMT.export_csv(
        spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"]
    )
    df = FMT.read_csv(spark, path, FMT.NATION_SCHEMA)
    return df.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.max("n_name").alias("last_name"),
    )


@register(
    "scan_json",
    oracle=f"""
        SELECT c_mktsegment,
               count(*) AS n_customers,
               {exact_sum_sql('c_acctbal')} AS total_acctbal
        FROM customer
        GROUP BY c_mktsegment
    """,
    tags=("source", "json", "scan"),
)
def scan_json(spark, sf_dir):
    """JSON-lines scan with explicit schema; exact-cents sum proves the
    double column survived the text roundtrip bit-for-bit."""
    path = FMT.export_json(
        spark,
        sf_dir,
        "customer",
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    df = FMT.read_json(spark, path, FMT.CUSTOMER_SCHEMA)
    return df.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        exact_sum(F.col("c_acctbal")).alias("total_acctbal"),
    )


@register(
    "source_binaryfile",
    oracle="""
        SELECT doc_id, strlen(text) AS n_bytes
        FROM documents
        -- text IS NOT NULL mirrors the blob export: a fetch-failure
        -- row writes no file (round-12 NULL-payload audit)
        WHERE doc_id % 50 = 0 AND text IS NOT NULL
    """,
    tags=("source", "binary", "multimodal"),
)
def source_binaryfile(spark, sf_dir):
    """``binaryFile`` multimodal ingestion: one row per blob with the
    raw bytes; doc_id recovered from the file name, byte length checked
    against the source text's octet length."""
    path = FMT.export_text_blobs(spark, sf_dir, modulus=50)
    df = FMT.read_binary_files(spark, path)
    return df.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
    )


@register(
    "source_orc",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               min(o_orderkey) AS first_key,
               max(o_orderkey) AS last_key
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("source", "orc", "scan"),
)
def source_orc(spark, sf_dir):
    """ORC roundtrip: write a projection of ``orders`` to ORC (Spark's
    other first-class columnar format — predicate pushdown and column
    pruning work like parquet), read it back with an explicit schema,
    and aggregate; a value-hash match against the parquet-backed oracle
    proves losslessness."""
    import os

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    out = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "orders_orc"
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.schema(o.schema).orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


@register(
    "sink_parquet_partitioned",
    oracle="""
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               count(*) AS cnt
        FROM events
        GROUP BY 1, 2
    """,
    tags=("sink", "parquet", "partitioned"),
)
def sink_parquet_partitioned(spark, sf_dir):
    """Partitioned parquet sink + scan-back: daily event counts written
    ``partitionBy(event_type)`` (the pruning-friendly layout, SURVEY
    §4.2), then read back through the partition-discovery path."""
    import os

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    out = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "events_daily_pq"
    )
    FMT.write_parquet_partitioned(daily, out, ["event_type"])
    # Explicit schema on the read-back: with ZERO input rows the
    # partitioned write produces no data files and schema inference
    # throws UNABLE_TO_INFER_SCHEMA (round-11 empty-input audit); the
    # writer's schema is authoritative either way, and skipping
    # inference is also the right call at scale.
    back = spark.read.schema(daily.schema).parquet(out)
    return back.select("event_type", "day", "cnt")


@register(
    "source_xml",
    oracle=f"""
        SELECT c_nationkey,
               count(*) AS n_cust,
               {exact_sum_sql('c_acctbal')} AS bal_sum
        FROM customer
        GROUP BY c_nationkey
    """,
    tags=("source", "xml", "scan"),
)
def source_xml(spark, sf_dir):
    """XML roundtrip via Spark 4's built-in XML source (spark-xml merged
    upstream — public): write ``customer`` as one <row> element per
    record, read it back with an explicit schema (inference over XML is
    an extra full pass — fatal at 100 TB), aggregate with the
    exact-cents idiom. A value-hash match against the parquet-backed
    oracle proves the text roundtrip preserved doubles bit-for-bit
    (Java double→string→double is exactness-preserving)."""
    path = FMT.export_xml(
        spark,
        sf_dir,
        "customer",
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    df = FMT.read_xml(spark, path, FMT.CUSTOMER_SCHEMA)
    return df.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        exact_sum(F.col("c_acctbal")).alias("bal_sum"),
    )


@register(
    "sink_clustered_parquet",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) / 100.0 AS price_sum
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("sink", "parquet", "clustering", "layout"),
)
def sink_clustered_parquet(spark, sf_dir):
    """Clustered data layout: rewrite ``orders`` range-partitioned +
    sorted on ``o_orderdate``, then answer a one-month query from the
    clustered copy. Range-clustering is THE layout lever at 100 TB —
    with rows date-clustered, parquet row-group min/max stats line up
    with the predicate, so a month query does row-group-pruned IO on a
    handful of files instead of scattering reads across all of them
    (same plan shape as sink_parquet_partitioned's directory pruning,
    one level finer). The value-hash match against the unclustered
    oracle proves the rewrite is content-preserving."""
    import os

    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "orders_clustered"
    )

    def write(path: str) -> None:
        (
            o.repartitionByRange(8, "o_orderdate")
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .parquet(path)
        )

    FMT.materialize_once(out, write)
    back = spark.read.schema(o.schema).parquet(out)
    month = back.filter(
        (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    return month.agg(
        F.count("*").alias("n_rows"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
    )


@register(
    "source_mergeschema",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END)
                    AS BIGINT) AS n_with_quality,
               CAST(sum(CASE WHEN doc_id % 2 = 1
                             THEN n_chars * 2 END) AS BIGINT) AS total_quality
        FROM documents
        GROUP BY lang
    """,
    tags=("source", "parquet", "schema-evolution"),
)
def source_mergeschema(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with
    DIFFERENT schemas (batch 2 adds a ``quality`` column) read back as
    ONE table via ``mergeSchema=true`` — rows from the old-schema
    batch surface NULL quality. This is the append-only evolution
    every long-lived 100 TB dataset undergoes; the oracle recomputes
    the expected union from the source table, proving no rows or
    values are lost in the merged read.

    Scale note: mergeSchema reconciles footers at planning time
    (sampled, driver-side) — the scan itself stays columnar with
    per-file projection; the standard production guard is pinning the
    evolved schema in a catalog rather than re-inferring per read."""
    import os

    d = load_table(spark, sf_dir, "documents")
    root = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "docs_evolved"
    )
    old = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    new = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") * 2).cast("bigint").alias("quality"),
    )
    old.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    return merged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count("quality").cast("bigint").alias("n_with_quality"),
        F.sum("quality").cast("bigint").alias("total_quality"),
    )


HILBERT_ORDER = 16


def _hilbert_d(x_expr: str, y_expr: str, order: int = HILBERT_ORDER) -> "F.Column":
    """Hilbert-curve distance d(x, y) on the 2^order x 2^order grid —
    the standard xy->d conversion (16 unrolled reflect/rotate rounds,
    public algorithm), as ONE pure SQL expression.

    The per-round state [x, y, d] threads through let-binding lambdas
    (operators/bpe._let): each round reads the previous state ~6 times,
    and naive chained withColumns would let CollapseProject inline the
    chain into ~6^16 nodes (the measured BPE pathology) — the lambda
    binding keeps the whole 16-round expression LINEAR. The quadrant
    value (3*rx) XOR ry is written arithmetically (3*rx + ry -
    2*rx*ry; exact on {0,1} inputs) because ^ means POWER in DuckDB —
    keeping the expression portable to any SQL twin.
    """
    from jubilant_garbanzo_spark.operators.bpe import _let

    expr = (
        f"array(CAST({x_expr} AS BIGINT), CAST({y_expr} AS BIGINT),"
        f" CAST(0 AS BIGINT))"
    )
    for i in range(order - 1, -1, -1):
        s = 1 << i
        body = _let(
            f"IF((element_at(t, 1) & {s}) > 0, 1, 0)",
            "rx",
            _let(
                f"IF((element_at(t, 2) & {s}) > 0, 1, 0)",
                "ry",
                f"array("
                f" IF(ry = 0, IF(rx = 1, {s - 1} - element_at(t, 2),"
                f"   element_at(t, 2)), element_at(t, 1)),"
                f" IF(ry = 0, IF(rx = 1, {s - 1} - element_at(t, 1),"
                f"   element_at(t, 1)), element_at(t, 2)),"
                f" element_at(t, 3) + {s * s}L * (3*rx + ry - 2*rx*ry))",
            ),
        )
        expr = _let(expr, "t", body)
    return F.expr(f"element_at({expr}, 3)")


@register(
    "sink_hilbert_parquet",
    # Layout queries are verified by CONTENT: the box-query answer is
    # layout-independent, so a value-hash match against the unclustered
    # oracle proves the curve rewrite lost/duplicated nothing. The
    # curve math itself is pinned against an independent Python
    # reference (bijection + exact d values) in tests/test_llm_ops.py.
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) / 100.0 AS price_sum
        FROM orders
        WHERE o_custkey >= 300 AND o_custkey < 400
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("sink", "parquet", "clustering", "hilbert", "layout"),
)
def sink_hilbert_parquet(spark, sf_dir):
    """Hilbert-curve clustered layout — the locality upgrade over
    Z-order (sink_zorder_parquet): the Hilbert curve has NO long
    diagonal jumps (every curve step is a unit step in (x, y)), so
    consecutive row groups cover compact squares and 2-D box queries
    touch fewer row groups than under Morton interleave at the same
    sort budget — why Delta's liquid clustering and many lakehouse
    engines moved Morton -> Hilbert. Same pipeline shape: derive the
    curve key (pure codegen expression, never persisted),
    repartitionByRange + sortWithinPartitions on it, drop it, write;
    answer the box query from the clustered copy. At larger key
    domains the dimensions are first quantile-bucketed to 16 bits
    (custkey and days-since-1995 already fit here)."""
    import os

    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "orders_hilbert"
    )

    def write(path: str) -> None:
        days = F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        h = _hilbert_d("o_custkey", "CAST(_days AS BIGINT)")
        (
            o.withColumn("_days", days)
            .withColumn("_h", h)
            .repartitionByRange(8, "_h")
            .sortWithinPartitions("_h")
            .drop("_h", "_days")
            .write.mode("overwrite")
            .parquet(path)
        )

    FMT.materialize_once(out, write)
    back = spark.read.schema(o.schema).parquet(out)
    box = back.filter(
        (F.col("o_custkey") >= 300)
        & (F.col("o_custkey") < 400)
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return box.agg(
        F.count("*").alias("n_rows"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
    )


def _zvalue(x, y):
    """Interleave the low 16 bits of two integer columns (Morton code).

    Pure JVM-side bit arithmetic — stays inside whole-stage codegen;
    16 unrolled shift/mask terms, no UDF.
    """
    z = F.lit(0).cast("bigint")
    for i in range(16):
        # Each term sets a distinct bit, so + is exactly bitwise OR.
        z = (
            z
            + (F.shiftleft(F.shiftright(x, i) % 2, 2 * i)).cast("bigint")
            + (F.shiftleft(F.shiftright(y, i) % 2, 2 * i + 1)).cast("bigint")
        )
    return z


@register(
    "sink_zorder_parquet",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) / 100.0 AS price_sum
        FROM orders
        WHERE o_custkey >= 100 AND o_custkey < 200
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    tags=("sink", "parquet", "clustering", "zorder", "layout"),
)
def sink_zorder_parquet(spark, sf_dir):
    """Z-order (Morton-curve) clustered layout: rewrite ``orders``
    range-partitioned + sorted on the bit-interleave of (custkey,
    days-since-1995), then answer a 2-D box query (customer range AND
    date range) from the clustered copy. Single-column clustering
    (sink_clustered_parquet) collapses row-group stats along ONE
    dimension; the space-filling curve keeps BOTH dimensions locally
    correlated, so min/max stats prune row groups for either- or
    both-dimension predicates — the multi-dimensional layout lever
    behind Delta/Iceberg Z-ORDER at 100 TB. The value-hash match
    against the unclustered oracle proves the rewrite is
    content-preserving.

    The z-value is derivation-only (not persisted): 16 unrolled
    shift/mask terms per dimension, fully inside whole-stage codegen.
    At larger key domains the dimension is first quantile-bucketed to
    16 bits (here custkey already fits)."""
    import os

    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(
        FMT.EXPORT_ROOT, os.path.basename(sf_dir.rstrip("/")), "orders_zorder"
    )

    def write(path: str) -> None:
        days = F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        z = _zvalue(F.col("o_custkey"), days.cast("bigint"))
        (
            o.withColumn("_z", z)
            .repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )

    FMT.materialize_once(out, write)
    back = spark.read.schema(o.schema).parquet(out)
    box = back.filter(
        (F.col("o_custkey") >= 100)
        & (F.col("o_custkey") < 200)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    return box.agg(
        F.count("*").alias("n_rows"),
        exact_sum(F.col("o_totalprice")).alias("price_sum"),
    )


@register(
    "source_python_datasource",
    # The oracle REGENERATES the connector's deterministic feed with
    # range() + the same md5 idiom, then runs the same hashtag count —
    # a full value-hash check over a CUSTOM CONNECTOR end-to-end.
    oracle="""
        WITH ids AS (
            SELECT unnest(range(0, 2000)) AS i
        ), t AS (
            SELECT '#tag' || (('0x' || substr(md5(CAST(i AS VARCHAR) || ':t1'),
                                         1, 8))::BIGINT % 10) AS tag
            FROM ids
            UNION ALL
            SELECT '#tag' || (('0x' || substr(md5(CAST(i AS VARCHAR) || ':t2'),
                                         1, 8))::BIGINT % 10) AS tag
            FROM ids
        )
        SELECT tag, CAST(count(*) AS BIGINT) AS cnt
        FROM t GROUP BY tag
        ORDER BY cnt DESC, tag
    """,
    tags=("source", "python-datasource", "connector"),
)
def source_python_datasource(spark, sf_dir):
    """The reference's R1→R8 pipeline over the engine's OWN connector:
    a Spark 4 Python DataSource generating a deterministic tweet
    firehose inside the executors (``sources/tweet_source.py`` — the
    container-feasible stand-in for the twitter4j receiver and the
    absent kafka jar, with the same partitioned-read shape). Tokenize,
    '#'-prefix filter, tag counts, sort — the literal main.scala:45-52
    graph — hash-checked against a DuckDB regeneration of the feed.

    Scale shape: the read is N independent id-range partitions (no
    skew, no coordination); everything downstream is the flagship's
    explode→count→sort plan. A real firehose swaps the generator for
    network IO behind the identical DataSource contract."""
    from jubilant_garbanzo_spark.sources.tweet_source import register_tweet_source

    register_tweet_source(spark)
    feed = (
        spark.read.format("tweet_firehose")
        .option("rows", "2000")
        .option("partitions", "8")
        .load()
    )
    return (
        feed.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").startswith("#"))
        .groupBy(F.col("tok").alias("tag"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "tag")
    )


@register(
    "sink_python_datasource_writer",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("sink", "python-datasource", "connector"),
)
def sink_python_datasource_writer(spark, sf_dir):
    """Roundtrip through the engine's OWN custom SINK — the Spark 4
    Python DataSource writer API (``sources/jsonl_sink.py``): aggregate
    orders per status, write JSON-lines via ``format("jsonl_sink")``
    (per-partition executor writes, task-attempt-unique files, an
    atomic driver-side commit manifest + _SUCCESS), read the files
    back with a schema'd JSON scan, and re-emit. The oracle aggregates
    the source table directly, so the hash match proves the custom
    commit protocol loses and duplicates NOTHING.

    Written values are integers and strings only (cents, status) —
    raw float JSON rendering is not cross-engine byte-stable.

    Completes the connector surface: tweet_source proved the Python
    DataSource READER (batch partitions) and STREAM READER (offsets +
    exactly-once drain); this proves the WRITER third of the V2
    contract. At scale each task streams its partition straight to
    its own file — no driver fan-in; the commit message carries only
    (file, count) metadata.
    """
    import os

    from jubilant_garbanzo_spark.sources import formats as FMT
    from jubilant_garbanzo_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    out = os.path.join(
        FMT.EXPORT_ROOT,
        os.path.basename(sf_dir.rstrip("/")),
        "orders_by_status_jsonl",
    )

    def write(path: str) -> None:
        agg.write.format("jsonl_sink").option("path", path).mode(
            "append"
        ).save()

    FMT.materialize_once(out, write)
    # Manifest-honoring read (round-11 sources review): only the files
    # the commit manifest lists — a glob would double-count files left
    # by aborted/retried task attempts.
    from jubilant_garbanzo_spark.sources.jsonl_sink import read_jsonl_sink

    schema = "status string, n_orders bigint, total_cents bigint"
    return read_jsonl_sink(spark, out, schema).select(
        "status", "n_orders", "total_cents"
    )


@register(
    "stream_python_datasource_sink",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events WHERE event_type = 'purchase'
    """,
    tags=("streaming", "sink", "python-datasource", "connector"),
)
def stream_python_datasource_sink(spark, sf_dir):
    """A LIVE streaming query writing through the engine's custom
    Python sink: readStream(events) → purchase filter → cents
    projection → ``writeStream.format("jsonl_sink")`` with
    availableNow, then read the emitted JSON-lines back and aggregate
    — the hash match against direct SQL proves the per-batch commit
    protocol (``JsonlStreamWriter.commit(messages, batchId)``)
    delivered every row exactly once.

    This closes the connector matrix: tweet_source proved the batch
    READER and offset-tracked STREAM READER; jsonl_sink's batch WRITER
    proved atomic manifest commits; this is the STREAM WRITER — the
    fourth verb of the Spark 4 Python DataSource V2 contract, run
    through the real streaming engine (checkpointed micro-batches, a
    commit per batch), not foreachBatch glue.

    Written values are integers only (ids + cents) for byte-stable
    JSON. At scale each micro-batch partition streams straight to its
    own attempt-named file; replayed batches republish the same
    deterministic manifest (sink-side idempotence under the streaming
    commit log).
    """
    import os
    import tempfile

    from jubilant_garbanzo_spark.sources import formats as FMT
    from jubilant_garbanzo_spark.sources.jsonl_sink import register_jsonl_sink
    from jubilant_garbanzo_spark.streaming.runner import read_events_stream

    register_jsonl_sink(spark)
    out = os.path.join(
        FMT.EXPORT_ROOT,
        os.path.basename(sf_dir.rstrip("/")),
        "purchases_stream_jsonl",
    )

    def write(path: str) -> None:
        s = read_events_stream(spark, sf_dir)
        proj = s.filter(F.col("event_type") == "purchase").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100.0).cast("bigint").alias("cents"),
        )
        with tempfile.TemporaryDirectory(
            prefix="jg_ckpt_pysink_", ignore_cleanup_errors=True
        ) as checkpoint:
            q = (
                proj.writeStream.format("jsonl_sink")
                .option("path", path)
                .option("checkpointLocation", checkpoint)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # materialize_once keys on _SUCCESS; the stream writer publishes
        # per-batch manifests, so mark overall completion here (the
        # stream has fully drained once awaitTermination returns).
        with open(os.path.join(path, "_SUCCESS"), "w") as f:
            f.write("")

    FMT.materialize_once(out, write)
    # Per-batch-manifest-honoring read (round-11 sources review): a
    # replayed micro-batch's commit rewrites _BATCH_<n>.json with its
    # new files, so stale attempt files on disk are unreferenced — the
    # old stream-part glob would double-count them.
    from jubilant_garbanzo_spark.sources.jsonl_sink import (
        read_jsonl_stream_sink,
    )

    schema = "event_id bigint, user_id bigint, cents bigint"
    return (
        read_jsonl_stream_sink(spark, out, schema)
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "table_time_travel",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderkey % 3 != 0
        ), v2 AS (
            SELECT k, cents + CASE WHEN k % 5 = 0 THEN 1000 ELSE 0 END
                       AS cents
            FROM v1 WHERE k % 7 != 0
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM v1) AS v1_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM v2) AS v2_rows,
               (SELECT CAST(sum(cents) AS BIGINT) FROM v1) AS v1_cents,
               (SELECT CAST(sum(cents) AS BIGINT) FROM v2) AS v2_cents,
               (SELECT CAST(count(*) AS BIGINT) FROM v1
                WHERE k % 7 = 0) AS n_deleted,
               (SELECT CAST(count(*) AS BIGINT) FROM v1
                WHERE k % 7 != 0 AND k % 5 = 0) AS n_updated
    """,
    tags=("sources", "lakehouse", "time-travel", "snapshot"),
)
def table_time_travel(spark, sf_dir):
    """Snapshot-versioned table with manifest-gated TIME TRAVEL
    (sources/versioned.py — the Delta/Iceberg visibility kernel on
    bare parquet): version 1 is a slice of orders; version 2 deletes
    every 7th key and updates every 5th; both snapshots publish via
    data-first/manifest-last atomic commits. The query then reads v1
    BY EXPLICIT VERSION and v2 through latest-resolution, and diffs
    them with a full-outer key join — counts and exact-cents sums of
    BOTH time-travel reads must match the oracle's direct
    recomputation, proving the manifests point at the right immutable
    snapshots and the latest-pointer resolves correctly.

    Scale shape: commits are plain parquet writes + one driver-side
    manifest rename (O(1) metadata, the object-store-atomic pattern);
    the diff is a key-partitioned full-outer join. Copy-on-write full
    snapshots = Delta's checkpoint representation; a delta log is an
    optimization on top, not a semantics change.
    """
    import tempfile

    from jubilant_garbanzo_spark.sources.versioned import (
        commit_version,
        read_version,
    )

    table_dir = tempfile.mkdtemp(prefix="jg_versioned_")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    v1 = base.filter(F.col("k") % 3 != 0)
    v2 = v1.filter(F.col("k") % 7 != 0).select(
        "k",
        (
            F.col("cents")
            + F.when(F.col("k") % 5 == 0, F.lit(1000)).otherwise(F.lit(0))
        ).alias("cents"),
    )
    commit_version(v1, table_dir, 1)
    commit_version(v2, table_dir, 2)

    r1 = read_version(spark, table_dir, version=1)
    r2 = read_version(spark, table_dir)  # latest-resolution path
    a = r1.select(F.col("k"), F.col("cents").alias("c1"))
    b = r2.select(F.col("k"), F.col("cents").alias("c2"))
    # count(when(...)) not sum(when(...)): over an EMPTY diff a sum is
    # NULL where the oracle's filtered count(*) is 0 (round-11
    # empty-input audit); count of a conditional is 0 on empty input.
    diff = a.join(b, "k", "full_outer").agg(
        F.count(F.when(F.col("c2").isNull(), F.lit(1)))
        .cast("bigint")
        .alias("n_deleted"),
        F.count(
            F.when(
                F.col("c1").isNotNull()
                & F.col("c2").isNotNull()
                & (F.col("c1") != F.col("c2")),
                F.lit(1),
            )
        )
        .cast("bigint")
        .alias("n_updated"),
    )
    s1 = r1.agg(
        F.count("*").cast("bigint").alias("v1_rows"),
        F.sum("cents").cast("bigint").alias("v1_cents"),
    )
    s2 = r2.agg(
        F.count("*").cast("bigint").alias("v2_rows"),
        F.sum("cents").cast("bigint").alias("v2_cents"),
    )
    return (
        s1.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(diff))
        .select("v1_rows", "v2_rows", "v1_cents", "v2_cents", "n_deleted", "n_updated")
    )
