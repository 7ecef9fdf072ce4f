"""CSV / JSON / XML / binaryFile readers and partitioned parquet writer.

Schema discipline: every non-parquet read supplies an explicit
``StructType`` — schema inference is a full extra pass over the data
(fatal at 100 TB) and type-unstable across engines. The fixture tables
come from the driver as parquet, so the roundtrip queries in
:mod:`..queries.sources` first export a deterministic CSV/JSON/XML/blob
copy, then exercise the read path. An export is built once per session
and fixture through :func:`..catalog.session_index` (keyed on the
fixture's fingerprint, so a rewritten or different fixture is exported
afresh) into a :func:`..catalog.scratch_dir`, which dies with the
session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from jubilant_garbanzo_spark.catalog import scratch_dir, session_index

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType(), False),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.LongType(), True),
    ]
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.LongType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)


def export(spark: SparkSession, sf_dir: str, name: str, write, *params) -> str:
    """The path of a fresh :func:`scratch_dir` that ``write(path)``
    filled, built once per (``name``, ``sf_dir``, ``params``) while the
    fixture is unchanged. Export helper for tests and roundtrip queries
    — production sources read in place."""

    def build() -> str:
        path = scratch_dir(spark, f"{name}_")
        write(path)
        return path

    return session_index(spark, sf_dir, name, build, *params)


def export_csv(spark: SparkSession, sf_dir: str, table: str, columns) -> str:
    """Deterministic single-file CSV export of selected fixture columns."""

    def write(path: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*columns)
        # quote/escape must MIRROR read_csv's RFC options: Spark's
        # default writer escape is backslash, so a value containing a
        # double quote would round-trip corrupted under the RFC reader
        # (and DuckDB's CSV reader, which is RFC by default).
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .csv(path)
        )

    return export(spark, sf_dir, f"{table}_csv", write, tuple(columns))


def export_json(spark: SparkSession, sf_dir: str, table: str, columns) -> str:
    """Deterministic single-file JSON-lines export."""

    def write(path: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*columns)
        df.coalesce(1).write.mode("overwrite").json(path)

    return export(spark, sf_dir, f"{table}_json", write, tuple(columns))


#: Hard cap on the driver-side blob-fixture collect. The export exists
#: to build a small binaryFile fixture; at a scale factor where the
#: modulus-sample exceeds this, collecting to the driver is the wrong
#: tool (use a distributed write instead) — fail loudly, don't OOM.
BLOB_EXPORT_ROW_CAP = 10_000


def export_text_blobs(
    spark: SparkSession,
    sf_dir: str,
    modulus: int = 50,
    row_cap: int = BLOB_EXPORT_ROW_CAP,
) -> str:
    """Write a deterministic sample of ``documents`` as one UTF-8 file
    per doc (named ``<doc_id>.txt``) — the binaryFile fixture."""

    def write(path: str) -> None:
        # limit(cap+1) bounds the transfer BEFORE the collect; the
        # raise below means an over-cap sample never silently truncates.
        # NULL text ⇒ no blob file at all (round-12 NULL-payload
        # audit): a fetch-failure row has nothing to write — an empty
        # .txt would fabricate a 0-byte asset that never existed.
        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(f"doc_id % {modulus} = 0 AND text IS NOT NULL")
            .select("doc_id", "text")
            .limit(row_cap + 1)
            .collect()
        )
        if len(rows) > row_cap:
            raise ValueError(
                f"export_text_blobs: sample exceeds row_cap={row_cap} "
                f"(modulus={modulus}, sf_dir={sf_dir}); raise the modulus "
                "or use a distributed writer for this scale"
            )
        for r in rows:
            with open(os.path.join(path, f"{r['doc_id']}.txt"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    return export(spark, sf_dir, "doc_blobs", write, modulus, row_cap)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with explicit schema + RFC-quoting (no inference pass)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with explicit schema (no inference pass)."""
    return spark.read.schema(schema).json(path)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*.txt") -> DataFrame:
    """``binaryFile`` source: (path, modificationTime, length, content)
    — the multimodal ingestion path (SURVEY §2b multimodal columns).
    Filters on path are partition-pruned before content is read."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols, mode: str = "overwrite"
) -> str:
    """Partitioned parquet sink — the layout that makes partition
    pruning work downstream (SURVEY §4.2). Partition column choice is
    the caller's: low-cardinality, filter-aligned (date, type)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return path


def export_xml(spark: SparkSession, sf_dir: str, table: str, columns) -> str:
    """Deterministic XML export of selected fixture columns via Spark's
    built-in XML writer (first-class source/sink since Spark 4.0 — the
    spark-xml package merged upstream), one ``<row>`` element per
    record. Exercises the write direction; :func:`read_xml` the read."""

    def write(path: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*columns)
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "row")
            .option("rootTag", "rows")
            .save(path)
        )

    return export(spark, sf_dir, f"{table}_xml", write, tuple(columns))


def read_xml(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """XML scan with explicit schema + rowTag (no inference pass)."""
    return (
        spark.read.schema(schema).format("xml").option("rowTag", "row").load(path)
    )
