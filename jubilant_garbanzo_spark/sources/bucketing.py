"""Bucketed tables: shuffle-free co-located joins (SURVEY §4.2).

At 100 TB the single most expensive plan node is the pair of Exchanges
feeding a fact⋈fact sort-merge join. Bucketing both tables by the join
key into the same bucket count moves that shuffle to WRITE time, once,
and every subsequent join on that key is Exchange-free: Spark matches
bucket i of the left to bucket i of the right directly.

Locally the bucket count is small (8); on a cluster it is sized so one
bucket of the largest table fits an executor core's working set
(e.g. 100 TB / 4096 buckets ≈ 25 GB per bucket file set).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from jubilant_garbanzo_spark.catalog import scratch_dir, session_index


def write_bucketed(
    df: DataFrame, prefix: str, bucket_key: str, n_buckets: int = 8
) -> str:
    """Persist ``df`` as an external parquet table bucketed (and
    sorted) by ``bucket_key`` in a fresh :func:`scratch_dir`, and return
    the table's name: the directory's, unique per build because the
    session catalog is shared. Bucket metadata lives in the session
    catalog; ``saveAsTable`` is required — a bare ``parquet(path)``
    write discards bucket spec."""
    path = scratch_dir(df.sparkSession, prefix)
    table_name = os.path.basename(path)
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .format("parquet")
        .saveAsTable(table_name)
    )
    return table_name


def bucketed_fixture_pair(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """(lineitem, orders) both bucketed by order key — built once per
    session and fixture (:func:`session_index`) and reused; the write
    cost is the amortized shuffle."""

    def build() -> tuple[DataFrame, DataFrame]:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority", "o_orderdate"
        )
        li_name = write_bucketed(li, "li_bucketed_", "l_orderkey", n_buckets)
        o_name = write_bucketed(o, "orders_bucketed_", "o_orderkey", n_buckets)
        return spark.table(li_name), spark.table(o_name)

    return session_index(spark, sf_dir, "bucketed_pair", build, n_buckets)
