"""Streaming source + bounded-run harness.

``trigger(availableNow=True)`` runs the SAME streaming query the
production path would run continuously (``trigger(processingTime=
"5 seconds")`` like the reference's 5 s batches, ``main.scala:27``),
but terminates when the source is drained — which is what makes
streaming results oracle-checkable against batch SQL (SURVEY §5.2.3).
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jubilant_garbanzo_spark.catalog import session_index
from jubilant_garbanzo_spark.session import configure_runtime

#: Raw parquet schema for the events table; ``ts`` is filled in per
#: fixture layout (ns-epoch long under nanosAsLong, or a native
#: timestamp/timestamp_ntz — the driver has shipped both).
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_query_counter = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet.

    In production this is the kafka/rate source (reference: the
    twitter4j receiver, ``main.scala:41``); a file source with an
    explicit schema exercises the identical downstream graph. NOTE: the
    event-time column must stay TimestampType for watermarks, so
    streaming uses ``timestamp`` (UTC session) rather than ntz.

    The driver fixture has shipped ``ts`` as a ns-epoch long (read as
    bigint under nanosAsLong) AND as a native µs timestamp across
    rounds; the probe adapts to whichever physically arrived. Under a
    UTC session, casting ntz↔timestamp is value-preserving, so every
    branch yields identical event times.
    """
    configure_runtime(spark)
    # The file source wants a directory; pathGlobFilter selects just the
    # events table out of the shared sf dir. Probe the batch reader for
    # the physical ts layout (mirrors catalog.load_table's guard —
    # dividing a valid timestamp by 1000 would silently corrupt event
    # time, so each branch is pinned to the observed dtype). The probe
    # is one driver-side footer read, deterministic per fixture dir
    # contents — registered (catalog.session_index) so the ~25
    # streaming queries (stream-stream joins call this twice each)
    # don't re-pay it per invocation. None (no ts column) is a
    # legitimate registered value.
    path = f"{sf_dir}/events.parquet"
    ts_dtype = session_index(
        spark,
        sf_dir,
        "events_ts_dtype",
        lambda: dict(spark.read.parquet(path).dtypes).get("ts"),
    )
    if ts_dtype == "bigint":
        ts_type: T.DataType = T.LongType()
        normalize = F.timestamp_micros(F.expr("ts DIV 1000"))
    elif ts_dtype == "timestamp_ntz":
        ts_type = T.TimestampNTZType()
        normalize = F.col("ts").cast("timestamp")
    elif ts_dtype == "timestamp":
        ts_type = T.TimestampType()
        normalize = F.col("ts")
    else:
        raise NotImplementedError(
            f"events.ts arrived as {ts_dtype!r}; teach read_events_stream "
            "this layout before trusting event-time results"
        )
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", normalize)


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    name_prefix: str = "stream_result",
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    Returns the sink table as a (batch) DataFrame. The memory sink is
    the test/driver surface; production writes swap in parquet/kafka
    sinks with the same query graph (reference analog: the console
    ``foreachRDD`` printer, ``main.scala:51-55``).
    """
    spark = df.sparkSession
    name = f"{name_prefix}_{next(_query_counter)}"
    # The rows live in the memory sink, so the checkpoint goes once the
    # query has terminated, drained or failed.
    with tempfile.TemporaryDirectory(
        prefix=f"jg_ckpt_{name}_", ignore_cleanup_errors=True
    ) as checkpoint:
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def run_foreach_batch(
    df: DataFrame,
    batch_fn,
    name_prefix: str = "stream_feb",
    output_mode: str = "append",
) -> None:
    """Run a streaming DataFrame through ``foreachBatch`` to drain.

    ``batch_fn(batch_df, batch_id)`` is the per-micro-batch escape
    hatch — the Structured Streaming twin of the reference's
    ``foreachRDD`` (``main.scala:51``).
    """
    name = f"{name_prefix}_{next(_query_counter)}"
    with tempfile.TemporaryDirectory(
        prefix=f"jg_ckpt_{name}_", ignore_cleanup_errors=True
    ) as checkpoint:
        query = (
            df.writeStream.foreachBatch(batch_fn)
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def read_socket_lines(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 9999,
    include_timestamp: bool = False,
) -> DataFrame:
    """Live NETWORK stream of text lines — the closest built-in analog
    of the reference's receiver-based ingestion
    (``TwitterUtils.createStream``, ``main.scala:41``): a long-lived
    TCP connection pushing records into micro-batches. One ``value``
    string column per line.

    The socket source is at-most-once (no replay) — fine for the
    trending demo, NOT for production pipelines; the kafka source
    (same ``readStream.format(...)`` seam, exactly-once with
    checkpoints) replaces it there. Exercised end-to-end against an
    in-process TCP server in tests/test_streaming.py.
    """
    configure_runtime(spark)
    reader = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
    )
    if include_timestamp:
        # Arrival-time column for processing-time windowing — the
        # socket-source analog of the reference's batch-interval clock.
        reader = reader.option("includeTimestamp", "true")
    return reader.load()


def read_rate_stream(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """``rate`` source: (timestamp, value) rows generated at a fixed
    rate — the load-generator twin of the reference's live receiver
    (``main.scala:41``) for latency/throughput testing without an
    external feed. In production the same slot is filled by the kafka
    source (``format("kafka")``; not installable in this container, so
    it is exercised only through this identical-API seam)."""
    configure_runtime(spark)
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
