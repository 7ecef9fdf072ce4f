"""The reference application, rebuilt: continuous trending top-K.

Reference (``tweet-streamer/src/main/scala/main.scala:41-58``): every
5 s, print the top-10 hashtags of the trailing 10 s. This module is the
Structured Streaming equivalent with the documented upgrades (event
time + watermark instead of arrival time; incremental state instead of
full-window recompute; top-K instead of full sort).

Run the demo: ``python -m jubilant_garbanzo_spark.streaming.trending``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.streaming.runner import read_events_stream


def trending_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "10 seconds",
    slide: str = "5 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming (window, event_type) counts — R2→R5 of the reference.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and evicted, so state size is O(active
    windows), not O(stream length) — the property the reference's
    non-incremental ``reduceByKeyAndWindow`` (``main.scala:47``) lacks.
    """
    stream = read_events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )


def hashtag_counts(lines: DataFrame) -> DataFrame:
    """The reference's literal R2→R4+R9 over a LIVE line stream:
    tokenize on single spaces (``main.scala:45``), keep ``#``-prefixed
    tokens (``main.scala:46``), running count per tag — the same graph
    ``text_prefix_token_trending`` proves in batch, here fed by a real
    network source (``read_socket_lines``)."""
    return (
        lines.select(F.explode(F.split("value", " ")).alias("tag"))
        .filter(F.col("tag").startswith("#"))
        .groupBy("tag")
        .agg(F.count("*").alias("cnt"))
    )


def hashtag_windowed_counts(
    lines: DataFrame,
    window: str = "10 seconds",
    slide: str = "5 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """The reference's FULL graph R2→R5 over a live line stream: split
    on single spaces (``main.scala:45``), keep ``#``-prefixed tokens
    (``main.scala:46``), count per (10 s window sliding 5 s, tag)
    (``reduceByKeyAndWindow(_+_, Seconds(10), Seconds(5))``,
    ``main.scala:47``). Expects the socket source's arrival-time
    ``timestamp`` column (``includeTimestamp=true``) — the honest
    analog of the reference's processing-time windows."""
    tags = lines.select(
        F.col("timestamp").alias("ts"),
        F.explode(F.split("value", " ")).alias("tag"),
    ).filter(F.col("tag").startswith("#"))
    return (
        tags.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "tag")
        .agg(F.count("*").alias("cnt"))
    )


def print_top_k(batch_df: DataFrame, batch_id: int, k: int = 10) -> None:
    """Per-trigger console output — the ``foreachRDD`` printer
    (``main.scala:51-55``) reproduced: header with total distinct
    entries, then the top-K rows.

    The batch frame is persisted around its two actions: it is backed by
    the trigger's stateful plan, which each action would otherwise
    re-run."""
    batch_df.persist()
    try:
        top = (
            batch_df.select(
                F.date_format(F.col("w.start"), "HH:mm:ss").alias("w_start"),
                "event_type",
                "cnt",
            )
            .orderBy(F.desc("cnt"), F.asc("w_start"), F.asc("event_type"))
            .limit(k)
            .collect()
        )
        total = batch_df.count()
    finally:
        batch_df.unpersist()
    print(f"\nTotal (window, type) cells: {total} (batch {batch_id})")
    for row in top:
        print(f"  [{row['w_start']}] {row['event_type']}: {row['cnt']}")


def run_console_demo(
    spark: SparkSession,
    sf_dir: str,
    trigger_seconds: int = 5,
    timeout_seconds: int | None = 30,
) -> None:
    """Continuous mode: 5 s trigger like the reference's 5 s batch
    interval (``main.scala:27``); complete output so every trigger sees
    the current window table."""
    import tempfile

    counts = trending_counts(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="jg_trending_", ignore_cleanup_errors=True
    ) as checkpoint:
        query = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: print_top_k(df, bid))
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
        if timeout_seconds is None:
            query.awaitTermination()  # block forever, like main.scala:58
        else:
            query.awaitTermination(timeout_seconds)
            query.stop()


if __name__ == "__main__":
    import os

    from jubilant_garbanzo_spark.session import get_spark

    run_console_demo(
        get_spark("trending-demo"),
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
