"""Streaming operators + the flagship trending pipeline (SURVEY.md §2a).

The reference's whole program is one streaming query: filter tweets →
tokenize hashtags → count per sliding 10s/5s window → top-10
(``main.scala:41-55``). Here it exists twice:

- ``trending_topk`` — the *batch twin* on the bounded ``events`` table
  (SURVEY §7 Phase 1 flagship), oracle-checked against DuckDB;
- real Structured Streaming forms in
  :mod:`jubilant_garbanzo_spark.streaming`, run with
  ``trigger(availableNow=True)`` into memory sinks and checked against
  the same batch SQL (SURVEY §5.2.3 streaming equivalence).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table, scratch_dir
from jubilant_garbanzo_spark.functions.hashing import md5_hex_bigint
from jubilant_garbanzo_spark.queries import register

#: Oracle twin of a Spark sliding window: a record at time t belongs to
#: every window whose start lies in (t - length, t], aligned to the
#: slide. For length=2*slide that is exactly two windows.
_SLIDING_ORACLE = """
    WITH assigned AS (
        SELECT event_type, value,
               make_timestamp((epoch_us(ts) // 5000000) * 5000000) AS w0,
               make_timestamp((epoch_us(ts) // 5000000) * 5000000
                              - 5000000) AS w1
        FROM events
    ), exploded AS (
        SELECT event_type, value, w0 AS window_start FROM assigned
        UNION ALL
        SELECT event_type, value, w1 AS window_start FROM assigned
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS cnt
    FROM exploded
    GROUP BY 1, 2
"""


def sliding_counts(spark, sf_dir):
    """Shared body: event counts per (10s window sliding 5s, event_type).

    Spark's ``window()`` does the window-set assignment natively; the
    oracle replicates it with the two-bucket union above.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 seconds", "5 seconds").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "cnt",
        )
    )


@register(
    "sliding_window_counts",
    oracle=_SLIDING_ORACLE,
    tags=("streaming-twin", "window-agg"),
)
def sliding_window_counts(spark, sf_dir):
    """R5's exact semantics (10s window / 5s slide,
    ``reduceByKeyAndWindow(_+_, Seconds(10))`` at ``main.scala:47``) in
    event time over the bounded events table."""
    return sliding_counts(spark, sf_dir)


@register(
    "trending_topk",
    oracle=f"""
        WITH counts AS ({_SLIDING_ORACLE})
        SELECT window_start, event_type, cnt
        FROM counts
        ORDER BY cnt DESC, window_start ASC, event_type ASC
        LIMIT 10
    """,
    tags=("flagship", "streaming-twin", "topk"),
)
def trending_topk(spark, sf_dir):
    """FLAGSHIP: the reference pipeline R2→R3→R5→R7→R8 as one batch
    query — top-10 busiest (window, event_type) cells, the analog of
    "top-10 trending hashtags of the last 10 seconds" printed by
    ``main.scala:51-55``.

    Scale notes: the groupBy is a partial+final hash aggregate (map-side
    combine before the single shuffle); orderBy+limit compiles to
    ``TakeOrderedAndProject`` — a true distributed top-K, unlike the
    reference's full range-partition sort followed by ``take(10)``
    (``main.scala:49,52``).
    """
    counts = sliding_counts(spark, sf_dir)
    return counts.orderBy(
        F.desc("cnt"), F.asc("window_start"), F.asc("event_type")
    ).limit(10)


# ---------------------------------------------------------------------------
# Real Structured Streaming queries (bounded by availableNow; memory sink).
# Each runs the actual streaming engine — state store, incremental
# windows — and is oracle-checked against batch SQL over the same rows.
# ---------------------------------------------------------------------------

from jubilant_garbanzo_spark.streaming.runner import (  # noqa: E402
    read_events_stream,
    run_available_now,
    run_foreach_batch,
)


@register(
    "stream_tumbling_window",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS cnt,
               CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
                   / 1000000.0 AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "window-agg"),
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1 h event-time windows on a LIVE streaming query
    (readStream → window agg → availableNow → memory sink). Complete
    output mode keeps every window so the result equals batch SQL."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            (
                F.sum(F.round(F.col("value") * 1000000.0).cast("bigint"))
                / 1000000.0
            ).alias("sum_value"),
        )
    )
    out = run_available_now(agg, output_mode="complete", name_prefix="tumbling")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
        "sum_value",
    )


@register(
    "stream_sliding_window",
    oracle=_SLIDING_ORACLE,
    tags=("streaming", "window-agg"),
)
def stream_sliding_window(spark, sf_dir):
    """R5's true form (``reduceByKeyAndWindow(_+_, Seconds(10))``,
    ``main.scala:47``) as LIVE streaming: 10 s windows sliding 5 s in
    event time — strictly stronger than the reference, which windows by
    arrival batch and silently miscounts late data."""
    s = read_events_stream(spark, sf_dir)
    # Round 15, measured and KEPT AS IS: the micro-batch's map side
    # (scan → window expansion → partial count) runs as ONE task on the
    # single-row-group fixture, but a footer-gated pre-agg
    # repartition (the fan_out_scan recipe) read 0.80x/0.92x across
    # two interleaved A/Bs — the per-row work is too cheap to amortize
    # an extra full-row shuffle, same loser class as the blanket
    # fan-out A/B's text_term_frequency column.
    agg = s.groupBy(
        F.window("ts", "10 seconds", "5 seconds").alias("w"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    out = run_available_now(agg, output_mode="complete", name_prefix="sliding")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
    )


@register(
    "stream_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), sess AS (
            -- ORDER BY must repeat the (ts, event_id) total order of the
            -- flagged window: with ts alone, a tie row at a session
            -- boundary could be assigned the previous session's sid.
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE,
                        '%Y-%m-%d %H:%M:%S.%f')          AS session_end,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
    tags=("streaming", "session-window"),
)
def stream_session_window(spark, sf_dir):
    """Dynamic-gap session windows (30 min inactivity) per user on the
    live streaming engine; oracle is the classic gaps-and-islands SQL.
    Session end = last event + gap (Spark's definition)."""
    s = read_events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = run_available_now(agg, output_mode="complete", name_prefix="session")
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "stream_dedup",
    oracle="""
        SELECT event_type, count(*) AS n_unique
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup(spark, sf_dir):
    """Streaming dedup: the stream unioned with itself (every event
    duplicated) then ``dropDuplicates(event_id)`` — counts must equal
    the plain batch counts, proving the state-store dedup dropped all
    duplicates."""
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = s1.unionByName(s2).dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_available_now(agg, output_mode="complete", name_prefix="dedup")


@register(
    "stream_novelty_registry",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, ts, event_id,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id, event_type) AS n
            FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
               event_id AS first_event_id,
               CAST(n AS BIGINT) AS n_occurrences
        FROM ranked WHERE rn = 1
    """,
    tags=("streaming", "novelty", "stateful"),
)
def stream_novelty_registry(spark, sf_dir):
    """Streaming FIRST-SEEN registry — the online twin of
    `text_ngram_novelty`: per (user_id, event_type) key, the exact
    first event (min by (ts, event_id) — a total order, so the pick is
    deterministic under any micro-batch arrival order) and the running
    occurrence count. This is the state a streaming novelty-rate /
    duplicate-rate monitor maintains: a key's later events are
    recognized as repeats by the registry, and novel-per-window rates
    derive downstream from `first_ts`.

    Engineering: windows are not allowed on streaming frames, so the
    argmin is a `min(struct(ts, event_id))` AGGREGATE — order-
    insensitive and mergeable across micro-batches, which is exactly
    why the arbitrary-arrival determinism holds. Complete mode; state
    is one row per distinct key (bounded by the key domain, the same
    contract as any streaming dedup)."""
    # ts IS NOT NULL on both sides: a null ts would sort FIRST in
    # Spark's struct-min but LAST under DuckDB's default NULLS LAST —
    # fixtures carry no null ts, but the guard removes the latent
    # cross-engine divergence (ADVICE-r9 class of bug).
    s = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = s.groupBy("user_id", "event_type").agg(
        F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("first"),
        F.count("*").cast("bigint").alias("n_occurrences"),
    )
    out = run_available_now(agg, output_mode="complete", name_prefix="novreg")
    return out.select(
        "user_id",
        "event_type",
        F.date_format(F.col("first.ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_ts"
        ),
        F.col("first.event_id").alias("first_event_id"),
        "n_occurrences",
    )


@register(
    "stream_static_join",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               count(*) AS n_purchases,
               CAST(sum(CAST(round(e.value * 1000000.0) AS BIGINT)) AS BIGINT)
                   / 1000000.0 AS total_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
        GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark, sf_dir):
    """Stream ⋈ static dimension: purchases enriched with the customer
    dim (broadcast — the static side is re-read per micro-batch, so at
    scale it must be broadcast-sized or a slowly-changing cached dim)."""
    s = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    joined = s.join(c, s.user_id == c.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_purchases"),
        (
            F.sum(F.round(F.col("value") * 1000000.0).cast("bigint")) / 1000000.0
        ).alias("total_value"),
    )
    return run_available_now(agg, output_mode="complete", name_prefix="sjoin")


@register(
    "stream_stream_join",
    oracle="""
        SELECT a.user_id,
               a.event_id AS click_id,
               b.event_id AS purchase_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click'
         AND b.event_type = 'purchase'
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stream-stream"),
)
def stream_stream_join(spark, sf_dir):
    """STREAM ⋈ STREAM inner join with an event-time interval bound:
    clicks matched to same-user purchases within the next 30 minutes.
    Both sides carry watermarks, and the time constraint lives in the
    JOIN CONDITION — that pair is what lets the state store evict rows
    older than (watermark − interval), keeping state bounded on an
    unbounded stream (the property a naive cache-both-sides join
    lacks). Draining with availableNow must reproduce the exact batch
    join — every match emitted once, none lost at batch boundaries."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    return run_available_now(joined, output_mode="append", name_prefix="ssjoin")


@register(
    "stream_foreachbatch",
    oracle="""
        SELECT event_type, count(*) AS cnt
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "sink"),
)
def stream_foreachbatch(spark, sf_dir):
    """foreachBatch custom sink (the Structured Streaming twin of the
    reference's ``foreachRDD`` console printer, ``main.scala:51-55``):
    each micro-batch APPENDS its partial GROUP BY to a parquet side
    table and the final answer is a distributed re-aggregation of the
    partials — the merge never touches the driver (round-6 fix of the
    adjudicated driver-dict pattern), so it holds for unbounded
    keyspaces, exactly the 100 TB shape where foreachBatch feeds a
    warehouse table that a batch job folds."""
    partials_dir = scratch_dir(spark, "feb_partials_")

    def merge_batch(batch_df, batch_id):
        batch_df.groupBy("event_type").count().write.mode("append").parquet(
            partials_dir
        )

    s = read_events_stream(spark, sf_dir)
    run_foreach_batch(s, merge_batch, name_prefix="feb")
    return (
        spark.read.parquet(partials_dir)
        .groupBy("event_type")
        .agg(F.sum("count").cast("long").alias("cnt"))
    )


@register(
    "stream_watermark_append",
    # Under availableNow over bounded data the FINAL watermark is
    # deterministic — max(ts) − delay — so the append-mode emitted set
    # is exactly the windows with window_end ≤ watermark (boundary
    # inclusive: a window whose end EQUALS the final watermark is
    # emitted, pinned by an explicit two-row probe; Spark's eviction
    # predicate is `end <= watermark`). The no-data micro-batch that
    # availableNow runs after the last data batch is what flushes
    # those windows.
    oracle="""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        agg AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
                   event_type, count(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, cnt
        FROM agg, wm
        WHERE ws + INTERVAL 1 HOUR <= w
    """,
    tags=("streaming", "watermark"),
)
def stream_watermark_append(spark, sf_dir):
    """Append-mode windowed counts with a 1 h watermark: only windows
    the watermark has passed are emitted (the tail stays in state).
    This is the late-data-drop semantics the reference lacks entirely
    (processing-time windows, SURVEY §2a). Full oracle: the final
    availableNow watermark is deterministic (max(ts) − 1 h), so the
    emitted window set is batch-SQL-expressible; late-row behavior is
    additionally unit-tested in tests/test_streaming.py."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_available_now(agg, output_mode="append", name_prefix="wm")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
    )


@register(
    "stream_stateful_running_count",
    oracle="""
        SELECT user_id, count(*) AS n_events
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_stateful_running_count(spark, sf_dir):
    """Arbitrary stateful op (``applyInPandasWithState``): per-user
    running event counters in the state store, emitted each micro-batch
    in update mode. After draining the bounded source, the LAST emission
    per user must equal batch ``GROUP BY user_id`` — incremental state
    converging to the batch answer is exactly the guarantee the
    reference's ``reduceByKeyAndWindow`` (``main.scala:47``) never had
    across restarts."""
    from jubilant_garbanzo_spark.streaming.stateful import running_count_per_user

    # Per-batch updates land in a parquet sink tagged with batch_id —
    # a DISTRIBUTED append, never a driver collect (round 1 collected
    # every per-user row per micro-batch: a driver OOM at 100 TB of
    # events). "Last emission per user" is then a window over the sink.
    out = scratch_dir(spark, "state_sink_")

    def append_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    s = read_events_stream(spark, sf_dir)
    run_foreach_batch(
        running_count_per_user(s),
        append_batch,
        name_prefix="state",
        output_mode="update",
    )
    back = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        back.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events")
    )


@register(
    "stream_parquet_sink",
    oracle="""
        SELECT event_type, count(*) AS cnt
        FROM events
        WHERE value > 50
        GROUP BY event_type
    """,
    tags=("streaming", "sink", "parquet"),
)
def stream_parquet_sink(spark, sf_dir):
    """File sink: a filtered stream appended to parquet (exactly-once
    via the sink's transaction log + checkpoint), then read back as a
    batch table — the durable-landing-zone pattern that replaces the
    reference's console printer for production. Aggregating the
    read-back copy must match batch SQL over the source."""
    import os

    from jubilant_garbanzo_spark.streaming.runner import read_events_stream

    out = scratch_dir(spark, "stream_pq_")
    s = read_events_stream(spark, sf_dir).filter(F.col("value") > 50)
    q = (
        s.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(out, "_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.schema(s.schema).parquet(out)
    return back.groupBy("event_type").agg(F.count("*").alias("cnt"))


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Streaming key dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per (user_id,
    event_type) among events arriving within the watermark delay of
    each other, and — unlike plain streaming dropDuplicates — evicts
    key state once the watermark passes, which is what makes infinite
    streams feasible (plain dedup state grows without bound).

    Oracle eligibility: the delay (400 days) exceeds the fixture's
    whole span, so no state is ever evicted and the emitted key set
    equals batch DISTINCT exactly. WHICH physical row is kept within a
    batch is engine-scheduling-dependent, so only the key columns are
    emitted — the deterministic part of the contract, checked
    end-to-end through the real state store.

    Scale shape: state is one entry per in-horizon key, shuffled on
    the dedup key; at 100 TB the delay IS the knob trading state size
    against dedup horizon — set it to the out-of-orderness bound, not
    the stream length."""
    from jubilant_garbanzo_spark.streaming.runner import (
        read_events_stream,
        run_available_now,
    )

    s = read_events_stream(spark, sf_dir).withWatermark("ts", "400 days")
    dedup = s.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = run_available_now(dedup, output_mode="append", name_prefix="dwm")
    return out.select("user_id", "event_type")


@register(
    "stream_stream_left_outer",
    # Outer-null emission is watermark-gated: an unmatched click emits
    # (click, NULL) only after the global watermark passes the end of
    # its 30-minute match window, evicting its state. Under
    # availableNow the FINAL watermark is deterministic —
    # min(max click ts, max purchase ts) − 1 h (two watermarked
    # inputs, default "min" multipleWatermarkPolicy) — and the
    # closing no-data micro-batch flushes every evictable row, so the
    # emitted set is batch-SQL-expressible. Clicks whose window the
    # watermark has NOT passed stay in state and must not appear.
    oracle="""
        WITH c AS (
            SELECT user_id, event_id AS click_id, ts
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, event_id AS purchase_id, ts
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT c.user_id, c.click_id, p.purchase_id
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        UNION ALL
        SELECT c.user_id, c.click_id, NULL AS purchase_id
        FROM c, wm
        WHERE c.ts + INTERVAL 30 MINUTE < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
          )
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_left_outer(spark, sf_dir):
    """STREAM ⟕ STREAM left-outer interval join: every click paired
    with same-user purchases in the next 30 minutes, or with NULL once
    the watermark proves no purchase can still arrive — the semantics
    that make outer joins feasible on unbounded streams (emit-on-
    eviction instead of emit-at-end-of-data, state bounded by
    watermark − interval).

    Full oracle via the deterministic final watermark (see the inner
    stream_stream_join and stream_watermark_append for the two halves
    of this machinery); matched pairs must equal the batch interval
    join and null rows exactly the watermark-expired unmatched
    clicks."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    return run_available_now(joined, output_mode="append", name_prefix="sslo")


@register(
    "stream_stream_full_outer",
    # Completes the streaming join matrix (inner: stream_stream_join,
    # left-outer: stream_stream_left_outer). Null emission is
    # watermark-gated PER SIDE, each with its own eviction bound
    # derived from the interval condition: an unmatched CLICK emits
    # (click, NULL) once the watermark passes click_ts + 30 min (no
    # in-window purchase can still arrive); an unmatched PURCHASE
    # emits (NULL, purchase) once the watermark passes purchase_ts
    # (any matching click has click_ts <= purchase_ts, and a future
    # click below the watermark would be dropped as late). Both bounds
    # are STRICT (<) — pinned empirically by
    # tests/test_streaming.py::test_full_outer_eviction_boundaries.
    # Under availableNow the final watermark is deterministic —
    # min(max click ts, max purchase ts) − 1 h — so the emitted set is
    # batch-SQL-expressible.
    oracle="""
        WITH c AS (
            SELECT user_id, event_id AS click_id, ts
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, event_id AS purchase_id, ts
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT c.user_id, c.click_id, p.purchase_id
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        UNION ALL
        SELECT c.user_id, c.click_id, NULL AS purchase_id
        FROM c, wm
        WHERE c.ts + INTERVAL 30 MINUTE < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
          )
        UNION ALL
        SELECT p.user_id, NULL AS click_id, p.purchase_id
        FROM p, wm
        WHERE p.ts < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
          )
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_full_outer(spark, sf_dir):
    """STREAM ⟗ STREAM full-outer interval join — the last cell of the
    streaming join matrix. Same state machinery as the inner/left
    variants (watermarks on both inputs + the time bound inside the
    join condition keep state finite); what full-outer adds is
    BIDIRECTIONAL emit-on-eviction, so both sides' unmatched rows
    surface exactly once, each when its own watermark bound expires.
    At 100 TB this is the reconciliation shape — two event firehoses
    (orders vs payments, sends vs acks) joined with neither side
    allowed to silently drop."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "fullOuter",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
    )
    return run_available_now(joined, output_mode="append", name_prefix="ssfo")


from jubilant_garbanzo_spark.queries.aggregates import (  # noqa: E402
    _CMS_DEPTH,
    _cms_bucket_spark,
    _cms_bucket_sql,
)


@register(
    "stream_countmin_topk",
    # Full oracle for a STREAMING sketch: integer cell merge is
    # associative, so the sketch accumulated across micro-batches is
    # bit-identical to the one-shot batch sketch DuckDB builds —
    # regardless of how availableNow split the batches.
    oracle=f"""
        WITH keyed AS (SELECT user_id AS key FROM events),
        depths AS (SELECT unnest(range(0, {_CMS_DEPTH})) AS depth),
        sketch AS (
            SELECT depth,
                   {_cms_bucket_sql('depth', 'key')} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM keyed CROSS JOIN depths
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT key, CAST(count(*) AS BIGINT) AS exact
            FROM keyed GROUP BY key
        )
        SELECT c.key, min(s.cnt) AS est, c.exact,
               min(s.cnt) >= c.exact AS guarantee_ok
        FROM cand c
        CROSS JOIN depths d
        JOIN sketch s
          ON s.depth = d.depth
         AND s.bucket = {_cms_bucket_sql('d.depth', 'c.key')}
        GROUP BY c.key, c.exact
        ORDER BY est DESC, key ASC
        LIMIT 10
    """,
    tags=("streaming", "sketch", "count-min", "heavy-hitters"),
)
def stream_countmin_topk(spark, sf_dir):
    """Streaming heavy hitters via mergeable Count-Min sketches: each
    micro-batch reduces to a 4x128 integer cell grid (map-side
    aggregate, ≤512 rows), foreachBatch merges grids by cellwise sum,
    and the final sketch answers top-10 users by estimated event
    count — the unbounded-stream frequency pattern where per-key exact
    state would grow without limit but sketch state is CONSTANT.

    This is the reference's trending top-K (main.scala:47-52) rebuilt
    on sketch state: same output shape, but the state is O(d·w)
    independent of key cardinality. Each micro-batch APPENDS its
    ≤512-cell grid to a parquet side table; the final sketch is a
    distributed cellwise-sum groupBy over the partials (round-6 fix:
    the merge no longer passes through a driver dict — the same
    per-batch-sketch-parquet + fold shape this docstring always
    claimed for 100 TB). Exact counts are joined in ONLY to audit the
    estimate at test scale (guarantee_ok pins est >= exact).
    """
    partials_dir = scratch_dir(spark, "cms_partials_")

    def merge_batch(batch_df, batch_id):
        depths = F.explode(
            F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))
        ).alias("depth")
        (
            batch_df.select(F.col("user_id").alias("key"))
            .select("key", depths)
            .withColumn("bucket", _cms_bucket_spark(F.col("depth"), F.col("key")))
            .groupBy("depth", "bucket")
            .count()
            .write.mode("append")
            .parquet(partials_dir)
        )

    s = read_events_stream(spark, sf_dir)
    run_foreach_batch(s, merge_batch, name_prefix="cms")

    sketch = (
        spark.read.parquet(partials_dir)
        .groupBy("depth", "bucket")
        .agg(F.sum("count").cast("long").alias("cnt"))
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").cast("bigint").alias("exact"))
    )
    depths = F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("depth")
    probes = exact.select("key", "exact", depths).withColumn(
        "bucket", _cms_bucket_spark(F.col("depth"), F.col("key"))
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("key", "exact")
        .agg(F.min("cnt").alias("est"))
        .select(
            "key",
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("guarantee_ok"),
        )
        .orderBy(F.desc("est"), F.asc("key"))
        .limit(10)
    )


@register(
    "stream_session_dynamic_gap",
    # Same gaps-and-islands convention as stream_session_window's
    # oracle, generalized: the session's running end is the MAX of
    # (ts_j + gap_j) over prior members (a plain lag suffices only for
    # constant gaps), and an event starts a new session iff its ts is
    # strictly past that running end.
    oracle="""
        WITH g AS (
            SELECT user_id, ts, event_id,
                   ts + CASE WHEN event_type = 'error'
                             THEN INTERVAL 5 MINUTE
                             ELSE INTERVAL 30 MINUTE END AS ev_end
            FROM events
        ), flagged AS (
            SELECT user_id, ts, event_id, ev_end,
                   CASE WHEN max(ev_end) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                          OR ts > max(ev_end) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_sess
            FROM g
        ), sess AS (
            SELECT user_id, ts, ev_end,
                   sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM flagged
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(max(ev_end), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
    tags=("streaming", "session-window", "dynamic-gap"),
)
def stream_session_dynamic_gap(spark, sf_dir):
    """TRUE dynamic-gap session windows on the live streaming engine:
    the inactivity gap is a per-event EXPRESSION (5 min after an
    error, 30 min otherwise — errors close sessions fast), the
    capability `session_window` gains over a constant gap. Sessions
    are merged unions of per-event [ts, ts+gap) intervals, so the
    batch twin needs a running MAX of event ends, not a lag — the
    generalized gaps-and-islands.

    Scale shape: identical to fixed-gap sessionization — one
    user-keyed shuffle into the session-window state store; gap
    evaluation is a row-local expression with zero extra state.
    """
    s = read_events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = s.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = run_available_now(agg, output_mode="complete", name_prefix="dynsession")
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "stream_chained_agg",
    oracle="""
        WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        w10 AS (
            SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w10s,
                   event_type, count(*) AS cnt10
            FROM events GROUP BY 1, 2
        ), wh AS (
            SELECT time_bucket(INTERVAL 1 HOUR, w10s) AS whs, event_type,
                   CAST(sum(cnt10) AS BIGINT) AS total,
                   CAST(max(cnt10) AS BIGINT) AS peak,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM w10 GROUP BY 1, 2
        )
        SELECT strftime(whs, '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type, total, peak, n_windows
        FROM wh, wm
        WHERE whs + INTERVAL 1 HOUR <= w
    """,
    tags=("streaming", "window-agg", "chained-stateful"),
)
def stream_chained_agg(spark, sf_dir):
    """TWO stateful aggregations chained in ONE streaming query —
    10-minute tumbling counts re-aggregated into hourly totals /
    peak / window counts — the multi-stateful-operator pipeline
    (Spark 3.4+/4.x) that previously required two queries glued by an
    intermediate sink.

    ``window_time()`` turns the first aggregate's window into an
    event-time column (window.end − 1 µs) so the second ``window()``
    can legally re-window it under the SAME watermark; append mode
    emits an hourly row once the watermark (max event time − 10 min,
    deterministic under availableNow) passes the hour's end. The
    oracle mirrors both layers in batch SQL and gates on that final
    watermark — pinned empirically: the streamed result equals the
    gated batch twin exactly (only the in-flight final hour is
    withheld).

    Scale shape: state is two window stores keyed by (window, type) —
    the first sized by active 10-min windows, the second by active
    hours; both prune on watermark advance. One shuffle per aggregate,
    each map-side-combined first. The single-query form also removes
    the intermediate sink's write-amplification and its at-least-once
    seam — exactly-once now spans BOTH layers from one checkpoint.
    """
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    w1 = s.groupBy(
        F.window("ts", "10 minutes").alias("w10"), "event_type"
    ).agg(F.count("*").alias("cnt10"))
    w2 = w1.groupBy(
        F.window(F.window_time("w10"), "1 hour").alias("wh"), "event_type"
    ).agg(
        F.sum("cnt10").cast("bigint").alias("total"),
        F.max("cnt10").cast("bigint").alias("peak"),
        F.count("*").cast("bigint").alias("n_windows"),
    )
    out = w2.select(
        F.date_format("wh.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "total",
        "peak",
        "n_windows",
    )
    return run_available_now(out, output_mode="append")


@register(
    "stream_session_ttl",
    oracle="""
        WITH wm AS (
            SELECT epoch_us(max(ts)) // 1000 - 60000 AS w_ms FROM events
        ), pts AS (
            SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events
        ), flagged AS (
            SELECT user_id, ms,
                   CASE WHEN ms - lag(ms) OVER (
                            PARTITION BY user_id ORDER BY ms
                        ) > 1800000 OR lag(ms) OVER (
                            PARTITION BY user_id ORDER BY ms
                        ) IS NULL THEN 1 ELSE 0 END AS new_sess
            FROM pts
        ), islands AS (
            SELECT user_id, ms,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ms
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sess
            FROM flagged
        ), sessions AS (
            SELECT user_id, sess,
                   CAST(min(ms) AS BIGINT) AS session_start_ms,
                   CAST(count(*) AS BIGINT) AS n_events,
                   max(ms) AS last_ms,
                   max(sess) OVER (PARTITION BY user_id) AS max_sess
            FROM islands GROUP BY user_id, sess
        )
        SELECT user_id, session_start_ms, n_events,
               CASE WHEN sess < max_sess THEN 'gap' ELSE 'timeout' END
                   AS closed_by
        FROM sessions, wm
        -- STRICTLY greater (round-11 streaming review): Spark's
        -- EventTimeTimeout fires when the watermark advances BEYOND
        -- the set timestamp, so a watermark landing exactly on
        -- last + gap leaves the session open; '<=' here claimed a
        -- timeout row the engine never emits
        WHERE sess < max_sess OR last_ms + 1800000 < w_ms
    """,
    tags=("streaming", "stateful", "session", "ttl"),
)
def stream_session_ttl(spark, sf_dir):
    """Custom-operator sessionization with state TTL, FULLY oracled: a
    LIVE ``applyInPandasWithState`` query (event-time timeout) splits
    each user's stream into 30-min-gap sessions, emits gap-closed
    sessions as they happen and timeout-closes the final one when the
    watermark passes — and the whole emission set must hash-match the
    batch gaps-and-islands SQL gated on the deterministic availableNow
    final watermark.

    This is the strongest evidence tier for arbitrary stateful code:
    stream_stateful_running_count proved convergence of a lifetime
    counter; this proves a SESSION-SPLITTING state machine with
    removal-on-timeout emits exactly the sessions SQL says exist (the
    user's open-but-stale last session included, via the timeout path;
    the genuinely-open one excluded).

    Scale: state per user is one (n, start, last) triple — O(active
    users), not O(history); timeouts garbage-collect quiet keys. The
    Python hop is Arrow-batched per key group.
    """
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    from jubilant_garbanzo_spark.streaming.stateful import ttl_sessionize

    return run_available_now(
        ttl_sessionize(s), output_mode="append", name_prefix="sess_ttl"
    )


@register(
    "stream_attribution_last_touch",
    oracle="""
        WITH touches AS (
            SELECT event_id, user_id, ts, event_type
            FROM events WHERE event_type IN ('click', 'view')
        ), purchases AS (
            SELECT event_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT p.event_id AS purchase_id, p.user_id,
                   p.ts AS pts, t.event_id AS touch_event_id,
                   t.event_type AS touch_type, t.ts AS tts,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY t.ts DESC, t.event_id DESC
                   ) AS rn
            FROM purchases p
            JOIN touches t
              ON t.user_id = p.user_id
             AND (t.ts < p.ts
                  OR (t.ts = p.ts AND t.event_id < p.event_id))
             AND t.ts >= p.ts - INTERVAL 7 DAY
        )
        SELECT user_id, purchase_id,
               strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               touch_event_id, touch_type,
               CAST((epoch_us(pts) - epoch_us(tts)) // 1000000 AS BIGINT)
                   AS gap_seconds
        FROM ranked WHERE rn = 1
    """,
    tags=("streaming", "stateful", "pandas-udf", "attribution"),
)
def stream_attribution_last_touch(spark, sf_dir):
    """STREAMING last-touch attribution (custom stateful operator,
    ``applyInPandasWithState``): the user's latest marketing touch
    lives in the state store; each purchase emits its attribution in
    the micro-batch it arrives — conversion-time attribution instead
    of the nightly batch window. FULLY oracled against the identical
    batch semantics (the event_attribution_last_touch rank-over-join):
    after draining the bounded source, the streamed emission set must
    hash-match the batch answer row-for-row — stream/batch parity for
    a state machine with ordering-sensitive tie semantics ((ts,
    event_id) lexicographic "before", the repo-wide tiebreak).

    Scale: state is ONE struct per active user (not history); the
    production deployment adds an event-time TTL at the 7-day lookback
    (the ttl_sessionize pattern). Arrow-batched per key group, no
    driver state.
    """
    s = read_events_stream(spark, sf_dir)
    from jubilant_garbanzo_spark.streaming.stateful import attribute_last_touch

    out = run_available_now(
        attribute_last_touch(s), output_mode="append", name_prefix="attr"
    )
    return out.select(
        "user_id",
        "purchase_id",
        F.date_format(
            F.timestamp_micros(F.col("purchase_ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("purchase_ts"),
        "touch_event_id",
        "touch_type",
        "gap_seconds",
    )


#: KMV sketch size (bottom-k of a uniform hash). 32 keeps the driver
#: row count tiny while the (k-1)/h_k estimator stays within ~18%
#: relative error — raise k for tighter bounds, the only knob.
_KMV_K = 32
#: md5 15-hex-digit hash domain (the repo's portable-hash idiom).
_KMV_DOMAIN = 16 ** 15


@register(
    "stream_kmv_bottomk",
    # Bottom-k under a uniform hash is a MERGEABLE sketch: the bottom-k
    # of a union is the bottom-k of the per-part bottom-k's, so the
    # per-micro-batch partials lose nothing and the final answer equals
    # the batch sketch over all events — fully value-checkable, like
    # the Count-Min twin (stream_countmin_topk).
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                       ::BIGINT AS h,
                   event_id
            FROM events
        ), bk AS (
            SELECT h, event_id,
                   row_number() OVER (ORDER BY h, event_id) AS rnk
            FROM h
        ), kth AS (
            SELECT h AS hk FROM bk WHERE rnk = {_KMV_K}
        )
        SELECT bk.rnk, bk.event_id, bk.h,
               round(({_KMV_K} - 1) * {_KMV_DOMAIN}.0 / NULLIF(kth.hk, 0), 6)
                   AS est_distinct
        FROM bk CROSS JOIN kth
        WHERE bk.rnk <= {_KMV_K}
        ORDER BY bk.rnk
    """,
    tags=("streaming", "sketch", "sampling"),
)
def stream_kmv_bottomk(spark, sf_dir):
    """STREAMING KMV (k-minimum-values / bottom-k) sketch over the
    event stream (Bar-Yossef et al. RANDOM'02 distinct-elements
    sketch): keep the k smallest md5 hashes of the key seen so far.
    One tiny structure is simultaneously (a) a uniform random sample
    of distinct keys (hash-order = random order — the reservoir
    equivalent that IS mergeable and partition-independent, unlike a
    true sequential reservoir) and (b) a distinct-count estimator,
    est = (k-1) * DOMAIN / h_(k).

    Streaming shape: each micro-batch appends its own bottom-k partial
    to a parquet side table via foreachBatch (constant state per
    batch, same as the Count-Min partials); the final answer re-sketches
    the union DISTRIBUTED — bottom-k is mergeable, so partial-then-
    merge equals the one-shot batch sketch exactly, which is what the
    oracle verifies value-for-value. At 100 TB: per-executor bottom-k
    partials, one k-row merge — the cheapest streaming cardinality
    monitor there is."""
    from pyspark.sql import Window as W

    partials_dir = scratch_dir(spark, "kmv_partials_")
    h = md5_hex_bigint(F.col("event_id").cast("string")).alias("h")

    def sketch_batch(batch_df, batch_id):
        (
            batch_df.select("event_id")
            .distinct()
            .select("event_id", h)
            .orderBy("h", "event_id")
            .limit(_KMV_K)
            .write.mode("append")
            .parquet(partials_dir)
        )

    s = read_events_stream(spark, sf_dir)
    run_foreach_batch(s, sketch_batch, name_prefix="kmv")

    merged = (
        spark.read.parquet(partials_dir)
        .distinct()  # duplicate keys across batches collapse
        .withColumn("rnk", F.row_number().over(W.orderBy("h", "event_id")))
        .filter(F.col("rnk") <= _KMV_K)
    )
    kth = merged.filter(F.col("rnk") == _KMV_K).select(
        F.col("h").alias("hk")
    )
    return (
        merged.crossJoin(F.broadcast(kth))
        .select(
            "rnk",
            "event_id",
            "h",
            F.round(
                F.lit(float(_KMV_K - 1))
                * F.lit(float(_KMV_DOMAIN))
                / F.col("hk"),
                6,
            ).alias("est_distinct"),
        )
        .orderBy("rnk")
    )
