"""Window functions (SURVEY.md §2b "Window functions").

The reference's top-10 (``take(10)`` at ``main.scala:52``) generalized
to per-group ranking and running aggregates. Every query pins a TOTAL
order inside each partition (unique tie-break key) — window results
are only reproducible across engines/runs when the order is total.

Scale note: a window over ``partitionBy(k)`` costs one hash shuffle on
k plus a per-partition sort — same as a groupBy. The anti-pattern is a
window with NO partitionBy (single-task global sort); none here except
where semantics demand it, and those go through orderBy+limit
(TakeOrderedAndProject) instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.queries import register


@register(
    "window_ranking",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               row_number()   OVER w AS rn,
               rank()         OVER w AS rnk,
               dense_rank()   OVER w AS drnk,
               ntile(4)       OVER w AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist()    OVER w AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    tags=("window", "ranking"),
)
def window_ranking(spark, sf_dir):
    """row_number/rank/dense_rank/ntile/percent_rank/cume_dist per
    status — the full ranking + distribution window family."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "window_lag_lead",
    oracle="""
        SELECT event_id, user_id, value,
               lag(value)  OVER w                      AS prev_value,
               lead(value) OVER w                      AS next_value,
               lag(value, 2, -1.0) OVER w              AS prev2_or_default,
               first_value(event_id) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                       AS first_event,
               last_value(event_id) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                       AS last_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    tags=("window", "analytic"),
)
def window_lag_lead(spark, sf_dir):
    """lag/lead (with default), first/last over an explicit full frame
    (Spark's default frame for first/last stops at CURRENT ROW — the
    full-frame form is the one that means "per-partition extremes")."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_or_default"),
        F.first("event_id").over(wfull).alias("first_event"),
        F.last("event_id").over(wfull).alias("last_event"),
    )


@register(
    "window_running_frames",
    oracle="""
        SELECT event_id, user_id,
               CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) OVER running
                    AS BIGINT) / 1000000.0            AS running_sum,
               (CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) OVER last4
                     AS BIGINT) / 1000000.0)
                   / NULLIF(count(*) OVER last4, 0)              AS moving_avg4,
               count(*) OVER running                  AS n_so_far
        FROM events
        WINDOW running AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               last4   AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "frame"),
)
def window_running_frames(spark, sf_dir):
    """Running sum + 4-row moving average via explicit ROWS frames.
    Sums use the exact-micros discipline so every prefix is exact (an
    order-dependent double prefix-sum would drift between engines)."""
    e = load_table(spark, sf_dir, "events")
    micros = F.round(F.col("value") * 1000000.0).cast("bigint")
    base = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last4 = base.rowsBetween(-3, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        (F.sum(micros).over(running) / 1000000.0).alias("running_sum"),
        (
            (F.sum(micros).over(last4) / 1000000.0)
            / F.count("*").over(last4)
        ).alias("moving_avg4"),
        F.count("*").over(running).alias("n_so_far"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT event_id, user_id, ts_sec,
               CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) OVER w
                    AS BIGINT) / 1000000.0 AS sum_last_10min,
               count(*) OVER w             AS n_last_10min
        FROM (
            SELECT event_id, user_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
            FROM events
        )
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range-frame"),
)
def window_range_frame(spark, sf_dir):
    """RANGE frame over event-time seconds: per user, total value in
    the trailing 10 minutes — the window-function twin of the
    reference's 10s sliding aggregation (``main.scala:47``), keyed on
    *value* distance rather than row count."""
    e = load_table(spark, sf_dir, "events")
    micros = F.round(F.col("value") * 1000000.0).cast("bigint")
    e = e.withColumn("ts_sec", F.unix_timestamp(F.col("ts").cast("timestamp")))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts_sec"))
        .rangeBetween(-600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_sec",
        (F.sum(micros).over(w) / 1000000.0).alias("sum_last_10min"),
        F.count("*").over(w).alias("n_last_10min"),
    )


@register(
    "window_topn_per_group",
    oracle="""
        SELECT c_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
                   row_number() OVER (PARTITION BY c.c_custkey
                       ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        )
        WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def window_topn_per_group(spark, sf_dir):
    """Top-3 orders per customer — the reference's global top-10
    (``main.scala:49-52``) generalized to per-group top-N. One shuffle
    by group key; never a global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_time_range_frame",
    oracle="""
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(count(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_last_hour,
               CAST(sum(CAST(round(value * 100.0) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) / 100.0 AS value_last_hour
        FROM events
    """,
    tags=("window", "range-frame", "time"),
)
def window_time_range_frame(spark, sf_dir):
    """TIME-based RANGE frame: for every event, the count and
    exact-cents value sum of the SAME USER's events in the trailing
    hour — the rolling-window-by-duration (not by row count) that
    window_range_frame's numeric version can't express and that
    dashboards ask for constantly ("activity in the last N minutes as
    of each event").

    Frame arithmetic runs on integer epoch-µs (3 600 000 000 µs = 1 h)
    so the RANGE bound is exact and identical on both engines — Spark's
    rangeBetween takes longs, DuckDB's RANGE takes the ORDER BY
    expression's type; putting BOTH on epoch_us makes them the same
    frame. Equal-timestamp rows share a frame in RANGE semantics (every
    peer is included), so no tie-break is needed for determinism.

    Scale shape: one user_id shuffle + per-partition sort; the frame
    is evaluated with a sliding two-pointer over the sorted run (no
    per-row rescans). The streaming twins are the watermarked window
    aggregates; this is the ad-hoc batch form.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600000000, 0)
    )
    cents = F.round(F.col("value") * 100.0).cast("bigint")
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        (F.sum(cents).over(w).cast("bigint") / 100.0).alias("value_last_hour"),
    )
