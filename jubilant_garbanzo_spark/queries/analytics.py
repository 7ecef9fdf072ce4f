"""Event-analytics workloads over the ``events`` stream-twin table:
funnel conversion, cohort retention, and gap-filled time series — the
product-analytics query family every OLAP engine ends up serving.

Reference parity note: the reference app (tweet-streamer/src/main/
scala/main.scala, 64 lines) computes only a windowed hashtag count;
these implement the mission's [EXT] analytics surface over the same
event-stream data model.

Timestamp discipline: ``events.ts`` is ns-precision parquet;
``catalog.load_table`` truncates to µs exactly (FIXTURES.md). Event
gaps in this fixture are minutes apart, so µs-vs-ns comparison
granularity cannot reorder any pair of events. Dates leave queries as
DATE (never raw timestamps) per the oracle discipline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table, materialize
from jubilant_garbanzo_spark.functions.money import exact_sum, exact_sum_sql
from jubilant_garbanzo_spark.queries import register


@register(
    "funnel_analysis",
    oracle="""
        WITH s AS (
            SELECT user_id, min(ts) AS t_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), v AS (
            SELECT e.user_id, min(e.ts) AS t_view
            FROM events e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'view' AND e.ts > s.t_signup
              AND e.ts <= s.t_signup + INTERVAL 24 HOUR
            GROUP BY e.user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
              AND e.ts <= v.t_view + INTERVAL 24 HOUR
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              AND e.ts <= c.t_click + INTERVAL 72 HOUR
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s) AS n_signup,
               (SELECT count(*) FROM v) AS n_view_after_signup,
               (SELECT count(*) FROM c) AS n_click_after_view,
               (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    tags=("analytics", "funnel", "events"),
)
def funnel_analysis(spark, sf_dir):
    """Time-bounded funnel conversion: users who signed up, then viewed
    within 24h of signup, clicked within 24h of that view, purchased
    within 72h of that click — strict order + conversion-window
    semantics (every fixture user eventually emits every event type,
    so an unbounded ordered funnel converts 100% at each stage and
    verifies nothing; the windows make the counts strictly decrease:
    150→39→16→11 at sf0.01).

    Scale shape: each stage is a type-filtered slice of events (the
    filter prunes at the scan) aggregated to one row per user, then
    joined to the previous stage on user_id — every join and agg
    shuffles on the SAME key, so at 100 TB the whole chain reuses one
    hash partitioning (co-partitioned stages, no re-shuffle; AQE
    coalesces the tiny tails). Counts reduce at the driver-side final
    agg only after per-user collapse."""
    ev = load_table(spark, sf_dir, "events")

    def stage(prev, etype: str, prev_ts: str, out_ts: str, window_hours: int):
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id", F.col("ts").alias("ets")
        )
        return (
            e.join(prev, "user_id")
            .filter(
                (F.col("ets") > F.col(prev_ts))
                & (
                    F.col("ets")
                    <= F.col(prev_ts) + F.expr(f"INTERVAL {window_hours} HOUR")
                )
            )
            .groupBy("user_id")
            .agg(F.min("ets").alias(out_ts))
        )

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = stage(s, "view", "t_signup", "t_view", 24)
    c = stage(v, "click", "t_view", "t_click", 24)
    p = stage(c, "purchase", "t_click", "t_purchase", 72)
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(v.agg(F.count("*").alias("n_view_after_signup")))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "cohort_retention",
    oracle="""
        WITH first_day AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        )
        SELECT f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE))
                   AS day_offset,
               count(DISTINCT e.user_id) AS active_users
        FROM events e JOIN first_day f ON e.user_id = f.user_id
        GROUP BY f.cohort_day,
                 datediff('day', f.cohort_day, CAST(e.ts AS DATE))
    """,
    tags=("analytics", "cohort", "events"),
)
def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day,
    counted as active at each day offset — the (cohort × age) grid
    behind every retention curve.

    Scale shape: first-activity is a per-user min (partial agg on
    user_id); the cohort label joins back on user_id (same
    partitioning as the agg); the matrix groupBy is over (date, int)
    keys with count-distinct on user_id — bounded output
    (days × days), partial-agg friendly. At 100 TB the first_day
    table is per-user (small relative to events) and broadcastable."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "timeseries_gapfill",
    oracle=f"""
        WITH bounds AS (
            SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
            FROM events
        ), spine AS (
            SELECT u.user_id, CAST(gs.d AS DATE) AS day
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 3) u
            CROSS JOIN (
                SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
                FROM bounds
            ) gs
        ), actual AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   {exact_sum_sql('value')} AS revenue,
                   count(*) AS n_purchases
            FROM events
            WHERE event_type = 'purchase' AND user_id < 3
            GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT s.user_id, s.day,
               coalesce(a.revenue, 0.0) AS revenue,
               coalesce(a.n_purchases, 0) AS n_purchases
        FROM spine s
        LEFT JOIN actual a ON s.user_id = a.user_id AND s.day = a.day
    """,
    tags=("analytics", "timeseries", "gapfill"),
)
def timeseries_gapfill(spark, sf_dir):
    """Gap-filled daily revenue per user: a generated calendar spine
    (min..max event date) cross-joined with the entity set, left-joined
    with actual daily purchase sums, zeros filled in — the dense
    time series every forecasting/rollup consumer expects (per-user
    purchases are sparse on the 30-day spine, so most cells are
    genuine fills).

    Scale shape: the spine is generated (``sequence`` + explode), never
    scanned — days × entities rows, tiny relative to the fact table;
    the actuals aggregate partial on (user, day); the fill join is
    spine-sized. At 100 TB you'd broadcast the date spine and keep the
    entity dimension partitioned. Revenue uses the exact-cents sum so
    the fill's 0.0 and real sums hash identically cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    users = ev.filter(F.col("user_id") < 3).select("user_id").distinct()
    spine = users.crossJoin(
        bounds.select(
            F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    actual = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 3))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            exact_sum(F.col("value")).alias("revenue"),
            F.count("*").alias("n_purchases"),
        )
    )
    return spine.join(actual, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


def sessionized_events(spark, sf_dir, *, with_value: bool = False):
    """Shared 30-min-gap sessionizer (the repo's single session
    definition, used by ``sessionize_events`` AND
    ``join_interval_overlap`` — extracted per the round-11 review so
    the gap rule and its tie order live in exactly one place).

    Returns the per-event frame with ``user_id, ts, event_id, us,
    session_id`` (+ ``value`` when requested). Both window passes order
    by ``(ts, event_id)`` — the tied-start island lesson: the flag pass
    and the numbering pass MUST share one total tie order or a
    tied-timestamp flag-0 row can sort ahead of its session's flag-1
    row and split the session."""

    cols = ["user_id", "ts", "event_id"] + (["value"] if with_value else [])
    ev = load_table(spark, sf_dir, "events").select(
        *cols,
        # NTZ→TS cast is wall-clock identity under the UTC session tz,
        # so this epoch equals DuckDB's epoch_us over the naive ts.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(wsum).cast("bigint"))


@register(
    "sessionize_events",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, ts, event_id, value,
                   epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_us
            FROM events
        ), flagged AS (
            SELECT *, CASE WHEN prev_us IS NULL
                             OR us - prev_us > 1800000000
                           THEN 1 ELSE 0 END AS is_new
            FROM ordered
        ), numbered AS (
            SELECT *, CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events,
               max(us) - min(us) AS duration_us,
               {exact_sum_sql('value')} AS total_value
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("analytics", "sessionize", "events", "window"),
)
def sessionize_events(spark, sf_dir):
    """Batch sessionization: per-user event streams split into sessions
    at >30 min inactivity gaps (lag + gap flag + running sum — the
    canonical batch twin of ``stream_session_window``'s state-store
    sessionizer; reference parity: the reference's only notion of
    "session" is its 10 s hashtag window, main.scala:47).

    The gap test runs on exact integer µs (``unix_micros``), never
    float seconds, so the session boundary is bit-deterministic
    cross-engine; ties inside a user are broken by event_id.

    Scale shape: ONE shuffle on user_id serves both window functions
    and the final per-session agg (same partitioning reused across all
    three stages); per-user partitions sort locally. At 100 TB,
    sessionization is the textbook "window over hot entity" op — a
    celebrity user with 10^8 events skews a partition, and the fix is
    range-partitioning within user by day with session stitching at
    day boundaries; at fixture scale (and for any human-generated
    event stream) per-user volumes are bounded and the plain window
    is the right plan."""
    numbered = sessionized_events(spark, sf_dir, with_value=True)
    return numbered.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        exact_sum(F.col("value")).alias("total_value"),
    )


@register(
    "timeseries_downsample_ohlc",
    oracle=f"""
        WITH keyed AS (
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
                       AS bucket,
                   value,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                   lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord
            FROM events
        )
        SELECT event_type, bucket,
               arg_min(value, ord) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ord) AS close,
               count(*) AS n_events,
               {exact_sum_sql('value')} AS total_value
        FROM keyed
        GROUP BY event_type, bucket
    """,
    tags=("analytics", "timeseries", "downsample", "ohlc"),
)
def timeseries_downsample_ohlc(spark, sf_dir):
    """OHLC downsampling: per (event_type, hour) bucket — open (first
    value), high, low, close (last value), volume, exact total — the
    hypertable-rollup / candlestick query of every time-series store.

    First/last are ``min_by``/``max_by`` over a DETERMINISTIC string
    order key (zero-padded µs epoch + event_id): timestamp ties cannot
    make the two engines pick different rows, and the selected values
    are untouched doubles (no arithmetic), so they hash bit-for-bit.

    Scale shape: pure partial aggregation — min_by/max_by/min/max/
    count/sum all combine map-side, so the shuffle carries one row per
    (type × hour) regardless of input size; the downsample output is
    bounded by the time range, not the event volume. This is the
    continuous-aggregate pattern: at 100 TB you'd maintain it
    incrementally per arriving partition and merge, which is exactly
    what the partial-agg decomposition gives for free."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.lpad(
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            20,
            "0",
        ),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm")
            .alias("bucket"),
            "value",
            ord_key.alias("ord"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "timeseries_time_weighted_avg",
    oracle="""
        WITH ordered AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   (lead(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) - epoch_us(ts)) // 1000000 AS dur_s
            FROM events
        ), agg AS (
            SELECT user_id,
                   CAST(count(dur_s) AS BIGINT) AS n_intervals,
                   CAST(sum(dur_s) AS BIGINT) AS span_s,
                   CAST(sum(cents * dur_s) AS BIGINT) AS wsum
            FROM ordered WHERE dur_s IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id, n_intervals, span_s,
               round(CAST(wsum AS DOUBLE)
                     / NULLIF((100.0 * CAST(span_s AS DOUBLE)), 0), 6) AS twa_value
        FROM agg WHERE span_s > 0
    """,
    tags=("analytics", "timeseries", "window"),
)
def timeseries_time_weighted_avg(spark, sf_dir):
    """Time-weighted average over irregular per-user event series: each
    value holds until the next event (left-continuous step function),
    TWA = Σ value_i·Δt_i / Σ Δt_i — the standard aggregate for
    irregularly-sampled gauges (IoT, prices, account balances) where a
    plain avg() over-weights bursts.

    Exactness: the weighted mass accumulates as BIGINT cents×seconds
    (Δt from exact integer µs, ``DIV`` truncation mirrored in DuckDB),
    so the only float op is one final division — deterministic on any
    engine and partitioning.

    Scale shape: one shuffle on user_id serves both the lead() window
    and the final per-user agg (same partitioning reused); narrow
    3-column scan. Same hot-entity skew note as sessionize_events."""

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = (
        ev.withColumn("lead_us", F.lead("us").over(w))
        .select(
            "user_id",
            "cents",
            F.expr("(lead_us - us) DIV 1000000").alias("dur_s"),
        )
        .filter(F.col("dur_s").isNotNull())
    )
    return (
        ordered.groupBy("user_id")
        .agg(
            F.count("dur_s").cast("bigint").alias("n_intervals"),
            F.sum("dur_s").cast("bigint").alias("span_s"),
            F.sum(F.col("cents") * F.col("dur_s")).cast("bigint").alias("wsum"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "n_intervals",
            "span_s",
            F.round(
                F.col("wsum").cast("double")
                / (F.lit(100.0) * F.col("span_s").cast("double")),
                6,
            ).alias("twa_value"),
        )
    )


@register(
    "scd2_from_events",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), changes AS (
            SELECT user_id, event_type, ts, event_id
            FROM ordered
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS version,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), '%Y-%m-%d %H:%M:%S') AS valid_to,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) IS NULL AS is_current
        FROM changes
    """,
    tags=("analytics", "scd2", "cdc", "window"),
)
def scd2_from_events(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from an event log: per
    user, every event_type TRANSITION opens a new version row with
    [valid_from, valid_to) validity and an is_current flag — the
    standard dimension-history table a warehouse derives from CDC
    feeds (the batch complement of upsert_latest_by_key, which keeps
    only the latest version).

    Ties inside a user are broken by event_id on both engines, so the
    transition sequence is totally ordered and the oracle is exact.

    Scale shape: one shuffle on user_id serves the change-detection
    lag(), the version row_number(), and the validity lead() — three
    window functions, one partitioning. Output is bounded by the
    number of TRANSITIONS (≪ events for low-cardinality status
    domains)."""

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    # event_id carried through as the tiebreak: same-ts change rows
    # would otherwise get engine-arbitrary version/valid_to assignment.
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.row_number().over(wc).cast("bigint").alias("version"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(wc), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
        F.lead("ts").over(wc).isNull().alias("is_current"),
    )


@register(
    "join_interval_overlap",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_us
            FROM events
        ), numbered AS (
            SELECT user_id, us,
                   CAST(sum(CASE WHEN prev_us IS NULL
                                   OR us - prev_us > 1800000000
                                 THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM ordered
        ), sessions AS (
            SELECT user_id, session_id,
                   min(us) AS s_us, max(us) AS e_us
            FROM numbered GROUP BY user_id, session_id
        ), pairs AS (
            SELECT a.user_id AS u1, b.user_id AS u2,
                   (least(a.e_us, b.e_us)
                    - greatest(a.s_us, b.s_us)) // 1000000 AS ov_s
            FROM sessions a JOIN sessions b
              ON a.user_id < b.user_id
             AND a.s_us < b.e_us AND b.s_us < a.e_us
        )
        SELECT u1, u2,
               CAST(count(*) AS BIGINT) AS n_overlaps,
               CAST(sum(ov_s) AS BIGINT) AS overlap_s
        FROM pairs
        GROUP BY u1, u2
        ORDER BY overlap_s DESC, u1, u2
        LIMIT 50
    """,
    tags=("analytics", "join", "interval", "range"),
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap self-join: per-user activity sessions (30-min
    gap rule, same definition as sessionize_events) overlap-joined
    across users — who was active at the same time, ranked by total
    overlapping seconds. The range-join shape relational engines
    handle worst, made tractable by equi-join blocking.

    Scale shape: a naive overlap join is quadratic. Here each session
    is exploded onto the UTC hours it spans (sessions are gap-bounded,
    so the explode factor is ~1) and candidates equi-join on the hour
    key before the exact overlap predicate verifies — the standard
    interval-blocking recipe that keeps the join an equi-join at
    100 TB, with a DISTINCT collapsing sessions matched on several
    shared hours. Bucket granularity trades candidate count against
    explode factor; match it to the typical interval length. The DuckDB oracle runs the naive quadratic form (its
    IEJoin handles the fixture scale), so blocking is proven lossless
    end-to-end. Total order under LIMIT: (overlap_s DESC, u1, u2)."""
    numbered = sessionized_events(spark, sf_dir)
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    # Equi-join blocking: explode each session onto the UTC HOURS it
    # spans (integer µs-hour buckets). Granularity sets the
    # candidate-count/explode-factor trade: sessions are gap-bounded
    # (usually sub-hour), while thousands can share a day — hour
    # buckets cut candidates ~25x vs day buckets (measured 8.3 s → see
    # BASELINE.md) at an explode factor of ~1.
    blocked = sessions.select(
        "user_id",
        "session_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr("s_us DIV 3600000000"),
                F.expr("e_us DIV 3600000000"),
            )
        ).alias("hr"),
    )
    a = blocked.select(
        F.col("user_id").alias("u1"),
        F.col("session_id").alias("sid1"),
        F.col("s_us").alias("s1"),
        F.col("e_us").alias("e1"),
        "hr",
    )
    b = blocked.select(
        F.col("user_id").alias("u2"),
        F.col("session_id").alias("sid2"),
        F.col("s_us").alias("s2"),
        F.col("e_us").alias("e2"),
        "hr",
    )
    pairs = (
        a.join(b, "hr")
        .filter(
            (F.col("u1") < F.col("u2"))
            & (F.col("s1") < F.col("e2"))
            & (F.col("s2") < F.col("e1"))
        )
        .select("u1", "sid1", "s1", "e1", "u2", "sid2", "s2", "e2")
        .distinct()
    )
    return (
        pairs.select(
            "u1",
            "u2",
            F.expr("(least(e1, e2) - greatest(s1, s2)) DIV 1000000").alias(
                "ov_s"
            ),
        )
        .groupBy("u1", "u2")
        .agg(
            F.count("*").cast("bigint").alias("n_overlaps"),
            F.sum("ov_s").cast("bigint").alias("overlap_s"),
        )
        .orderBy(F.desc("overlap_s"), "u1", "u2")
        .limit(50)
    )


@register(
    "event_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS dst,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS src
            FROM events
        ),
        pairs AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
            FROM seq WHERE src IS NOT NULL
            GROUP BY src, dst
        ),
        tot AS (
            SELECT src, CAST(sum(cnt) AS BIGINT) AS total
            FROM pairs GROUP BY src
        )
        SELECT p.src, p.dst, p.cnt,
               round(CAST(p.cnt AS DOUBLE) / NULLIF(CAST(t.total AS DOUBLE), 0), 6)
                   AS prob
        FROM pairs p JOIN tot t ON p.src = t.src
        ORDER BY p.src, p.dst
    """,
    tags=("analytics", "events", "markov", "sequence"),
)
def event_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type) — the behavior
    model behind next-action prediction, anomaly scoring (improbable
    transitions), and synthetic-session generation.

    Determinism: sequence order is (ts, event_id) — event_id breaks
    timestamp ties, so lag() picks the same predecessor on every
    engine; probabilities are one exact-integer ratio per row,
    round(..., 6).

    Scale shape: one hash-partitioned window per user (sequences are
    per-user local — no global sort), then a 25-cell aggregate;
    transition totals broadcast back. At 100 TB the window shuffle is
    the only data-sized exchange, identical to sessionization's.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    tot = pairs.groupBy("src").agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        pairs.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("total").cast("double"), 6
            ).alias("prob"),
        )
        .orderBy("src", "dst")
    )


@register(
    "event_pattern_match",
    oracle="""
        WITH paths AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS path
            FROM events
            GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(len(regexp_extract_all(path, 'view,click,purchase'))
                    AS BIGINT) AS n_matches
        FROM paths
        WHERE len(regexp_extract_all(path, 'view,click,purchase')) >= 1
    """,
    tags=("analytics", "events", "pattern", "match-recognize"),
)
def event_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style contiguous sequence detection: users whose
    event stream contains the exact consecutive pattern
    view -> click -> purchase (no intervening events), with the
    non-overlapping match count — the conversion-path / journey-mining
    primitive SQL engines expose as row pattern matching.

    Formulation: per-user ordered event types serialize to a
    delimited string (order pinned by (ts, event_id); types come from
    a fixed vocabulary with no delimiter collisions), then a single
    regexp scan counts non-overlapping occurrences — both engines'
    regex scanners advance left-to-right past each match, so counts
    agree. Richer patterns (alternation, gaps, quantifiers) are the
    same pipeline with a different regex.

    Scale shape: per-user collect is bounded by session length (the
    same state bound as sessionization); the regex runs once per
    user, JVM-side, zero UDFs. At 100 TB: one user-keyed shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ",",
        ).alias("path"),
    )
    return (
        paths.select(
            "user_id",
            "n_events",
            F.regexp_count(F.col("path"), F.lit("view,click,purchase"))
            .cast("bigint")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
    )


@register(
    "timeseries_ewma",
    oracle="""
        WITH s AS (
            SELECT user_id,
                   list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
            FROM events
            WHERE value IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(vals) AS BIGINT) AS n_points,
               round(list_reduce(vals,
                                 (acc, x) -> acc * 0.75 + x * 0.25), 6)
                   AS ewma
        FROM s
    """,
    tags=("analytics", "timeseries", "ewma", "recursive"),
)
def timeseries_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values
    (α = 1/4, seeded with the first observation) — the recursive
    smoothing primitive under anomaly baselines and trend features,
    and a sequence shape no plain window frame expresses (each state
    depends on ALL predecessors, not a bounded frame).

    Cross-engine float discipline: the recurrence is a strict
    left-to-right fold over the (ts, event_id)-ordered value list —
    Spark ``aggregate`` seeded with element 1 over the tail, DuckDB
    ``list_reduce`` (which seeds with the first element by
    definition) — the identical IEEE op sequence on both engines, with
    α = 0.25 exactly representable in binary. One shuffle on user_id;
    per-user state is the value list (bounded by events-per-user; at
    100 TB the same recurrence runs incrementally as new partitions
    arrive, folding from the stored last EWMA).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"].cast("double"),
    )
    return (
        ev.groupBy("user_id")
        .agg(vals.alias("vals"))
        .select(
            "user_id",
            F.size("vals").cast("bigint").alias("n_points"),
            F.round(
                F.expr(
                    "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)),"
                    " element_at(vals, 1),"
                    " (acc, x) -> acc * 0.75 + x * 0.25)"
                ),
                6,
            ).alias("ewma"),
        )
    )


@register(
    "timeseries_interval_coverage",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id,
                   epoch_us(ts) AS s,
                   epoch_us(ts)
                   + (((CAST(round(value * 1000000.0) AS BIGINT) % 90000000)
                       + 90000000) % 90000000) + 30000000 AS e
            FROM events
        ), swept AS (
            SELECT user_id, event_id, s, e,
                   max(e) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max_e
            FROM iv
        ), flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END AS new_island
            FROM swept
        ), islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ), per_island AS (
            SELECT user_id, island,
                   max(e) - min(s) AS covered_us,
                   count(*) AS n_events
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(covered_us) AS BIGINT) / 1000000.0 AS covered_sec
        FROM per_island GROUP BY user_id
    """,
    tags=("analytics", "timeseries", "interval"),
)
def timeseries_interval_coverage(spark, sf_dir):
    """Union-length of overlapping per-user time intervals (total
    "coverage" seconds) via the classic sweep-line-as-window-functions
    formulation — the primitive under uptime/SLA accounting, ad
    exposure time, and merged-session duration.

    Each event opens an interval [ts, ts + 30..120 s) with a
    value-derived deterministic duration (integer µs; pmod keeps
    negative values well-defined on both engines). The sweep:

    1. running ``max(end)`` over rows strictly BEFORE the current one
       (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING);
    2. an interval opens a NEW island iff its start exceeds that
       running max (no overlap with anything earlier);
    3. cumulative sum of the island flags numbers the islands;
    4. per-island coverage is ``max(end) - min(start)`` — exact
       integer µs, one double division at the very end.

    Scale shape: two window passes + two aggregations, everything
    partitioned by user_id — a single shuffle partitioning serves all
    four steps (Catalyst reuses the hash partitioning; no extra
    Exchange between the windows and the groupBys). No explode: the
    sweep is O(n log n) sort-based per key, vs the O(n²) self-join a
    naive overlap-merge would cost — the same blocked-vs-naive
    discipline as join_interval_overlap, here with ZERO candidate
    pairs at all.

    BOTH window passes order by (s, event_id) — the repo-wide
    event_id tiebreak. The orders must be IDENTICAL: the island flag
    belongs to a specific row, so numbering the islands under a
    different order can place a flag-0 row before the flag-1 row of
    its own island and split it (found by the hypothesis brute-force
    property: two intervals opening at the SAME start were reported
    as two islands when the shorter one sorted first under the old
    (s, e) numbering order).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.pmod(
                F.round(F.col("value") * 1000000.0).cast("bigint"),
                F.lit(90000000),
            )
            + 30000000
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = ev.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.max("e").over(w_prev).alias("prev_max_e"),
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # SAME order as w_prev — the flag is row-specific, so numbering
    # under any other order can split an island at tied starts.
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = swept.select(
        "user_id", "s", "e", F.sum("new_island").over(w_cum).alias("island")
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered_us"),
        F.count("*").alias("n_events"),
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        (F.sum("covered_us").cast("bigint") / 1000000.0).alias("covered_sec"),
    )


@register(
    "assoc_copurchase_lift",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), n AS (
            SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM items
        ), item_cnt AS (
            SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY pk
        ), pairs AS (
            SELECT a.pk AS part_a, b.pk AS part_b,
                   CAST(count(*) AS BIGINT) AS cnt_ab
            FROM items a JOIN items b
              ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        )
        SELECT p.part_a, p.part_b, p.cnt_ab,
               ca.cnt AS cnt_a, cb.cnt AS cnt_b,
               round(CAST(p.cnt_ab * n.n_baskets AS DOUBLE)
                     / NULLIF(CAST(ca.cnt * cb.cnt AS DOUBLE), 0), 6) AS lift,
               round(CAST(p.cnt_ab AS DOUBLE) / NULLIF(CAST(ca.cnt AS DOUBLE), 0), 6)
                   AS confidence_a_to_b
        FROM pairs p
        CROSS JOIN n
        JOIN item_cnt ca ON ca.pk = p.part_a
        JOIN item_cnt cb ON cb.pk = p.part_b
        WHERE p.cnt_ab >= 2
        ORDER BY lift DESC, p.part_a ASC, p.part_b ASC
        LIMIT 20
    """,
    tags=("analytics", "association", "market-basket"),
)
def assoc_copurchase_lift(spark, sf_dir):
    """Market-basket association mining over order baskets: top-20
    co-purchased part pairs by lift, with support counts and
    confidence — the A-priori 2-itemset pass every recommender /
    assortment pipeline starts from.

    Scale shape: the pair generation is a SELF-JOIN ON THE BASKET KEY,
    not on items — baskets are bounded (≤7 lineitems per order in this
    schema), so the explode factor is ≤ C(7,2) = 21 per basket,
    linear in basket count at ANY corpus size. This is the same
    bounded-blocking discipline as dedup_ngram_jaccard: never join on
    the popular side. Item counts re-attach via two equi-joins keyed
    on partkey (AQE plans broadcast when the part dimension fits, a
    shuffle join otherwise); the basket total is a 1-row broadcast
    cross join. Exact integer counts everywhere; lift/confidence are
    single int/int IEEE divisions rounded to 6, and the top-20 order
    (lift, part_a, part_b) is total so both engines pick identical
    rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    # Round 15 (guide §3.3/§7.2): `items` feeds FOUR subtrees (the
    # 1-row basket count and both item-count sides build as broadcasts
    # CONCURRENTLY at action time, plus the pair self-join), and the
    # renamed projections defeat exchange reuse — without
    # materialization the scan+distinct re-runs once per subtree (the
    # kcore stampede class). One eager checkpoint of the deduped
    # 2-int-column frame pays once; at cluster scale the same
    # materialize-reused-intermediate trade (persist) applies wherever
    # a frame fans out into concurrently-built broadcast sides.
    items = materialize(items)
    n_baskets = items.select(
        F.count_distinct("ok").cast("bigint").alias("n_baskets")
    )
    item_cnt = items.groupBy("pk").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    a = items.select(F.col("ok"), F.col("pk").alias("part_a"))
    b = items.select(F.col("ok").alias("ok_b"), F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, (a.ok == b.ok_b) & (a.part_a < b.part_b))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= 2)
    )
    ca = item_cnt.select(F.col("pk").alias("pk_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("pk").alias("pk_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.crossJoin(F.broadcast(n_baskets))
        .join(ca, F.col("part_a") == F.col("pk_a"))
        .join(cb, F.col("part_b") == F.col("pk_b"))
        .select(
            "part_a",
            "part_b",
            "cnt_ab",
            "cnt_a",
            "cnt_b",
            F.round(
                (F.col("cnt_ab") * F.col("n_baskets")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                6,
            ).alias("lift"),
            F.round(
                F.col("cnt_ab").cast("double") / F.col("cnt_a").cast("double"),
                6,
            ).alias("confidence_a_to_b"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "join_point_in_time_scd2",
    oracle="""
        WITH status AS (
            SELECT user_id, ts, event_id, event_type AS status,
                   NULL::BIGINT AS purchase_id, NULL::DOUBLE AS amount
            FROM events WHERE event_type <> 'purchase'
        ), fact AS (
            SELECT user_id, ts, event_id, NULL::VARCHAR AS status,
                   event_id AS purchase_id, value AS amount
            FROM events WHERE event_type = 'purchase'
        ), u AS (
            SELECT * FROM status UNION ALL SELECT * FROM fact
        ), attached AS (
            SELECT user_id, ts, purchase_id, amount,
                   last_value(status IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS status_at_purchase
            FROM u
        )
        SELECT user_id, purchase_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               coalesce(status_at_purchase, 'unknown') AS status_at_purchase,
               amount
        FROM attached WHERE purchase_id IS NOT NULL
    """,
    tags=("analytics", "join", "point-in-time", "scd2"),
)
def join_point_in_time_scd2(spark, sf_dir):
    """Point-in-time (temporal) join: each purchase is attributed the
    user's dimension status AS OF the purchase instant — the query
    every SCD2 dimension exists to serve, and the one naive engines
    botch with a validity-range theta join.

    Instead of joining facts against [valid_from, valid_to) ranges
    (a per-user range join that explodes under skew and can't
    broadcast), the engine UNIONS status-change rows and fact rows
    into one stream and takes ``last_value(status) IGNORE NULLS``
    over a (ts, event_id)-ordered per-user window — each fact picks
    up the latest dimension version at or before it in ONE window
    pass. Same result as the range join, O(n log n) per user, single
    shuffle, no candidate pairs at all (the interval-join analog of
    the asof_join operator's union trick, operators/asof.py).

    Facts before any status change surface as 'unknown' (the SCD2
    "no version yet" row). The (ts, event_id) total order makes
    same-timestamp fact/dimension interleavings deterministic on both
    engines.

    At 100 TB: one hash partitioning by user_id serves the union and
    the window; dimension rows ride in the same shuffle as facts
    (they are ≪ facts after transition-compression), so there is no
    broadcast-size cliff and no range-join fallback.
    """
    ev = load_table(spark, sf_dir, "events")
    status = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("status"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast("double").alias("amount"),
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("string").alias("status"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attached = status.unionByName(fact).select(
        "user_id",
        "ts",
        "purchase_id",
        "amount",
        F.last("status", ignorenulls=True).over(w).alias("status_at_purchase"),
    )
    return attached.filter(F.col("purchase_id").isNotNull()).select(
        "user_id",
        "purchase_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.coalesce("status_at_purchase", F.lit("unknown")).alias(
            "status_at_purchase"
        ),
        "amount",
    )


@register(
    "timeseries_backtest_seasonal_naive",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   time_bucket(INTERVAL 1 HOUR, ts) AS h,
                   CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type, h, cents,
                   lag(cents, 24) OVER (
                       PARTITION BY event_type ORDER BY h
                   ) AS forecast_cents
            FROM hourly
        )
        SELECT event_type,
               CAST(count(forecast_cents) AS BIGINT) AS n_forecasts,
               round(CAST(sum(abs(cents - forecast_cents)) AS DOUBLE)
                     / NULLIF((100.0 * CAST(count(forecast_cents) AS DOUBLE)), 0), 6)
                   AS mae,
               CAST(max(abs(cents - forecast_cents)) AS BIGINT) / 100.0
                   AS worst_abs_error
        FROM lagged
        GROUP BY event_type
    """,
    tags=("analytics", "timeseries", "backtest"),
)
def timeseries_backtest_seasonal_naive(spark, sf_dir):
    """Forecast backtesting as a query: the seasonal-naive model
    (predict this hour = same hour yesterday, lag 24 on the hourly
    series) scored by MAE and worst absolute error per event_type —
    the baseline every forecasting pipeline must beat, evaluated over
    the whole history in one pass.

    CAVEAT the lag-24 encodes: the offset is 24 OBSERVED hourly rows,
    which equals 24 wall-clock hours only while every hour has
    traffic — true for this fixture; on sparse series, gap-fill first
    (timeseries_gapfill is exactly that op).

    Scale shape: hourly downsample is a map-side-combinable aggregate
    collapsing the fact table to |types|·|hours| cells; the lag window
    and MAE run over cells, not events. Exact cents throughout; two
    final divisions.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
    ).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "cents",
        F.lag("cents", 24).over(w).alias("forecast_cents"),
    )
    err = F.abs(F.col("cents") - F.col("forecast_cents"))
    return lagged.groupBy("event_type").agg(
        F.count("forecast_cents").cast("bigint").alias("n_forecasts"),
        F.round(
            F.sum(err).cast("double")
            / (100.0 * F.count("forecast_cents").cast("double")),
            6,
        ).alias("mae"),
        (F.max(err).cast("bigint") / 100.0).alias("worst_abs_error"),
    )


@register(
    "event_attribution_last_touch",
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
        SELECT purchase_id, user_id,
               strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               touch_event_id, touch_type,
               CAST((epoch_us(pts) - epoch_us(tts)) // 1000000 AS BIGINT)
                   AS gap_seconds
        FROM ranked WHERE rn = 1
    """,
    tags=("analytics", "attribution", "events", "window"),
)
def event_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click-or-view within a 7-day lookback —
    the canonical conversion-attribution query (first/last-touch are
    the two industry defaults; last-touch is the harder one because it
    needs the *latest preceding* event, not a min). "Preceding" is
    lexicographic on (ts, event_id) so same-timestamp event pairs
    resolve identically on both engines (the repo-wide event_id
    tiebreak; ADVICE r5 on scd2_from_events).

    Spark plan: ONE shuffle on user_id, then a single-pass running
    window — ``F.last(when(is_touch, …), ignorenulls=True)`` over rows
    UNBOUNDED PRECEDING → 1 PRECEDING carries the latest touch struct
    forward, so no self-join materializes the (purchase × touch)
    pairs. The oracle states the same semantics as the quadratic
    rank-over-join (fine at sf0.01) — the window form is the 100-TB
    plan: attribution over a trillion events is a sort within user
    partitions, not an O(touches × purchases) range join.

    ``gap_seconds`` is the FLOORED µs-epoch difference on both engines
    — DuckDB's ``date_diff('second', …)`` counts boundary *crossings*
    (sub-second parts can add 1) while Spark's ``timestampdiff(SECOND)``
    truncates, so neither built-in is used directly.
    """
    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            is_touch,
            F.struct(
                F.col("ts").alias("tts"),
                F.col("event_id").alias("tid"),
                F.col("event_type").alias("ttype"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("touch").isNotNull())
        .filter(F.col("touch.tts") >= F.col("ts") - F.expr("INTERVAL 7 DAY"))
    )
    return attributed.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("touch.tid").alias("touch_event_id"),
        F.col("touch.ttype").alias("touch_type"),
        F.expr("timestampdiff(MICROSECOND, touch.tts, ts) DIV 1000000")
        .cast("bigint")
        .alias("gap_seconds"),
    )


@register(
    "timeseries_linear_interpolate",
    oracle="""
        WITH obs AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS qs,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ), bounds AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1
            FROM obs GROUP BY user_id
            HAVING min(day) < max(day)
        ), spine AS (
            SELECT b.user_id,
                   CAST(b.d0 + r.i * INTERVAL 1 DAY AS DATE) AS day
            FROM bounds b,
                 UNNEST(range(0, datediff('day', b.d0, b.d1) + 1)) r(i)
        ), joined AS (
            SELECT s.user_id, s.day,
                   datediff('day', DATE '2024-01-01', s.day) AS dn,
                   o.qs, o.n
            FROM spine s
            LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
        ), filled AS (
            SELECT user_id, day, dn, qs, n,
                   last_value(odn IGNORE NULLS) OVER wp AS d0n,
                   last_value(qs IGNORE NULLS) OVER wp AS qs0,
                   last_value(n  IGNORE NULLS) OVER wp AS n0,
                   first_value(odn IGNORE NULLS) OVER wn AS d1n,
                   first_value(qs IGNORE NULLS) OVER wn AS qs1,
                   first_value(n  IGNORE NULLS) OVER wn AS n1
            FROM (SELECT user_id, day, dn,
                         CASE WHEN qs IS NULL THEN NULL ELSE dn END AS odn,
                         qs, n
                  FROM joined) j
            WINDOW wp AS (PARTITION BY user_id ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW),
                   wn AS (PARTITION BY user_id ORDER BY day
                          ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, day,
               CAST(CASE WHEN qs IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_observed,
               round(
                   CASE WHEN d1n = d0n
                        THEN CAST(qs0 AS DOUBLE)
                             / NULLIF((100.0 * CAST(n0 AS DOUBLE)), 0)
                        ELSE CAST(qs0 AS DOUBLE)
                             / NULLIF((100.0 * CAST(n0 AS DOUBLE)), 0)
                             + (CAST(qs1 AS DOUBLE)
                                / NULLIF((100.0 * CAST(n1 AS DOUBLE)), 0)
                                - CAST(qs0 AS DOUBLE)
                                  / NULLIF((100.0 * CAST(n0 AS DOUBLE)), 0))
                               * (CAST(dn - d0n AS DOUBLE)
                                  / NULLIF(CAST(d1n - d0n AS DOUBLE), 0))
                   END, 6) AS value_units
        FROM filled
    """,
    tags=("analytics", "timeseries", "interpolation", "window"),
)
def timeseries_linear_interpolate(spark, sf_dir):
    """Linear interpolation over a per-user daily spine: each user's
    average purchase value is observed on sparse days and linearly
    interpolated on the gaps between the bracketing observations — the
    sampled-metric companion to timeseries_gapfill (which zero-fills a
    *flow*; a *level* metric like avg order value must interpolate,
    not zero).

    Mechanics: generated date spine per user (min..max observed day,
    single-day users dropped — nothing to interpolate), left-join the
    exact-cents daily aggregates, then TWO single-pass windows —
    last_value(IGNORE NULLS) carries the previous observation forward,
    first_value(IGNORE NULLS) pulls the next one backward — and one
    fixed-shape IEEE expression v0 + (v1−v0)·(d−d0)/(d1−d0) evaluated
    identically on both engines (observed rows short-circuit to v0:
    prev == next == self). Cents and day numbers stay integers until
    the final expression; rounded once.

    Scale shape: one shuffle on user_id for the daily partial agg, a
    broadcast-size bounds table, spine generation by ``sequence`` (no
    scan), and the two windows sort each user's ≤days-long slice —
    at 100 TB this is the canonical sessionized-window plan, no
    self-join, no spine × observations blowup.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    obs = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("qs"),
        F.count("*").cast("bigint").alias("n"),
    )
    bounds = (
        obs.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .filter(F.col("d0") < F.col("d1"))
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
    )
    joined = spine.join(obs, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.datediff("day", F.lit("2024-01-01").cast("date")).alias("dn"),
        "qs",
        "n",
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    has = F.col("qs").isNotNull()
    filled = joined.select(
        "user_id",
        "day",
        "dn",
        "qs",
        F.last(F.when(has, F.col("dn")), ignorenulls=True).over(wp).alias("d0n"),
        F.last(F.when(has, F.col("qs")), ignorenulls=True).over(wp).alias("qs0"),
        F.last(F.when(has, F.col("n")), ignorenulls=True).over(wp).alias("n0"),
        F.first(F.when(has, F.col("dn")), ignorenulls=True).over(wn).alias("d1n"),
        F.first(F.when(has, F.col("qs")), ignorenulls=True).over(wn).alias("qs1"),
        F.first(F.when(has, F.col("n")), ignorenulls=True).over(wn).alias("n1"),
    )
    v0 = F.col("qs0").cast("double") / (100.0 * F.col("n0").cast("double"))
    v1 = F.col("qs1").cast("double") / (100.0 * F.col("n1").cast("double"))
    frac = (F.col("dn") - F.col("d0n")).cast("double") / (
        F.col("d1n") - F.col("d0n")
    ).cast("double")
    return filled.select(
        "user_id",
        "day",
        F.when(F.col("qs").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_observed"),
        F.round(
            F.when(F.col("d1n") == F.col("d0n"), v0).otherwise(
                v0 + (v1 - v0) * frac
            ),
            6,
        ).alias("value_units"),
    )


@register(
    "event_cumulative_reach",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs
            GROUP BY day
        ), firsts AS (
            SELECT user_id, min(day) AS first_day FROM pairs GROUP BY user_id
        ), news AS (
            SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
            FROM firsts GROUP BY first_day
        )
        SELECT d.day, d.dau,
               coalesce(n.new_users, 0) AS new_users,
               CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumulative_reach
        FROM dau d LEFT JOIN news n ON n.day = d.day
    """,
    tags=("analytics", "events", "window", "distinct"),
)
def event_cumulative_reach(spark, sf_dir):
    """Daily active users + cumulative distinct reach ("users ever seen
    by day d") in one pass — the audience-growth curve. Running COUNT
    DISTINCT is not a window aggregate any engine supports directly;
    the standard rewrite is the FIRST-OCCURRENCE trick: a user counts
    toward the cumulative curve only on their first-ever day (per-user
    min), so the running sum of new_users IS the running distinct
    count — turning an impossible window into two partial aggs and a
    ~days-long cumsum.

    Scale shape: the (user, day) distinct and both aggs are map-side
    combinable on user/day keys; the window runs over the bounded
    day spine only (the bounded-cell discipline). No state larger
    than the day grid leaves the shuffle.
    """
    pairs = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    dau = pairs.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    news = (
        pairs.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(news, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce(F.col("new_users"), F.lit(0))
            .cast("bigint")
            .alias("new_users"),
        )
        .select(
            "day",
            "dau",
            "new_users",
            F.sum("new_users").over(w).cast("bigint").alias("cumulative_reach"),
        )
    )


@register(
    "event_activity_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), grp AS (
            SELECT user_id, day,
                   datediff('day', DATE '2024-01-01', day)
                   - row_number() OVER (PARTITION BY user_id ORDER BY day)
                       AS island
            FROM days
        ), streaks AS (
            SELECT user_id, island,
                   CAST(count(*) AS BIGINT) AS streak_days,
                   min(day) AS streak_start
            FROM grp GROUP BY user_id, island
        ), best AS (
            SELECT user_id, streak_days, streak_start,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY streak_days DESC, streak_start ASC
                   ) AS rn
            FROM streaks
        )
        SELECT user_id, streak_days, streak_start
        FROM best WHERE rn = 1
        ORDER BY streak_days DESC, user_id ASC LIMIT 25
    """,
    tags=("analytics", "events", "window", "gaps-islands"),
)
def event_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user (top-25) — the
    canonical GAPS-AND-ISLANDS pattern: day_number − row_number is
    constant within a run of consecutive days, so one window + one
    groupBy finds every island without self-joins or recursion.
    Distinct from sessionize_events (time-gap sessions on raw
    timestamps): islands are INTEGER-consecutive semantics on the
    calendar grid.

    Determinism: per-user best streak tie-breaks on earliest start;
    the top-25 is totally ordered by (streak_days DESC, user_id).

    Scale shape: the (user, day) distinct and the island window both
    partition on user_id — one shuffle, per-user slices sort ≤ days
    rows; the final top-25 is TakeOrderedAndProject. No join anywhere.
    """
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
        .orderBy(F.col("streak_days").desc(), F.col("user_id").asc())
        .limit(25)
    )


@register(
    "event_rfm_segmentation",
    oracle="""
        WITH p AS (
            SELECT user_id,
                   max(ts) AS last_ts,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ), anchor AS (
            SELECT max(last_ts) AS t_ref FROM p
        ), scored AS (
            SELECT p.user_id,
                   CAST((epoch_us(a.t_ref) - epoch_us(p.last_ts))
                        // 86400000000 AS BIGINT) AS recency_days,
                   p.frequency, p.monetary_cents,
                   CAST(ntile(5) OVER (ORDER BY p.last_ts DESC, p.user_id)
                        AS BIGINT) AS r_score,
                   CAST(ntile(5) OVER (ORDER BY p.frequency DESC, p.user_id)
                        AS BIGINT) AS f_score,
                   CAST(ntile(5) OVER (ORDER BY p.monetary_cents DESC,
                                       p.user_id) AS BIGINT) AS m_score
            FROM p, anchor a
        )
        SELECT r_score, f_score, m_score,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
               CAST(min(recency_days) AS BIGINT) AS min_recency_days
        FROM scored
        GROUP BY r_score, f_score, m_score
    """,
    tags=("analytics", "segmentation", "window", "ntile"),
)
def event_rfm_segmentation(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation: each
    purchasing user scores 1–5 on all three axes via ntile quintiles,
    then the 125-cell segment grid aggregates counts and revenue — the
    classic marketing-segmentation workload.

    Determinism: ntile assigns by ROW ORDER, so every quintile window
    carries a user_id tiebreak (ties in last_ts/frequency/monetary are
    common); recency is the floored µs-epoch day difference against the
    corpus-max anchor (the attribution lesson: no boundary-crossing
    date_diff).

    Scale shape: per-user RFM is one partial agg on user_id; the three
    global ntile windows run over the collapsed PER-USER table (one row
    per customer, orders of magnitude under the event count) — at
    larger user counts the ntile boundary is a 5-quantile
    approx_percentile + boundary-sliver exact rank (the
    text_domain_mixture threshold-refinement path); the final 125-cell
    grid is a bounded agg.
    """
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    anchor = p.agg(F.max("last_ts").alias("t_ref"))
    scored = p.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, last_ts, t_ref) DIV 86400000000")
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.col("last_ts").desc(), F.col("user_id")))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("user_id")))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), F.col("user_id")))
        .cast("bigint")
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
        F.min("recency_days").cast("bigint").alias("min_recency_days"),
    )


@register(
    "timeseries_holt_linear",
    oracle="""
        WITH s AS (
            SELECT user_id,
                   list_transform(
                       list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       x -> [x, 0.0]
                   ) AS vals
            FROM events
            WHERE value IS NOT NULL AND user_id < 50
            GROUP BY user_id
        ), fit AS (
            SELECT user_id,
                   CAST(len(vals) AS BIGINT) AS n_points,
                   list_reduce(vals, (acc, x) -> [
                       0.25 * x[1] + 0.75 * (acc[1] + acc[2]),
                       0.3 * ((0.25 * x[1] + 0.75 * (acc[1] + acc[2]))
                              - acc[1]) + 0.7 * acc[2]
                   ]) AS lb
            FROM s
        )
        SELECT user_id, n_points,
               round(lb[1], 6) AS level,
               round(lb[2], 6) AS trend,
               round(lb[1] + lb[2], 6) AS forecast_next
        FROM fit
    """,
    tags=("analytics", "timeseries", "holt", "recursive"),
)
def timeseries_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing (α=0.25,
    β=0.3) per user — the COUPLED two-accumulator recurrence one step
    up from timeseries_ewma's single fold: lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, forecast = l+b. Both engines fold the
    SAME [level, trend] array accumulator seeded from the first
    observation (list_reduce's first-element init ≡ Spark aggregate
    with vals[0] as zero), with lₜ inlined twice in the trend update —
    a duplicated-subexpression, not a second read, so the IEEE trees
    are identical and the driver hash is exact despite a genuinely
    recursive float computation.

    Scale shape: per-user collect + one linear fold — the sessionized
    sequence-model pattern (state lives in one array per key, folds
    are JVM-side codegen). user_id < 50 bounds the collected arrays
    the same way timeseries_ewma documents.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("user_id") < 50))
        .select("user_id", "ts", "event_id", F.col("value").cast("double").alias("x"))
    )
    s = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "x"))),
            lambda r: F.array(r["x"], F.lit(0.0)),
        ).alias("vals")
    )
    lb = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.array(
            0.25 * x[0] + 0.75 * (acc[0] + acc[1]),
            0.3 * ((0.25 * x[0] + 0.75 * (acc[0] + acc[1])) - acc[0])
            + 0.7 * acc[1],
        ),
    )
    return s.select(
        "user_id",
        F.size("vals").cast("bigint").alias("n_points"),
        F.round(lb[0], 6).alias("level"),
        F.round(lb[1], 6).alias("trend"),
        F.round(lb[0] + lb[1], 6).alias("forecast_next"),
    )


@register(
    "agg_gini_concentration",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT cents,
                   CAST(row_number() OVER (ORDER BY cents, o_custkey)
                        AS BIGINT) AS i
            FROM per_cust
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS tot,
                   CAST(sum(i * cents) AS BIGINT) AS iwsum
            FROM ranked
        )
        SELECT n AS n_customers,
               round(CAST(tot AS DOUBLE) / 100.0, 2) AS total_units,
               round((2.0 * CAST(iwsum AS DOUBLE)
                      - (CAST(n AS DOUBLE) + 1.0) * CAST(tot AS DOUBLE))
                     / NULLIF((CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 0), 6)
                   AS gini
        FROM m
    """,
    tags=("agg", "stats", "concentration", "window"),
)
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of customer revenue concentration — the
    inequality / whale-dependence metric (how much of revenue sits in
    the top customers), via the rank formulation G = (2·Σi·xᵢ −
    (n+1)·Σx) / (n·Σx) over ascending-sorted per-customer totals. All
    three moments are exact integers (cents, BIGINT rank products); the
    one float expression is the final closed form, rounded once — the
    agg_welch_ttest exactness discipline applied to a sort-rank
    statistic.

    Scale shape: per-customer totals are one partial agg; the global
    ascending rank is the only total order, and at 100 TB it becomes
    the two-phase bucket-offset row numbering (ids_global_row_number)
    — the formula only needs (i, xᵢ) products, which the offset form
    yields without a single-partition sort. Tie-break (cents,
    o_custkey) keeps the rank — and therefore the driver hash —
    deterministic under equal totals.
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = per_cust.select(
        "cents", F.row_number().over(w).cast("bigint").alias("i")
    )
    m = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("iwsum"),
    )
    nd = F.col("n").cast("double")
    td = F.col("tot").cast("double")
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(td / 100.0, 2).alias("total_units"),
        F.round(
            (2.0 * F.col("iwsum").cast("double") - (nd + 1.0) * td) / (nd * td),
            6,
        ).alias("gini"),
    )


@register(
    "event_spike_detection",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), trailed AS (
            SELECT event_type, h, cnt,
                   CAST(count(cnt) OVER w AS BIGINT) AS n,
                   CAST(sum(cnt) OVER w AS BIGINT) AS s,
                   CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type,
               strftime(h, '%Y-%m-%d %H:%M') AS hour,
               cnt,
               round(CAST(s AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0), 4)
                   AS trailing_mean,
               round((CAST(cnt AS DOUBLE)
                      - CAST(s AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0))
                     / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                            / NULLIF((CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0)), 0)), 0), 4) AS z
        FROM trailed
        WHERE n >= 12
          AND (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) > 0
          AND (CAST(cnt AS DOUBLE)
               - CAST(s AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0))
              / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                     / NULLIF((CAST(n AS DOUBLE)
                        * (CAST(n AS DOUBLE) - 1.0)), 0)), 0) > 3.0
    """,
    tags=("analytics", "anomaly", "monitoring", "window"),
)
def event_spike_detection(spark, sf_dir):
    """Operational spike detection: an hourly count is a SPIKE when it
    exceeds its own type's trailing-24h mean by > 3 trailing sample
    standard deviations — the streaming-ops alerting rule, computed
    batch-side. The trailing moments are INTEGER window sums (n, Σx,
    Σx² over bigint counts), so the float surface is one closed-form
    z expression evaluated identically on both engines (the
    agg_welch_ttest discipline inside a moving window); the filter
    applies it unrounded, the projection rounds once. Warm-up gating
    (≥ 12 trailing cells, positive variance) keeps the start of each
    series and constant stretches out.

    Scale shape: the hourly rollup collapses events to the bounded
    (type × hour) grid; the trailing window sorts only that grid per
    type — the bounded-cell discipline; alerting at 100 TB runs the
    same plan over the rollup table, never the raw events.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    t = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.count("cnt").over(w).cast("bigint").alias("n"),
        F.sum("cnt").over(w).cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("bigint").alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    var_num = nd * ssd - sd * sd
    # try_divide at every step: a warm-up row (n = 1, var_num = 0)
    # would make the plain-'/' z expression 0/0 — an ANSI
    # DIVIDE_BY_ZERO if the z > 3 conjunct ever evaluated before the
    # n >= 12 gate. The filter's And DOES short-circuit left-to-right
    # today, but correctness should not hinge on conjunct ordering;
    # on every row the filter keeps (n >= 12, var_num > 0) all three
    # divisors are provably nonzero, so values are unchanged.
    z = F.try_divide(
        F.col("cnt").cast("double") - F.try_divide(sd, nd),
        F.sqrt(F.try_divide(var_num, nd * (nd - 1.0))),
    )
    return (
        t.filter((F.col("n") >= 12) & (var_num > 0) & (z > 3.0))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm").alias("hour"),
            "cnt",
            F.round(sd / nd, 4).alias("trailing_mean"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "timeseries_seasonal_decompose",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), trended AS (
            SELECT event_type, h, cnt,
                   CAST(count(cnt) OVER w AS BIGINT) AS n2,
                   CAST(sum(cnt) OVER w AS BIGINT) AS s2
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ), det AS (
            SELECT event_type,
                   CAST(hour(h) AS BIGINT) AS hod,
                   CAST(round((CAST(cnt AS DOUBLE)
                               - CAST(s2 AS DOUBLE) / NULLIF(CAST(n2 AS DOUBLE), 0))
                              * 1000000000.0) AS BIGINT) AS dq
            FROM trended WHERE n2 = 25
        )
        SELECT event_type, hod,
               CAST(count(*) AS BIGINT) AS n_cells,
               round((CAST(sum(dq) AS DOUBLE) / NULLIF(CAST(count(*) AS DOUBLE), 0))
                     / 1000000000.0, 4) AS seasonal
        FROM det GROUP BY event_type, hod
    """,
    tags=("analytics", "timeseries", "seasonal", "window"),
)
def timeseries_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition, step one and two:
    TREND = centered 25-hour moving average of the hourly counts
    (full windows only), SEASONAL = the hour-of-day profile of the
    detrended series — the decomposition every capacity-planning and
    anomaly pipeline runs before modeling residuals (the moving-average
    STL ancestor; full STL swaps the means for loess, same plan
    shape).

    Float discipline: trend is ONE division of integer window sums;
    each detrended cell is nano-quantized to a BIGINT immediately
    (profile_psi_drift's order-free-sum trick), so the per-(type,
    hour-of-day) seasonal mean is integer-sum / count — one more
    division — and the hash has no float-accumulation surface.

    Scale shape: events collapse to the bounded (type × hour) grid;
    the centered MA sorts the grid per type; the seasonal agg is
    120 output cells. Same bounded-cell discipline as
    event_spike_detection, which consumes the residuals this
    decomposition explains.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-12, 12)
    )
    trended = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.count("cnt").over(w).cast("bigint").alias("n2"),
        F.sum("cnt").over(w).cast("bigint").alias("s2"),
    )
    dq = F.round(
        (
            F.col("cnt").cast("double")
            - F.col("s2").cast("double") / F.col("n2").cast("double")
        )
        * 1000000000.0
    ).cast("bigint")
    det = trended.filter(F.col("n2") == 25).select(
        "event_type",
        F.hour("h").cast("bigint").alias("hod"),
        dq.alias("dq"),
    )
    return det.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(
            (F.sum("dq").cast("double") / F.count("*").cast("double"))
            / 1000000000.0,
            4,
        ).alias("seasonal"),
    )


@register(
    "scd2_apply_changes",
    # The oracle is the FULL REBUILD over all events — identical SQL to
    # scd2_from_events — so the driver hash proves the incremental
    # apply (history preserved + boundary close-outs + appended
    # versions) reconstructs exactly what a from-scratch build says
    # (the agg_incremental_maintenance "oracle IS the recompute"
    # pattern, applied to dimension maintenance).
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), changes AS (
            SELECT user_id, event_type, ts, event_id
            FROM ordered
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS version,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), '%Y-%m-%d %H:%M:%S') AS valid_to,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) IS NULL AS is_current
        FROM changes
    """,
    tags=("analytics", "scd2", "cdc", "incremental", "merge"),
)
def scd2_apply_changes(spark, sf_dir):
    """Incremental SCD2 maintenance (the MERGE pattern every dimension
    pipeline runs nightly): an EXISTING SCD2 table (built from events
    before Jan 21) receives a change batch (events from Jan 21 on) —
    historical rows are carried over UNTOUCHED, each affected user's
    open row is closed at their first new change, and new versions
    append numbered from that user's historical max. The first delta
    row per user compares against the OPEN row's type (not a lag
    inside the batch), so a boundary row repeating the current type
    correctly produces no change.

    All windows order by (ts, event_id) — the repo-wide tiebreak —
    and the incremental result must hash-equal the full rebuild.

    Scale shape: the nightly apply touches only users present in the
    delta (the history scan prunes by user partition / merge-on-read
    at 100 TB); windows run per user over history + batch slices —
    never a global recompute, which is the entire point vs
    scd2_from_events.
    """
    split = F.lit("2024-01-21").cast("timestamp_ntz")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist_ev = ev.filter(F.col("ts") < split)
    delta_ev = ev.filter(F.col("ts") >= split)

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def change_rows(df):
        return (
            df.withColumn("prev_type", F.lag("event_type").over(wo))
            .filter(
                F.col("prev_type").isNull()
                | (F.col("event_type") != F.col("prev_type"))
            )
            .select("user_id", "event_type", "ts", "event_id")
        )

    hist_changes = change_rows(hist_ev)
    # The standing SCD2 table: versions, validity, open rows.
    hist_scd2 = hist_changes.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).cast("bigint").alias("version"),
        F.col("ts").alias("valid_from_ts"),
        F.lead("ts").over(wo).alias("valid_to_ts"),
    )
    # Open-row state per user: current type + max version.
    cur = hist_scd2.filter(F.col("valid_to_ts").isNull()).select(
        "user_id",
        F.col("event_type").alias("cur_type"),
        F.col("version").alias("n_versions"),
    )
    # Delta changes: first row per user compares to the OPEN type.
    delta_marked = (
        delta_ev.withColumn("prev_in_batch", F.lag("event_type").over(wo))
        .join(F.broadcast(cur), "user_id", "left")
        .withColumn(
            "prev_type", F.coalesce(F.col("prev_in_batch"), F.col("cur_type"))
        )
    )
    delta_changes = delta_marked.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_type", "ts", "event_id", "n_versions")
    new_rows = delta_changes.select(
        "user_id",
        "event_type",
        (
            F.coalesce(F.col("n_versions"), F.lit(0))
            + F.row_number().over(wo)
        )
        .cast("bigint")
        .alias("version"),
        F.col("ts").alias("valid_from_ts"),
        F.lead("ts").over(wo).alias("valid_to_ts"),
    )
    # Close the formerly-open row of users whose delta produced changes.
    first_new = delta_changes.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id"))["ts"].alias("close_ts")
    )
    closed_hist = (
        hist_scd2.join(F.broadcast(first_new), "user_id", "left")
        .select(
            "user_id",
            "event_type",
            "version",
            "valid_from_ts",
            F.when(
                F.col("valid_to_ts").isNull() & F.col("close_ts").isNotNull(),
                F.col("close_ts"),
            )
            .otherwise(F.col("valid_to_ts"))
            .alias("valid_to_ts"),
        )
    )
    merged = closed_hist.unionByName(
        new_rows.select(
            "user_id", "event_type", "version", "valid_from_ts", "valid_to_ts"
        )
    )
    return merged.select(
        "user_id",
        "event_type",
        "version",
        F.date_format("valid_from_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.date_format("valid_to_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.col("valid_to_ts").isNull().alias("is_current"),
    )


@register(
    "window_rolling_distinct_users",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), spine AS (
            SELECT CAST(gs.d AS DATE) AS day
            FROM (SELECT unnest(generate_series(
                      (SELECT min(day) FROM pairs),
                      (SELECT max(day) FROM pairs),
                      INTERVAL 1 DAY)) AS d) gs
        ), seg AS (
            SELECT user_id, day,
                   lead(day) OVER (PARTITION BY user_id ORDER BY day)
                       AS next_day
            FROM pairs
        ), contrib AS (
            SELECT s.user_id,
                   CAST(s.day + r.i * INTERVAL 1 DAY AS DATE) AS win_end
            FROM seg s, UNNEST(range(0, 7)) AS r(i)
            WHERE s.next_day IS NULL
               OR s.day + r.i * INTERVAL 1 DAY < s.next_day
        )
        SELECT sp.day,
               CAST(count(c.user_id) AS BIGINT) AS distinct_users_7d
        FROM spine sp
        LEFT JOIN contrib c ON c.win_end = sp.day
        GROUP BY sp.day
    """,
    tags=("analytics", "window", "distinct", "rolling"),
)
def window_rolling_distinct_users(spark, sf_dir):
    """EXACT rolling 7-day distinct users per day — the finite-window
    generalization of event_cumulative_reach's rewrite, and the other
    window no engine supports natively (COUNT(DISTINCT) OVER a moving
    frame). The trick: a user's activity day a is their LAST activity
    inside the window ending d exactly when a ≤ d < min(a+7,
    next_activity) — so each (user, day) pair contributes to AT MOST 7
    window ends (explode a bounded range, cap at the user's next
    activity), and a plain count per window end IS the rolling
    distinct count: no per-window set, no quadratic rescan.

    Scale shape: the (user, day) distinct and the per-user lead window
    shuffle once on user_id; the contribution explode is ≤ 7×; the
    final groupBy lands on the bounded day spine. At any scale this is
    a constant-factor pass over the activity pairs — compare the
    naive 7-day self-join, which rescans every pair per window.
    """
    pairs = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    bounds = pairs.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    seg = pairs.withColumn("next_day", F.lead("day").over(w))
    contrib = (
        seg.select(
            "user_id",
            "next_day",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), 6),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("win_end"),
        )
        .filter(
            F.col("next_day").isNull() | (F.col("win_end") < F.col("next_day"))
        )
        .select("user_id", "win_end")
    )
    return (
        spine.join(contrib, spine.day == contrib.win_end, "left")
        .groupBy("day")
        .agg(F.count("user_id").cast("bigint").alias("distinct_users_7d"))
    )


@register(
    "event_path_trigrams",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type, 1) OVER w AS p1,
                   lag(event_type, 2) OVER w AS p2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT p2 AS step1, p1 AS step2, event_type AS step3,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM ordered
        WHERE p2 IS NOT NULL
        GROUP BY p2, p1, event_type
        ORDER BY n_paths DESC, step1, step2, step3
        LIMIT 20
    """,
    tags=("analytics", "sequence", "path", "window"),
)
def event_path_trigrams(spark, sf_dir):
    """Top-20 length-3 behavioral paths (the Sankey / user-flow
    diagram's data): consecutive event-type trigrams per user via two
    lags in one window pass — one step up from
    event_markov_transitions' bigram matrix (trigrams expose
    second-order structure a first-order Markov chain cannot, e.g.
    view→click→purchase vs click→view→purchase asymmetry). Total
    order under LIMIT: (n_paths DESC, then the three steps).

    Scale shape: one user_id shuffle for the window, then a partial
    agg on the ≤|types|³ = 125-cell path grid — bounded output,
    map-side combinable, TakeOrdered for the cut.
    """
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type", 1).over(wo).alias("p1"),
        F.lag("event_type", 2).over(wo).alias("p2"),
    )
    return (
        ev.filter(F.col("p2").isNotNull())
        .groupBy(
            F.col("p2").alias("step1"),
            F.col("p1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count("*").cast("bigint").alias("n_paths"))
        .orderBy(
            F.desc("n_paths"), F.asc("step1"), F.asc("step2"), F.asc("step3")
        )
        .limit(20)
    )


@register(
    "skyline_pareto_frontier",
    oracle="""
        WITH g AS (
            SELECT n_name AS nation, s_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS total_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, s_suppkey
        )
        SELECT p.nation, p.s_suppkey, p.total_qty,
               p.rev_cents / 100.0 AS revenue
        FROM g p
        WHERE NOT EXISTS (
            SELECT 1 FROM g q
            WHERE q.nation = p.nation
              AND q.total_qty >= p.total_qty
              AND q.rev_cents >= p.rev_cents
              AND (q.total_qty > p.total_qty OR q.rev_cents > p.rev_cents)
        )
    """,
    tags=("analytics", "skyline", "window"),
)
def skyline_pareto_frontier(spark, sf_dir):
    """2-D skyline (Pareto frontier, Börzsönyi et al. ICDE'01): per
    nation, the suppliers NOT dominated on (total shipped quantity,
    total revenue) — no other same-nation supplier is ≥ on both axes
    and > on at least one. The classic OLAP dominance operator the
    registry lacked; equal-on-both-axes ties all survive (dominance
    requires a strict axis).

    Spark shape is the sort-sweep, not the quadratic NOT EXISTS the
    oracle runs: collapse to one row per (nation, qty) keeping the
    group's max revenue, take the running max of that revenue over
    STRICTLY higher qty rows (rowsBetween(-∞, -1) after the
    collapse), and a supplier survives iff its revenue beats that
    running max AND is its own qty-group's max. Two hash aggregates +
    one window per nation partition — O(n log n) per nation vs the
    oracle's O(n²), same rows (pinned by the driver hash).

    Money discipline: revenue accumulates as exact integer cents and
    divides once in the projection (functions/money.py idiom).

    Scale shape: everything partitions by nation (the window included);
    a single giant partition would use the two-phase bucket-offset
    prefix-max (the ids_global_row_number pattern) — with 2-D skyline
    the collapse step already bounds the window input to distinct
    qty values per partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )
    grp = g.groupBy("nation", "total_qty").agg(
        F.max("rev_cents").alias("gmax")
    )
    w = (
        Window.partitionBy("nation")
        .orderBy(F.desc("total_qty"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.select(
        "nation", "total_qty", "gmax", F.max("gmax").over(w).alias("prevmax")
    )
    return (
        g.join(grp, ["nation", "total_qty"])
        .filter(
            (F.col("prevmax").isNull() | (F.col("rev_cents") > F.col("prevmax")))
            & (F.col("rev_cents") == F.col("gmax"))
        )
        .select(
            "nation",
            "s_suppkey",
            "total_qty",
            (F.col("rev_cents") / 100.0).alias("revenue"),
        )
    )


@register(
    "timeseries_cusum_changepoint",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, h, cnt,
                   CAST(row_number() OVER wo AS BIGINT) AS k,
                   CAST(sum(cnt) OVER wo AS BIGINT) AS s,
                   CAST(count(*) OVER wp AS BIGINT) AS n,
                   CAST(sum(cnt) OVER wp AS BIGINT) AS t
            FROM hourly
            WINDOW wo AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
                   wp AS (PARTITION BY event_type)
        ), scored AS (
            SELECT event_type, h, k, s, n, t,
                   abs(n * s - k * t) AS d,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(n * s - k * t) DESC, h ASC
                   ) AS rk
            FROM cum WHERE k < n
        )
        SELECT event_type,
               n AS n_hours,
               t AS total_events,
               k AS change_idx,
               strftime(h, '%Y-%m-%d %H:%M') AS change_hour,
               d AS cusum_stat,
               CAST((2 * s * 1000000 + k) // NULLIF((2 * k), 0) AS BIGINT)
                   AS mean_before_micro,
               CAST((2 * (t - s) * 1000000 + (n - k)) // NULLIF((2 * (n - k)), 0)
                    AS BIGINT) AS mean_after_micro
        FROM scored WHERE rk = 1
    """,
    tags=("analytics", "timeseries", "changepoint", "cusum"),
)
def timeseries_cusum_changepoint(spark, sf_dir):
    """Offline CUSUM change-point detection per event type — the
    at-most-one-change estimator (Page 1954 / Hinkley 1970): over the
    hourly count series, the change point is the prefix k maximizing
    the cumulative deviation from the global mean, argmax_k
    |S_k - k*T/n|, reported with the level before/after the break —
    the "did traffic shift, and when" primitive behind deployment and
    data-drift forensics.

    Exactness: the statistic is scaled by n to the all-integer form
    |n*S_k - k*T| (no division anywhere near the argmax), and the
    argmax carries a total order (stat DESC, hour ASC), so the chosen
    break is bit-deterministic; before/after means are micro-quantized
    by shifted round-half-up division of exact integer sums (operands
    positive, Spark DIV == DuckDB //). Interior splits only (k < n:
    both segments non-empty).

    Scale shape: events collapse to the bounded (type x hour) grid in
    one map-side-combinable aggregate; every window (running sum,
    per-type totals, the argmax rank) sorts only that grid — the
    event_spike_detection bounded-cell discipline. At 100 TB the same
    plan runs on the hourly rollup, never the raw event log.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "h",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("h"))
        .cast("bigint")
        .alias("k"),
        F.sum("cnt").over(wo).cast("bigint").alias("s"),
        F.count("*").over(wp).cast("bigint").alias("n"),
        F.sum("cnt").over(wp).cast("bigint").alias("t"),
    )
    scored = (
        cum.filter(F.col("k") < F.col("n"))
        .withColumn(
            "d", F.abs(F.col("n") * F.col("s") - F.col("k") * F.col("t"))
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.desc("d"), F.asc("h")
                )
            ),
        )
    )
    return scored.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("t").alias("total_events"),
        F.col("k").alias("change_idx"),
        F.date_format("h", "yyyy-MM-dd HH:mm").alias("change_hour"),
        F.col("d").alias("cusum_stat"),
        F.expr("(2 * s * 1000000 + k) DIV (2 * k)")
        .cast("bigint")
        .alias("mean_before_micro"),
        F.expr("(2 * (t - s) * 1000000 + (n - k)) DIV (2 * (n - k))")
        .cast("bigint")
        .alias("mean_after_micro"),
    )
