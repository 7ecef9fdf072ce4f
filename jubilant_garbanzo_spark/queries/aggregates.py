"""Aggregation operators (SURVEY.md §2b "Aggregation").

Generalizes the reference's two aggregations — ``reduceByKeyAndWindow``
(``main.scala:47``) and ``rdd.count()`` (``main.scala:53``) — to the
full groupBy/distinct/rollup/cube/stats surface. Every aggregate here
is a Catalyst two-phase HashAggregate (partial per input partition,
final after one shuffle); the exact-cents discipline keeps double sums
reproducible across any partial-aggregation tree (functions/money.py).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import fan_out_scan, load_table
from jubilant_garbanzo_spark.functions.emptysafe import empty_fallback
from jubilant_garbanzo_spark.functions.hashing import md5_hex_bigint
from jubilant_garbanzo_spark.functions.money import exact_sum, exact_sum_sql
from jubilant_garbanzo_spark.queries import register


@register(
    "agg_groupby_basic",
    oracle=f"""
        SELECT event_type,
               count(*)                                 AS n_events,
               count(DISTINCT user_id)                  AS n_users,
               {exact_sum_sql("value", 6)}              AS sum_value,
               {exact_sum_sql("value", 6)} / NULLIF(count(*), 0)   AS avg_value,
               min(value)                               AS min_value,
               max(value)                               AS max_value
        FROM events
        GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_groupby_basic(spark, sf_dir):
    """count/sum/avg/min/max + count-distinct per group (R5/R9
    generalized to batch)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        exact_sum(F.col("value"), 6).alias("sum_value"),
        (exact_sum(F.col("value"), 6) / F.count("*")).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "agg_distinct",
    oracle="""
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("agg", "distinct"),
)
def agg_distinct(spark, sf_dir):
    """DISTINCT = groupBy-no-agg; partial dedup before the shuffle."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "agg_approx_count_distinct",
    # The sketch value itself is engine-private, but its ERROR BOUND is
    # an oracle-checkable contract: the query emits within_bound =
    # |approx − exact|/exact ≤ 5·rsd computed in-query, and the oracle
    # asserts TRUE alongside the exact count — if HLL++ ever drifts
    # outside its published bound, the driver hash goes red.
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ distinct estimate with its error bound made a
    checked output. At 100 TB this replaces exact count-distinct
    (which must shuffle every distinct value); rsd=0.01 keeps the
    sketch a few KB per group. The raw sketch value stays out of the
    projection (not cross-engine reproducible); the bound column is
    the guarantee."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    exact = F.countDistinct("l_partkey")
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= 0.05 * exact.cast("double")
        ).alias("within_bound"),
    )


@register(
    "agg_rollup",
    oracle=f"""
        SELECT coalesce(r_name, 'ALL')  AS region,
               coalesce(n_name, 'ALL')  AS nation,
               count(*)                 AS n_customers,
               {exact_sum_sql("c_acctbal")} AS total_balance
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy region→nation→grand-total. The grand-total row
    survives empty input via :func:`empty_fallback` (ANSI emits the
    ungrouped row where Spark's Expand emits nothing)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    rolled = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum(F.col("c_acctbal")).alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_balance",
        )
    )
    return empty_fallback(
        rolled,
        [
            F.lit("ALL").alias("region"),
            F.lit("ALL").alias("nation"),
            F.lit(0).cast("bigint").alias("n_customers"),
            F.lit(None).cast("double").alias("total_balance"),
        ],
    )


@register(
    "agg_cube",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL')   AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*)                         AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark, sf_dir):
    """CUBE: all 2^2 grouping combinations; grand total rescued on
    empty input by :func:`empty_fallback`."""
    o = load_table(spark, sf_dir, "orders")
    cubed = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )
    return empty_fallback(
        cubed,
        [
            F.lit("ALL").alias("status"),
            F.lit("ALL").alias("priority"),
            F.lit(0).cast("bigint").alias("n_orders"),
        ],
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
               count(*) AS n_customers,
               CAST(GROUPING(c_mktsegment) AS INTEGER) AS is_seg_total
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL entry point (SURVEY §3.3) —
    engine registers a catalog view so SQL and DataFrame paths are
    interchangeable (only the one table this query reads: registering
    all ten forced nine needless parquet-footer reads per run). The
    empty ``()`` set's row survives empty input via
    :func:`empty_fallback` (GROUPING(c_mktsegment) = 1 there)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    sets = spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation,
               count(*) AS n_customers,
               CAST(GROUPING(c_mktsegment) AS INT) AS is_seg_total
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )
    return empty_fallback(
        sets,
        [
            F.lit("ALL").alias("segment"),
            F.lit("ALL").alias("nation"),
            F.lit(0).cast("bigint").alias("n_customers"),
            F.lit(1).cast("int").alias("is_seg_total"),
        ],
    )


@register(
    "agg_having",
    oracle="""
        SELECT l_partkey, count(*) AS n_lines
        FROM lineitem
        GROUP BY l_partkey
        HAVING count(*) >= 5
    """,
    tags=("agg", "having"),
)
def agg_having(spark, sf_dir):
    """HAVING = post-aggregation filter (Catalyst pushes nothing here —
    the predicate depends on the aggregate itself)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") >= 5)
    )


@register(
    "agg_statistics",
    oracle="""
        SELECT o_orderstatus,
               round(stddev_samp(o_totalprice), 4) AS price_stddev,
               round(var_samp(o_totalprice), 2)    AS price_var,
               round(var_pop(o_totalprice), 2)     AS price_var_pop,
               round(corr(o_totalprice, o_custkey), 6)       AS price_cust_corr,
               round(covar_samp(o_totalprice, o_custkey), 2) AS price_cust_covar
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def agg_statistics(spark, sf_dir):
    """Sample/population variance, stddev, correlation, covariance.
    Engine accumulation orders differ → round absorbs the 1e-12 noise
    (values are far from decimal ties)."""
    o = load_table(spark, sf_dir, "orders")
    # corr composed as covar/(sx*sy) under try_divide (round-12
    # constant-value audit): Spark's native corr aggregate ITSELF
    # raises DIVIDE_BY_ZERO under ANSI when either side has zero
    # variance, where DuckDB's corr yields NULL. The composition is
    # the same Pearson estimator (the n-1 factors cancel), rounds
    # identically at 6 decimals, and try_divide returns the oracle's
    # NULL on degenerate groups.
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
        F.round(F.var_pop("o_totalprice"), 2).alias("price_var_pop"),
        F.round(
            F.try_divide(
                F.covar_samp("o_totalprice", "o_custkey"),
                F.stddev_samp("o_totalprice") * F.stddev_samp("o_custkey"),
            ),
            6,
        ).alias("price_cust_corr"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 2).alias(
            "price_cust_covar"
        ),
    )


@register(
    "agg_skewness_kurtosis",
    oracle="""
        WITH mu AS (
            SELECT event_type, avg(value) AS m FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               -- explicit zero-variance guard (round-13 div-zero
               -- sweep): Spark's skewness()/kurtosis() return NULL on
               -- a constant group; saying so via CASE instead of
               -- relying on DuckDB's x/0 default keeps the oracle
               -- DuckDB-version-independent (1.0 gives NULL, newer
               -- IEEE-mode builds give inf)
               CASE WHEN avg(pow(value - m, 2)) = 0 THEN NULL
                    ELSE round(avg(pow(value - m, 3))
                         / NULLIF(pow(avg(pow(value - m, 2)), 1.5), 0), 5)
               END AS skew,
               CASE WHEN avg(pow(value - m, 2)) = 0 THEN NULL
                    ELSE round(avg(pow(value - m, 4))
                         / NULLIF(pow(avg(pow(value - m, 2)), 2), 0) - 3, 5)
               END AS kurt
        FROM events e JOIN mu ON e.event_type = mu.event_type
        GROUP BY e.event_type
    """,
    tags=("agg", "stats"),
)
def agg_skewness_kurtosis(spark, sf_dir):
    """Skewness/kurtosis. Spark uses POPULATION moments (g1, excess
    g2); DuckDB's built-ins use sample-corrected formulas — so the
    oracle recomputes Spark's definition from raw central moments
    instead of calling DuckDB's skewness()/kurtosis()."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.skewness("value"), 5).alias("skew"),
        F.round(F.kurtosis("value"), 5).alias("kurt"),
    )


@register(
    "agg_percentiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
               round(median(l_quantity), 4)                   AS med_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``: linear interpolation at rank p·(n−1))."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )


@register(
    "agg_percentile_approx",
    # Same bound-as-output trick as agg_approx_count_distinct: the GK
    # sketch's rank-error contract (≤ n/accuracy ranks) is checked
    # in-query — the approx median must land inside the exact
    # [p49.95, p50.05] band — and the oracle pins the bound TRUE next
    # to the exact median.
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
               TRUE AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "percentile"),
)
def agg_percentile_approx(spark, sf_dir):
    """percentile_approx (GK sketch): the 100 TB path for quantiles —
    fixed-size state per group vs full sort for exact percentiles.
    accuracy=10000 bounds rank error to n/10000 ranks (< 0.05 % of
    ranks), so the sketch median must sit inside the exact
    0.4995–0.5005 quantile band — emitted as a checked boolean; the
    sketch value itself stays out of the projection (not cross-engine
    reproducible)."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", 0.5, 10000)
    lo = F.percentile("l_extendedprice", F.lit(0.4995))
    hi = F.percentile("l_extendedprice", F.lit(0.5005))
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_exact"),
        ((approx >= lo) & (approx <= hi)).alias("within_bound"),
    )


@register(
    "agg_collect_list_set",
    oracle="""
        SELECT o_custkey,
               array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
                   AS order_keys,
               array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
                   AS statuses
        FROM orders
        WHERE o_custkey < 30
        GROUP BY o_custkey
    """,
    tags=("agg", "collect"),
)
def agg_collect_list_set(spark, sf_dir):
    """collect_list/collect_set with explicit sort discipline (Spark
    collection order is partition-dependent → always sort_array before
    comparing or emitting downstream). The lists are emitted as
    delimiter-joined strings: array-typed output columns are not
    hashable by the driver's canonicalizer (round-1 ERROR), and a
    joined string carries the identical information."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
            "order_keys"
        ),
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
    )


@register(
    "agg_pivot",
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events
        GROUP BY 1
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark, sf_dir):
    """Pivot: daily event-type count matrix. The pivot values are
    DECLARED (not discovered) — an undeclared pivot needs an extra
    distinct-scan job and yields nondeterministic column order, both
    wrong at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in types]
    )


@register(
    "agg_unpivot",
    oracle="""
        SELECT o_orderpriority, 'max_price' AS metric,
               round(max(o_totalprice), 2) AS value
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT o_orderpriority, 'n_orders' AS metric,
               CAST(count(*) AS DOUBLE) AS value
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "unpivot"),
)
def agg_unpivot(spark, sf_dir):
    """Unpivot (melt): wide per-priority aggregates to long
    (priority, metric, value) rows — ``DataFrame.unpivot`` maps to a
    single Generate, no shuffle beyond the aggregation."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.count("*").cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ["o_orderpriority"], ["max_price", "n_orders"], "metric", "value"
    )


@register(
    "agg_regression_exact_moments",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(count(*) AS DECIMAL(38,0)) AS n,
                   CAST(sum(CAST(tr AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   -- HUGEINT products: BIGINT tr*cents / cents²
                   -- overflow 2^63 at the numeric-contract edge
                   -- (round-13 extremes audit)
                   CAST(sum(CAST(tr AS HUGEINT) * cents)
                        AS DECIMAL(38,0)) AS sxy,
                   CAST(sum(CAST(tr AS HUGEINT) * tr)
                        AS DECIMAL(38,0)) AS sxx,
                   CAST(sum(CAST(cents AS HUGEINT) * cents)
                        AS DECIMAL(38,0)) AS syy
            FROM (
                SELECT event_type,
                       epoch_us(ts) // 1000000 - 1704067200 AS tr,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            )
            GROUP BY event_type
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_points,
               -- explicit degenerate-group guards (round-12
               -- single-row audit): a 1-point / constant-regressor
               -- group has no slope; NULL on both engines, never
               -- DIVIDE_BY_ZERO and never DuckDB-version-dependent
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round(86400.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
                         / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)) / 100.0, 6)
               END AS slope_units_per_day,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round((CAST(sy AS DOUBLE)
                          - (CAST(n * sxy - sx * sy AS DOUBLE)
                             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0))
                            * CAST(sx AS DOUBLE))
                         / NULLIF((CAST(n AS DOUBLE) * 100.0), 0), 6)
               END AS intercept_units,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                    THEN NULL
                    ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                          * CAST(n * sxy - sx * sy AS DOUBLE))
                         / NULLIF((CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 0), 6)
               END AS r2
        FROM m
        ORDER BY event_type
    """,
    tags=("agg", "regression", "stats"),
)
def agg_regression_exact_moments(spark, sf_dir):
    """Per-group OLS fit (value vs time) from EXACT integer moments:
    Σx, Σy, Σxy, Σx², Σy² accumulate as DECIMAL(38,0) over integer
    seconds (epoch − 2024-01-01) and cents, so the only float ops are
    the final slope/intercept/r² divisions — deterministic on any
    engine and partial-agg tree, unlike the engine-native
    regr_slope/corr doubles whose partial merges are order-dependent.

    Scale shape: a textbook map-side-combinable aggregate — five
    integer partials per group, one shuffle; DECIMAL(38,0) partials
    stay exact far beyond BIGINT range (Σx² at 100 TB event volumes
    exceeds 2^63; 38 digits does not)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 - 1704067200"
        ).alias("tr"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dec = "DECIMAL(38,0)"
    m = ev.groupBy("event_type").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("tr").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("sy"),
        # moment products multiply in DECIMAL, not BIGINT: at the
        # numeric-contract edge (~1e11 cents) the long products
        # overflow 2^63 (round-13 extremes audit); (19,0)x(19,0)
        # multiplies exactly into the capped decimal(38,0)
        F.sum(
            F.col("tr").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).cast(dec).alias("sxy"),
        F.sum(
            F.col("tr").cast("decimal(19,0)")
            * F.col("tr").cast("decimal(19,0)")
        ).cast(dec).alias("sxx"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).cast(dec).alias("syy"),
    )
    dxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # try_divide (round-12 single-row audit): a 1-point group (or one
    # with a constant regressor) has dxx = 0 — no slope exists. ANSI
    # Spark crashed where the oracle's guard yields NULL; r2's second
    # factor dyy = 0 likewise for constant responses.
    slope = F.try_divide(dxy, dxx)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(F.lit(86400.0) * slope / F.lit(100.0), 6).alias(
            "slope_units_per_day"
        ),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(100.0)),
            6,
        ).alias("intercept_units"),
        F.round(F.try_divide(dxy * dxy, dxx * dyy), 6).alias("r2"),
    ).orderBy("event_type")


@register(
    "agg_hll_sketch_union",
    oracle="""
        SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_groups,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact,
               TRUE AS within_bound
        FROM events
    """,
    tags=("agg", "sketch", "approx", "hll"),
)
def agg_hll_sketch_union(spark, sf_dir):
    """Mergeable distinct-count sketches: one Apache DataSketches HLL
    per event_type (lgK=14), merged with hll_union_agg, estimate
    checked in-query against the exact distinct count (±5 % ≈ 6σ at
    lgK=14) — the oracle pins the exact count and the bound verdict,
    so a broken sketch merge turns the row red.

    This is THE 100 TB cardinality pattern: per-partition sketches are
    tiny (≤16 KB), merge associatively on the driver-free reduce path,
    and recombine across days/tenants without rescanning — the
    reference's ``rdd.count()`` (main.scala:53) can only count one
    bounded batch."""
    ev = load_table(spark, sf_dir, "events")
    per_group = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("event_id", 14).alias("sk")
    )
    unioned = per_group.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.agg(F.countDistinct("event_id").cast("bigint").alias("n_exact"))
    return unioned.crossJoin(exact).select(
        "n_groups",
        "n_exact",
        # Integer-exact bound check: |est − exact| ≤ 5 % of exact.
        (
            F.abs(F.col("est") - F.col("n_exact")) * F.lit(100)
            <= F.lit(5) * F.col("n_exact")
        ).alias("within_bound"),
    )


#: Count-Min sketch geometry: 4 independent hash rows x 128 buckets.
#: Error guarantee: est >= exact always; est <= exact + 2*N/width with
#: probability 1 - (1/2)^depth (Cormode & Muthukrishnan 2005).
_CMS_DEPTH = 4
_CMS_WIDTH = 128


def _cms_bucket_sql(depth_expr: str, key_expr: str) -> str:
    """DuckDB twin of the md5-derived CMS row hash (proven idiom)."""
    return (
        f"(('0x' || substr(md5(CAST({depth_expr} AS VARCHAR) || ':' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {_CMS_WIDTH})"
    )


def _cms_bucket_spark(depth, key):
    """md5-derived bucket for one CMS hash row — Spark side."""
    return (
        md5_hex_bigint(
            F.concat(depth.cast("string"), F.lit(":"), key.cast("string")),
            length=8,
        )
        % _CMS_WIDTH
    )


@register(
    "agg_countmin_heavy_hitters",
    oracle=f"""
        WITH keyed AS (SELECT o_custkey AS key FROM orders),
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
               min(s.cnt) - c.exact AS overcount,
               min(s.cnt) >= c.exact AS guarantee_ok
        FROM cand c
        CROSS JOIN depths d
        JOIN sketch s
          ON s.depth = d.depth
         AND s.bucket = {_cms_bucket_sql('d.depth', 'c.key')}
        GROUP BY c.key, c.exact
        ORDER BY est DESC, key ASC
        LIMIT 15
    """,
    tags=("agg", "sketch", "approx", "count-min", "heavy-hitters"),
)
def agg_countmin_heavy_hitters(spark, sf_dir):
    """Count-Min sketch heavy hitters, implemented from scratch on
    md5-derived 2-universal hash rows (Cormode & Muthukrishnan 2005)
    so the ENTIRE sketch — build, merge, probe — replays exactly in
    DuckDB: a full value oracle for an approximate structure, not
    just a bound check.

    The sketch is built as the sum-merge of two half-corpus sketches
    (split on o_orderkey parity) to exercise the mergeability that
    makes CMS the 100 TB frequency pattern: per-partition sketches
    are a fixed depth x width integer grid (4x128 here), merge by
    cellwise +, and the estimate for any key is min over rows of its
    hashed cell — always an overcount (guarantee_ok pins this),
    within 2N/width with probability 1-2^-depth.

    Scale shape: build = one map-side-combinable groupBy over
    (depth, bucket) — 512 cells total regardless of corpus size;
    probe = broadcast-join candidates against the tiny sketch. The
    exact counts emitted alongside exist only to audit the sketch at
    test scale; the sketch itself never needs them.
    """
    orders = load_table(spark, sf_dir, "orders")
    # Round 15 (guide §2.5): the sketch build's per-row md5 hashing
    # (4 depth rows per order) fuses above the scan, which the
    # single-row-group fixture caps at ONE task — the footer-gated
    # fan-out spreads the hash work; the exchange ships two ints/row.
    keyed = fan_out_scan(
        spark,
        orders.select(
            F.col("o_custkey").alias("key"),
            (F.col("o_orderkey") % 2).alias("half"),
        ),
        sf_dir,
        "orders",
    )
    depths = F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("depth")
    hashed = keyed.select("key", "half", depths).withColumn(
        "bucket", _cms_bucket_spark(F.col("depth"), F.col("key"))
    )
    # Two half-sketches, then the cellwise-sum merge (associative, so
    # the direct-build DuckDB oracle produces identical cell counts).
    half_sketches = hashed.groupBy("half", "depth", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    sketch = half_sketches.groupBy("depth", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    cand = keyed.groupBy("key").agg(F.count("*").cast("bigint").alias("exact"))
    probes = cand.select("key", "exact", depths).withColumn(
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
            (F.col("est") - F.col("exact")).alias("overcount"),
            (F.col("est") >= F.col("exact")).alias("guarantee_ok"),
        )
        .orderBy(F.desc("est"), F.asc("key"))
        .limit(15)
    )


@register(
    "agg_mode_deterministic",
    oracle="""
        SELECT user_id, event_type AS mode_event_type, cnt AS mode_count
        FROM (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY count(*) DESC,
                                               event_type ASC) AS rn
            FROM events
            GROUP BY user_id, event_type
        )
        WHERE rn = 1
    """,
    tags=("agg", "mode", "deterministic"),
)
def agg_mode_deterministic(spark, sf_dir):
    """Deterministic per-group mode (most frequent event type per
    user, ties broken by value order). Spark's built-in ``mode()`` and
    ``max_by()`` return an ARBITRARY element on ties — fine for one
    engine, fatal for reproducible pipelines and cross-engine oracles
    — so the engine's mode is the two-level form: count per
    (group, value), then a rank-1 window with a total tie order. Same
    determinism policy as the sampling family (module docstring of
    queries/quality.py).

    Scale shape: the count is a map-side-combinable aggregate on
    (user, value); the window ranks over the tiny per-user value set
    (≤ |distinct values| rows per user) with a WindowGroupLimit
    cutoff — no second data-sized shuffle (the window reuses the
    aggregate's hash partitioning prefix).
    """
    ev = load_table(spark, sf_dir, "events")

    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "agg_exact_median_histogram",
    oracle="""
        WITH q AS (
            SELECT l_returnflag AS flag,
                   CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
            FROM lineitem
        ), ranked AS (
            SELECT flag, cents,
                   row_number() OVER (
                       PARTITION BY flag ORDER BY cents
                   ) AS rn,
                   count(*) OVER (PARTITION BY flag) AS n
            FROM q
        )
        SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
               CAST(max(cents) AS BIGINT) / 100.0 AS median_price
        FROM ranked
        WHERE rn = (n + 1) // 2
        GROUP BY flag
    """,
    tags=("agg", "median", "scale"),
)
def agg_exact_median_histogram(spark, sf_dir):
    """EXACT per-group median (lower median, rank ⌈n/2⌉) WITHOUT
    sorting the data — the two-phase histogram-pruning pattern that
    replaces a 100-TB global sort with one tiny-bucket sort:

    1. quantize to exact cents and count rows per (group, $100
       bucket) — one map-side-combinable aggregate;
    2. cumulative-sum the BUCKET HISTOGRAM (a window over ~price
       range / $100 rows per group, thousands at most, data-size
       independent) to find the single bucket whose rank span
       contains the median rank k = (n+1) div 2;
    3. re-scan ONLY that bucket's rows (broadcast the 1-row-per-group
       target bucket; the filter prunes everything else map-side) and
       row_number within it — ranks are bucket-local + the bucket's
       start offset, so the global k-th value falls out of a sort
       over ~1/buckets of one group's data.

    Equal cents values make the rank-k VALUE well-defined regardless
    of tie order, so no tiebreak is needed for determinism. The
    oracle computes the same rank-k element with a full global window
    — proving the pruned two-phase walk finds exactly it. (The
    approx twin is agg_percentile_approx's KLL bound; this one is
    bit-exact.)

    At 100 TB: phase 1 shuffles counts, not rows; phase 2's window
    touches histogram cells only; phase 3 sorts ≤ one bucket per
    group. Same offsets discipline as ids_global_row_number.
    """

    q = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100.0).cast("bigint").alias("cents"),
    )
    hist = q.groupBy(
        "flag", (F.col("cents") / 10000).cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("bn"))
    w = (
        Window.partitionBy("flag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "bucket",
        (F.sum("bn").over(w) - F.col("bn")).alias("start_rank"),
        F.sum("bn").over(w).alias("end_rank"),
        F.sum("bn").over(wn).alias("n"),
    )
    target = cum.filter(
        (F.col("start_rank") < F.floor((F.col("n") + 1) / 2))
        & (F.floor((F.col("n") + 1) / 2) <= F.col("end_rank"))
    ).select(
        F.col("flag").alias("tflag"),
        "bucket",
        "start_rank",
        F.floor((F.col("n") + 1) / 2).cast("bigint").alias("krank"),
        F.col("n").alias("n_rows"),
    )
    in_bucket = q.join(
        F.broadcast(target),
        (q.flag == F.col("tflag"))
        & ((F.col("cents") / 10000).cast("bigint") == F.col("bucket")),
    )
    wb = Window.partitionBy("tflag").orderBy("cents")
    return (
        in_bucket.withColumn("rib", F.row_number().over(wb))
        .filter(F.col("start_rank") + F.col("rib") == F.col("krank"))
        .select(
            "flag",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("cents") / 100.0).alias("median_price"),
        )
    )


@register(
    "agg_incremental_maintenance",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
                   / 1000000.0 AS total_value,
               CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-20'
                                        THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_batches
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "incremental", "materialized-view"),
)
def agg_incremental_maintenance(spark, sf_dir):
    """Incremental materialized-view maintenance: a per-event_type
    aggregate maintained as BASE PARTIALS (events before 2024-01-20)
    merged with DELTA PARTIALS (events after) — never re-scanning the
    base — must equal the full recompute, which is exactly what the
    oracle computes.

    The merge works because every maintained statistic is a
    COMMUTATIVE MONOID in exact integer space: counts add, micro-unit
    value sums add (the money.py idiom — a float sum would NOT merge
    reproducibly), and batch presence adds. This is the algebraic core
    of every incremental pipeline: at 100 TB you aggregate yesterday
    once, store cell-level partials, and fold in today's delta —
    turning a full-history scan into a delta scan + a partial-sized
    merge. Spark's own partial/final hash aggregation is the same
    algebra within one query; this materializes it ACROSS queries.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def partials(df, batch_id):
        return df.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("pn"),
            F.sum(F.round(F.col("value") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("pv"),
            F.lit(batch_id).alias("batch_id"),
        )

    base = partials(ev.filter(F.col("ts").cast("timestamp") < cutoff), 0)
    delta = partials(ev.filter(F.col("ts").cast("timestamp") >= cutoff), 1)
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pv").cast("bigint") / 1000000.0).alias("total_value"),
            F.count_distinct("batch_id").cast("bigint").alias("n_batches"),
        )
    )


@register(
    "agg_hll_intersection",
    oracle="""
        WITH a AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        ), b AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_exact_a,
               (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_exact_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM a WHERE user_id IN (SELECT user_id FROM b))
                   AS n_exact_both,
               TRUE AS within_bound
    """,
    tags=("agg", "sketch", "approx", "hll"),
)
def agg_hll_intersection(spark, sf_dir):
    """Cohort-overlap estimation from MERGEABLE sketches only:
    |clickers ∩ purchasers| via inclusion-exclusion of three HLL
    estimates (|A| + |B| − |A∪B|) — the pattern that answers audience
    overlap questions across tenants/days WITHOUT co-shuffling raw ids
    (the sketches are ≤16 KB; the union is a sketch merge, not a set
    union).

    The bound is checked in-query against the exact intersection
    (distinct-user semi join): inclusion-exclusion compounds the
    per-sketch error, so the tolerance is 10 % of |A∪B| + 1 — wider
    than the single-sketch 5 % bound agg_hll_sketch_union pins. The
    oracle fixes the three exact cardinalities and the bound verdict,
    so a broken merge or estimate turns the row red.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    sk = (
        a.select(F.lit("a").alias("side"), "user_id")
        .unionByName(b.select(F.lit("b").alias("side"), "user_id"))
        .groupBy("side")
        .agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    )
    # coalesce(0): over an EMPTY cohort the sketch aggregates are NULL
    # and every downstream comparison would be NULL instead of the
    # oracle's TRUE bound verdict (round-11 empty-input audit) — an
    # empty cohort's estimate is 0, exactly like its exact count.
    ests = sk.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("side") == "a", F.hll_sketch_estimate(F.col("sk"))
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("est_a"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("side") == "b", F.hll_sketch_estimate(F.col("sk"))
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("est_b"),
        F.coalesce(
            F.hll_sketch_estimate(F.hll_union_agg("sk")), F.lit(0)
        ).alias("est_union"),
    )
    ea = a.select("user_id").distinct()
    eb = b.select("user_id").distinct()
    exact = (
        ea.agg(F.count("*").cast("bigint").alias("n_exact_a"))
        .crossJoin(eb.agg(F.count("*").cast("bigint").alias("n_exact_b")))
        .crossJoin(
            ea.join(eb, "user_id", "left_semi").agg(
                F.count("*").cast("bigint").alias("n_exact_both")
            )
        )
    )
    return ests.crossJoin(exact).select(
        "n_exact_a",
        "n_exact_b",
        "n_exact_both",
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                - F.col("n_exact_both")
            )
            * F.lit(10)
            <= (F.col("est_union") + F.lit(10))
        ).alias("within_bound"),
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
        WITH bits AS (
            SELECT event_type,
                   user_id // 32 AS word,
                   bit_or(CAST(1 AS BIGINT)
                          << CAST(user_id % 32 AS INT)) AS bm
            FROM events
            GROUP BY event_type, user_id // 32
        )
        SELECT event_type,
               CAST(sum(bit_count(bm)) AS BIGINT) AS n_distinct_users,
               CAST(count(*) AS BIGINT) AS n_words
        FROM bits GROUP BY event_type
    """,
    tags=("agg", "distinct", "bitmap", "scale"),
)
def agg_bitmap_exact_distinct(spark, sf_dir):
    """EXACT distinct counting through a BITMAP aggregate — the
    roaring-bitmap pattern relational engines use when approximate
    (HLL) is not acceptable but shuffling every raw value is too
    expensive: fold ids into fixed 32-bit words with ``bit_or``
    (map-side combinable — each partition contributes word-masks, not
    id lists), then ``sum(bit_count(word))``.

    vs the two alternatives the engine also ships:
    - ``count(DISTINCT ...)`` (agg_distinct) shuffles every distinct
      value — exact, but the shuffle is O(ndv);
    - HLL (agg_approx_count_distinct / agg_hll_sketch_union) shuffles
      KB-sized sketches — cheap, but ±2 %.
    The bitmap is exact AND shuffles only ndv/32 words with dense ids
    (the fixture's user_id space); at 100 TB you'd dictionary-encode
    sparse ids first, which is exactly what roaring containers do.

    Everything is integer (shift, or, popcount — identical on both
    engines; bit positions capped at 31 to stay clear of BIGINT sign
    overflow, the join_bloom_prefilter geometry); n_words doubles as a
    density check (words ≈ ndv/32 means the id space is dense enough
    for plain bitmaps).
    """
    ev = load_table(spark, sf_dir, "events")
    word = (F.col("user_id") / 32).cast("bigint")
    # 2^bit as BIGINT (exact, bit <= 31): F.shiftleft needs a literal
    # shift amount, so pow-then-cast is the column-shift idiom here too
    bits = ev.groupBy("event_type", word.alias("word")).agg(
        F.expr(
            "bit_or(cast(pow(2.0, cast(user_id % 32 as double)) as bigint))"
        ).alias("bm")
    )
    return bits.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_distinct_users"),
        F.count("*").cast("bigint").alias("n_words"),
    )


@register(
    "agg_welch_ttest",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(count(*) AS DECIMAL(38,0)) AS n,
                   CAST(sum(CAST(cents AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS sx,
                   -- HUGEINT product: a BIGINT cents² overflows 2^63
                   -- at the numeric-contract edge (round-13 extremes
                   -- audit) — mirror of the Spark side's decimal mult
                   CAST(sum(CAST(cents AS HUGEINT) * cents)
                        AS DECIMAL(38,0)) AS sxx
            FROM (
                SELECT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events WHERE event_type IN ('click', 'view')
            )
            GROUP BY event_type
        ), w AS (
            SELECT
                (SELECT CAST(n AS DOUBLE) FROM m
                 WHERE event_type = 'click') AS n1,
                (SELECT CAST(n AS DOUBLE) FROM m
                 WHERE event_type = 'view') AS n2,
                (SELECT CAST(sx AS DOUBLE) FROM m
                 WHERE event_type = 'click') AS sx1,
                (SELECT CAST(sx AS DOUBLE) FROM m
                 WHERE event_type = 'view') AS sx2,
                (SELECT CAST(n * sxx - sx * sx AS DOUBLE) FROM m
                 WHERE event_type = 'click') AS m1,
                (SELECT CAST(n * sxx - sx * sx AS DOUBLE) FROM m
                 WHERE event_type = 'view') AS m2
        )
        SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
               round((sx1 / NULLIF(n1, 0) - sx2 / NULLIF(n2, 0)) / 100.0, 6)
                   AS mean_diff_units,
               -- explicit degenerate guards (round-12 constant-value
               -- audit): a 1-sample cohort has no variance term and
               -- two zero-variance cohorts have t = 0/0 — NULL on
               -- both engines, never DIVIDE_BY_ZERO and never
               -- DuckDB-/0-default-dependent
               CASE WHEN n1 <= 1 OR n2 <= 1 OR (m1 = 0 AND m2 = 0)
                    THEN NULL
                    ELSE round((sx1 / NULLIF(n1, 0) - sx2 / NULLIF(n2, 0))
                         / NULLIF(sqrt(m1 / NULLIF((n1 * n1 * (n1 - 1.0)), 0)
                                + m2 / NULLIF((n2 * n2 * (n2 - 1.0)), 0)), 0), 6)
               END AS t_stat,
               CASE WHEN n1 <= 1 OR n2 <= 1 OR (m1 = 0 AND m2 = 0)
                    THEN NULL
                    ELSE round((m1 / NULLIF((n1 * n1 * (n1 - 1.0)), 0)
                          + m2 / NULLIF((n2 * n2 * (n2 - 1.0)), 0))
                         * (m1 / NULLIF((n1 * n1 * (n1 - 1.0)), 0)
                            + m2 / NULLIF((n2 * n2 * (n2 - 1.0)), 0))
                         / NULLIF(((m1 / NULLIF((n1 * n1 * (n1 - 1.0)), 0))
                            * (m1 / NULLIF((n1 * n1 * (n1 - 1.0)), 0))
                            / NULLIF((n1 - 1.0), 0)
                            + (m2 / NULLIF((n2 * n2 * (n2 - 1.0)), 0))
                              * (m2 / NULLIF((n2 * n2 * (n2 - 1.0)), 0))
                              / NULLIF((n2 - 1.0), 0)), 0),
                         6)
               END AS welch_df
        FROM w
    """,
    tags=("agg", "stats", "hypothesis-test"),
)
def agg_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test on click-vs-view
    event values — the A/B-test significance primitive. The t statistic
    and Welch–Satterthwaite degrees of freedom derive from ONE pass of
    integer moments (n, Σx, Σx² in exact cents, DECIMAL(38,0) sums), so
    the only float work is the final fixed-shape expression — same
    exactness discipline as agg_regression_exact_moments: the sample
    variance s²/n = (nΣx²−(Σx)²)/(n²(n−1)) is formed from integer
    numerators, never from a running float mean.

    Scale shape: a 2-group partial aggregation (map-side combinable) →
    two 1-row groups crossed into the closed-form expression; at any
    scale this is one shuffle of 2×3 numbers. The oracle mirrors the
    identical IEEE expression tree on DuckDB scalars.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    m = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
            # cents² must multiply in DECIMAL, not BIGINT: at the
            # numeric-contract edge (2^30 measures -> ~1e11 cents) the
            # long product overflows 2^63 (round-13 extremes audit).
            # decimal(19,0)x(19,0) -> capped decimal(38,0), exact.
            F.sum(
                F.col("cents").cast("decimal(19,0)")
                * F.col("cents").cast("decimal(19,0)")
            ).alias("sxx"),
        )
        .select(
            "event_type",
            F.col("n").cast("double").alias("nd"),
            F.col("sx").cast("double").alias("sxd"),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            .alias("md"),
        )
    )
    # Each side collapses to EXACTLY one row (max over the 0-or-1-row
    # group) — the DataFrame twin of the oracle's scalar subqueries,
    # which yield a NULL scalar when the group is absent. A plain
    # filter-then-crossJoin emits ZERO rows the day either cohort is
    # empty (round-11 empty-input audit), where ANSI scalar semantics
    # demand one all-NULL row.
    c = (
        m.filter(F.col("event_type") == "click")
        .agg(
            F.max("nd").alias("n1"),
            F.max("sxd").alias("sx1"),
            F.max("md").alias("m1"),
        )
    )
    v = (
        m.filter(F.col("event_type") == "view")
        .agg(
            F.max("nd").alias("n2"),
            F.max("sxd").alias("sx2"),
            F.max("md").alias("m2"),
        )
    )
    j = c.crossJoin(F.broadcast(v))
    # try_divide throughout the variance chain (round-12 constant-value
    # audit): a 1-sample cohort divides its variance term by zero, and
    # two zero-variance cohorts give t = 0/0 and df = 0/0 — all ANSI
    # crashes where the oracle's explicit guards yield NULL.
    se1 = F.try_divide(
        F.col("m1"), F.col("n1") * F.col("n1") * (F.col("n1") - 1.0)
    )
    se2 = F.try_divide(
        F.col("m2"), F.col("n2") * F.col("n2") * (F.col("n2") - 1.0)
    )
    diff = F.col("sx1") / F.col("n1") - F.col("sx2") / F.col("n2")
    return j.select(
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_view"),
        F.round(diff / 100.0, 6).alias("mean_diff_units"),
        F.round(F.try_divide(diff, F.sqrt(se1 + se2)), 6).alias("t_stat"),
        F.round(
            F.try_divide(
                (se1 + se2) * (se1 + se2),
                F.try_divide(se1 * se1, F.col("n1") - 1.0)
                + F.try_divide(se2 * se2, F.col("n2") - 1.0),
            ),
            6,
        ).alias("welch_df"),
    )


def _type_hour_grid(spark, sf_dir):
    """Shared (event_type × hour-of-day) contingency grid: the bounded
    ≤(types × 24)-cell partial-agg collapse plus both marginals, used
    by ``agg_mutual_information`` AND ``agg_cramers_v`` (extracted per
    the round-11 review so the grid definition lives in one place).

    Returns ``(cells, marg_t, marg_h)`` with INTEGER counts only —
    each consumer builds its own quantized float terms on top."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("t"),
        F.hour("ts").cast("bigint").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    marg_t = cells.groupBy("t").agg(F.sum("c").cast("bigint").alias("ct"))
    marg_h = cells.groupBy("h").agg(F.sum("c").cast("bigint").alias("ch"))
    return cells, marg_t, marg_h


@register(
    "agg_mutual_information",
    oracle="""
        WITH cells AS (
            SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
        ), marg_t AS (
            SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY t
        ), marg_h AS (
            SELECT h, CAST(sum(c) AS BIGINT) AS ch FROM cells GROUP BY h
        ), terms AS (
            SELECT CAST(round(
                       (CAST(c.c AS DOUBLE) / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * ln(CAST(c.c AS DOUBLE) * CAST(m.n AS DOUBLE)
                            / NULLIF((CAST(t.ct AS DOUBLE)
                               * CAST(h.ch AS DOUBLE)), 0))
                       * 1000000000.0) AS BIGINT) AS miq
            FROM cells c
            JOIN marg_t t ON t.t = c.t
            JOIN marg_h h ON h.h = c.h
            CROSS JOIN m
        ), ent_t AS (
            SELECT CAST(sum(CAST(round(
                       -(CAST(ct AS DOUBLE) / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * ln(CAST(ct AS DOUBLE) / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * 1000000000.0) AS BIGINT)) AS BIGINT) AS hq
            FROM marg_t, m
        ), ent_h AS (
            SELECT CAST(sum(CAST(round(
                       -(CAST(ch AS DOUBLE) / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * ln(CAST(ch AS DOUBLE) / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * 1000000000.0) AS BIGINT)) AS BIGINT) AS hq
            FROM marg_h, m
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
               round((SELECT CAST(sum(miq) AS BIGINT) FROM terms)
                     / 1000000000.0, 6) AS mi_nats,
               round((SELECT hq FROM ent_t) / 1000000000.0, 6)
                   AS h_type_nats,
               round((SELECT hq FROM ent_h) / 1000000000.0, 6)
                   AS h_hour_nats
    """,
    tags=("agg", "stats", "information-theory"),
)
def agg_mutual_information(spark, sf_dir):
    """Mutual information I(event_type; hour-of-day) plus both marginal
    entropies — the dependence screen feature stores run before
    trusting a categorical split (MI ≈ 0 ⇒ the hour tells you nothing
    about the type). Every p·ln(p…) term derives from INTEGER cell
    counts in one fixed-shape IEEE expression, is nano-quantized to a
    BIGINT, and the quantized terms sum order-free — the
    profile_psi_drift discipline, so a 120-cell float reduction still
    hash-matches across engines.

    Scale shape: one partial agg collapses events to the bounded
    (type × hour) grid; marginals and terms are joins over that grid
    only. At 100 TB the grid is still 120 cells.
    """
    cells, marg_t, marg_h = _type_hour_grid(spark, sf_dir)
    m = cells.agg(F.sum("c").cast("bigint").alias("n"))
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    miq = F.round(
        (cd / nd)
        * F.log(
            cd * nd / (F.col("ct").cast("double") * F.col("ch").cast("double"))
        )
        * 1000000000.0
    ).cast("bigint")
    terms = (
        cells.join(marg_t, "t")
        .join(marg_h, "h")
        .crossJoin(F.broadcast(m))
        .select(miq.alias("miq"))
        .agg(F.sum("miq").cast("bigint").alias("miq"))
    )

    def entropy(marg, col):
        p = F.col(col).cast("double") / F.col("n").cast("double")
        q = F.round((-p) * F.log(p) * 1000000000.0).cast("bigint")
        return (
            marg.crossJoin(F.broadcast(m))
            .select(q.alias("hq"))
            .agg(F.sum("hq").cast("bigint").alias("hq"))
        )

    n_cells = cells.agg(F.count("*").cast("bigint").alias("n_cells"))
    return (
        n_cells.crossJoin(F.broadcast(terms))
        .crossJoin(F.broadcast(entropy(marg_t, "ct").withColumnRenamed("hq", "hqt")))
        .crossJoin(F.broadcast(entropy(marg_h, "ch").withColumnRenamed("hq", "hqh")))
        .select(
            "n_cells",
            F.round(F.col("miq") / 1000000000.0, 6).alias("mi_nats"),
            F.round(F.col("hqt") / 1000000000.0, 6).alias("h_type_nats"),
            F.round(F.col("hqh") / 1000000000.0, 6).alias("h_hour_nats"),
        )
    )


@register(
    "agg_cramers_v",
    oracle="""
        WITH cells AS (
            SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(DISTINCT t) AS BIGINT) AS r,
                   CAST(count(DISTINCT h) AS BIGINT) AS k
            FROM cells
        ), marg_t AS (
            SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY t
        ), marg_h AS (
            SELECT h, CAST(sum(c) AS BIGINT) AS ch FROM cells GROUP BY h
        ), terms AS (
            SELECT CAST(round(
                       (CAST(c.c AS DOUBLE)
                        - CAST(t.ct AS DOUBLE) * CAST(h.ch AS DOUBLE)
                          / NULLIF(CAST(m.n AS DOUBLE), 0))
                       * (CAST(c.c AS DOUBLE)
                          - CAST(t.ct AS DOUBLE) * CAST(h.ch AS DOUBLE)
                            / NULLIF(CAST(m.n AS DOUBLE), 0))
                       / NULLIF((CAST(t.ct AS DOUBLE) * CAST(h.ch AS DOUBLE)
                          / NULLIF(CAST(m.n AS DOUBLE), 0)), 0)
                       * 1000000000.0) AS BIGINT) AS cq
            FROM cells c
            JOIN marg_t t ON t.t = c.t
            JOIN marg_h h ON h.h = c.h
            CROSS JOIN m
        )
        SELECT m.n AS n_events, m.r AS n_types, m.k AS n_hours,
               round((SELECT CAST(sum(cq) AS BIGINT) FROM terms)
                     / 1000000000.0, 6) AS chi2,
               -- explicit 1x1-grid guard (round-12 single-row audit):
               -- with a single type or hour min(r,k)-1 = 0 and V is
               -- undefined; NULL on both engines, never DIVIDE_BY_ZERO
               CASE WHEN least(m.r, m.k) = 1 THEN NULL
                    ELSE round(sqrt(((SELECT CAST(sum(cq) AS BIGINT)
                                      FROM terms) / 1000000000.0)
                               / NULLIF((CAST(m.n AS DOUBLE)
                                  * CAST(least(m.r, m.k) - 1 AS DOUBLE)), 0)), 6)
               END AS cramers_v
        FROM m
    """,
    tags=("agg", "stats", "association"),
)
def agg_cramers_v(spark, sf_dir):
    """Cramér's V association strength between event_type and
    hour-of-day — the bounded-[0,1] EFFECT SIZE that complements
    agg_mutual_information's nats (V is what a dashboard thresholds;
    MI is what a feature selector ranks): V = √(χ²/(N·(min(r,k)−1))).
    Per-cell χ² terms derive from integer counts in one fixed-shape
    IEEE expression, nano-quantize, and sum order-free (the
    profile_psi_drift discipline); the final V is one sqrt of scalar
    arithmetic.

    Scale shape: identical to agg_mutual_information — the bounded
    (type × hour) grid, marginal joins over the grid, one scalar
    reduction.
    """
    cells, marg_t, marg_h = _type_hour_grid(spark, sf_dir)
    m = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.countDistinct("t").cast("bigint").alias("r"),
        F.countDistinct("h").cast("bigint").alias("k"),
    )
    e = (
        F.col("ct").cast("double")
        * F.col("ch").cast("double")
        / F.col("n").cast("double")
    )
    cq = F.round(
        (F.col("c").cast("double") - e) * (F.col("c").cast("double") - e) / e
        * 1000000000.0
    ).cast("bigint")
    chi2q = (
        cells.join(marg_t, "t")
        .join(marg_h, "h")
        .crossJoin(F.broadcast(m.select("n")))
        .select(cq.alias("cq"))
        .agg(F.sum("cq").cast("bigint").alias("chi2q"))
    )
    return (
        m.crossJoin(F.broadcast(chi2q))
        .select(
            F.col("n").alias("n_events"),
            F.col("r").alias("n_types"),
            F.col("k").alias("n_hours"),
            F.round(F.col("chi2q") / 1000000000.0, 6).alias("chi2"),
            # try_divide (round-12 single-row audit): a degenerate
            # 1-type or 1-hour grid has min(r,k)-1 = 0 — V is
            # undefined (NULL), not a Spark ANSI DIVIDE_BY_ZERO.
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.col("chi2q") / 1000000000.0,
                        F.col("n").cast("double")
                        * (F.least(F.col("r"), F.col("k")) - 1).cast("double"),
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@register(
    "agg_pareto_share",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT cents,
                   CAST(row_number() OVER (
                       ORDER BY cents DESC, o_custkey
                   ) AS BIGINT) AS i
            FROM per_cust
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS tot
            FROM ranked
        )
        SELECT m.n AS n_customers,
               CAST((m.n + 9) // 10 AS BIGINT) AS top_decile_size,
               CAST(sum(CASE WHEN r.i <= (m.n + 9) // 10
                             THEN r.cents ELSE 0 END) AS BIGINT)
                   AS top_decile_cents,
               round(CAST(sum(CASE WHEN r.i <= (m.n + 9) // 10
                                   THEN r.cents ELSE 0 END) AS DOUBLE)
                     / NULLIF(CAST(m.tot AS DOUBLE), 0), 6) AS top_decile_share
        FROM ranked r, m
        GROUP BY m.n, m.tot
    """,
    tags=("agg", "stats", "concentration", "pareto"),
)
def agg_pareto_share(spark, sf_dir):
    """Pareto concentration headline: what share of total revenue the
    top 10% of customers hold — the "is it 80/20?" number every
    revenue review asks, complementing agg_gini_concentration's full
    curve with the one-decile cut. Decile size is the integer ceiling
    n/10 (floor-division identity (n+9)//10, identical both engines);
    ranks tie-break on customer key; sums stay exact cents until the
    single share division, rounded once.

    Scale shape: per-customer partial agg, ONE descending rank (the
    two-phase offset numbering at web scale — agg_gini's note), then a
    conditional integer sum. No joins beyond the broadcast scalar.
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

    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    ranked = per_cust.select(
        "cents", F.row_number().over(w).cast("bigint").alias("i")
    )
    m = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    cut = F.expr("(n + 9) DIV 10")
    top = F.sum(
        F.when(F.col("i") <= cut, F.col("cents")).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(m))
        .groupBy("n", "tot")
        .agg(top.alias("top_decile_cents"))
        .select(
            F.col("n").alias("n_customers"),
            cut.cast("bigint").alias("top_decile_size"),
            "top_decile_cents",
            F.round(
                F.col("top_decile_cents").cast("double")
                / F.col("tot").cast("double"),
                6,
            ).alias("top_decile_share"),
        )
    )


@register(
    "agg_group_quantiles",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(quantile_cont(n_chars, 0.25), 6) AS p25,
               round(quantile_cont(n_chars, 0.50), 6) AS p50,
               round(quantile_cont(n_chars, 0.75), 6) AS p75
        FROM documents
        GROUP BY lang
    """,
    tags=("agg", "quantiles", "exact"),
)
def agg_group_quantiles(spark, sf_dir):
    """EXACT per-group quartiles of document length (linear
    interpolation, the type-7 definition both Spark's ``percentile``
    and DuckDB's ``quantile_cont`` implement) — the length-profile
    screen a corpus build runs per language before setting chunking
    thresholds. Distinct from agg_exact_median_histogram (two-phase
    histogram median, the no-sort 100 TB path): this pins the BUILT-IN
    exact-percentile aggregate itself against an independent engine.

    Cross-engine float note: quartile fractions (.25/.5/.75) are exact
    binary, h = (n−1)·q is exact, values are integers — both engines'
    interpolation ``lo + (hi−lo)·frac`` is exact in IEEE double, so
    round(6) is belt-and-braces, not a mask.

    Scale shape: Spark's percentile is a hash aggregate over
    per-partition value buffers (partial-combine, one shuffle on
    lang). Exact quantiles at 100 TB with HIGH-cardinality values is
    where you swap in the histogram/offsets pattern; n_chars has
    bounded cardinality, so the buffer stays small per group.
    """
    d = load_table(spark, sf_dir, "documents")
    v = F.col("n_chars").cast("double")
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.percentile(v, F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile(v, F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile(v, F.lit(0.75)), 6).alias("p75"),
    )
