"""Join flavors over the star schema (SURVEY.md §2b "Joins").

The reference has zero joins; this is the mission-mandated relational
surface. Physical strategy notes per query: Catalyst picks
broadcast-hash for every dimension join here (region/nation/supplier
are O(10²) rows at ANY scale factor — see catalog.BROADCAST_DIMS);
fact-fact joins shuffle on the join key and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.functions.hashing import hex_slice_bigint
from jubilant_garbanzo_spark.functions.money import exact_sum, exact_sum_sql
from jubilant_garbanzo_spark.operators.asof import asof_join
from jubilant_garbanzo_spark.queries import register


@register(
    "join_inner",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 100000
    """,
    tags=("join",),
)
def join_inner(spark, sf_dir):
    """Inner equi-join orders⋈customer; customer side broadcast at the
    driver's sf (Catalyst auto, below autoBroadcastJoinThreshold)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_totalprice") > 100000)
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               count(o.o_orderkey)                  AS n_orders,
               coalesce(CAST(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT))
                             AS BIGINT), 0) / 100.0 AS total_spend
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left_outer(spark, sf_dir):
    """Left outer join keeps customers with zero orders (count=0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0).cast("bigint")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (F.coalesce(F.sum(cents), F.lit(0)) / 100.0).alias("total_spend"),
        )
    )


@register(
    "join_right_outer",
    oracle="""
        SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber, l.l_quantity
        FROM (SELECT * FROM lineitem WHERE l_quantity > 45) l
        RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("join",),
)
def join_right_outer(spark, sf_dir):
    """Right outer join: orders with no high-quantity lines get NULL
    lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey, "right").select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


@register(
    "join_full_outer",
    oracle="""
        WITH cn AS (
            SELECT c_nationkey AS nk, count(*) AS n_debt_customers
            FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey
        ), sn AS (
            SELECT s_nationkey AS nk, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey
        )
        SELECT coalesce(cn.nk, sn.nk) AS nationkey,
               cn.n_debt_customers, sn.n_suppliers
        FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    tags=("join",),
)
def join_full_outer(spark, sf_dir):
    """Full outer join of two per-nation aggregates — nulls on both
    sides where a nation has only customers-in-debt or only suppliers."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = (
        c.filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_debt_customers"))
    )
    sn = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return cn.join(sn, cn.nk == sn.nk, "full_outer").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        "n_debt_customers",
        "n_suppliers",
    )


@register(
    "join_left_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join", "semi"),
)
def join_left_semi(spark, sf_dir):
    """Left-semi = EXISTS: customers with ≥1 urgent order. Semi joins
    never duplicate the left side and ship only the join key — at scale
    this beats inner-join+distinct by the width of the right row."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti"),
)
def join_left_anti(spark, sf_dir):
    """Left-anti = NOT EXISTS: customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_cross",
    oracle="""
        SELECT r.r_name, n.n_name
        FROM region r CROSS JOIN nation n
    """,
    tags=("join", "cross"),
)
def join_cross(spark, sf_dir):
    """Cartesian product of the two tiny dims (5×25 at every sf —
    cross joins are only ever sane when one side is broadcast-tiny)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta_range",
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate
        FROM lineitem l JOIN orders o
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate BETWEEN o.o_orderdate
                              AND o.o_orderdate + INTERVAL 60 DAY
    """,
    tags=("join", "range"),
)
def join_theta_range(spark, sf_dir):
    """Equi + range predicate: ships within 60 days of order. The equi
    key keeps this a hash join (range applied as post-filter) — at
    scale, NEVER express this as a pure theta join (nested-loop)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.date_add(o.o_orderdate.cast("date"), 60).cast("timestamp_ntz")),
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")


@register(
    "join_asof",
    oracle="""
        WITH purchases AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT user_id, ts AS click_ts, event_id AS click_event_id
            FROM events WHERE event_type = 'click'
        ), dedup_clicks AS (
            SELECT user_id, click_ts,
                   max(click_event_id) AS click_event_id
            FROM clicks GROUP BY user_id, click_ts
        )
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f')       AS purchase_ts,
               strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts,
               c.click_event_id
        FROM purchases p
        ASOF LEFT JOIN dedup_clicks c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
    tags=("join", "asof"),
)
def join_asof_purchases(spark, sf_dir):
    """As-of join: each purchase ↔ the user's latest click at-or-before
    it (operators/asof.py union-sort formulation; single shuffle).
    Oracle: DuckDB's native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_value_cols=["click_ts", "click_event_id"],
        tie_break="click_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_click_ts"
        ),
        "click_event_id",
    )


@register(
    "join_self_pairs",
    oracle="""
        SELECT a.o_custkey AS custkey, count(*) AS n_pairs
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND a.o_orderkey < b.o_orderkey
         AND a.o_orderstatus <> b.o_orderstatus
        GROUP BY a.o_custkey
    """,
    tags=("join", "self"),
)
def join_self_pairs(spark, sf_dir):
    """Self-join with aliases: per customer, pairs of their orders in
    different statuses."""
    o = load_table(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "join_broadcast_star",
    oracle=f"""
        SELECT r.r_name AS region, n.n_name AS nation,
               {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "broadcast", "agg"),
)
def join_broadcast_star(spark, sf_dir):
    """Star join with EXPLICIT broadcast of every dimension: the fact
    table never shuffles for the joins (map-side hash joins), only for
    the final small aggregate. This is the canonical 100 TB pattern —
    the plan must show BroadcastHashJoin × 3 and exactly one exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            exact_sum(revenue, 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT o.o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS sum_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketed", "scale"),
)
def join_bucketed_colocated(spark, sf_dir):
    """Fact⋈fact join on pre-bucketed tables: both sides bucketed by
    the order key into the same bucket count, so the sort-merge join
    reads bucket i ⋈ bucket i with NO Exchange on either side (plan
    asserted in tests/test_plans.py) — the write-time-shuffle trade
    that makes repeated 100 TB fact joins affordable."""
    from jubilant_garbanzo_spark.sources.bucketing import bucketed_fixture_pair

    li, o = bucketed_fixture_pair(spark, sf_dir)
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        (
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).cast("bigint")
            / 100.0
        ).alias("sum_qty"),
    )


@register(
    "join_salted_skew",
    oracle="""
        SELECT e.event_type,
               count(*) AS n,
               count(DISTINCT c.c_mktsegment) AS n_segments
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.event_type
    """,
    tags=("join", "skew", "salted"),
)
def join_salted_skew(spark, sf_dir):
    """Salted equi-join (operators/skew.py): events⋈customer with the
    hot-user pressure spread over 8 salt partitions. Result-identical
    to the plain join (that IS the oracle check); the plan differs —
    no single task ever owns a whole hot key."""
    from jubilant_garbanzo_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "user_id"
    )
    joined = salted_join(e, c.select("user_id", "c_mktsegment"), "user_id")
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@register(
    "join_dpp_partitioned",
    oracle=f"""
        WITH dim AS (
            SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
                   CASE WHEN CAST(year(o_orderdate) AS INT) % 2 = 1
                        THEN 'odd' ELSE 'even' END AS parity
            FROM orders
        )
        SELECT o.o_year, count(*) AS n_orders,
               {exact_sum_sql('o.o_totalprice')} AS price_sum
        FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
              FROM orders) o
        JOIN dim ON o.o_year = dim.yr
        WHERE dim.parity = 'odd'
        GROUP BY o.o_year
    """,
    tags=("join", "dpp", "partition-pruning", "sink"),
)
def join_dpp_partitioned(spark, sf_dir):
    """Dynamic partition pruning: ``orders`` rewritten as a
    year-partitioned parquet table, then joined to a year dimension
    whose filter (parity = 'odd') is NOT statically pushable — Spark
    plants a DynamicPruning subquery on the fact scan, so only the
    odd-year partition directories are read at runtime
    (``tests/test_plans.py`` pins ``dynamicpruning`` in the plan).

    THE 100 TB date-partitioned-fact pattern: a star join whose dim
    filter selects a slice of time must prune fact IO at runtime, not
    scan-then-filter — at 1000 executors the difference is reading 3
    year-partitions vs all 7. The hash match against the unpartitioned
    oracle proves pruning dropped no qualifying row."""
    from jubilant_garbanzo_spark.sources import formats as FMT

    o = load_table(spark, sf_dir, "orders")
    partitioned = o.withColumn("o_year", F.year("o_orderdate").cast("int"))

    def write(path: str) -> None:
        partitioned.write.mode("overwrite").partitionBy("o_year").parquet(path)

    out = FMT.export(spark, sf_dir, "orders_by_year", write)
    # Explicit schema: an all-empty input writes no data files and
    # inference throws UNABLE_TO_INFER_SCHEMA (round-11 empty-input
    # audit). Partition discovery (and hence DPP) is unaffected —
    # test_plans pins the dynamicpruning subquery.
    fact = spark.read.schema(partitioned.schema).parquet(out)
    dim = (
        o.select(F.year("o_orderdate").cast("int").alias("yr"))
        .distinct()
        .withColumn(
            "parity",
            F.when(F.col("yr") % 2 == 1, "odd").otherwise("even"),
        )
    )
    return (
        fact.join(F.broadcast(dim), fact["o_year"] == dim["yr"])
        .filter(F.col("parity") == "odd")
        .groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum(F.col("o_totalprice")).alias("price_sum"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
        WITH e AS (
            SELECT event_id,
                   NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT)
                          % 7, 0) AS key
            FROM events
        ), d AS (
            SELECT key, CAST(count(*) AS BIGINT) AS group_n
            FROM e GROUP BY key
        )
        SELECT e.event_id, e.key, d.group_n
        FROM e JOIN d ON e.key IS NOT DISTINCT FROM d.key
    """,
    tags=("join", "null-safe"),
)
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): a
    derived nullable key (props.k % 7, 0 mapped to NULL) joined back to
    its own per-key aggregate, where the NULL group is a LEGITIMATE key
    value that must match its NULL dimension row — the semantics a
    plain equi-join silently drops. Distinct join-operator surface from
    join_inner: Spark plans ``eqNullSafe`` as a hash join on the
    null-coalesced key, so the null-safe form keeps equi-join scale
    behavior (no nested-loop fallback).

    Scale shape: aggregate then join on the same key — one shuffle
    partitioning serves both; the dim side is group-count-sized and
    broadcastable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(
            "nullif(cast(get_json_object(props, '$.k') as bigint) % 7, 0)"
        ).alias("key"),
    )
    dim = ev.groupBy(F.col("key").alias("dkey")).agg(
        F.count("*").cast("bigint").alias("group_n")
    )
    return (
        ev.join(F.broadcast(dim), ev.key.eqNullSafe(dim.dkey))
        .select("event_id", "key", "group_n")
    )


#: Bloom geometry for join_bloom_prefilter: m bits as 32-bit words in
#: BIGINT cells (max shift 31 — safe from signed-overflow on BOTH
#: engines), K independent md5-derived hash functions.
_BLOOM_BITS = 8192
_BLOOM_WORD = 32
_BLOOM_K = 3


def _bloom_pos(key, i: int):
    """Hash function i: md5(key || ':' || i) hex prefix → bit position.

    Same 2-universal md5 idiom as operators/dedup.py:92 — one md5 per
    (key, i), hex→int via conv, modulo the bit-array size. DuckDB twin:
    ``('0x' || substr(md5(...), 1, 15))::BIGINT % m``.
    """
    h = F.md5(F.concat_ws(":", key.cast("string"), F.lit(str(i))))
    return hex_slice_bigint(h, 1, 15) % _BLOOM_BITS


@register(
    "join_bloom_prefilter",
    oracle="""
        SELECT l.l_partkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100.0) AS BIGINT)) AS BIGINT)
                   / 100.0 AS revenue
        FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey AND p.p_size = 25)
        GROUP BY l.l_partkey
    """,
    tags=("join", "bloom", "scale"),
)
def join_bloom_prefilter(spark, sf_dir):
    """Semi-join with a relational Bloom-filter prefilter: revenue per
    part restricted to parts with ``p_size = 25``.

    Spark's native runtime bloom filter (``bloom_filter_agg`` /
    ``might_contain``) is optimizer-internal and threshold-gated, so
    the engine builds the same structure from first-class relational
    ops — making it available at ANY size and fully DuckDB-replayable:

    1. BUILD: each qualifying p_partkey sets K=3 md5-derived bit
       positions; ``groupBy(word) → bit_or(1 << bit)`` folds them into
       a 256-row (word, bits) bitmap table — a map-side-combinable
       aggregate whose output size is fixed by the geometry (m/32
       rows), independent of build-side row count.
    2. PROBE: lineitem flows through K chained BROADCAST joins on the
       word index, keeping a row only if all K bits are set. No
       shuffle, no explode — each filter is a map-side hash-join
       against a 256-row table, so at 100 TB the probe scan is pruned
       in place before any wide join.
    3. VERIFY: survivors (true matches + bloom false positives) hit an
       exact broadcast left-semi join against the build keys.

    The oracle is the NAIVE semi-join, so the driver's hash compare
    proves the bloom+verify pipeline is lossless (the
    dedup_ngram_jaccard filter-losslessness discipline).
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    keys = part.filter(F.col("p_size") == 25).select("p_partkey")

    def word_and_mask(pos_col):
        word = (pos_col / F.lit(_BLOOM_WORD)).cast("int")
        bit = (pos_col % _BLOOM_WORD).cast("int")
        # 2^bit as BIGINT; exact (bit ≤ 31 « the 2^53 double mantissa).
        # F.shiftleft only takes a literal shift, not a Column.
        mask = F.pow(F.lit(2.0), bit.cast("double")).cast("bigint")
        return word, mask

    bitmap = None
    for i in range(_BLOOM_K):
        w, m = word_and_mask(_bloom_pos(F.col("p_partkey"), i))
        part_bits = keys.select(w.alias("word"), m.alias("m"))
        bitmap = part_bits if bitmap is None else bitmap.unionByName(part_bits)
    words = bitmap.groupBy("word").agg(F.bit_or("m").alias("bits"))

    probe = li.select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    for i in range(_BLOOM_K):
        w, m = word_and_mask(_bloom_pos(F.col("l_partkey"), i))
        bm = words.select(
            F.col("word").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
        )
        probe = probe.join(F.broadcast(bm), w == F.col(f"w{i}"), "inner").filter(
            F.col(f"b{i}").bitwiseAND(m) != 0
        )

    verified = probe.join(
        F.broadcast(keys), probe.l_partkey == keys.p_partkey, "left_semi"
    )
    return verified.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        exact_sum(F.col("rev")).alias("revenue"),
    )


@register(
    "join_asof_forward_tolerance",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               m.purchase_id,
               strftime(m.pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               CASE WHEN m.pts IS NOT NULL
                    THEN (epoch_us(m.pts) - epoch_us(c.ts)) / 1000000.0
               END AS latency_s
        FROM events c
        LEFT JOIN LATERAL (
            SELECT p.event_id AS purchase_id, p.ts AS pts
            FROM events p
            WHERE p.user_id = c.user_id
              AND p.event_type = 'purchase'
              AND p.ts >= c.ts
              AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
            ORDER BY p.ts ASC, p.event_id DESC
            LIMIT 1
        ) m ON true
        WHERE c.event_type = 'click'
    """,
    tags=("join", "asof", "tolerance"),
)
def join_asof_forward_tolerance(spark, sf_dir):
    """Forward as-of join with a tolerance: for every click, the NEXT
    purchase by the same user within 30 minutes (click-to-conversion
    attribution — pandas ``merge_asof(direction='forward',
    tolerance=...)`` parity, which plain Spark lacks).

    Runs on the asof_join operator's union-sort walk traversed in
    DESCENDING time (operators/asof.py): one shuffle on user_id, one
    sorted window, tolerance applied as a null-out predicate on the
    carried match — never a per-pair range join. The oracle is the
    NAIVE formulation (LATERAL first-qualifying-row per click), so the
    driver compare proves the walk + tolerance equals it row-for-row.
    Equal-timestamp ties resolve to the max purchase event_id on both
    engines (operator: max __tie wins; oracle: ORDER BY ts, event_id
    DESC).

    At 100 TB the lateral form is O(clicks × purchases-per-user);
    the walk is O((clicks + purchases) log) per user — same single
    partitioning as every other keyed window in the engine.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    j = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="pts",
        right_value_cols=["pts", "purchase_id"],
        tie_break="purchase_id",
        direction="forward",
        tolerance_us=1800 * 1000000,
    )
    lat = (
        F.unix_micros(F.col("pts").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / 1000000.0
    return j.select(
        "click_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        "purchase_id",
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
        F.when(F.col("pts").isNotNull(), lat).alias("latency_s"),
    )


#: Price tiers for the range-dimension lookup: (tier_id, lo, hi) in
#: exact cents, half-open [lo, hi). The top tier's hi sits above any
#: fixture total so coverage is total (every order maps to exactly one
#: tier — the property the plan gate asserts via row counts).
_PRICE_TIERS = (
    (0, "budget", 0, 5_000_000),
    (1, "mid", 5_000_000, 15_000_000),
    (2, "premium", 15_000_000, 30_000_000),
    (3, "whale", 30_000_000, 10_000_000_000),
)


@register(
    "join_range_lookup",
    oracle=f"""
        WITH tiers(tier_id, tier_name, lo_cents, hi_cents) AS (
            VALUES {", ".join(f"({i}, '{n}', {lo}, {hi})" for i, n, lo, hi in _PRICE_TIERS)}
        ), o AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT t.tier_id, t.tier_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o.cents) AS BIGINT) AS revenue_cents
        FROM o JOIN tiers t
          ON o.cents >= t.lo_cents AND o.cents < t.hi_cents
        GROUP BY t.tier_id, t.tier_name
    """,
    tags=("join", "range", "broadcast"),
)
def join_range_lookup(spark, sf_dir):
    """Point-in-range dimension lookup: each order's exact-cents total
    is matched into a half-open price-tier interval — the
    IP-to-geo / price-tier / tax-bracket join shape (a RANGE dimension
    that is DATA, not a constant CASE — tiers change without a code
    deploy). Distinct from join_theta_range (fact-to-fact band join)
    and join_point_in_time_scd2 (per-key validity walk): here ONE
    broadcast-tiny dim serves every probe row.

    Scale shape: the tier table broadcasts, so the range predicate is
    evaluated map-side (BroadcastNestedLoopJoin over |tiers| rows per
    probe — O(|tiers|) per row, zero shuffle before the final
    tier-count agg). With thousands of tiers the scale path is
    pre-bucketing both sides on a coarse grid (the
    join_interval_overlap hour-bucket discipline) to turn the scan
    into an equi-join; at 4 tiers the nested-loop IS the right plan.
    Disjoint half-open tiers guarantee each order lands exactly once
    (Σ n_orders == |orders| — checked by the plan gate).
    """
    tiers = spark.createDataFrame(
        list(_PRICE_TIERS), "tier_id int, tier_name string, lo_cents long, hi_cents long"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.join(
            F.broadcast(tiers),
            (F.col("cents") >= F.col("lo_cents"))
            & (F.col("cents") < F.col("hi_cents")),
        )
        .groupBy("tier_id", "tier_name")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
