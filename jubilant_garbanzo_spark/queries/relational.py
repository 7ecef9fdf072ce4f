"""Projection / filter / scalar-function operators (SURVEY.md §2b).

Generalizes the reference's only relational ops — ``filter`` on language
(``main.scala:42``) and string ``split``/``startsWith`` (``main.scala:45``)
— into the full scalar surface. Everything is built-in Catalyst
expressions: no UDFs, fully codegen'd, predicate-pushdown friendly
(filters here reach the parquet scan as ``PushedFilters``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table, materialize
from jubilant_garbanzo_spark.queries import register


@register(
    "scan_projection",
    oracle="SELECT p_partkey, p_name, p_retailprice FROM part",
    tags=("scan", "projection"),
)
def scan_projection(spark, sf_dir):
    """Column-pruned parquet scan (ReadSchema shows only 3 columns)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@register(
    "filter_comparison",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem
        WHERE l_quantity > 30 AND l_discount <= 0.05 AND l_returnflag <> 'A'
    """,
    tags=("filter",),
)
def filter_comparison(spark, sf_dir):
    """Comparison + boolean-AND predicates, pushed to the parquet scan.

    Reference analog: ``stream.filter(_.getLang() == "en")``
    (``main.scala:42``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "filter_in_between_like",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_totalprice BETWEEN 1000 AND 50000
          AND o_orderstatus LIKE 'F%'
    """,
    tags=("filter",),
)
def filter_in_between_like(spark, sf_dir):
    """IN-list, BETWEEN, and LIKE predicates."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderstatus").like("F%")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "filter_null_logic",
    oracle="""
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_filled
        FROM customer
        WHERE c_acctbal IS NOT NULL
    """,
    tags=("filter", "null"),
)
def filter_null_logic(spark, sf_dir):
    """NULL tests + nullif/coalesce (fixtures are null-free, so nulls
    are synthesized with nullif — same trick on the oracle side)."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.filter(F.col("c_acctbal").isNotNull()).select(
        "c_custkey",
        seg.alias("seg_or_null"),
        seg.isNull().alias("is_building"),
        F.coalesce(seg, F.lit("DEFAULT")).alias("seg_filled"),
    )


@register(
    "string_functions",
    oracle="""
        SELECT p_partkey,
               lower(p_name)                                AS name_lower,
               upper(p_brand)                               AS brand_upper,
               trim(concat(' ', p_type, ' '))               AS type_trim,
               substring(p_name, 1, 8)                      AS name_prefix,
               concat(p_brand, ':', p_type)                 AS brand_type,
               length(p_name)                               AS name_len,
               starts_with(p_type, 'STANDARD')              AS is_standard,
               contains(p_name, 'a')                        AS has_a,
               regexp_extract(p_type, '([A-Z]+)$', 1)       AS type_last_word,
               regexp_replace(p_name, '[aeiou]', '_', 'g')  AS name_devoweled,
               split_part(p_type, ' ', 1)                   AS type_first_token
        FROM part
    """,
    tags=("scalar", "string"),
)
def string_functions(spark, sf_dir):
    """String function battery (reference analog: split + startsWith,
    ``main.scala:45``)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.trim(F.concat(F.lit(" "), F.col("p_type"), F.lit(" "))).alias("type_trim"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
        F.col("p_name").contains("a").alias("has_a"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_token"),
    )


@register(
    "datetime_functions",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate)                               AS order_year,
               month(o_orderdate)                              AS order_month,
               dayofmonth(o_orderdate)                         AS order_day,
               CAST(date_trunc('month', o_orderdate) AS DATE)  AS month_start,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY     AS due_date_ts,
               datediff('day', CAST(o_orderdate AS DATE), DATE '2024-12-31')
                                                               AS days_to_eoy,
               CAST(o_orderdate AS DATE)                       AS order_date,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')      AS order_ts_str
        FROM orders
    """,
    tags=("scalar", "datetime"),
)
def datetime_functions(spark, sf_dir):
    """Date/time function battery over ``o_orderdate``."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_add(d.cast("date"), 30).cast("timestamp_ntz").alias("due_date_ts"),
        F.datediff(F.lit("2024-12-31").cast("date"), d.cast("date")).alias(
            "days_to_eoy"
        ),
        d.cast("date").alias("order_date"),
        F.date_format(d, "yyyy-MM-dd HH:mm:ss").alias("order_ts_str"),
    )


@register(
    "math_functions",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount)                  AS net_price,
               l_extendedprice * (1 - l_discount) * (1 + l_tax)    AS gross_price,
               CAST(floor(l_extendedprice) AS BIGINT)              AS price_floor,
               CAST(ceil(l_extendedprice) AS BIGINT)               AS price_ceil,
               abs(l_discount - 0.05)                              AS disc_dev,
               round(sqrt(l_quantity), 6)                          AS qty_sqrt,
               round(pow(l_quantity, 2), 6)                        AS qty_sq,
               round(ln(l_extendedprice), 6)                       AS price_ln,
               round(exp(l_discount), 6)                           AS disc_exp,
               CAST(l_quantity AS BIGINT) % 7                      AS qty_mod
        FROM lineitem
    """,
    tags=("scalar", "math"),
)
def math_functions(spark, sf_dir):
    """Math battery incl. the TPC-H ``price*(1-disc)`` idiom.

    Cross-engine float discipline: per-row arithmetic stays RAW double
    (IEEE ops are bit-identical in any engine); rounding is only applied
    to transcendentals (libm may differ by 1 ulp — round(...,6) absorbs
    it). Spark ``log`` is natural log, DuckDB ``log`` is log10 — the
    oracle uses ``ln``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (price * (1 - F.col("l_discount"))).alias("net_price"),
        (price * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "gross_price"
        ),
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.log(price), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
    )


@register(
    "conditional_case",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END                    AS bal_band,
               greatest(c_acctbal, 0.0)                AS bal_clamped,
               least(round(c_acctbal, 0), 9000.0)      AS bal_capped,
               coalesce(nullif(c_name, ''), 'unknown') AS name_filled
        FROM customer
    """,
    tags=("scalar", "conditional"),
)
def conditional_case(spark, sf_dir):
    """CASE WHEN / greatest / least / coalesce / nullif."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "debt").when(bal < 5000, "low").otherwise("high").alias(
            "bal_band"
        ),
        F.greatest(bal, F.lit(0.0)).alias("bal_clamped"),
        F.least(F.round(bal, 0), F.lit(9000.0)).alias("bal_capped"),
        F.coalesce(F.nullif(F.col("c_name"), F.lit("")), F.lit("unknown")).alias(
            "name_filled"
        ),
    )


@register(
    "cast_coercion",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14, 2)) AS VARCHAR) AS price_dec_str,
               CAST(o_orderkey AS VARCHAR)                            AS key_str,
               CAST(floor(o_totalprice) AS BIGINT)                    AS price_long,
               CAST(o_orderstatus = 'F' AS INTEGER)                   AS is_final_int,
               CAST(o_orderdate AS DATE)                              AS order_date
        FROM orders
    """,
    tags=("scalar", "cast"),
)
def cast_coercion(spark, sf_dir):
    """Casts incl. decimal; decimals are re-cast to string so both
    engines hash the same canonical text (SURVEY §7 float discipline).

    Spark CAST(double AS BIGINT) truncates toward zero; DuckDB rounds —
    the oracle pins Spark's semantics with floor() (prices > 0).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(14,2)").cast("string").alias(
            "price_dec_str"
        ),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("bigint").alias("price_long"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final_int"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@register(
    "json_functions",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k')              AS k_str,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
               CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
        FROM events
    """,
    tags=("scalar", "json"),
)
def json_functions(spark, sf_dir):
    """JSON extraction from the ``events.props`` payload column
    (``get_json_object`` / ``from_json`` surface)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        (k.cast("int") % 10).alias("k_bucket"),
    )


@register(
    "array_functions",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' '))                       AS n_tokens,
               list_contains(string_split(text, ' '), 'spark')    AS has_spark,
               array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',')
                                                                  AS vocab_sorted,
               array_to_string(string_split(text, ' ')[1:3], ',') AS first3,
               array_to_string(list_sort(list_transform(list_filter(
                         string_split(text, ' '),
                         t -> length(t) > 4), t -> upper(t))), ',')
                                                                  AS long_toks_upper
        FROM documents
    """,
    tags=("scalar", "array", "higher-order"),
)
def array_functions(spark, sf_dir):
    """Array + higher-order functions over tokenized text.

    Reference analog: ``getText.split(" ").filter(_.startsWith("#"))``
    (``main.scala:45``) — same split/filter shape, but as Catalyst
    higher-order expressions instead of a JVM closure.

    Array-typed outputs are emitted as comma-joined strings: the
    driver's canonicalizer sorts result frames and numpy arrays are
    unhashable, so raw array columns error out (round-2 lesson from
    ``agg_collect_list_set``).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def joined(arr):
        # NULL-in, NULL-out: Spark's concat_ws SKIPS null arguments
        # and returns '' where DuckDB's array_to_string(NULL) is NULL
        # (round-12 NULL-payload audit) — the guard restores standard
        # NULL propagation for fetch-failure rows.
        return F.when(
            F.col("text").isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat_ws(",", arr))

    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        joined(F.sort_array(F.array_distinct(toks))).alias("vocab_sorted"),
        joined(F.slice(toks, 1, 3)).alias("first3"),
        joined(
            F.sort_array(
                F.transform(
                    F.filter(toks, lambda t: F.length(t) > 4),
                    lambda t: F.upper(t),
                )
            )
        ).alias("long_toks_upper"),
    )


@register(
    "map_functions",
    oracle="""
        SELECT event_id,
               (MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)})['type'][1]
                                                                    AS type_from_map,
               len(map_keys(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}))
                                                                    AS n_keys
        FROM events
    """,
    tags=("scalar", "map"),
)
def map_functions(spark, sf_dir):
    """Map construction + element_at/map_keys (scalar projections only —
    raw map values don't hash identically across engines)."""
    e = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("type_from_map"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "subquery_correlated_scalar",
    oracle="""
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
    """,
    tags=("subquery", "correlated"),
)
def subquery_correlated_scalar(spark, sf_dir):
    """Correlated scalar subquery — customers above their nation's mean
    balance. Catalyst decorrelates this into an aggregate + join
    (RewriteCorrelatedScalarSubquery, SURVEY §4.2); expressed via the
    SQL entry point to exercise parser → analyzer → decorrelation."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@register(
    "subquery_in_uncorrelated",
    oracle="""
        SELECT p_partkey, p_type
        FROM part
        WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0
        )
          AND p_partkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        )
    """,
    tags=("subquery", "in", "semi"),
)
def subquery_in_uncorrelated(spark, sf_dir):
    """Uncorrelated IN / NOT IN subqueries (SQL entry point): IN plans
    as a left-semi join, NOT IN as null-aware anti — the two rewrite
    rules every SQL frontend needs beyond the correlated-scalar case.
    (The NOT IN list here happens to be NULL-free in the fixture; the
    three-valued NULL path is exercised separately by
    ``subquery_not_in_null``.)

    Scale shape: both subqueries reduce to distinct key sets before
    joining (semi/anti never multiply rows); the quantity filter is
    pushed to the lineitem scan."""
    from jubilant_garbanzo_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_type
        FROM part
        WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0
        )
          AND p_partkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        )
        """
    )


_NOT_IN_NULL_SQL = """
    SELECT
        (SELECT count(*) FROM customer
         WHERE c_custkey NOT IN (
             SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
             UNION ALL SELECT NULL
         )) AS cnt_with_null,
        (SELECT count(*) FROM customer
         WHERE c_custkey NOT IN (
             SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
         )) AS cnt_null_free
"""


@register(
    "subquery_not_in_null",
    oracle=_NOT_IN_NULL_SQL,
    tags=("subquery", "not-in", "null-semantics"),
)
def subquery_not_in_null(spark, sf_dir):
    """NOT IN three-valued NULL semantics, actually exercised: the
    probe list is the same key set twice, once with an injected NULL.
    ``x NOT IN (..., NULL)`` is never TRUE under SQL three-valued
    logic, so ``cnt_with_null`` must be 0 while ``cnt_null_free`` is
    the real anti-join count — the classic engine bug this pins is
    treating NOT IN as a plain anti join and returning equal counts.
    Spark plans the NULL-laden branch as a null-aware anti join
    (BroadcastNestedLoop fallback for the null check); the driver hash
    compares both counts against DuckDB's.

    Scale shape: the NULL-free branch is a distinct-key anti join; the
    null-aware branch is why production pipelines should filter NULLs
    out of NOT IN lists explicitly — this query documents the cliff."""
    from jubilant_garbanzo_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_NULL_SQL)


@register(
    "lateral_explode_tokens",
    oracle="""
        SELECT d.doc_id,
               u.i - 1 AS pos,
               d.toks[u.i] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id % 97 = 0) d,
             UNNEST(generate_series(1, len(d.toks))) AS u(i)
        WHERE len(d.toks[u.i]) >= 6
    """,
    tags=("lateral", "explode", "generator"),
)
def lateral_explode_tokens(spark, sf_dir):
    """Generator expansion with ordinality: ``posexplode`` over
    tokenized text (the LATERAL VIEW / UNNEST WITH ORDINALITY shape),
    keeping each token's position — the row-multiplying op that
    tokenization, shingling, and attribute-array flattening all reduce
    to. The position column pins ORDER of expansion cross-engine, not
    just the multiset of tokens.

    Scale shape: explode is narrow (no shuffle) and multiplies rows
    ~150× here — the length filter lands AFTER expansion but Spark
    keeps it in the same codegen stage, so no materialization of the
    unfiltered blowup ever hits memory."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .filter(F.length("token") >= 6)
        .select("doc_id", "pos", "token")
    )


@register(
    "json_variant_type",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_sum,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_max,
               CAST(count(*) FILTER (
                   CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
               ) AS BIGINT) AS n_even_k
        FROM events
        GROUP BY event_type
    """,
    tags=("json", "variant", "spark4"),
)
def json_variant_type(spark, sf_dir):
    """The Spark 4 VARIANT type on the semi-structured path:
    ``parse_json(props)`` → binary variant → typed ``variant_get``
    extraction, aggregated per event_type. VARIANT stores parsed JSON
    in a shredded binary encoding, so repeated field access skips
    re-tokenizing the text — the engine-native answer to JSON-heavy
    event tables that ``get_json_object`` (json_functions) re-parses
    per call.

    The oracle uses DuckDB's json_extract on the same documents —
    equal hashes prove the variant path preserves values exactly.
    Variant never appears in the OUTPUT schema (its binary encoding is
    engine-private, the HLL-sketch rule); only typed extractions leave
    the query.

    Scale note: at 100 TB you'd materialize the parse once
    (write the variant column to parquet — Spark 4 writes shredded
    variant natively) and push ``variant_get`` into scans; here the
    parse+extract runs inline on the fly.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.max("k").cast("bigint").alias("k_max"),
            F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_even_k"),
        )
    )


@register(
    "agg_filter_clause",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT)
                   AS n_finished,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                    FILTER (o_orderstatus = 'O') AS BIGINT) AS open_cents,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_totalprice > 400000) AS any_jumbo
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "filter-clause", "spark4"),
)
def agg_filter_clause(spark, sf_dir):
    """Modern aggregate-predicate surface in one query: ``count_if`` /
    FILTER-clause conditional aggregation (count and sum under
    different predicates in ONE pass — no self-joins, no second scan)
    plus the boolean reducers ``bool_and`` / ``bool_or``. These stay
    partial-aggregable: each executor folds its predicate-filtered
    partials, so the multi-metric dashboard row costs exactly one
    shuffle — the idiom that replaces N filtered subqueries at 100 TB.

    NULL-sum discipline: a FILTER'd sum over zero matching rows is
    NULL on both engines (left as-is, not coalesced — part of the
    contract being proven).
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.expr("count_if(o_orderstatus = 'F')").cast("bigint").alias(
            "n_finished"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "O", cents))
        .cast("bigint")
        .alias("open_cents"),
        F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
        F.expr("bool_or(o_totalprice > 400000)").alias("any_jumbo"),
    )


@register(
    "string_collation_ci",
    oracle="""
        WITH mixed AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg,
                   c_acctbal
            FROM customer
        )
        SELECT upper(seg) AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(count(DISTINCT seg) AS BIGINT) AS n_raw_spellings,
               CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   / 100.0 AS total_balance
        FROM mixed
        GROUP BY upper(seg)
    """,
    tags=("string", "collation", "spark4"),
)
def string_collation_ci(spark, sf_dir):
    """Spark 4 COLLATION surface: group a deliberately mixed-case
    segment column under ``COLLATE UNICODE_CI`` — 'building' and
    'BUILDING' are ONE group to the collation-aware hash aggregate,
    while ``count(DISTINCT seg)`` (binary collation) still sees both
    spellings. The oracle normalizes with upper() — equal hashes prove
    the collated grouping partitions rows exactly like explicit
    normalization, without rewriting the data.

    Why this matters at scale: collation-aware grouping/joins happen
    IN the hash function (UTF8_LCASE/UNICODE_CI collation keys), so
    no derived normalized column needs materializing or shuffling —
    and unlike lower()-wrapping, the original spellings survive for
    output. The group label leaves the query upper()-normalized
    (collated strings pick a representative nondeterministically, the
    tie-arbitrary max_by rule).
    """
    c = load_table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        "c_acctbal",
    )
    cents = F.round(F.col("c_acctbal") * 100.0).cast("bigint")
    return (
        mixed.groupBy(F.expr("seg COLLATE UNICODE_CI").alias("seg_ci"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.count_distinct(F.expr("seg COLLATE UTF8_BINARY"))
            .cast("bigint")
            .alias("n_raw_spellings"),
            (F.sum(cents).cast("bigint") / 100.0).alias("total_balance"),
        )
        .select(
            F.upper(F.col("seg_ci")).alias("segment"),
            "n_customers",
            "n_raw_spellings",
            "total_balance",
        )
    )


@register(
    "conditional_try_functions",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) FILTER (
                   CASE WHEN l_discount = 0 THEN NULL
                        ELSE l_extendedprice / NULLIF(l_discount, 0) END IS NULL
               ) AS BIGINT) AS n_div_null,
               CAST(count(CASE WHEN regexp_matches(l_returnflag,
                                               '^[0-9]+$')
                               THEN TRY_CAST(l_returnflag AS BIGINT)
                          END) AS BIGINT) AS n_castable,
               CAST(sum(CAST(round(
                   coalesce(CASE WHEN l_quantity = 0 THEN NULL
                                 ELSE l_extendedprice / NULLIF(l_quantity, 0) END, 0.0)
                   * 100.0) AS BIGINT)) AS BIGINT) / 100.0
                   AS unit_price_sum
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("conditional", "try-functions", "ansi-safety"),
)
def conditional_try_functions(spark, sf_dir):
    """The ``try_`` error-safe function family (Spark 3.4+/4 ANSI
    discipline): ``try_divide`` yields NULL instead of raising on
    division by zero, ``try_cast`` yields NULL on malformed input —
    the idioms that keep a 100 TB job from dying at hour 9 on one bad
    row while STILL running under ANSI mode (where raw ``/`` and
    ``CAST`` throw).

    The oracle expresses the identical semantics with guarded CASE /
    TRY_CAST (DuckDB's division by zero is NULL-on-guard here), so the
    hash match pins try_divide's NULL contract exactly: per flag, how
    many zero-discount rows produced NULL ratios, how many flag
    strings survived a numeric try_cast (none — 'A'/'N'/'R'), and an
    exact-cents sum over the null-coalesced unit price.

    MEASURED cost note (sf0.1, local[32]): try_cast on an
    always-invalid string column ran ~12× slower than the rest of this
    aggregate combined (3.9 s vs 0.3 s for 600 k rows) — its failure
    path is exception-driven per row. The production idiom on
    dirty-heavy columns, used here, is a cheap regexp validity guard
    so try_cast only ever runs on plausible input; try_cast remains
    the SEMANTIC safety net, not the bulk parser.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(
            F.when(
                F.expr("try_divide(l_extendedprice, l_discount)").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_div_null"),
        F.count(
            F.when(
                F.col("l_returnflag").rlike("^[0-9]+$"),
                F.expr("try_cast(l_returnflag AS BIGINT)"),
            )
        )
        .cast("bigint")
        .alias("n_castable"),
        (
            F.sum(
                F.round(
                    F.coalesce(
                        F.expr("try_divide(l_extendedprice, l_quantity)"),
                        F.lit(0.0),
                    )
                    * 100.0
                ).cast("bigint")
            ).cast("bigint")
            / 100.0
        ).alias("unit_price_sum"),
    )


@register(
    "join_lateral_topn",
    oracle="""
        SELECT n.n_name, top.c_name, top.c_acctbal
        FROM nation n
        JOIN LATERAL (
            SELECT c_name, c_acctbal
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 2
        ) top ON true
    """,
    tags=("join", "lateral", "correlated"),
)
def join_lateral_topn(spark, sf_dir):
    """True correlated LATERAL join (Spark 3.2+ SQL): for each nation,
    the top-2 customers by balance — the per-row-subquery surface that
    ``LATERAL VIEW explode`` (lateral_explode_tokens) does not cover.
    Catalyst DECORRELATES the lateral subquery into a ranked window
    join (DecorrelateInnerQuery), so the executed plan is the same
    scalable shape as window_topn_per_group — no per-nation rescans of
    customer, which is what a naive nested-loop lateral would do at
    100 TB.

    LIMIT inside the lateral is totally ordered (balance DESC, custkey
    ASC) so both engines pick identical rows.
    """
    from jubilant_garbanzo_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, top.c_name, top.c_acctbal
        FROM nation n
        JOIN LATERAL (
            SELECT c_name, c_acctbal
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 2
        ) top
        """
    )


@register(
    "sql_pipe_syntax",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    """,
    tags=("relational", "spark4", "sql-pipe"),
)
def sql_pipe_syntax(spark, sf_dir):
    """Spark 4 SQL pipe syntax (`FROM … |> WHERE … |> AGGREGATE`) —
    the linear query-composition surface SQL:2023-adjacent engines are
    converging on (BigQuery pipe syntax, Spark 4.0 SPARK-49555). The
    pipeline is parsed into the IDENTICAL logical plan as the nested
    form (same pushdown, same partial aggregation), which the oracle
    proves by computing the classic GROUP BY twin — this query pins
    the SYNTAX surface, not new semantics.

    Scale shape: filter → partial agg on a low-cardinality key; the
    pipe form plans exactly like agg_groupby_basic.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "pipe_events_src"
    )
    return spark.sql(
        """
        FROM pipe_events_src
        |> WHERE event_type IN ('click', 'purchase')
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(round(value * 100.0) AS BIGINT))
                          AS BIGINT) AS cents
           GROUP BY event_type
        |> SELECT event_type, n_events, cents
        """
    )


@register(
    "sql_group_by_all_lateral_alias",
    # The oracle spells both conveniences out longhand: explicit GROUP
    # BY keys and the alias expression re-expanded — proving the sugar
    # changes syntax only, never semantics.
    oracle="""
        SELECT event_type, event_hour, n_events, cents,
               CAST(cents AS DOUBLE) / 100.0 AS dollars,
               round((CAST(cents AS DOUBLE) / 100.0) / NULLIF(n_events, 0), 6)
                   AS avg_value
        FROM (
            SELECT event_type,
                   CAST(extract(hour FROM ts) AS BIGINT) AS event_hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events
            GROUP BY event_type, CAST(extract(hour FROM ts) AS BIGINT)
        )
    """,
    tags=("relational", "spark4", "sql-surface"),
)
def sql_group_by_all_lateral_alias(spark, sf_dir):
    """Two Spark 3.4+/4 SQL conveniences pinned in one query:

    - ``GROUP BY ALL`` (SPARK-40218): the grouping keys are inferred
      as every non-aggregate select item — here (event_type,
      event_hour), where event_hour is itself a computed column;
    - LATERAL COLUMN ALIAS (SPARK-27561): the outer projection's
      ``avg_value`` references the SIBLING alias ``dollars``, which
      classic SQL scoping forbids. (The two sugars cannot share one
      SELECT: Spark 4.1 still rejects lateral aliases inside a
      GROUP BY ALL block — UNSUPPORTED_FEATURE
      .LATERAL_COLUMN_ALIAS_IN_GROUP_BY — so the projection nests.)

    The oracle expands both by hand (explicit keys, alias re-inlined),
    so the differential check proves the sugar is pure syntax — same
    rows, same exact-cents arithmetic (cents is CAST to DOUBLE before
    the division: a bare `cents / 100.0` makes Spark SQL's literal a
    DECIMAL and the output column decimal-typed — the round-7
    vanilla-rehearsal failure class, caught again here by
    drive_entry --names). Plans identically to the longhand form:
    filter-free scan → partial agg on low-cardinality keys; the nested
    projection collapses."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "gba_events_src"
    )
    return spark.sql(
        """
        SELECT event_type, event_hour, n_events, cents,
               CAST(cents AS DOUBLE) / 100.0 AS dollars,
               round(dollars / n_events, 6) AS avg_value
        FROM (
            SELECT event_type,
                   CAST(extract(HOUR FROM ts) AS BIGINT) AS event_hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM gba_events_src
            GROUP BY ALL
        )
        """
    )


@register(
    "sql_udf_scalar",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               (CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount))
                                    * 100.0) AS BIGINT)) AS BIGINT)
                / 100.0) AS net_revenue
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("relational", "spark4", "sql-udf"),
)
def sql_udf_scalar(spark, sf_dir):
    """Spark 4 SQL-defined scalar function (`CREATE TEMPORARY FUNCTION
    … RETURNS … RETURN expr`, SPARK-46246): business logic shared as a
    catalog object instead of a copy-pasted expression — the governed
    alternative to Python UDFs with ZERO serialization cost, because
    the body is inlined into the plan at resolution time (Catalyst
    sees the raw expression: pushdown/codegen apply as if hand-written,
    which the oracle proves by hand-inlining the same arithmetic).

    The discount-net revenue body reuses the exact-cents idiom AFTER
    the UDF call, so the float surface is the one shared IEEE
    expression both engines evaluate identically.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION jg_net(
            price DOUBLE, disc DOUBLE
        ) RETURNS DOUBLE RETURN price * (1.0 - disc)
        """
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "udf_lineitem_src"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               (CAST(sum(CAST(round(jg_net(l_extendedprice, l_discount)
                                    * 100.0) AS BIGINT)) AS BIGINT)
                / CAST(100.0 AS DOUBLE)) AS net_revenue
        FROM udf_lineitem_src
        GROUP BY l_returnflag
        """
    )


@register(
    "sql_parameterized",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               (CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT))
                     AS BIGINT) / 100.0) AS total_balance
        FROM customer
        WHERE c_nationkey < 10
        GROUP BY c_mktsegment
    """,
    tags=("relational", "spark4", "parameterized-sql"),
)
def sql_parameterized(spark, sf_dir):
    """Parameterized SQL with named markers and an IDENTIFIER() table
    reference (Spark 3.4+/4.x, SPARK-41271/SPARK-43205): the
    injection-safe template surface BI layers and dashboards feed —
    values bind as literals AFTER parsing (`:threshold`), and table
    names bind through IDENTIFIER so the template itself is constant.
    Catalyst folds the bound literal, so the filter still reaches the
    scan as a pushed predicate — parameterization costs nothing at
    plan time (same bar as the SQL-UDF inlining gate).

    Scale shape: identical to the hand-written form — pushed filter +
    partial agg on a low-cardinality key.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "param_customer_src"
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               (CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT))
                     AS BIGINT) / CAST(100.0 AS DOUBLE)) AS total_balance
        FROM IDENTIFIER(:tbl)
        WHERE c_nationkey < :max_nation
        GROUP BY c_mktsegment
        """,
        args={"tbl": "param_customer_src", "max_nation": 10},
    )


_RCTE_EDGE_CTES = """e0 AS MATERIALIZED (
    SELECT CAST(c.c_nationkey AS BIGINT) AS src,
           CAST(s.s_nationkey AS BIGINT) AS dst,
           CAST(count(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
), tot AS MATERIALIZED (
    SELECT CAST(sum(w) AS BIGINT) AS tw,
           CAST(count(*) AS BIGINT) AS ne
    FROM e0
), und AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0, tot WHERE 2 * w * ne >= tw
        UNION ALL
        SELECT dst, src FROM e0, tot WHERE 2 * w * ne >= tw
    ) WHERE src != dst
)"""

#: The recursion itself — IDENTICAL text on both engines; only the
#: name of the (already-aggregated) edge relation is formatted in.
_RCTE_RECURSION = """reach(node, hops) AS (
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN {UND} e ON e.src = r.node
    WHERE r.hops < 3
)
SELECT n.n_name AS nation,
       CAST(min(r.hops) AS BIGINT) AS min_hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach r JOIN {NAT} n ON n.n_nationkey = r.node
GROUP BY n.n_name
"""


@register(
    "sql_recursive_cte_reachability",
    oracle=(
        "WITH RECURSIVE "
        + _RCTE_EDGE_CTES
        + ", "
        + _RCTE_RECURSION.format(UND="und", NAT="nation")
    ),
    tags=("relational", "sql", "recursive-cte", "spark4"),
)
def sql_recursive_cte_reachability(spark, sf_dir):
    """Spark 4 RECURSIVE CTE (SPARK-24497, new in 4.0) — transitive
    reachability from nation 0 over the half-mean-thresholded trade
    graph, bounded at 3 hops: the iterative UNION ALL member re-joins
    the working set against the edge list until the guard empties it.
    Outputs BOTH min_hops (the BFS answer) and n_paths (the bounded
    path multiplicity), so the differential check pins the engine's
    recursion semantics — seed row, per-step join, guard, duplicate
    accumulation — not just the fixpoint; a Python BFS + path-count DP
    parity test covers the values independently.

    The recursion TEXT is identical on both engines
    (_RCTE_RECURSION); the edge relation it iterates over is where
    the engines differ deliberately: Spark's UnionLoop replans the
    recursive member each step, so an inline edge CTE would re-run
    the 4-way fact join ONCE PER ITERATION (measured: the first
    implementation planned exactly that — the fact scans sat inside
    the loop body). The engine path therefore collapses the fact
    join to the 25-node edge list FIRST (DataFrame derivation +
    eager localCheckpoint — truly computed once) and recurses over
    the materialized view, while the DuckDB oracle keeps the whole
    derivation inline as MATERIALIZED CTEs — an independent
    formulation of the same edges, which is exactly what the
    differential check wants. A plan gate pins the loop body free of
    parquet scans.

    Scale shape: the recursion's working set lives on the BOUNDED
    nation graph; at 100 TB the same recursion runs on the
    aggregated edge table, and the hop bound caps the blow-up at
    out_degree^3 path rows over a 25-node graph.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "rcte_nation"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    tot = e0.agg(
        F.sum("w").cast("bigint").alias("tw"),
        F.count("*").cast("bigint").alias("ne"),
    )
    sig = (
        e0.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("w") * F.col("ne") >= F.col("tw"))
        .select("src", "dst")
    )
    und = materialize(
        sig.unionByName(
            sig.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    und.createOrReplaceTempView("rcte_und")
    return spark.sql(
        "WITH RECURSIVE "
        + _RCTE_RECURSION.format(UND="rcte_und", NAT="rcte_nation")
    )
