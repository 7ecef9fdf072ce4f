"""Corpus sampling, profiling, and data-quality queries — the
pipeline-hygiene operators a 100 TB training-data build runs between
ingestion and dedup: deterministic (reproducible) sampling, repetition
quality filtering (the Gopher repetition rules, Rae et al. 2021 —
public literature), statistical outlier screens, and table/column
profiling.

Everything here is deterministic by construction (md5-derived buckets,
exact integer ratios, exact-cents moments), so every query is
full-oracle-checkable against DuckDB with STRICT float equality.

Reference parity note: the reference app (tweet-streamer/src/main/
scala/main.scala, 64 lines) has no sampling/profiling tooling; these
implement the mission's [EXT] training-pipeline surface.

Determinism over `rand()`: Spark's `sample()`/`rand(seed)` are
partitioning-dependent (a repartition changes which rows draw which
uniforms), which breaks both reproducibility at 100 TB and any
cross-engine oracle. Hash-threshold sampling (keep iff
md5(key) mod 100 < rate) is the industry-standard fix: stable under
any partitioning, any cluster size, any engine — and it samples the
SAME keys on every run, which is exactly what a train/eval pipeline
needs for consistency across reprocessing.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.functions.hashing import md5_hex_bigint
from jubilant_garbanzo_spark.queries import register

#: Per-stratum keep rates (percent) for the stratified sample: keep a
#: document iff its md5 bucket (0-99) falls below its language's rate.
_STRATA_RATES = {"en": 50, "de": 25}
_DEFAULT_RATE = 10


def _bucket_spark(col):
    """md5-derived uniform bucket in [0, 100) — Spark side."""
    return (
        md5_hex_bigint(col.cast("string"), length=8) % 100
    )


def _bucket_sql(expr: str) -> str:
    """DuckDB twin of :func:`_bucket_spark` (proven exact idiom)."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % 100)"


@register(
    "sample_stratified_hash",
    oracle=f"""
        SELECT doc_id, lang,
               {_bucket_sql('doc_id')} AS bucket
        FROM documents
        WHERE {_bucket_sql('doc_id')} <
              CASE lang WHEN 'en' THEN {_STRATA_RATES['en']}
                        WHEN 'de' THEN {_STRATA_RATES['de']}
                        ELSE {_DEFAULT_RATE} END
    """,
    tags=("llm", "sampling", "stratified"),
)
def sample_stratified_hash(spark, sf_dir):
    """Deterministic stratified sample: per-language keep rates via an
    md5 hash threshold on the document key (see module docstring for
    why not ``sample()``/``rand()``).

    Scale shape: narrow scan + per-row filter — zero shuffle, fully
    pushdown-friendly (only doc_id/lang read), and the rate CASE is a
    broadcastable constant expression. At 100 TB this is a map-only
    job whose output size is exactly the blended rate.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = _bucket_spark(F.col("doc_id"))
    rate = (
        F.when(F.col("lang") == "en", _STRATA_RATES["en"])
        .when(F.col("lang") == "de", _STRATA_RATES["de"])
        .otherwise(_DEFAULT_RATE)
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@register(
    "sample_reservoir_per_group",
    oracle="""
        SELECT doc_id, lang, rn
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY md5(text), doc_id) AS rn
            FROM documents
        )
        WHERE rn <= 5
    """,
    tags=("llm", "sampling", "per-group"),
)
def sample_reservoir_per_group(spark, sf_dir):
    """Reservoir-style k-per-group sample (k=5 per language),
    deterministic: rank by md5(text) — a uniform-but-reproducible
    order — instead of a seeded shuffle, so every run (and every
    engine) picks the same representatives.

    Scale shape: one hash-partitioned window per group key with an
    early rank cutoff. Spark plans rn<=k as a running top-k per
    partition (WindowGroupLimit pushes the limit below the sort at
    execution), so per-group state is O(k), not O(group size) — the
    same property a true reservoir gives, without nondeterminism.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "quality_repetition_filter",
    # Exact integer ratios (token counts) — no float discipline needed
    # beyond round-for-display; the FLAG comparisons run on the exact
    # unrounded ratios in both engines.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), cnt AS (
            SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
        ), top1 AS (
            SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n_tok
            FROM cnt GROUP BY doc_id
        ), g AS (
            SELECT doc_id,
                   [string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i + 1]
                    FOR i IN range(1, len(string_split(text, ' ')))] AS g2
            FROM documents
        ), d2 AS (
            SELECT doc_id,
                   CASE WHEN len(g2) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(g2)) / NULLIF(len(g2), 0)
                   END AS dup2
            FROM g
        )
        SELECT t.doc_id, t.n_tok,
               round(t.mx / NULLIF(t.n_tok, 0), 6)  AS top1_frac,
               round(d2.dup2, 6)         AS dup2_frac,
               CAST(CASE WHEN t.mx / NULLIF(t.n_tok, 0) > 0.12 OR d2.dup2 > 0.05
                    THEN 1 ELSE 0 END AS INT) AS is_repetitive
        FROM top1 t JOIN d2 ON t.doc_id = d2.doc_id
    """,
    tags=("llm", "quality", "repetition"),
)
def quality_repetition_filter(spark, sf_dir):
    """Gopher-style repetition screen (Rae et al. 2021 §A1.1, public):
    flag documents whose most-frequent token exceeds 12% of all tokens
    or whose duplicate-2-gram fraction exceeds 5%.

    Scale shape: top-token counts come from explode → two-level
    partial aggregation (map-side combine on (doc_id, token), then
    per-doc max/sum — never a per-doc collect); the 2-gram duplicate
    fraction is row-level ``slice``+``zip_with`` (lambdas touch only
    their own args — the HOF outer-reference trap re-evaluates
    row-scoped expressions per element, measured 30x slower). The
    final join is doc_id-to-doc_id, co-partitioned with the agg
    output. All ratios are int/int → exact doubles, so the flag
    comparison is engine-independent.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    # Per-doc top-token stats via distributed aggregation.
    top1 = (
        d.select("doc_id", F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("n_tok"))
    )

    # Per-doc duplicate-2-gram fraction, row-level (no shuffle).
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    dup2 = F.when(F.size(g2) > 0, 1.0 - F.size(F.array_distinct(g2)) / F.size(g2)).otherwise(0.0)
    d2 = d.select("doc_id", dup2.alias("dup2"))

    top1_frac = F.col("mx") / F.col("n_tok")
    return (
        top1.join(d2, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            F.round(top1_frac, 6).alias("top1_frac"),
            F.round(F.col("dup2"), 6).alias("dup2_frac"),
            ((top1_frac > 0.12) | (F.col("dup2") > 0.05))
            .cast("int")
            .alias("is_repetitive"),
        )
    )


@register(
    "anomaly_zscore_outliers",
    # Exact-cents moments: integer sums (BIGINT / HUGEINT-DECIMAL) make
    # mean and variance order-independent, then ONE identical double
    # expression both sides — the money.py discipline extended to the
    # second moment.
    oracle="""
        WITH c AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
            FROM orders
        ), stats AS (
            SELECT o_orderpriority,
                   CAST(sum(cents) AS BIGINT)           AS s,
                   CAST(sum(cents * cents) AS DOUBLE)   AS sq,
                   count(*)                             AS n
            FROM c GROUP BY o_orderpriority
        )
        , z AS (
            -- explicit degenerate-group guards (round-11 ANSI review):
            -- n = 1 has no sample variance, and a zero-variance group
            -- has no z — NULL on both engines, never DIVIDE_BY_ZERO
            SELECT c.o_orderkey, c.o_orderpriority, c.o_totalprice,
                   CASE WHEN n > 1 THEN
                       (c.cents - s / NULLIF(n, 0))
                       / NULLIF(sqrt((sq - (s / NULLIF(n, 0)) * s)
                                     / NULLIF((n - 1), 0)), 0)
                   END AS zval
            FROM c JOIN stats USING (o_orderpriority)
        )
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               round(zval, 4) AS zscore
        FROM z WHERE abs(zval) > 1.7
    """,
    tags=("quality", "outlier", "stats"),
)
def anomaly_zscore_outliers(spark, sf_dir):
    """Statistical outlier screen: orders whose total price sits more
    than 1.7 sample standard deviations from their priority group's
    mean. The numeric screen every ingest pipeline runs before
    trusting a new data drop. (The fixture's prices are uniform-ish,
    which bounds |z| below sqrt(3) ~ 1.78 — a textbook 2.5-sigma cut
    would be vacuously empty at every SF, the q22 trap; 1.7 sits at
    the distribution's p99 so the screen demonstrably fires.)

    Exactness: mean and variance are derived from exact integer cent
    sums (sum(cents) BIGINT; sum(cents²) as DECIMAL — ~3.6e15 per row
    overflows a BIGINT accumulator beyond ~2500 rows), then one
    identical double expression on both engines, so even the >2.5
    boundary decision is bit-reproducible under any partitioning.

    Scale shape: group moments via map-side partial aggregation into a
    handful of rows, broadcast back onto the fact scan — one shuffle-
    free pass over orders plus a broadcast hash join. The z expression
    stays in whole-stage codegen.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias("cents"),
    )
    stats = c.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sq"),
        F.count("*").alias("n"),
    )
    mean = F.col("s") / F.col("n")
    # try_divide twice (round-11 ANSI review): an n = 1 group divides
    # the variance by zero and a zero-variance group divides z by
    # zero — both are SparkArithmeticException under ANSI where the
    # oracle's guards yield NULL (and the filter then drops the row).
    var = F.try_divide(
        F.col("sq") - mean * F.col("s"), (F.col("n") - 1).cast("double")
    )
    z = F.try_divide(F.col("cents") - mean, F.sqrt(var))
    return (
        c.join(F.broadcast(stats), "o_orderpriority")
        .filter(F.abs(z) > 1.7)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round(z, 4).alias("zscore"),
        )
    )


def _profile_branch_sql(col: str, metric: str) -> str:
    return f"""
        SELECT '{col}' AS col_name,
               count(*)                          AS n_rows,
               CAST(count({col}) AS BIGINT)      AS n_nonnull,
               CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(min({metric}) AS DOUBLE)     AS min_val,
               CAST(max({metric}) AS DOUBLE)     AS max_val
        FROM orders
    """


@register(
    "profile_table_stats",
    # String columns profile min/max LENGTH (numeric, so the long
    # format stays one uniform schema and no engine-specific string
    # formatting enters the hash).
    oracle=" UNION ALL ".join(
        [
            _profile_branch_sql("o_orderkey", "o_orderkey"),
            _profile_branch_sql("o_custkey", "o_custkey"),
            _profile_branch_sql("o_totalprice", "o_totalprice"),
            # length(), NOT strlen(): Spark F.length counts CHARACTERS
            # and DuckDB strlen counts BYTES — equal only on all-ASCII
            # data (the dedup_exactsubstr_removal regression class).
            _profile_branch_sql("o_orderstatus", "length(o_orderstatus)"),
            _profile_branch_sql(
                "o_orderpriority", "length(o_orderpriority)"
            ),
        ]
    ),
    tags=("quality", "profiling"),
)
def profile_table_stats(spark, sf_dir):
    """Column-level profiling of ``orders`` in long format — row
    counts, null counts, exact distinct cardinality, numeric min/max
    (string columns profile their lengths). The schema-drift /
    null-regression check a pipeline runs on every new partition.

    Scale shape: one branch per column, each a column-pruned scan with
    partial aggregation (count-distinct shuffles only that single
    column's values), unioned into a 5-row result. Per-column pruning
    is the point: profiling N columns reads each column once, never
    the whole row — at 100 TB the scans are parquet-column-local, and
    exact ndv per branch beats a single wide pass that would carry
    every column through one shuffle. (For >>10⁹ ndv you'd swap in
    approx_count_distinct — covered separately as a rows-only query.)
    """
    o = load_table(spark, sf_dir, "orders")

    def branch(col: str, metric):
        return o.agg(
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(metric).cast("double").alias("min_val"),
            F.max(metric).cast("double").alias("max_val"),
        ).select(
            F.lit(col).alias("col_name"),
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "min_val",
            "max_val",
        )

    parts = [
        branch("o_orderkey", F.col("o_orderkey")),
        branch("o_custkey", F.col("o_custkey")),
        branch("o_totalprice", F.col("o_totalprice")),
        branch("o_orderstatus", F.length("o_orderstatus")),
        branch("o_orderpriority", F.length("o_orderpriority")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "profile_length_histogram",
    oracle="""
        WITH b AS (
            SELECT n_chars // 100 AS bucket, count(*) AS n_docs,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY n_chars // 100
        )
        SELECT bucket, n_docs, min_chars, max_chars,
               round(n_docs / NULLIF(CAST(sum(n_docs) OVER () AS BIGINT), 0), 6)
                   AS corpus_share
        FROM b
    """,
    tags=("quality", "profiling", "histogram"),
)
def profile_length_histogram(spark, sf_dir):
    """Document-length histogram in fixed 100-char buckets with each
    bucket's corpus share — the length-distribution sanity check run
    before choosing packing/chunking parameters.

    Scale shape: integer bucketing is a pure map; the groupBy is a
    partial agg over ~max_len/100 keys; the share window runs over the
    already-aggregated handful of bucket rows (single-partition window
    over O(buckets) rows, not over the corpus). Exact int/int division
    keeps the share bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    b = (
        d.groupBy((F.col("n_chars") / 100).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return b.select(
        "bucket",
        "n_docs",
        "min_chars",
        "max_chars",
        F.round(F.col("n_docs") / total, 6).alias("corpus_share"),
    )


@register(
    "upsert_latest_by_key",
    # The synthetic CDC batch is derived deterministically from the
    # base table (every 10th key gets an update with a bumped price and
    # a higher version), so both engines build the identical input.
    oracle="""
        WITH updates AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice,
                   2 AS version
            FROM orders WHERE o_orderkey % 10 = 0
        ), unioned AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   1 AS version
            FROM orders
            UNION ALL
            SELECT * FROM updates
        )
        SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 2) AS o_totalprice, version
        FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                         ORDER BY version DESC) AS rn
            FROM unioned
        )
        WHERE rn = 1
    """,
    tags=("pipeline", "upsert", "cdc"),
)
def upsert_latest_by_key(spark, sf_dir):
    """CDC compaction / batch MERGE emulation on plain parquet:
    latest-record-wins per key over base ∪ updates, via a
    version-ordered per-key window. The upsert pattern every
    incremental ingestion pipeline needs where no table format
    (Delta/Iceberg) provides MERGE.

    Scale shape: one shuffle on the merge key; rn=1 plans with
    WindowGroupLimit (O(1) state per key, no per-key sort buffer). At
    100 TB the base side would be bucketed by key so only the (much
    smaller) update batch shuffles — same plan as the bucketed join
    gate. The update batch here is synthesized deterministically from
    the base table so the DuckDB oracle can rebuild it exactly.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = o.withColumn("version", F.lit(1))
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("version", F.lit(2))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "version",
        )
    )


@register(
    "profile_key_skew",
    oracle="""
        WITH k AS (
            SELECT l_orderkey, count(*) AS key_rows
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l_orderkey, key_rows,
               round(key_rows / NULLIF(CAST(sum(key_rows) OVER () AS BIGINT), 0), 6)
                   AS row_share
        FROM k
        ORDER BY key_rows DESC, l_orderkey ASC
        LIMIT 10
    """,
    tags=("quality", "profiling", "skew"),
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew diagnostic: the 10 heaviest l_orderkey values with
    their share of all rows — the check that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (operators/skew.py) before running a 100 TB fact-fact join.

    Scale shape: per-key counts via partial agg; the global total is a
    window over the already-aggregated key counts; top-10 fuses to
    TakeOrderedAndProject (per-partition heaps, no full sort). Total
    order (count desc, key asc) keeps LIMIT engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count("*").alias("key_rows"))
    total = F.sum("key_rows").over(Window.partitionBy())
    return (
        k.select(
            "l_orderkey",
            "key_rows",
            F.round(F.col("key_rows") / total, 6).alias("row_share"),
        )
        .orderBy(F.desc("key_rows"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "fuzzy_name_match",
    oracle="""
        WITH names AS (
            SELECT DISTINCT p_name AS name FROM part
        ), keyed AS (
            SELECT name, string_split(name, ' ')[-1] AS block
            FROM names
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
        FROM keyed a JOIN keyed b
          ON a.block = b.block AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 3
    """,
    tags=("quality", "fuzzy", "entity-resolution"),
)
def fuzzy_name_match(spark, sf_dir):
    """Blocked fuzzy string matching (entity resolution): pairs of
    DISTINCT part names within edit distance 3, candidates blocked by
    the head noun (last token) so comparisons never go all-pairs.

    Scale shape — the canonical ER recipe at 100 TB: (1) dedupe to
    the DISTINCT value table first (names are low-cardinality
    relative to rows — here 64 vs 2000; at corpus scale, millions vs
    trillions), (2) equi-join on a blocking key so each comparison
    bucket is bounded, (3) run the expensive edit-distance only inside
    blocks, (4) broadcast the resolved pairs back onto the fact rows.
    levenshtein() is identical unit-cost edit distance in Spark and
    DuckDB, so the pair set is oracle-checked exactly.
    """
    p = load_table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    keyed = names.select(
        "name", F.element_at(F.split("name", " "), -1).alias("block")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.name") < F.col("b.name")))
        .filter(lev <= 3)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            lev.cast("int").alias("edit_dist"),
        )
    )


#: 2^60 — the hash domain of a 15-hex-digit md5 prefix; the +0.5 shift
#: keeps the derived uniform strictly inside (0, 1) so ln() is finite.
_U_DOMAIN = float(1 << 60)


@register(
    "sample_weighted_priority",
    oracle=f"""
        WITH drawn AS (
            SELECT o_orderkey, o_totalprice,
                   -ln(
                     (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                        ::BIGINT + 0.5) / {_U_DOMAIN}
                   ) AS e
            -- positive weights only (round-11 ANSI review): A-ES is
            -- defined for w > 0 — a zero-weight row has priority
            -- Exp/0 (a Spark ANSI DIVIDE_BY_ZERO) and by definition
            -- zero probability of selection, so it is excluded
            FROM orders WHERE o_totalprice > 0
        )
        SELECT o_orderkey, o_totalprice,
               round(e, 6) AS exp_draw,
               round(1000000.0 * e / NULLIF(o_totalprice, 0), 6) AS priority_ppm
        FROM drawn
        ORDER BY e / NULLIF(o_totalprice, 0), o_orderkey
        LIMIT 20
    """,
    tags=("llm", "sampling", "weighted"),
)
def sample_weighted_priority(spark, sf_dir):
    """Deterministic weighted sampling without replacement (the
    exponential-clocks / A-ES scheme, Efraimidis & Spirakis 2006):
    each row draws Exp(1)/weight from an md5-derived uniform and the k
    smallest priorities win — heavier rows win proportionally more
    often, yet the draw is a pure function of the key, so the sample
    is reproducible on any engine/partitioning (same rationale as
    sample_stratified_hash; module docstring).

    Scale shape: narrow scan + per-row hash → global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort).
    Total order under LIMIT: (priority, o_orderkey). A-ES is defined
    for w > 0 only: zero-weight rows are excluded up front (their
    priority Exp/0 is a Spark ANSI DIVIDE_BY_ZERO, and their selection
    probability is zero by definition)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    u = (
        md5_hex_bigint(F.col("o_orderkey").cast("string"))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(_U_DOMAIN)
    drawn = o.select(
        "o_orderkey",
        "o_totalprice",
        (-F.log(u)).alias("e"),
    )
    return (
        drawn.orderBy(F.col("e") / F.col("o_totalprice"), "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.round("e", 6).alias("exp_draw"),
            F.round(F.lit(1000000.0) * F.col("e") / F.col("o_totalprice"), 6)
            .alias("priority_ppm"),
        )
    )


@register(
    "validate_referential_integrity",
    oracle="""
        SELECT check_name, total_rows, violations, violations = 0 AS ok
        FROM (
            SELECT 'orders.o_custkey -> customer.c_custkey' AS check_name,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders) AS total_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders o
                    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                    WHERE c.c_custkey IS NULL) AS violations
            UNION ALL
            SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                    WHERE o.o_orderkey IS NULL)
            UNION ALL
            SELECT 'lineitem.l_partkey -> part.p_partkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    LEFT JOIN part p ON l.l_partkey = p.p_partkey
                    WHERE p.p_partkey IS NULL)
            UNION ALL
            SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
                    WHERE s.s_suppkey IS NULL)
            UNION ALL
            SELECT 'customer.c_acctbal >= 0',
                   (SELECT CAST(count(*) AS BIGINT) FROM customer),
                   (SELECT CAST(count(*) AS BIGINT) FROM customer
                    WHERE NOT (c_acctbal >= 0))
            UNION ALL
            SELECT 'documents.lang IN (en, de, fr, es)',
                   (SELECT CAST(count(*) AS BIGINT) FROM documents),
                   (SELECT CAST(count(*) AS BIGINT) FROM documents
                    WHERE lang NOT IN ('en', 'de', 'fr', 'es'))
        )
    """,
    tags=("quality", "validation", "constraints"),
)
def validate_referential_integrity(spark, sf_dir):
    """Constraint audit suite: four foreign-key orphan checks plus two
    domain checks (non-negative balances, allowed language codes), in
    long format with a per-constraint pass verdict — the
    expectations/contract gate a pipeline runs before promoting a
    snapshot. The two domain rows genuinely fire on this fixture
    (122 negative balances, 75 out-of-vocabulary langs), so the
    violation-counting path is exercised, not vacuous.

    Scale shape: each FK check is a left-anti count — Spark plans the
    small dimension side (customer/part/supplier) as a broadcast hash
    anti-join, and the lineitem->orders check shuffles on the same
    l_orderkey partitioning every TPC-H query reuses; domain checks
    are map-only filter counts with scan-level pushdown. All six
    verdicts reduce to single rows before the union, so the audit's
    output is O(checks) regardless of corpus size.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    documents = load_table(spark, sf_dir, "documents")

    def fk(name, child, child_key, parent, parent_key):
        total = child.agg(F.count("*").cast("bigint").alias("total_rows"))
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        ).agg(F.count("*").cast("bigint").alias("violations"))
        return total.crossJoin(orphans).select(
            F.lit(name).alias("check_name"), "total_rows", "violations"
        )

    def domain(name, table, bad_cond):
        # count(when(...)) not sum(when(...)): over an EMPTY table the
        # sum is NULL (and the verdict NULL) where the oracle's
        # filtered count(*) is 0/TRUE — round-11 empty-input audit.
        return table.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("total_rows"),
            F.count(F.when(bad_cond, F.lit(1)))
            .cast("bigint")
            .alias("violations"),
        )

    checks = (
        fk(
            "orders.o_custkey -> customer.c_custkey",
            orders, "o_custkey", customer, "c_custkey",
        )
        .unionAll(
            fk(
                "lineitem.l_orderkey -> orders.o_orderkey",
                lineitem, "l_orderkey", orders, "o_orderkey",
            )
        )
        .unionAll(
            fk(
                "lineitem.l_partkey -> part.p_partkey",
                lineitem, "l_partkey", part, "p_partkey",
            )
        )
        .unionAll(
            fk(
                "lineitem.l_suppkey -> supplier.s_suppkey",
                lineitem, "l_suppkey", supplier, "s_suppkey",
            )
        )
        .unionAll(
            domain(
                "customer.c_acctbal >= 0",
                customer,
                ~(F.col("c_acctbal") >= 0),
            )
        )
        .unionAll(
            domain(
                "documents.lang IN (en, de, fr, es)",
                documents,
                ~F.col("lang").isin("en", "de", "fr", "es"),
            )
        )
    )
    return checks.select(
        "check_name",
        "total_rows",
        "violations",
        (F.col("violations") == 0).alias("ok"),
    )


#: Snapshot cutoffs for the table-diff query (events span Jan 2024).
_DIFF_T1 = "2024-01-10 00:00:00"
_DIFF_T2 = "2024-01-25 00:00:00"


@register(
    "table_diff_snapshots",
    oracle=f"""
        WITH snap AS (
            SELECT user_id, cutoff, event_type, value FROM (
                SELECT e.user_id, c.cutoff, e.event_type, e.value,
                       row_number() OVER (
                           PARTITION BY e.user_id, c.cutoff
                           ORDER BY e.ts DESC, e.event_id DESC) AS rn
                FROM events e
                CROSS JOIN (VALUES (TIMESTAMP '{_DIFF_T1}'),
                                   (TIMESTAMP '{_DIFF_T2}')) c(cutoff)
                WHERE e.ts <= c.cutoff
            ) WHERE rn = 1 AND event_type <> 'error'
        ), t1 AS (
            SELECT user_id, event_type, value FROM snap
            WHERE cutoff = TIMESTAMP '{_DIFF_T1}'
        ), t2 AS (
            SELECT user_id, event_type, value FROM snap
            WHERE cutoff = TIMESTAMP '{_DIFF_T2}'
        )
        SELECT coalesce(t1.user_id, t2.user_id) AS user_id,
               CASE WHEN t1.user_id IS NULL THEN 'added'
                    WHEN t2.user_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS status,
               t1.event_type AS old_event_type, t1.value AS old_value,
               t2.event_type AS new_event_type, t2.value AS new_value
        FROM t1 FULL JOIN t2 ON t1.user_id = t2.user_id
        WHERE t1.user_id IS NULL OR t2.user_id IS NULL
           OR t1.event_type <> t2.event_type OR t1.value <> t2.value
    """,
    tags=("quality", "cdc", "diff", "snapshot"),
)
def table_diff_snapshots(spark, sf_dir):
    """Snapshot diff between two point-in-time entity states (latest
    non-error event per user at T1 vs T2): added / removed / changed
    keys with old and new attributes — the reconciliation primitive
    behind CDC validation, slowly-changing-dimension audits, and
    incremental-load verification. All three statuses genuinely occur
    on this fixture ("removed" = a user whose latest T2 event is an
    error, dropping them from the derived state).

    Scale shape: each snapshot is one user-partitioned latest-row
    window (the ``upsert_latest_by_key`` pattern) over a time-pruned
    scan; the diff is a single full outer join on the entity key —
    both snapshots arrive hash-partitioned on user_id from their
    windows, so the join reuses that partitioning without a new
    data-sized shuffle. Value comparison is raw-bit passthrough (no
    arithmetic), safe cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")

    def snapshot(cutoff: str):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            ev.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .select("user_id", "event_type", "value")
        )

    t1 = snapshot(_DIFF_T1).withColumnsRenamed(
        {"user_id": "u1", "event_type": "old_event_type", "value": "old_value"}
    )
    t2 = snapshot(_DIFF_T2).withColumnsRenamed(
        {"user_id": "u2", "event_type": "new_event_type", "value": "new_value"}
    )
    joined = t1.join(t2, t1.u1 == t2.u2, "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("u1"), F.col("u2")).alias("user_id"),
            F.when(F.col("u1").isNull(), "added")
            .when(F.col("u2").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
            "old_event_type",
            "old_value",
            "new_event_type",
            "new_value",
        )
        .filter(
            F.col("u1").isNull()
            | F.col("u2").isNull()
            | (F.col("old_event_type") != F.col("new_event_type"))
            | (F.col("old_value") != F.col("new_value"))
        )
    )


def _checksum_sql(table: str, canon: str) -> str:
    """One table's checksum row as DuckDB SQL (see validate_table_checksum)."""
    return f"""
        SELECT '{table}' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
               CAST(sum(h % 1000003) AS BIGINT) AS modsum_checksum
        FROM (
            SELECT ('0x' || substr(md5({canon}), 1, 15))::BIGINT AS h
            FROM {table}
        )
    """


@register(
    "validate_table_checksum",
    oracle=" UNION ALL ".join(
        [
            _checksum_sql(
                "orders",
                "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
                "CAST(round(o_totalprice * 100.0) AS BIGINT), "
                "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderpriority)",
            ),
            _checksum_sql(
                "customer",
                "concat_ws('|', c_custkey, c_name, c_nationkey, "
                "CAST(round(c_acctbal * 100.0) AS BIGINT), c_mktsegment)",
            ),
            _checksum_sql(
                "supplier",
                "concat_ws('|', s_suppkey, s_name, s_nationkey, "
                "CAST(round(s_acctbal * 100.0) AS BIGINT))",
            ),
        ]
    ),
    tags=("quality", "validation", "checksum"),
)
def validate_table_checksum(spark, sf_dir):
    """Order-insensitive cross-engine table checksums — the
    reconciliation primitive for "did the migration/replication copy
    every row bit-for-bit?" at fleet scale, where sorting 100 TB to
    diff it is not an option.

    Per table: canonicalize each row to one string (integers and
    strings verbatim, money as exact cents, timestamps formatted —
    never raw doubles, whose text rendering differs across engines),
    md5 it, take a 60-bit integer, and fold with TWO commutative
    channels:

    - ``bit_xor`` — order-insensitive, overflow-free at ANY row count,
      but blind to duplicate-pair insertions;
    - ``sum(h % 1000003)`` — catches what xor cancels; bounded by
      10⁶·n so BIGINT-safe past 10¹² rows.

    Both channels are map-side-combinable single-pass aggregates (one
    reduce to 1 row per table; no shuffle of data rows, no sort).
    Differential value: the driver compare proves Spark's and DuckDB's
    md5/string/rounding pipelines agree byte-for-byte on every row of
    three tables — a much stronger engine-equivalence check than any
    single query's output.
    """
    cents = lambda c: F.round(F.col(c) * 100.0).cast("bigint")  # noqa: E731

    def one(table: str, canon) -> "F.DataFrame":
        t = load_table(spark, sf_dir, table)
        h = md5_hex_bigint(canon)
        return t.select(h.alias("h")).agg(
            F.lit(table).alias("table_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h)").cast("bigint").alias("xor_checksum"),
            F.sum(F.col("h") % 1000003).cast("bigint").alias("modsum_checksum"),
        )

    o = one(
        "orders",
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            cents("o_totalprice"),
            F.date_format(F.col("o_orderdate").cast("timestamp"),
                          "yyyy-MM-dd HH:mm:ss"),
            F.col("o_orderpriority"),
        ),
    )
    c = one(
        "customer",
        F.concat_ws(
            "|",
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey"),
            cents("c_acctbal"),
            F.col("c_mktsegment"),
        ),
    )
    s = one(
        "supplier",
        F.concat_ws(
            "|",
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("s_nationkey"),
            cents("s_acctbal"),
        ),
    )
    return o.unionByName(c).unionByName(s)


@register(
    "profile_psi_drift",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   CASE WHEN epoch_us(ts) * 2
                             < (SELECT min(epoch_us(ts)) + max(epoch_us(ts))
                                FROM events)
                        THEN 0 ELSE 1 END AS period,
                   least(greatest(CAST(floor(value / 10.0) AS BIGINT),
                                  -1), 10) AS bucket
            FROM events
        ), cnt AS (
            SELECT event_type, bucket,
                   CAST(count(*) FILTER (period = 0) AS BIGINT) AS c_early,
                   CAST(count(*) FILTER (period = 1) AS BIGINT) AS c_late
            FROM b GROUP BY event_type, bucket
        ), grid AS (
            SELECT t.event_type, g.bucket,
                   coalesce(c.c_early, 0) AS c_early,
                   coalesce(c.c_late, 0) AS c_late
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT CAST(r.range AS BIGINT) AS bucket
                        FROM range(-1, 11) r) g
            LEFT JOIN cnt c
              ON c.event_type = t.event_type AND c.bucket = g.bucket
        ), tot AS (
            SELECT event_type,
                   CAST(sum(c_early) AS BIGINT) AS n_early,
                   CAST(sum(c_late) AS BIGINT) AS n_late
            FROM grid GROUP BY event_type
        ), contrib AS (
            SELECT g.event_type, t.n_early, t.n_late,
                   CAST(round((
                       ((g.c_early + 0.5) / NULLIF((t.n_early + 6.0), 0)
                        - (g.c_late + 0.5) / NULLIF((t.n_late + 6.0), 0))
                       * ln(((g.c_early + 0.5) / NULLIF((t.n_early + 6.0), 0))
                            / NULLIF(((g.c_late + 0.5)
                                      / NULLIF((t.n_late + 6.0), 0)), 0))
                   ) * 1000000000.0) AS BIGINT) AS cq
            FROM grid g JOIN tot t ON t.event_type = g.event_type
        )
        SELECT event_type, n_early, n_late,
               round(CAST(sum(cq) AS BIGINT) / 1000000000.0, 6) AS psi,
               CAST(sum(cq) AS BIGINT) > 200000000000 AS drift_flag
        FROM contrib
        GROUP BY event_type, n_early, n_late
    """,
    tags=("quality", "profiling", "drift"),
)
def profile_psi_drift(spark, sf_dir):
    """Population Stability Index between the early and late halves of
    the event stream, per event_type — THE production drift monitor
    for feature/label distributions (PSI > 0.2 = actionable drift).

    Determinism engineering (a float-heavy metric made hash-exact):

    - the time split is integer µs arithmetic (2·ts < min+max — no
      float midpoint);
    - the value histogram is a FIXED 12-cell grid ([-1..10], $10-wide
      cells, outliers clamped into the edge cells), enumerated
      explicitly and zero-filled so both engines see identical cells
      — absent cells still contribute under smoothing when the half
      sizes differ;
    - add-half (Laplace 0.5) smoothing keeps every ratio finite with
      12·0.5 = 6.0 added mass in each denominator;
    - each cell's PSI term is ONE identical IEEE expression, then
      QUANTIZED to integer nano-units before the sum — the 12-term
      float sum would otherwise be partial-agg-order dependent; the
      integer sum is order-free, divided and rounded once.

    Scale shape: one pass builds (type, period, cell) counts
    (map-side combinable); the grid join is against a 12-row
    broadcast; the 1-row min/max ts aggregate travels as a broadcast
    scalar. Nothing shuffles data rows by value.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    span = ev.agg(
        F.min(us).alias("mn"), F.max(us).alias("mx")
    )
    b = (
        ev.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.when(us * 2 < F.col("mn") + F.col("mx"), 0)
            .otherwise(1)
            .alias("period"),
            F.least(
                F.greatest(
                    F.floor(F.col("value") / 10.0).cast("bigint"), F.lit(-1)
                ),
                F.lit(10),
            ).alias("bucket"),
        )
    )
    cnt = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_early"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_late"),
    )
    types = ev.select("event_type").distinct()
    buckets = spark.range(-1, 11).select(F.col("id").alias("bucket"))
    grid = (
        types.crossJoin(F.broadcast(buckets))
        .join(cnt, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("c_early", F.lit(0)).alias("c_early"),
            F.coalesce("c_late", F.lit(0)).alias("c_late"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("c_early").cast("bigint").alias("n_early"),
        F.sum("c_late").cast("bigint").alias("n_late"),
    )
    p1 = (F.col("c_early") + 0.5) / (F.col("n_early") + 6.0)
    p2 = (F.col("c_late") + 0.5) / (F.col("n_late") + 6.0)
    contrib = grid.join(tot, "event_type").select(
        "event_type",
        "n_early",
        "n_late",
        F.round(((p1 - p2) * F.log(p1 / p2)) * 1000000000.0)
        .cast("bigint")
        .alias("cq"),
    )
    return contrib.groupBy("event_type", "n_early", "n_late").agg(
        F.round(F.sum("cq").cast("bigint") / 1000000000.0, 6).alias("psi"),
        (F.sum("cq").cast("bigint") > 200000000000).alias("drift_flag"),
    )


@register(
    "validate_order_totals",
    oracle="""
        WITH line_sums AS (
            SELECT l_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                       * (1 + l_tax) * 100.0) AS BIGINT))
                        AS BIGINT) AS recomputed_cents
            FROM lineitem GROUP BY l_orderkey
        ), joined AS (
            SELECT o.o_orderkey,
                   CAST(round(o.o_totalprice * 100.0) AS BIGINT)
                       AS stated_cents,
                   ls.recomputed_cents
            FROM orders o LEFT JOIN line_sums ls
              ON ls.l_orderkey = o.o_orderkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(recomputed_cents) AS BIGINT) AS n_with_lines,
               CAST(count(*) FILTER (recomputed_cents = stated_cents)
                    AS BIGINT) AS n_exact_match,
               CAST(count(*) FILTER (recomputed_cents IS NOT NULL
                                     AND abs(recomputed_cents - stated_cents)
                                         <= 100) AS BIGINT)
                   AS n_within_one_unit,
               CAST(max(abs(recomputed_cents - stated_cents)) AS BIGINT)
                   AS max_abs_diff_cents
        FROM joined
    """,
    tags=("quality", "validation", "reconciliation"),
)
def validate_order_totals(spark, sf_dir):
    """Cross-table business-rule audit: does each order's stated
    o_totalprice equal the charge recomputed from its lineitems
    (extendedprice · (1−discount) · (1+tax))? — the reconciliation
    every warehouse runs between a header table and its detail table
    after ingest.

    All arithmetic is exact cents (one identical IEEE product per
    line, then integer sums), so match counts are bit-stable on both
    engines. Orders with no lineitems are counted separately (LEFT
    join + count(recomputed)), not silently dropped. The fixture's
    totals are synthetic, so mismatches are EXPECTED — the audit's
    value is that both engines agree exactly on every bucket and on
    the worst absolute discrepancy.

    Scale shape: the detail side aggregates to one row per order
    BEFORE the join (partial agg + one shuffle on orderkey — never
    join-then-aggregate, which would shuffle every line against the
    header); the final audit is a 1-row global aggregate of booleans.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    charge_cents = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100.0
    ).cast("bigint")
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(charge_cents).cast("bigint").alias("recomputed_cents")
    )
    joined = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias(
            "stated_cents"
        ),
    ).join(line_sums, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    diff = F.abs(F.col("recomputed_cents") - F.col("stated_cents"))
    return joined.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.count("recomputed_cents").cast("bigint").alias("n_with_lines"),
        # count(when(...)) not sum(when(...)): 0 on an empty audit,
        # matching the oracle's FILTER counts (round-11 empty audit).
        F.count(
            F.when(F.col("recomputed_cents") == F.col("stated_cents"), F.lit(1))
        )
        .cast("bigint")
        .alias("n_exact_match"),
        F.count(
            F.when(
                F.col("recomputed_cents").isNotNull() & (diff <= 100), F.lit(1)
            )
        )
        .cast("bigint")
        .alias("n_within_one_unit"),
        F.max(diff).cast("bigint").alias("max_abs_diff_cents"),
    )


@register(
    "sample_bootstrap_means",
    oracle="""
        WITH reps AS (
            SELECT CAST(r.range AS BIGINT) AS rep FROM range(0, 5) r
        ), weighted AS (
            SELECT e.event_type, reps.rep,
                   CAST(round(e.value * 1000000.0) AS BIGINT) AS micros,
                   CASE WHEN (('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                               || ':' || CAST(reps.rep AS VARCHAR)), 1, 8))
                              ::BIGINT % 1000) < 368 THEN 0
                        WHEN (('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                               || ':' || CAST(reps.rep AS VARCHAR)), 1, 8))
                              ::BIGINT % 1000) < 736 THEN 1
                        ELSE 2 END AS w
            FROM events e CROSS JOIN reps
        )
        SELECT event_type, rep,
               CAST(sum(w) AS BIGINT) AS resampled_n,
               -- explicit all-zero-weights guard: parity with Spark's
               -- try_divide must not depend on DuckDB's /0 default
               CASE WHEN sum(w) = 0 THEN NULL
                    ELSE round(CAST(sum(w * micros) AS DOUBLE)
                               / NULLIF((1000000.0 * CAST(sum(w) AS DOUBLE)), 0), 6)
               END AS resampled_mean
        FROM weighted
        GROUP BY event_type, rep
    """,
    tags=("quality", "sampling", "bootstrap"),
)
def sample_bootstrap_means(spark, sf_dir):
    """Poisson(1)-style bootstrap WITHOUT randomness: five resampled
    means of `value` per event_type, where each row's weight in
    replicate b is a deterministic md5 draw from {0,1,2} with
    probabilities (.368, .368, .264) — the truncated-Poisson(1)
    multinomial used by online bootstrap systems. Resampled means
    across replicates give the error bar every data-quality dashboard
    wants, computed in ONE pass over the data per replicate batch (a
    5-row broadcast cross join; no per-replicate rescans, no shuffles
    of raw rows — weights travel inside the aggregate).

    Exactness: micro-unit integer values, integer weights, exact
    weighted sums; ONE double division + round at the end. The usual
    reason bootstrap is untestable — RNG — is engineered out the same
    way every sampler in this repo is (md5-threshold determinism,
    sample_stratified_hash lineage).
    """
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(0, 5).select(F.col("id").cast("bigint").alias("rep"))
    draw = (
        md5_hex_bigint(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("rep").cast("string"),
            ),
            length=8,
        )
        % 1000
    )
    weighted = ev.crossJoin(F.broadcast(reps)).select(
        "event_type",
        "rep",
        F.round(F.col("value") * 1000000.0).cast("bigint").alias("micros"),
        F.when(draw < 368, 0).when(draw < 736, 1).otherwise(2).alias("w"),
    )
    return weighted.groupBy("event_type", "rep").agg(
        F.sum("w").cast("bigint").alias("resampled_n"),
        # try_divide (round-11 ANSI review): a replicate whose md5
        # draws all land on w = 0 resamples NOTHING — its mean is
        # NULL, not a Spark ANSI DIVIDE_BY_ZERO. Reachable whenever a
        # group is small (P ≈ 0.368^n).
        F.round(
            F.try_divide(
                F.sum(F.col("w") * F.col("micros")).cast("double"),
                1000000.0 * F.sum("w").cast("double"),
            ),
            6,
        ).alias("resampled_mean"),
    )


@register(
    "quality_benford_digits",
    oracle="""
        WITH digits AS (
            -- cents > 0, not price > 0 (round-11 ANSI review): a
            -- sub-half-cent positive price rounds to 0 cents, whose
            -- leading digit 0 divides Benford's 1/d by zero (Spark
            -- ANSI crash); Benford is defined over digits 1-9 only
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100.0)
                                          AS BIGINT) AS VARCHAR), 1, 1)
                        AS BIGINT) AS d
            FROM orders
            WHERE CAST(round(o_totalprice * 100.0) AS BIGINT) > 0
        ), counts AS (
            SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS total FROM counts
        )
        SELECT c.d AS leading_digit, c.n,
               round(CAST(c.n AS DOUBLE) / NULLIF(CAST(t.total AS DOUBLE), 0), 6)
                   AS observed_p,
               round(ln(1.0 + 1.0 / NULLIF(c.d, 0)) / NULLIF(ln(10.0), 0), 6)
                   AS benford_p,
               round(CAST(t.total AS DOUBLE)
                     * (CAST(c.n AS DOUBLE) / NULLIF(CAST(t.total AS DOUBLE), 0)
                        - ln(1.0 + 1.0 / NULLIF(c.d, 0)) / NULLIF(ln(10.0), 0))
                     * (CAST(c.n AS DOUBLE) / NULLIF(CAST(t.total AS DOUBLE), 0)
                        - ln(1.0 + 1.0 / NULLIF(c.d, 0)) / NULLIF(ln(10.0), 0))
                     / NULLIF((ln(1.0 + 1.0 / NULLIF(c.d, 0))
                               / NULLIF(ln(10.0), 0)), 0), 6)
                   AS chi2_term
        FROM counts c, tot t
    """,
    tags=("quality", "audit", "benford"),
)
def quality_benford_digits(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the forensic
    screen for fabricated or truncated monetary data (real
    transaction amounts follow P(d) = log10(1 + 1/d); synthetic
    uniform generators, like this fixture's, flunk it visibly). Emits
    per-digit observed vs Benford probability and the χ² contribution,
    so the reader sees WHICH digits deviate, not just a verdict.

    Determinism: the leading digit comes from the exact-cents INTEGER
    rendered as a string (both engines print BIGINT identically) —
    never from float formatting. The probabilities and χ² terms are
    identical single IEEE expressions rounded once; the 9-row digit
    table and 1-row total travel as broadcast scalars.
    """
    # cents > 0, not price > 0: a sub-half-cent positive price rounds
    # to 0 cents whose leading digit 0 would divide Benford's 1/d by
    # zero — a Spark ANSI DIVIDE_BY_ZERO (round-11 ANSI review).
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0).cast("bigint")
    digits = o.select(cents.alias("cents")).filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("bigint")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").cast("bigint").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    ben = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("leading_digit"),
        "n",
        F.round(obs, 6).alias("observed_p"),
        F.round(ben, 6).alias("benford_p"),
        F.round(
            F.col("total").cast("double") * (obs - ben) * (obs - ben) / ben, 6
        ).alias("chi2_term"),
    )


@register(
    "profile_ks_two_sample",
    oracle="""
        WITH s AS (
            SELECT value, event_type FROM events
            WHERE event_type IN ('click', 'view')
              AND value IS NOT NULL
        ), g AS (
            SELECT value,
                   CAST(sum(CASE WHEN event_type = 'click'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                   CAST(sum(CASE WHEN event_type = 'view'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS nv
            FROM s GROUP BY value
        ), cum AS (
            SELECT value,
                   CAST(sum(nc) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cc,
                   CAST(sum(nv) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cv
            FROM g
        ), tot AS (
            SELECT CAST(sum(nc) AS BIGINT) AS tc,
                   CAST(sum(nv) AS BIGINT) AS tv
            FROM g
        ), d AS (
            SELECT c.value, abs(c.cc * t.tv - c.cv * t.tc) AS dnum,
                   t.tc, t.tv
            FROM cum c, tot t
        )
        SELECT tc AS n_click, tv AS n_view,
               -- explicit zero-divisor guard (ADVICE r11): the parity
               -- with Spark's try_divide must not depend on DuckDB's
               -- division-by-zero default (NULL in 1.0, IEEE inf from
               -- 1.1 on)
               CASE WHEN tc * tv = 0 THEN NULL
                    ELSE round(CAST(dnum AS DOUBLE)
                               / NULLIF((CAST(tc AS DOUBLE) * CAST(tv AS DOUBLE)), 0),
                               6)
               END AS ks_stat,
               round(value, 6) AS ks_at_value
        FROM d ORDER BY dnum DESC, value ASC LIMIT 1
    """,
    tags=("quality", "profile", "statistics", "window"),
)
def profile_ks_two_sample(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance between the
    ``value`` distributions of click vs view events — the
    distribution-drift test that needs NO binning choice (unlike
    profile_psi_drift's fixed deciles): D = sup_x |F_click(x) −
    F_view(x)|, evaluated at every observed value.

    Exactness: the supremum is located in INTEGER arithmetic —
    |cc·tv − cv·tc| over cumulative counts, no float CDFs — so the
    argmax (tie-break: smallest value) is identical cross-engine; the
    one division happens once on the winning row, rounded once.

    Scale shape: group-by value (partial agg) collapses the input to
    its distinct-value spectrum, and the single-partition running sum
    runs over THAT spectrum, not the events. At 100 TB the spectrum
    itself can be wide — then the cumsum uses the two-phase
    per-partition-offset pattern (ids_global_row_number) or the
    spectrum is quantile-compressed first; the sup over a grouped
    window is the same plan either way.
    """
    # value IS NOT NULL on BOTH engines: a NULL sample point is
    # meaningless for a CDF, and the two engines ORDER NULLs on
    # opposite ends (Spark NULLS FIRST asc, DuckDB NULLS LAST), which
    # would shift every cumulative count differently.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("nv"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "value",
        F.sum("nc").over(w).cast("bigint").alias("cc"),
        F.sum("nv").over(w).cast("bigint").alias("cv"),
    )
    tot = g.agg(
        F.sum("nc").cast("bigint").alias("tc"),
        F.sum("nv").cast("bigint").alias("tv"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(F.col("cc") * F.col("tv") - F.col("cv") * F.col("tc")).alias(
            "dnum"
        ),
        "tc",
        "tv",
    )
    return (
        d.orderBy(F.col("dnum").desc(), F.col("value").asc())
        .limit(1)
        .select(
            F.col("tc").alias("n_click"),
            F.col("tv").alias("n_view"),
            # try_divide: with only one event type present tc*tv = 0 —
            # ANSI Spark would throw where DuckDB's x/0 yields NULL;
            # both engines must return the NULL-ks_stat row.
            F.round(
                F.try_divide(
                    F.col("dnum").cast("double"),
                    F.col("tc").cast("double") * F.col("tv").cast("double"),
                ),
                6,
            ).alias("ks_stat"),
            F.round(F.col("value"), 6).alias("ks_at_value"),
        )
    )


@register(
    "quality_iqr_fences",
    oracle="""
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               round(q.q1, 4) AS q1,
               round(q.q3, 4) AS q3,
               round(q.q3 - q.q1, 4) AS iqr,
               CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                               OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM events e JOIN q ON q.event_type = e.event_type
        GROUP BY e.event_type, q.q1, q.q3
    """,
    tags=("quality", "outlier", "robust-stats"),
)
def quality_iqr_fences(spark, sf_dir):
    """Tukey IQR-fence outlier screen per event type — the ROBUST
    companion to anomaly_zscore_outliers (mean/σ fences move with the
    outliers they hunt; quartile fences don't). Exact interpolated
    quartiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    agg_percentiles equivalence), fences evaluated on the raw doubles,
    quartiles rounded only in the projection.

    Scale shape: exact percentiles need a per-group sort — fine for
    5 groups; at high group counts the scale path is
    approx_percentile + exact refinement (the agg_percentile_approx
    bound pattern). The fence scan is a broadcast join of the 5-row
    quartile table back against events — map-side, one pass.
    """
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.sum(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .select(
            "event_type",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
            "n_outliers",
            "n_rows",
        )
    )


#: The Gopher required-stopword list (Rae et al. 2021 §A1.1): a doc
#: must contain at least 2 of these to pass the stop-word rule.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_STOPWORD_SQL = "[" + ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS) + "]"


@register(
    "text_gopher_rules",
    # All rule comparisons are exact-integer (cross-multiplied ratios:
    # e.g. mean-word-length in [3,10] is `sum_chars BETWEEN 3*n AND
    # 10*n`), so the per-rule counts are engine-exact; the only float
    # is the final int/int reject_frac (exact doubles, rounded for
    # display).
    oracle="""
        WITH w AS MATERIALIZED (
            -- NULL text excluded explicitly (round-12 NULL-payload
            -- audit): a fetch-failure row cannot be rule-graded, and
            -- unguarded the engines' NULL propagation through the
            -- flag CASEs diverged (Spark NULL flags vs DuckDB zeros)
            SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws,
                   string_split(text, chr(10)) AS ls
            FROM documents WHERE text IS NOT NULL
        ), f AS MATERIALIZED (
            SELECT
                len(ws) AS n_w,
                CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                     AS BIGINT) AS sc,
                (length(text) - length(replace(text, '#', '')))
                  + CAST(floor((length(text)
                        - length(replace(text, '...', ''))) / 3) AS BIGINT)
                  + (length(text) - length(replace(text, '…', ''))) AS n_sym,
                len(list_filter(ls,
                    l -> regexp_matches(l, '^\\s*[•*-]'))) AS n_bul,
                len(list_filter(ls,
                    l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS n_ell,
                len(ls) AS n_l,
                len(list_filter(ws,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                len(list_filter(GOPHER_STOPWORDS,
                    s -> list_contains(ws, s))) AS n_stop
            FROM w
        ), fl AS MATERIALIZED (
            SELECT
                CASE WHEN n_w < 50 OR n_w > 100000 THEN 1 ELSE 0 END AS f_words,
                CASE WHEN sc < 3 * n_w OR sc > 10 * n_w THEN 1 ELSE 0 END AS f_mwl,
                CASE WHEN 10 * n_sym > n_w THEN 1 ELSE 0 END AS f_sym,
                CASE WHEN 10 * n_bul >= 9 * n_l THEN 1 ELSE 0 END AS f_bul,
                CASE WHEN 10 * n_ell > 3 * n_l THEN 1 ELSE 0 END AS f_ell,
                CASE WHEN 5 * n_alpha < 4 * n_w THEN 1 ELSE 0 END AS f_alpha,
                CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
            FROM f
        ), a AS MATERIALIZED (
            SELECT CAST(sum(f_words) AS BIGINT) AS r_words,
                   CAST(sum(f_mwl) AS BIGINT) AS r_mwl,
                   CAST(sum(f_sym) AS BIGINT) AS r_sym,
                   CAST(sum(f_bul) AS BIGINT) AS r_bul,
                   CAST(sum(f_ell) AS BIGINT) AS r_ell,
                   CAST(sum(f_alpha) AS BIGINT) AS r_alpha,
                   CAST(sum(f_stop) AS BIGINT) AS r_stop,
                   CAST(sum(CASE WHEN f_words + f_mwl + f_sym + f_bul
                                     + f_ell + f_alpha + f_stop > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS r_any,
                   count(*) AS n_docs
            FROM fl
        )
        SELECT 'words_outside_50_100k' AS rule, r_words AS n_rejected,
               round(r_words / NULLIF(n_docs, 0), 6) AS reject_frac FROM a
        UNION ALL SELECT 'mean_word_length_3_10', r_mwl,
               round(r_mwl / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'symbol_word_ratio_gt_10pct', r_sym,
               round(r_sym / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'bullet_lines_ge_90pct', r_bul,
               round(r_bul / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'ellipsis_lines_gt_30pct', r_ell,
               round(r_ell / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'alpha_word_frac_lt_80pct', r_alpha,
               round(r_alpha / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'stopwords_lt_2', r_stop,
               round(r_stop / NULLIF(n_docs, 0), 6) FROM a
        UNION ALL SELECT 'any_rule', r_any,
               round(r_any / NULLIF(n_docs, 0), 6) FROM a
    """.replace("GOPHER_STOPWORDS", _GOPHER_STOPWORD_SQL),
    tags=("llm", "quality", "gopher"),
)
def text_gopher_rules(spark, sf_dir):
    """The full Gopher rule-filter battery (Rae et al. 2021 §A1.1,
    public — the quality screen the original `quality_repetition_filter`
    only covers the repetition half of): per-corpus rejection counts
    for the seven document-level rules plus the composite.

    - word count outside [50, 100000]
    - mean word length outside [3, 10] chars
    - symbol-to-word ratio ('#', '...', '…') above 10%
    - ≥ 90% of lines starting with a bullet ('•', '*', '-')
    - > 30% of lines ending with an ellipsis
    - < 80% of words containing an alphabetic character
    - fewer than 2 of the 8 required stop words

    Scale shape: every rule is a row-level HOF over the words/lines
    arrays inside the scan stage (lambdas touch only their own args —
    no outer-reference re-evaluation), so the whole battery is one
    projection plus a single partial-aggregated global sum; the
    8-row long format comes from `stack` on that one aggregate row.
    No shuffle carries document data. Exactness: every threshold is a
    cross-multiplied integer comparison (e.g. mean-word-length-in-
    [3,10] is `sum_chars BETWEEN 3·n AND 10·n`), so rule flags are
    engine-exact; only the display frac divides.
    """
    # NULL text excluded on both engines — see the oracle comment
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    text = F.col("text")
    ws = F.filter(F.split(text, " "), lambda w: w != "")
    ls = F.split(text, "\n")

    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_dots = F.floor(
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
        / 3
    ).cast("bigint")
    n_uell = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))

    per_doc = d.select(
        F.size(ws).alias("n_w"),
        F.aggregate(
            ws, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        ).alias("sc"),
        (n_hash + n_dots + n_uell).alias("n_sym"),
        F.size(F.filter(ls, lambda l: l.rlike(r"^\s*[•*-]"))).alias("n_bul"),
        F.size(
            F.filter(ls, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        ).alias("n_ell"),
        F.size(ls).alias("n_l"),
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(
                F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
                lambda s: F.array_contains(ws, s),
            )
        ).alias("n_stop"),
    )
    c = F.col
    flags = per_doc.select(
        ((c("n_w") < 50) | (c("n_w") > 100000)).cast("int").alias("f_words"),
        ((c("sc") < 3 * c("n_w")) | (c("sc") > 10 * c("n_w")))
        .cast("int")
        .alias("f_mwl"),
        (10 * c("n_sym") > c("n_w")).cast("int").alias("f_sym"),
        (10 * c("n_bul") >= 9 * c("n_l")).cast("int").alias("f_bul"),
        (10 * c("n_ell") > 3 * c("n_l")).cast("int").alias("f_ell"),
        (5 * c("n_alpha") < 4 * c("n_w")).cast("int").alias("f_alpha"),
        (c("n_stop") < 2).cast("int").alias("f_stop"),
    )
    agg = flags.agg(
        F.sum("f_words").alias("r_words"),
        F.sum("f_mwl").alias("r_mwl"),
        F.sum("f_sym").alias("r_sym"),
        F.sum("f_bul").alias("r_bul"),
        F.sum("f_ell").alias("r_ell"),
        F.sum("f_alpha").alias("r_alpha"),
        F.sum("f_stop").alias("r_stop"),
        F.sum(
            (
                c("f_words") + c("f_mwl") + c("f_sym") + c("f_bul")
                + c("f_ell") + c("f_alpha") + c("f_stop")
                > 0
            ).cast("int")
        ).alias("r_any"),
        F.count("*").alias("n_docs"),
    )
    long = agg.select(
        F.expr(
            "stack(8,"
            " 'words_outside_50_100k', r_words,"
            " 'mean_word_length_3_10', r_mwl,"
            " 'symbol_word_ratio_gt_10pct', r_sym,"
            " 'bullet_lines_ge_90pct', r_bul,"
            " 'ellipsis_lines_gt_30pct', r_ell,"
            " 'alpha_word_frac_lt_80pct', r_alpha,"
            " 'stopwords_lt_2', r_stop,"
            " 'any_rule', r_any) AS (rule, n_rejected)"
        ),
        "n_docs",
    )
    return long.select(
        "rule",
        "n_rejected",
        F.round(c("n_rejected") / c("n_docs"), 6).alias("reject_frac"),
    )
