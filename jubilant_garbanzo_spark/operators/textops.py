"""Text-analysis operators for training-data pipelines (SURVEY §2b).

Language filtering generalizes the reference's only semantic filter
(``_.getLang() == "en"``, ``main.scala:42``); the rest is the standard
pretraining-corpus toolkit: stats, quality scoring, token counting,
fingerprinting, heuristic language-ID. All pure built-in expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.functions.hashing import md5_hex_bigint

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately minimal + deterministic (mirrored in the
#: DuckDB oracle); a production system would plug a real model in via
#: pandas_udf at this exact seam.
STOPWORDS = {
    "en": ("the", "of", "and"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "das"),
}

#: Same regex in Spark and DuckDB: word = letters, number = digit runs,
#: else single non-space symbols — a BPE-ish pre-tokenizer.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def ws_tokens(col: Column) -> Column:
    return F.split(col, " ")


def word_counts(docs: DataFrame, max_len: int | None = None) -> DataFrame:
    """The distinct-word dict ``(word, cnt)`` of ``docs.text`` under the
    whitespace split: empty words dropped, and words longer than
    ``max_len`` characters too when it is set. The tokenizers run on
    this dict rather than per word occurrence — tokens depend only on
    the word."""
    keep = F.col("word") != ""
    if max_len is not None:
        keep = keep & (F.length("word") <= max_len)
    return (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .filter(keep)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def word_counts_sql(max_len: int | None = None) -> str:
    """DuckDB twin of :func:`word_counts` over ``documents``, as the
    CTE ``wcnt(wid, cnt)`` (the word string is its own id)."""
    keep = "word <> ''"
    if max_len is not None:
        keep += f" AND len(word) <= {max_len}"
    return f"""wcnt AS MATERIALIZED (
            SELECT word AS wid, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE {keep}
            GROUP BY 1
        )"""


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col))


def regex_token_count(col: Column) -> Column:
    """Regex pre-tokenizer count (letters / digits / symbols)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    return F.size(
        F.filter(ws_tokens(col), lambda t: F.lower(t).isin(*words))
    )


def lang_id_heuristic(col: Column) -> Column:
    """argmax of per-language stopword hits; 'und' when all zero.
    Ties break in fixed language order (en, es, de)."""
    en = stopword_hits(col, STOPWORDS["en"])
    es = stopword_hits(col, STOPWORDS["es"])
    de = stopword_hits(col, STOPWORDS["de"])
    best = F.greatest(en, es, de)
    return (
        F.when(best == 0, "und")
        .when(en == best, "en")
        .when(es == best, "es")
        .otherwise("de")
    )


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: mean-token-length band +
    uniqueness ratio + length band (the shape of a Gopher-style rule
    filter, minus the proprietary thresholds)."""
    toks = ws_tokens(col)
    n = F.size(toks)
    mean_len = F.length(F.regexp_replace(col, " ", "")) / n
    uniq_ratio = F.size(F.array_distinct(toks)) / n
    len_ok = (n >= 10) & (n <= 1000)
    mean_ok = (mean_len >= 3) & (mean_len <= 10)
    return F.round(
        (len_ok.cast("int") + mean_ok.cast("int") + uniq_ratio) / 3.0, 6
    )


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint: md5 of the exact bytes (portable across
    engines; xxhash64 is Spark-only so it stays in the LSH internals)."""
    return F.md5(col)


def rolling_hash(col: Column, mod: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over whitespace tokens: order-sensitive
    (anagram docs differ, unlike a bag-of-words hash). Computed with a
    single ``aggregate`` HOF over per-token md5-derived ints — md5 (not
    xxhash64) so the DuckDB oracle reproduces it exactly. acc < mod ≈
    2^30 and acc·31 + h < 2^35: no 64-bit overflow in either engine."""
    toks = ws_tokens(col)
    token_hash = lambda t: F.pmod(  # noqa: E731
        md5_hex_bigint(t), F.lit(mod)
    )
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + token_hash(t)) % mod,
    )


# -- hashed bag-of-words linear classifier (round 9) --------------------------

#: Hashing-trick feature dimension (Weinberger et al. ICML'09). 64
#: buckets suits the 31-word fixture vocabulary; a production
#: fastText-style model (Joulin et al. EACL'17) uses ~2M — still only
#: a few MB of weights, still broadcast.
HASH_DIM = 64

#: Fixed-point (milli-unit) "trained" weights, derived per bucket by a
#: Knuth multiplicative mix so both engines rebuild the identical
#: table arithmetically: w(j) = ((j * 2654435761) % 2001) - 1000,
#: range [-1000, 1000] milli. Integer end-to-end — the doc logit is
#: exact cross-engine; only the final sigmoid is IEEE (round 6).
WEIGHT_MIX = 2654435761
WEIGHT_MOD = 2001
WEIGHT_OFF = 1000
BIAS_MILLI = -37


def feature_hash_bucket(col: Column, dim: int = HASH_DIM) -> Column:
    """md5-derived hashing-trick bucket in [0, dim) — portable (same
    first-8-hex-digits idiom as the sampling/bootstrap queries)."""
    return md5_hex_bigint(col, length=8) % dim


def bucket_weight_sql(bucket_expr: str) -> str:
    """DuckDB twin of the weight formula, inline on a bucket expr."""
    return f"((({bucket_expr}) * {WEIGHT_MIX}) % {WEIGHT_MOD}) - {WEIGHT_OFF}"


def weight_table(spark) -> DataFrame:
    """The broadcast-able (bucket, w_milli) weight table."""
    return spark.range(HASH_DIM).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * WEIGHT_MIX) % WEIGHT_MOD - WEIGHT_OFF)
        .cast("bigint")
        .alias("w_milli"),
    )


# -- URL/host canonicalization (round 9) --------------------------------------

#: Query params that never affect page identity (the CommonCrawl /
#: web-archive SURT-style normalization drop list).
TRACKING_PARAM_REGEX = "^(utm_[a-z]+|fbclid|gclid|ref)="

#: RFC-3986-ish splitter: 1=scheme, 2=authority, 3=path, 4=?query, 5=#frag.
URL_REGEX = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def canonicalize_url(col: Column) -> Column:
    """CommonCrawl-style URL canonicalization, pure regexp built-ins:
    force https, lowercase the authority, strip www. and default
    ports, collapse duplicate path slashes, drop the trailing slash
    and the fragment, and remove tracking query params (keeping real
    ones, original order). Per-row, zero shuffle — at 100 TB this runs
    inside the scan stage ahead of the dedup groupBy.

    Inputs that do not match :data:`URL_REGEX` (bare hosts,
    scheme-relative or malformed URLs) return NULL — regexp_extract
    returns '' on no match, so without the guard every malformed URL
    would collapse into the single canonical group ``https:///``."""
    auth = F.lower(F.regexp_extract(col, URL_REGEX, 2))
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = F.regexp_replace(auth, ":(80|443)$", "")
    path = F.regexp_extract(col, URL_REGEX, 3)
    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", "/").otherwise(path)
    qs = F.regexp_replace(F.regexp_extract(col, URL_REGEX, 4), r"^\?", "")
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_REGEX),
    )
    q_c = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        col.rlike(URL_REGEX),
        F.concat(F.lit("https://"), auth, path, q_c),
    ).otherwise(F.lit(None).cast("string"))


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` (note the 'g' flag:
    DuckDB regexp_replace is first-match-only by default, Spark's is
    global — only the slash-collapse needs more than one hit)."""
    auth = (
        f"regexp_replace(regexp_replace("
        f"lower(regexp_extract({expr}, '{URL_REGEX}', 2)),"
        f" '^www\\.', ''), ':(80|443)$', '')"
    )
    path = (
        f"CASE WHEN regexp_replace(regexp_replace("
        f"regexp_extract({expr}, '{URL_REGEX}', 3),"
        f" '/{{2,}}', '/', 'g'), '/+$', '') = '' THEN '/'"
        f" ELSE regexp_replace(regexp_replace("
        f"regexp_extract({expr}, '{URL_REGEX}', 3),"
        f" '/{{2,}}', '/', 'g'), '/+$', '') END"
    )
    kept = (
        f"list_filter(string_split(regexp_replace("
        f"regexp_extract({expr}, '{URL_REGEX}', 4), '^\\?', ''), '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_REGEX}'))"
    )
    q_c = (
        f"CASE WHEN len({kept}) > 0"
        f" THEN '?' || array_to_string({kept}, '&') ELSE '' END"
    )
    return (
        f"(CASE WHEN regexp_matches({expr}, '{URL_REGEX}')"
        f" THEN 'https://' || {auth} || {path} || {q_c}"
        f" ELSE NULL END)"
    )
