"""Text-retrieval queries: BM25 ranking and inverted-index build.

The retrieval tier of a training-data pipeline: score documents
against a query (quality-weighted sampling, targeted corpus pulls,
eval-set mining) and build the token -> postings map that powers
targeted decontamination and corpus search.

Reference parity note: the reference app (tweet-streamer/src/main/
scala/main.scala, 64 lines) tokenizes and counts terms (R3-R5); BM25
and the inverted index are the canonical batch extensions of that
surface (tokenize -> weight -> rank), part of the mission's [EXT]
training-pipeline inventory.

Float discipline (proven idiom, see ``text_unigram_logprob``): every
per-term contribution is a single closed-form double expression over
exact integers, written in the identical algebraic shape on both
engines; the per-document sum over matched terms runs as a
position-ordered sequential fold (``F.aggregate`` over a sorted
array here, ``list_reduce(list(... ORDER BY tok))`` in DuckDB), never
a parallel double sum, so round(..., 6) agrees bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.queries import register

#: Fixed retrieval query — three mid-frequency corpus terms so tf/dl
#: variation (not df) drives the ranking.
_QUERY_TERMS = ("spark", "stream", "vector")

#: BM25 constants (Robertson/Sparck Jones defaults).
_K1 = "1.2"
_B = "0.75"


def _bm25_oracle(limit: int = 15) -> str:
    terms = ", ".join(f"('{t}')" for t in _QUERY_TERMS)
    return f"""
        WITH terms(qt) AS (VALUES {terms}),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl
            FROM dl
        ),
        tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM toks JOIN terms ON tok = qt
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
        ),
        contrib AS (
            SELECT tf.doc_id, tf.tok,
                   ln(1.0 + (CAST(s.n_docs - df.df AS DOUBLE) + 0.5)
                            / NULLIF((CAST(df.df AS DOUBLE) + 0.5), 0))
                   * ((CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0))
                      / NULLIF((CAST(tf.tf AS DOUBLE)
                         + {_K1} * (1.0 - {_B}
                                    + {_B} * (CAST(dl.dl AS DOUBLE)
                                              / NULLIF((CAST(s.sum_dl AS DOUBLE)
                                                 / NULLIF(CAST(s.n_docs AS DOUBLE), 0)),
                                                 0)))), 0))
                   AS c
            FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
            JOIN df ON tf.tok = df.tok
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_terms_matched,
               round(list_reduce(list(c ORDER BY tok), (a, b) -> a + b), 6)
                   AS bm25
        FROM contrib
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT {limit}
    """


def _bm25_scores(spark, sf_dir):
    """The unbounded BM25 score frame (doc_id, n_terms_matched, bm25)
    — shared verbatim by `text_bm25_rank` (which top-15s it) and the
    hybrid fusion query (which top-20s and ranks it); one pipeline,
    identical plan either way."""
    d = load_table(spark, sf_dir, "documents")
    k1, b = float(_K1), float(_B)

    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    contrib = idf * (
        (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
        )
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("tok", "c"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ),
                6,
            ).alias("bm25"),
        )
    )


@register(
    "text_bm25_rank",
    oracle=_bm25_oracle(),
    tags=("llm", "text", "retrieval", "ranking"),
)
def text_bm25_rank(spark, sf_dir):
    """BM25 top-15 documents for a fixed 3-term query (k1=1.2, b=0.75)
    — the classic probabilistic retrieval score, exact idf/tf/dl from
    the corpus itself (score pipeline in `_bm25_scores`).

    Scale shape: tokens are exploded ONCE and filtered to the query
    terms BEFORE the tf groupBy, so the shuffled volume is
    O(matching tokens), not O(corpus tokens); df and the (N, sum_dl)
    corpus stats are single-row/tiny broadcasts; the final per-doc
    fold touches <= |query| elements. At 100 TB this is one narrow
    scan + one small-key aggregation — no all-corpus shuffle.
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "text_inverted_index",
    oracle="""
        SELECT tok,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
               array_to_string(list_sort(list(DISTINCT doc_id)), ',')
                   AS postings
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE length(tok) > 1
        GROUP BY tok
    """,
    tags=("llm", "text", "retrieval", "index"),
)
def text_inverted_index(spark, sf_dir):
    """Inverted-index build: token -> document frequency + sorted
    postings list (single-char stopwords dropped). The corpus-search /
    targeted-decontamination primitive.

    Scale shape: explode -> distinct -> collect per token; the
    per-token state is the postings list itself — at 100 TB the
    posting lists for frequent tokens are the known hot keys, handled
    by the same banding/sharding applied to LSH buckets (a token's
    postings can be range-sharded by doc_id into segment files, the
    standard segmented-index layout); df aggregates map-side. Postings
    are sorted for deterministic output and delta-encodable storage,
    and emitted comma-joined — array-typed output columns are not
    hashable by the driver's canonicalizer (the round-1
    agg_collect_list_set lesson; this cost the round-5 driver row).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") > 1)
        .groupBy("tok")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("df"),
            F.concat_ws(",", F.array_sort(F.collect_set("doc_id"))).alias(
                "postings"
            ),
        )
    )


#: Reciprocal-rank-fusion geometry: arm depth, fused cut, and the RRF
#: constant (Cormack/Clarke/Büttcher SIGIR'09 use k=60). Each arm's
#: contribution is the exact integer 10^9 DIV (60 + rank) — integer
#: nano-units of 1/(60+rank), so fusion is float-free end to end
#: (error vs real RRF < 1e-9, far below any rank flip).
_RRF_K = 60
_RRF_ARM_DEPTH = 20
_RRF_TOP = 15


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
        WITH sparse_raw AS MATERIALIZED (
            SELECT doc_id, bm25 FROM ({_bm25_oracle(_RRF_ARM_DEPTH)})
        ), sparse AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rs
            FROM sparse_raw
        ), dense_raw AS MATERIALIZED (
            SELECT e.vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS cos6
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
            ORDER BY cos6 DESC, doc_id ASC
            LIMIT {_RRF_ARM_DEPTH}
        ), dense AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos6 DESC, doc_id ASC) AS rd
            FROM dense_raw
        ), fused AS (
            SELECT coalesce(s.doc_id, d.doc_id) AS doc_id, s.rs, d.rd,
                   coalesce(1000000000 // NULLIF(({_RRF_K} + s.rs), 0), 0)
                   + coalesce(1000000000 // NULLIF(({_RRF_K} + d.rd), 0), 0) AS rrf_nano
            FROM sparse s FULL OUTER JOIN dense d ON d.doc_id = s.doc_id
        )
        SELECT doc_id,
               CAST(rs AS BIGINT) AS rank_sparse,
               CAST(rd AS BIGINT) AS rank_dense,
               CAST(rrf_nano AS BIGINT) AS rrf_nano
        FROM fused
        ORDER BY rrf_nano DESC, doc_id ASC
        LIMIT {_RRF_TOP}
    """,
    tags=("llm", "retrieval", "ranking", "embedding", "hybrid"),
)
def retrieval_rrf_fusion(spark, sf_dir):
    """HYBRID retrieval via reciprocal-rank fusion (Cormack et al.
    SIGIR'09, the standard in every RAG stack): the sparse arm is the
    BM25 top-20 for the fixed 3-term query (`_bm25_scores` — the
    text_bm25_rank pipeline verbatim), the dense arm is the exact
    cosine top-20 against the vec_id=0 probe (the embed_cosine_topk
    pipeline via operators/similarity.brute_force_topk; embeddings
    align 1:1 with documents by id), fused by
    RRF(d) = Σ_arms 1/(60 + rank_arm(d)) and cut to the top-15.

    Determinism: each arm ranks on its ROUNDED score with an id
    tie-break (the total-order discipline both arm queries already
    prove cross-engine); each RRF term is the exact integer
    10^9 DIV (60 + rank) — nano-units of the reciprocal rank — so the
    fusion sum, the final order, and the cut are float-free.

    Scale shape: each arm is its own already-audited pipeline ending
    in a TakeOrdered top-20; ranking and fusion then touch ≤ 20-row
    frames (the only unpartitioned windows run over those bounded
    arms), and the full-outer fusion join is a ≤40-row broadcast-size
    operation. At 100 TB the arms dominate; fusion stays driver-cheap
    without ever collecting to the driver."""
    from pyspark.sql import Window as W

    from jubilant_garbanzo_spark.operators import similarity as S

    sparse_raw = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_ARM_DEPTH)
    )
    sparse = sparse_raw.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rs"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dense_raw = S.brute_force_topk(e, q, k=_RRF_ARM_DEPTH)
    dense = dense_raw.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("rd"),
    )
    fused = sparse.join(dense, "doc_id", "full").select(
        "doc_id",
        "rs",
        "rd",
        (
            F.coalesce(F.expr(f"1000000000 DIV ({_RRF_K} + rs)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000000 DIV ({_RRF_K} + rd)"), F.lit(0))
        ).alias("rrf_nano"),
    )
    return (
        fused.select(
            "doc_id",
            F.col("rs").cast("bigint").alias("rank_sparse"),
            F.col("rd").cast("bigint").alias("rank_dense"),
            F.col("rrf_nano").cast("bigint").alias("rrf_nano"),
        )
        .orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )
