"""Training-data pipeline queries beyond the per-op basics in llm.py:
the composite steps a 100 TB pretraining-corpus build actually runs —
dedup clustering, sequence packing, decontamination, PII scrubbing,
vocabulary/OOV budgeting, LSH-bucketed ANN.

All deterministic (md5 / integer-LCG derived), so every query here is
full-oracle-checkable against DuckDB — including the iterative
connected-components one (recursive CTE on the oracle side).

Reference parity note: the reference app (tweet-streamer/src/main/
scala/main.scala, 64 lines) has no corpus tooling at all; these
implement the mission's [EXT] training-pipeline surface.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.functions.hashing import hex_slice_bigint
from jubilant_garbanzo_spark.operators import dedup as D
from jubilant_garbanzo_spark.operators import similarity as S
from jubilant_garbanzo_spark.queries import register
from jubilant_garbanzo_spark.queries.llm import (
    _docs_minhash_index,
    _hyperplane_sig_cte,
    _minhash_lsh_oracle,
)

#: Shared DuckDB shingle CTE (identical to operators/dedup.shingles).
_SH_CTE = """
        SELECT doc_id,
               list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
                    THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                    ELSE [text] END) AS sh
        FROM documents
"""


@register(
    "dedup_cluster_cc",
    # Exact transitive closure over the SAME LSH pairs the Spark side
    # feeds into label propagation — the oracle checks the iterative
    # algorithm reached the true fixpoint.
    oracle=f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            SELECT id_a, id_b FROM ({_minhash_lsh_oracle(0.8)}) lsh
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    """,
    tags=("llm", "dedup", "clustering", "iterative"),
)
def dedup_cluster_cc(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (min-label propagation,
    operators/dedup.duplicate_clusters) over the MinHash-LSH pair graph
    at J≥0.8 — turns pairwise hits into dedup groups with a canonical
    keeper per group."""
    pairs = D.minhash_lsh_pairs(_docs_minhash_index(spark, sf_dir), threshold=0.8)
    return D.duplicate_clusters(pairs)


@register(
    "dedup_cluster_keep_best",
    # Same exact transitive closure as dedup_cluster_cc's oracle, then
    # the per-cluster argmax by (n_words DESC, doc_id ASC) — a total
    # order, so the retention decision is deterministic end-to-end.
    oracle=f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            SELECT id_a, id_b FROM ({_minhash_lsh_oracle(0.8)}) lsh
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), cl AS (
            SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src
        ), allv AS (
            SELECT d.doc_id,
                   coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        ), ranked AS (
            SELECT doc_id, cluster_id, n_words,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_words DESC, doc_id ASC)
                       AS rk
            FROM allv
        )
        SELECT doc_id, cluster_id, n_words, (rk = 1) AS is_kept
        FROM ranked
    """,
    tags=("llm", "dedup", "clustering", "retention"),
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Cluster-aware dedup RETENTION — the decision step production
    pipelines run after near-dup clustering: within each MinHash-LSH
    connected component keep the highest-quality member (here: most
    words, doc_id tie-break — a total order, so retention is
    deterministic), not blindly the minimum id. Docs in no cluster are
    their own singleton and always kept, so the output is a per-row
    keep/drop verdict over the WHOLE corpus.

    Scale shape: the pair graph and components come from the shared
    session MinHash index (banded equi-join, never all-pairs); the
    retention itself is one left join + one hash agg over a struct
    argmax (max_by semantics with an explicit tie order) + one
    broadcast-able join back — all map-side-combinable, no new
    quadratic stage."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(_docs_minhash_index(spark, sf_dir), threshold=0.8)
    cl = D.duplicate_clusters(pairs)
    full = (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        )
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_words",
        )
    )
    # Deterministic argmax: max(struct(n_words, -doc_id)) == first by
    # (n_words DESC, doc_id ASC) — one map-side-combinable aggregate.
    keep = full.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("n_words"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best")
    ).select(
        "cluster_id", (-F.col("best.neg_id")).alias("keeper_doc_id")
    )
    return full.join(keep, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_words",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_kept"),
    )


#: Encoding offset for frozen old-cluster labels inside the incremental
#: min-label propagation: old cluster c rides as virtual node c - 2^40,
#: so (a) every old label sorts below every real doc id (old clusters
#: always win the min) and (b) min over encodings = min over cluster
#: ids. 2^40 is far above any doc id (scale replicas use +r*10^7).
_OLD_ENC = 1 << 40


@register(
    "dedup_cluster_incremental",
    # Oracle: exact recursive closures — old-old closure for the frozen
    # clusters, then min-label over the new-new reachability with the
    # same virtual-node encoding arithmetic.
    oracle=f"""
        WITH RECURSIVE lsh AS MATERIALIZED (
            SELECT id_a, id_b FROM ({_minhash_lsh_oracle(0.8)})
        ), old_edges AS (
            SELECT id_a AS src, id_b AS dst FROM lsh
            WHERE id_a % 5 <> 4 AND id_b % 5 <> 4
            UNION
            SELECT id_b AS src, id_a AS dst FROM lsh
            WHERE id_a % 5 <> 4 AND id_b % 5 <> 4
        ), old_reach AS (
            SELECT src, dst FROM old_edges
            UNION
            SELECT r.src, e.dst FROM old_reach r
            JOIN old_edges e ON r.dst = e.src
        ), old_cl AS MATERIALIZED (
            SELECT d.doc_id,
                   coalesce(least(r.src, min(r.dst)), d.doc_id)
                       AS cluster_id
            FROM documents d
            LEFT JOIN old_reach r ON r.src = d.doc_id
            WHERE d.doc_id % 5 <> 4
            GROUP BY d.doc_id, r.src
        ), seeds AS MATERIALIZED (
            SELECT n, min(oc.cluster_id) - {_OLD_ENC} AS enc
            FROM (
                SELECT id_a AS n, id_b AS o FROM lsh
                WHERE id_a % 5 = 4 AND id_b % 5 <> 4
                UNION ALL
                SELECT id_b AS n, id_a AS o FROM lsh
                WHERE id_b % 5 = 4 AND id_a % 5 <> 4
            ) m JOIN old_cl oc ON oc.doc_id = m.o
            GROUP BY n
        ), new_edges AS (
            SELECT id_a AS src, id_b AS dst FROM lsh
            WHERE id_a % 5 = 4 AND id_b % 5 = 4
            UNION
            SELECT id_b AS src, id_a AS dst FROM lsh
            WHERE id_a % 5 = 4 AND id_b % 5 = 4
        ), new_reach AS (
            SELECT src, dst FROM new_edges
            UNION
            SELECT r.src, e.dst FROM new_reach r
            JOIN new_edges e ON r.dst = e.src
        ), comp AS MATERIALIZED (
            -- every new doc + every node it reaches (incl. itself)
            SELECT d.doc_id AS n, d.doc_id AS x
            FROM documents d WHERE d.doc_id % 5 = 4
            UNION
            SELECT r.src AS n, r.dst AS x FROM new_reach r
        ), labeled AS (
            SELECT c.n AS doc_id,
                   min(least(c.x, coalesce(s.enc, c.x))) AS label
            FROM comp c LEFT JOIN seeds s ON s.n = c.x
            GROUP BY c.n
        )
        SELECT doc_id,
               CASE WHEN label < 0 THEN label + {_OLD_ENC}
                    ELSE label END AS cluster_id,
               (label >= 0) AS is_new_cluster
        FROM labeled
    """,
    tags=("llm", "dedup", "clustering", "incremental", "iterative"),
)
def dedup_cluster_incremental(spark, sf_dir):
    """INCREMENTAL near-dup cluster maintenance — the steady-state
    crawl-increment twin of `dedup_cluster_cc`: the corpus is split
    into a frozen OLD corpus (doc_id % 5 != 4) with established
    clusters and a NEW batch (doc_id % 5 == 4). New docs must join an
    existing cluster when any chain of near-dup pairs connects them to
    one (old labels FROZEN — re-clustering the 100 TB corpus per
    increment is exactly what this avoids), transitively through
    new-new edges; otherwise new-new components mint a new cluster
    labeled by their min doc id.

    One min-label propagation does both: each old cluster rides as a
    virtual node encoded BELOW every real id (c - 2^40), so the
    existing pointer-jumping component fold (operators/dedup.
    duplicate_clusters) computes the union-find with frozen seeds
    unchanged — old labels always win the min, and ties among several
    reachable old clusters resolve to the smallest cluster id on both
    engines.

    Scale shape: ONE shared MinHash index build serves the whole
    registry (catalog.session_index); the pair split and seed join are
    linear; the propagation runs only over the NEW batch's pair graph —
    increment-sized, not corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        _docs_minhash_index(spark, sf_dir), threshold=0.8
    ).select("id_a", "id_b")
    is_new = lambda c: F.col(c) % 5 == 4  # noqa: E731

    old_pairs = pairs.filter(~is_new("id_a") & ~is_new("id_b"))
    new_pairs = pairs.filter(is_new("id_a") & is_new("id_b"))
    # Round 15 (guide §2.6 "overlap independent jobs"): the OLD-corpus
    # components and the NEW-batch components are independent
    # driver-coordinated convergence loops of small blocking jobs;
    # running them sequentially leaves the cluster idle through each
    # one's stragglers. Two driver threads let the scheduler back-fill
    # (results deterministic — each loop is a pure function of its
    # frozen pair set; interleaved sf0.1 A/B + sf0.01 oracle: rows
    # identical).
    # Wrapping with the session carries its tags into both threads, not
    # just the local properties.
    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(
            inheritable_thread_target(spark)(D.duplicate_clusters), old_pairs
        )
        f_new = pool.submit(
            inheritable_thread_target(spark)(D.duplicate_clusters), new_pairs
        )
        old_cl = f_old.result()
        comp_new = f_new.result()

    # new->old matches, mapped to the old doc's (possibly singleton)
    # cluster id, encoded as a virtual seed node.
    no = pairs.filter(is_new("id_a") & ~is_new("id_b")).select(
        F.col("id_a").alias("n"), F.col("id_b").alias("o")
    ).unionByName(
        pairs.filter(is_new("id_b") & ~is_new("id_a")).select(
            F.col("id_b").alias("n"), F.col("id_a").alias("o")
        )
    )
    seeds = (
        no.join(old_cl, no.o == old_cl.doc_id, "left")
        .select(
            "n",
            F.coalesce("cluster_id", F.col("o")).alias("c"),
        )
        .groupBy("n")
        .agg((F.min("c") - F.lit(_OLD_ENC)).alias("enc"))
    )

    # Components over the NEW-NEW pair graph only (computed above),
    # THEN fold the seed encodings in per component. Feeding the seeds
    # into the propagation as extra edges would let a SHARED
    # old-cluster virtual node bridge two new docs that have no
    # new-new path between them — over-merging (and diverging from the
    # oracle, whose reachability is new-new only). Virtual labels must
    # be component ATTRIBUTES, never transit nodes.
    comp = comp_new

    new_docs = d.filter(is_new("doc_id")).select("doc_id")
    member = new_docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("comp_id")
    )
    best = (
        member.join(seeds, member.doc_id == seeds.n, "left")
        .groupBy("comp_id")
        .agg(F.min("enc").alias("best_enc"))
    )
    return (
        member.join(best, "comp_id")
        .select(
            "doc_id",
            F.coalesce(
                F.col("best_enc") + _OLD_ENC, F.col("comp_id")
            ).alias("cluster_id"),
            F.col("best_enc").isNull().alias("is_new_cluster"),
        )
    )


@register(
    "text_pack_sequences",
    oracle="""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, source, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM t
        )
        SELECT doc_id, source, n_tokens,
               CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id
        FROM c
    """,
    tags=("llm", "text", "packing"),
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing: assign docs (per source, in doc_id order) to
    256-token training buckets by running token count — the sample-
    packing step that keeps context windows dense. Pure window cumsum:
    one shuffle on (source), integer arithmetic, engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.split("text", " "))
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)"
               " DIV 256").alias("pack_id"),
    )


@register(
    "text_decontamination",
    oracle=f"""
        WITH sh AS (
            {_SH_CTE}
        ), split AS (
            SELECT doc_id, sh,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             IN ('0', '1')
                        THEN 'holdout' ELSE 'train' END AS split
            FROM sh
        ), ho AS (
            SELECT doc_id, unnest(sh) AS s FROM split WHERE split = 'holdout'
        ), tr AS (
            SELECT doc_id, unnest(sh) AS s FROM split WHERE split = 'train'
        )
        SELECT ho.doc_id AS holdout_doc_id,
               count(DISTINCT tr.doc_id) AS n_contaminating_train_docs,
               min(tr.doc_id) AS first_train_doc_id
        FROM ho JOIN tr ON ho.s = tr.s
        GROUP BY ho.doc_id
    """,
    tags=("llm", "text", "decontamination"),
)
def text_decontamination(spark, sf_dir):
    """Eval-set decontamination: holdout docs (same md5-nibble split as
    ``text_train_holdout_split``) that share ≥1 3-gram shingle with any
    train doc, with the count of contaminating train docs. The shuffle
    is an equi-join on shingle (inverted-index shape); a skewed
    boilerplate shingle is an AQE skew-join case, never a cross join."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sh = d.select(
        "doc_id",
        nibble.isin("0", "1").alias("is_holdout"),
        D.shingles(F.col("text")).alias("sh"),
    )
    ho = sh.filter("is_holdout").select(
        F.col("doc_id").alias("holdout_doc_id"), F.explode("sh").alias("s")
    )
    tr = sh.filter(~F.col("is_holdout")).select(
        F.col("doc_id").alias("train_doc_id"), F.explode("sh").alias("s")
    )
    return (
        ho.join(tr, "s")
        .groupBy("holdout_doc_id")
        .agg(
            F.countDistinct("train_doc_id").alias("n_contaminating_train_docs"),
            F.min("train_doc_id").alias("first_train_doc_id"),
        )
    )


@register(
    "embed_ann_lsh",
    oracle=_hyperplane_sig_cte(skew=False)
    + """
        , qsig AS (
            SELECT * FROM sig WHERE vec_id = 0
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.v, q.v), 6) AS cos_sim
        FROM sig e, qsig q
        WHERE e.vec_id <> 0
          AND (e.b0 = q.b0 OR e.b1 = q.b1 OR e.b2 = q.b2 OR e.b3 = q.b3)
        ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id ASC
        LIMIT 10
    """,
    tags=("llm", "embedding", "ann", "lsh"),
)
def embed_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (the no-training scale path next to IVF):
    top-10 among vectors sharing ≥1 hyperplane band with the vec_id=0
    query. Deterministic signatures ⇒ the DuckDB oracle reproduces the
    exact candidate set AND ranking — a hash-checked ANN query."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return S.lsh_topk(e, q, k=10)


@register(
    "text_pii_scrub",
    oracle="""
        WITH scrubbed AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '[0-9]{4,}', '<NUM>', 'g') AS clean,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_emails,
                   len(regexp_extract_all(text, '[0-9]{4,}')) AS n_nums
            FROM documents
        )
        SELECT doc_id, md5(clean) AS scrubbed_md5, n_emails, n_nums
        FROM scrubbed
    """,
    tags=("llm", "text", "pii"),
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing: redact email addresses and ≥4-digit number runs
    (ids/phones/SSNs) with typed placeholders + per-doc redaction
    counts. Narrow per-row regex ops — scales with scan bandwidth; the
    md5 of the scrubbed text makes the full output hash-checkable
    without shipping document bodies."""
    d = load_table(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num_re = r"[0-9]{4,}"
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "<EMAIL>"), num_re, "<NUM>"
    )
    return d.select(
        "doc_id",
        F.md5(clean).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all("text", F.lit(email_re), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(num_re), 0)).alias("n_nums"),
    )


@register(
    "text_robust_scale",
    oracle="""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), s AS (
            SELECT source,
                   quantile_disc(n_tokens, 0.5)  AS med,
                   quantile_disc(n_tokens, 0.25) AS q1,
                   quantile_disc(n_tokens, 0.75) AS q3
            FROM t GROUP BY source
        )
        SELECT t.doc_id, t.source, t.n_tokens,
               (t.n_tokens - s.med) / greatest(s.q3 - s.q1, 1) AS scaled
        FROM t JOIN s USING (source)
    """,
    tags=("llm", "text", "pandas-udf", "group-stats"),
)
def text_robust_scale(spark, sf_dir):
    """Per-source robust scaling of document token counts through the
    ``applyInPandas`` seam (operators/groupstats.py) — whole-group
    Python with Arrow batches, yet still value-hash oracle-checkable
    because the statistics are discrete quantiles that numpy
    (inverted_cdf) and DuckDB (quantile_disc) compute identically."""
    from jubilant_garbanzo_spark.operators.groupstats import (
        robust_scale_by_group,
    )

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return robust_scale_by_group(t, "source", "n_tokens")


@register(
    "join_cogroup_customer_orders",
    oracle="""
        SELECT c.c_custkey,
               round(c.c_acctbal, 2) AS acctbal,
               count(o.o_orderkey) AS n_orders,
               (CAST(sum(CAST(round(coalesce(o.o_totalprice, 0) * 100.0)
                              AS BIGINT)) AS BIGINT) / 100.0) AS total_spend
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey < 500
        GROUP BY c.c_custkey, c.c_acctbal
    """,
    tags=("join", "cogroup", "pandas-udf"),
)
def join_cogroup_customer_orders(spark, sf_dir):
    """``cogroup(...).applyInPandas`` — the two-sided Pandas seam
    (pairs each customer group with its orders group in one Python
    call; the shape for pandas-native per-key merges like merge_asof
    or model scoring over feature+label frames). Money is summed with
    the exact-cents idiom INSIDE pandas (int64 cents), mirroring
    functions/money.py, so the result is partition-order-independent
    and hash-matches the SQL twin."""
    import pandas as pd  # noqa: F401  (pandas ships with the pyarrow seam)

    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_acctbal")
    )
    # Mirror the customer filter onto the orders side BY HAND: Catalyst
    # cannot push predicates through the opaque Python cogroup seam, so
    # without this every orders group (all customers) pays a Python
    # call just to hit the cpdf.empty branch — measured 155 s at sf0.1,
    # ~30x the filtered group count. Equivalent because the output
    # LEFT-joins from the filtered customer side.
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 500)
        .select("o_custkey", "o_totalprice")
    )

    def merge(key, cpdf, opdf):
        import numpy as np
        import pandas as pd

        if cpdf.empty:  # order for a customer outside the filter window
            return pd.DataFrame(
                columns=["c_custkey", "acctbal", "n_orders", "total_spend"]
            )
        cents = (
            np.round(opdf["o_totalprice"].to_numpy() * 100.0).astype(np.int64)
            if len(opdf)
            else np.array([], dtype=np.int64)
        )
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "acctbal": [round(float(cpdf["c_acctbal"].iloc[0]), 2)],
                "n_orders": [len(opdf)],
                "total_spend": [cents.sum() / 100.0],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            merge,
            "c_custkey long, acctbal double, n_orders long, total_spend double",
        )
    )


@register(
    "text_normalize_pandas_udf",
    oracle="""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                   AS norm_md5,
               length(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                   AS norm_len
        FROM documents
    """,
    tags=("llm", "text", "pandas-udf", "scalar"),
)
def text_normalize_pandas_udf(spark, sf_dir):
    """Scalar ``@pandas_udf`` seam: vectorized text normalization
    (lowercase, collapse runs of spaces, trim) through an Arrow-batched
    Series→Series UDF — the LAST of the four Python seams (next to
    mapInPandas, applyInPandas, applyInPandasWithState). The SAME
    normalization is expressible with built-ins (and the oracle uses
    exactly those semantics), which is the engine's point: the seam
    exists for when Python genuinely adds something (a tokenizer, a
    model), and its output is still hash-checked."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # No annotations: under `from __future__ import annotations` the
    # hints are strings pandas_udf can't resolve; the return type is
    # declared explicitly instead.
    @pandas_udf("string")
    def normalize(s):
        return (
            s.str.lower().str.replace(r" +", " ", regex=True).str.strip()
        )

    d = load_table(spark, sf_dir, "documents")
    norm = normalize(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("norm_len"),
    )


@register(
    "text_vocab_oov",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), vocab AS (
            SELECT t FROM tok GROUP BY t
            ORDER BY count(*) DESC, t ASC
            LIMIT 100
        )
        SELECT tok.doc_id,
               count(*) AS n_tokens,
               round(CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / NULLIF(count(*), 0), 6) AS oov_ratio
        FROM tok LEFT JOIN vocab v ON tok.t = v.t
        GROUP BY tok.doc_id
    """,
    tags=("llm", "text", "vocab"),
)
def text_vocab_oov(spark, sf_dir):
    """Vocabulary budgeting: build the top-100 token vocabulary (freq
    desc, token asc — a total order both engines agree on), then score
    each doc's out-of-vocabulary ratio. The vocab is tiny by
    construction → broadcast join against the exploded token stream;
    the token frequency agg is the flagship's partial-agg shape."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = F.broadcast(
        tok.groupBy("t")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("t"))
        .limit(100)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(vocab, "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_ratio"),
        )
    )


@register(
    "dedup_incremental",
    oracle="""
        WITH fps AS (
            -- NULL text is excluded EXPLICITLY (round-12 NULL-payload
            -- audit): a fetch-failure row is not a dedupable document.
            -- Unguarded, the two engines disagreed doubly — Spark's
            -- concat_ws('', NULL) fingerprinted every NULL doc as
            -- md5('') while DuckDB's NULL fp slipped past NOT EXISTS
            -- (NULL = NULL is never true) and came back as "novel".
            SELECT doc_id,
                   md5(array_to_string(
                       list_sort(list_distinct(string_split(text, ' '))),
                       ' ')) AS fp
            FROM documents WHERE text IS NOT NULL
        ), corpus AS (
            SELECT DISTINCT fp FROM fps WHERE doc_id % 5 < 4
        ), incoming AS (
            SELECT fp, min(doc_id) AS doc_id
            FROM fps WHERE doc_id % 5 = 4
            GROUP BY fp
        )
        SELECT i.doc_id, i.fp
        FROM incoming i
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
    """,
    tags=("llm", "dedup", "incremental", "anti"),
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup: a new batch (20% of docs by id) deduped
    first WITHIN itself (min-id per fingerprint), then AGAINST the
    existing corpus fingerprint index (anti-join) — the steady-state
    form of corpus building, where each crawl increment dedupes
    against everything already ingested, not the world from scratch.
    The fingerprint is content-normalized (md5 of the SORTED DISTINCT
    token set), so reworded-but-same-vocabulary docs collide — at
    sf0.01 both stages genuinely drop rows (100 incoming → 93 after
    within-batch dedup → 88 past the corpus), so the driver hash
    exercises both dedup stages, not a pass-through.

    Scale shape: the corpus side reduces to DISTINCT 16-byte md5 keys
    (partial-agg'd before the shuffle) and the anti-join shuffles only
    fingerprints, never text. At 100 TB the corpus index is a
    materialized bucketed table keyed by fingerprint, so each
    increment's anti-join co-locates with zero corpus re-shuffle, with
    a bloom-filter pre-pass to drop the ~99% of fresh docs whose
    fingerprint can't possibly collide before the join."""
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        # NULL text excluded on both engines — see the oracle comment
        .filter(F.col("text").isNotNull())
        .select("doc_id", fp.alias("fp"))
    )
    corpus_fp = docs.filter(F.col("doc_id") % 5 < 4).select("fp").distinct()
    incoming = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return incoming.join(corpus_fp, "fp", "left_anti").select("doc_id", "fp")


@register(
    "text_domain_mixture",
    oracle="""
        WITH d AS (
            SELECT doc_id, source,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), quota AS (
            SELECT min(cnt) AS q
            FROM (SELECT count(*) AS cnt FROM d GROUP BY source)
        ), ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source ORDER BY h, doc_id
                   ) AS rn
            FROM d
        )
        SELECT r.doc_id, r.source
        FROM ranked r, quota
        WHERE r.rn <= quota.q
    """,
    tags=("llm", "mixture", "sampling", "window"),
)
def text_domain_mixture(spark, sf_dir):
    """Domain-mixture rebalancing: downsample every source domain to a
    uniform per-domain quota (the smallest domain's size) by keeping
    each domain's lowest-md5 documents — the deterministic version of
    the mixture-reweighting step every pretraining corpus runs (web vs
    books vs code ratios). Hash-order selection makes the sample
    reproducible across engines, runs, and cluster sizes: no RNG state,
    no partition-order dependence.

    Scale shape: domain counts are a partial agg; the quota is a
    broadcast scalar; selection is per-domain top-N by hash. At 100 TB
    the rank-over-window per domain is the skew point (a web domain
    with 10^10 docs sorts 10^10 rows in one partition), and the scale
    path is threshold-refinement: approx_percentile the hash at
    quota/|domain| per domain, keep everything below, exact-rank only
    the boundary sliver. Fixture domains are balanced, so the direct
    window IS the right local plan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    quota = (
        docs.groupBy("source")
        .count()
        .agg(F.min("count").alias("q"))
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "source")
    )


@register(
    "pandas_grouped_agg_seam",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang,
               CAST(max(n) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN n_chars END) AS DOUBLE)
               / NULLIF(CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                               THEN 1 ELSE 0 END) AS DOUBLE), 0)
                   AS trimmed_mean_chars
        FROM ranked
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("llm", "pandas-udf", "grouped-agg", "robust-stats"),
)
def pandas_grouped_agg_seam(spark, sf_dir):
    """Grouped-aggregate ``@pandas_udf`` seam — the fourth and last
    Arrow seam type (scalar pandas_udf, mapInPandas, applyInPandas /
    WithState, and THIS: a custom aggregate that Catalyst treats as a
    first-class agg expression, composable with built-ins in the same
    ``agg()`` call). The example: per-language 10%-trimmed mean of
    document length, a robust statistic with no built-in equivalent.

    Cross-engine float discipline: the trim set is defined by the
    deterministic (n_chars, doc_id) order; inside pandas the sum runs
    on exact int64 and the single division int_sum/count is one IEEE
    op — bit-identical to DuckDB's CAST(sum AS DOUBLE)/count, so the
    driver hash needs no rounding at all.

    Scale shape: Arrow-batched per-group aggregation — each group's
    values stream to one executor python worker (bounded by group
    size, same bound as applyInPandas); at 100 TB with heavy groups
    the same statistic refactors to the rank-window form the oracle
    uses. The seam exists for aggregates that genuinely need
    numpy/scipy, priced accordingly (docstring policy, SURVEY §2c).
    """
    # Built by a factory in functions/groupedagg.py (a module WITHOUT
    # the __future__ annotations import) so pandas_udf can infer the
    # GROUPED_AGG eval type from the real pd.Series signature, and the
    # udf pickles by value (serialization contract).
    from jubilant_garbanzo_spark.functions.groupedagg import (
        make_trimmed_mean_chars,
    )

    trimmed_mean = make_trimmed_mean_chars()
    d = load_table(spark, sf_dir, "documents")
    # Catalyst forbids mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # built-in count aggregates separately and joins back on the same
    # group key — co-partitioned, no extra data-sized shuffle.
    counts = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    trimmed = d.groupBy("lang").agg(
        trimmed_mean(F.col("n_chars"), F.col("doc_id")).alias(
            "trimmed_mean_chars"
        )
    )
    return (
        counts.join(trimmed, "lang")
        .select("lang", "n_docs", "trimmed_mean_chars")
        .orderBy("lang")
    )


@register(
    "pipeline_end_to_end",
    oracle="""
        WITH base AS (
            SELECT doc_id, text, n_chars FROM documents
        ), lang_pass AS (
            SELECT doc_id, text, n_chars FROM documents WHERE lang = 'en'
        ), tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM lang_pass
        ), cnt AS (
            SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
        ), rep AS (
            SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n_tok
            FROM cnt GROUP BY doc_id
        ), quality_pass AS (
            SELECT l.doc_id, l.text, r.n_tok
            FROM lang_pass l JOIN rep r ON l.doc_id = r.doc_id
            WHERE r.mx * 100 <= r.n_tok * 12
        ), dedup_pass AS (
            SELECT doc_id, n_tok FROM (
                SELECT doc_id, n_tok,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM quality_pass
            ) WHERE rn = 1
        ), split AS (
            SELECT doc_id, n_tok,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             IN ('0', '1') THEN 'holdout' ELSE 'train' END
                       AS s
            FROM dedup_pass
        )
        SELECT * FROM (
            SELECT 0 AS stage_no, 'ingest' AS stage,
                   (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_docs,
                   CAST(NULL AS BIGINT) AS n_tokens
            UNION ALL
            SELECT 1, 'lang_filter',
                   (SELECT CAST(count(*) AS BIGINT) FROM lang_pass), NULL
            UNION ALL
            SELECT 2, 'quality_screen',
                   (SELECT CAST(count(*) AS BIGINT) FROM quality_pass),
                   (SELECT CAST(sum(n_tok) AS BIGINT) FROM quality_pass)
            UNION ALL
            SELECT 3, 'exact_dedup',
                   (SELECT CAST(count(*) AS BIGINT) FROM dedup_pass),
                   (SELECT CAST(sum(n_tok) AS BIGINT) FROM dedup_pass)
            UNION ALL
            SELECT 4, 'split_train',
                   (SELECT CAST(count(*) AS BIGINT) FROM split
                    WHERE s = 'train'),
                   (SELECT CAST(sum(n_tok) AS BIGINT) FROM split
                    WHERE s = 'train')
            UNION ALL
            SELECT 5, 'split_holdout',
                   (SELECT CAST(count(*) AS BIGINT) FROM split
                    WHERE s = 'holdout'),
                   (SELECT CAST(sum(n_tok) AS BIGINT) FROM split
                    WHERE s = 'holdout')
        )
        ORDER BY stage_no
    """,
    tags=("llm", "pipeline", "composite", "manifest"),
)
def pipeline_end_to_end(spark, sf_dir):
    """The training-data pipeline as ONE composed DataFrame program —
    ingest → language filter → Gopher top-token quality screen →
    exact dedup (min-doc_id winner per content hash) → deterministic
    hash split — emitting the stage-by-stage manifest (rows and token
    counts surviving each stage) that a production corpus build
    publishes with every snapshot. Demonstrates that the engine's
    operators COMPOSE: each stage is the registry operator's exact
    logic (text_lang_filter, quality_repetition_filter, dedup_exact,
    text_train_holdout_split) chained lazily into one Catalyst plan.

    Exactness: the quality threshold is the integer cross-multiplied
    form (mx*100 <= n_tok*12) — no float ratio ever materializes; all
    manifest numbers are exact integers.

    Scale shape: one pass builds per-doc token stats (map-side
    combinable), the dedup winner is a content-hash window (same
    shuffle key as the dedup family), and the six manifest rows
    aggregate from the SAME lazily-shared stage DataFrames — Spark
    evaluates the chain once per branch, and every stage boundary
    keeps the doc_id/hash partitioning of the previous one. At 100 TB
    this runs as the real pipeline would, with the manifest as a
    by-product, not a second scan architecture.
    """
    d = load_table(spark, sf_dir, "documents")
    lang_pass = d.filter(F.col("lang") == "en").select("doc_id", "text")
    rep = (
        lang_pass.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").cast("bigint").alias("n_tok"))
    )
    quality_pass = (
        lang_pass.join(rep, "doc_id")
        .filter(F.col("mx") * 100 <= F.col("n_tok") * 12)
        .select("doc_id", "text", "n_tok")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup_pass = (
        quality_pass.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tok")
    )
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = dedup_pass.withColumn(
        "s", F.when(nibble.isin("0", "1"), "holdout").otherwise("train")
    )

    def manifest(stage_no, stage, df, with_tokens=True):
        aggs = [F.count("*").cast("bigint").alias("n_docs")]
        if with_tokens:
            aggs.append(F.sum("n_tok").cast("bigint").alias("n_tokens"))
        else:
            aggs.append(F.lit(None).cast("bigint").alias("n_tokens"))
        return df.agg(*aggs).select(
            F.lit(stage_no).cast("int").alias("stage_no"),
            F.lit(stage).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    return (
        manifest(0, "ingest", d, with_tokens=False)
        .unionAll(manifest(1, "lang_filter", lang_pass, with_tokens=False))
        .unionAll(manifest(2, "quality_screen", quality_pass))
        .unionAll(manifest(3, "exact_dedup", dedup_pass))
        .unionAll(manifest(4, "split_train", split.filter(F.col("s") == "train")))
        .unionAll(
            manifest(5, "split_holdout", split.filter(F.col("s") == "holdout"))
        )
        .orderBy("stage_no")
    )


@register(
    "pandas_scalar_iter_seam",
    oracle="""
        SELECT doc_id,
               CAST(length(regexp_replace(lower(coalesce(text, '')),
                                          '[^a-z0-9]', '', 'g'))
                    AS BIGINT) AS n_alnum,
               CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars_raw
        FROM documents
    """,
    tags=("llm", "pandas-udf", "scalar-iter"),
)
def pandas_scalar_iter_seam(spark, sf_dir):
    """Iterator-form scalar ``@pandas_udf`` (SCALAR_ITER) seam — the
    fifth Arrow seam type, completing the §2c matrix (scalar,
    grouped-agg, mapInPandas, applyInPandas/WithState, UDTF, and THIS).
    Its reason to exist is per-worker one-time setup amortized across
    all Arrow batches — the model-load lifecycle of a real encoder —
    here stood in by a compiled regex (functions/scalariter.py).

    Exactness: the UDF emits exact int64 character counts, so the
    DuckDB regexp twin matches bit-for-bit with no float discipline
    needed at all.

    Scale shape: embarrassingly parallel map over Arrow batches; the
    amortization is exactly what makes Python-side inference viable at
    100 TB (setup cost ÷ batches-per-worker → 0), and the plain scalar
    form would re-pay it per batch."""
    from jubilant_garbanzo_spark.functions.scalariter import (
        make_alnum_count_iter,
    )

    alnum_count_iter = make_alnum_count_iter()
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        alnum_count_iter(F.col("text")).alias("n_alnum"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("bigint").alias(
            "n_chars_raw"
        ),
    )


@register(
    "pipeline_shard_binpack",
    oracle="""
        WITH h AS (
            SELECT doc_id, n_chars,
                   md5(CAST(doc_id AS VARCHAR)) AS hx,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
                       AS bucket
            FROM documents
        ), packed AS (
            SELECT bucket, doc_id, n_chars,
                   coalesce(sum(n_chars) OVER (
                       PARTITION BY bucket ORDER BY hx, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS chars_before
            FROM h
        ), assigned AS (
            SELECT bucket * 1000 + chars_before // 100000 AS shard_id,
                   doc_id, n_chars
            FROM packed
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id
        FROM assigned GROUP BY shard_id
    """,
    tags=("pipeline", "shard", "binpack"),
)
def pipeline_shard_binpack(spark, sf_dir):
    """Greedy training-shard assignment: pack documents into
    ~100 k-char shards — the op that turns a cleaned corpus into the
    fixed-size files a dataloader streams. Docs are ordered by
    md5(doc_id) so shard composition is decorrelated from ingest
    order (no time-locality skew inside a shard), then start-offset
    bin-packed: a doc opens a new shard when the chars BEFORE it
    cross the budget, so every shard holds ≥1 doc and at most
    budget + max_doc_chars.

    Scale shape: sharding is PER HASH BUCKET (first md5 nibble, 16
    ways here; thousands at fleet scale) — each bucket's cumulative
    sum is an independent partitioned window, so there is no global
    sort and no single-partition bottleneck; shard ids are
    bucket-prefixed (bucket·1000 + local index), globally unique
    without coordination. Same offsets discipline as
    ids_global_row_number, applied to the pipeline's writer stage.
    """
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    h = d.select(
        "doc_id",
        "n_chars",
        hx.alias("hx"),
        hex_slice_bigint(hx, 1, 1).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("hx", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = h.select(
        "bucket",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("chars_before"),
    )
    assigned = packed.select(
        (F.col("bucket") * 1000 + (F.col("chars_before") / 100000).cast("bigint"))
        .cast("bigint")
        .alias("shard_id"),
        "doc_id",
        "n_chars",
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


@register(
    "pipeline_temperature_mixture",
    oracle="""
        WITH counts AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z FROM counts
        ), targets AS (
            SELECT c.lang,
                   CAST(floor(300.0 * sqrt(CAST(c.n AS DOUBLE)) / NULLIF(t.z, 0))
                        AS BIGINT) AS target
            FROM counts c, tot t
        ), ranked AS (
            SELECT doc_id, lang,
                   CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS rk
            FROM documents
        )
        SELECT r.doc_id, r.lang, r.rk
        FROM ranked r JOIN targets t ON t.lang = r.lang
        WHERE r.rk <= t.target
    """,
    tags=("llm", "mixture", "sampling", "temperature"),
)
def pipeline_temperature_mixture(spark, sf_dir):
    """Temperature-scaled language mixture (the mT5 / XLM-R sampling
    rule, Xue et al. 2021 §3.1 — public literature): sample language ℓ
    with probability ∝ n_ℓ^α, α = 0.5 — upweighting low-resource
    languages relative to proportional sampling without flattening to
    uniform (text_domain_mixture's quota is the α→0 limit; raw
    proportional is α=1). Budget 300 docs; per-language targets
    floor(300·√n_ℓ/Σ√n), selection by deterministic md5 rank (the
    sample_stratified_hash reproducibility rationale).

    Float discipline: α=0.5 is chosen because IEEE sqrt is CORRECTLY
    ROUNDED on every conforming platform (a general pow(x, 0.3) is
    not) — so both engines compute bit-identical weights, targets, and
    therefore the same kept set; the floor lands on identical doubles.

    Scale shape: counts are a partial agg; targets a broadcast
    5-row table; the per-language rank is the text_domain_mixture
    window (threshold-refinement at web scale). Map-side after that.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))
    tot = counts.agg(F.sum(F.sqrt(F.col("n").cast("double"))).alias("z"))
    targets = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(300.0 * F.sqrt(F.col("n").cast("double")) / F.col("z"))
        .cast("bigint")
        .alias("target"),
    )

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return ranked.join(F.broadcast(targets), "lang").filter(
        F.col("rk") <= F.col("target")
    ).select("doc_id", "lang", "rk")


#: Global-shuffle geometry: permutation seed (re-shuffling per epoch =
#: changing the seed), target documents per output shard, and the
#: hash-prefix bucket count for the two-phase global ordering (the only
#: unpartitioned window touches ≤ _GS_BUCKETS rows).
_GS_SEED = "r11"
_GS_SHARD = 1000
#: md5-prefix hex chars that define the bucket split; the bucket count
#: follows (16 ** chars). Raising the knob at 100 TB actually widens
#: the split because the engine derives substring length from it.
_GS_PREFIX_HEX = 2
_GS_BUCKETS = 16**_GS_PREFIX_HEX


@register(
    "pipeline_global_shuffle",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   md5('shuffle-{_GS_SEED}:' || CAST(doc_id AS VARCHAR))
                       AS rk
            FROM documents
        ), numbered AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY rk, doc_id) AS BIGINT)
                       AS global_pos
            FROM h
        )
        SELECT doc_id, global_pos,
               CAST((global_pos - 1) // {_GS_SHARD} AS BIGINT) AS shard_id,
               CAST((global_pos - 1) % {_GS_SHARD} AS BIGINT) AS shard_pos
        FROM numbered
    """,
    tags=("pipeline", "shuffle", "sampling", "scale", "row-number"),
)
def pipeline_global_shuffle(spark, sf_dir):
    """Deterministic GLOBAL corpus shuffle — the final pre-training
    stage before sharding: every document gets a seeded pseudo-random
    permutation rank (md5 of seed + doc_id — reshuffling per epoch is
    just a new seed, and the permutation is reproducible across runs,
    partitionings, and engines), then a dense global position and a
    (shard_id, shard_pos) assignment of exactly _GS_SHARD docs per
    shard (last shard ragged). Pairs with `pipeline_shard_binpack`
    (size-budgeted packing) — this is the order-randomizing variant a
    dataloader wants when documents must be visited in a globally
    shuffled order.

    NO global single-partition window over the data: the two-phase
    bucket-offset decomposition of `ids_global_row_number`, with the
    bucket = the first _GS_PREFIX_HEX hex chars of the md5 rank
    (_GS_BUCKETS = 16**_GS_PREFIX_HEX contiguous ranges of the rank
    key — 256 at the default width — monotone in (rk, doc_id) order
    by construction). Phase 1 counts the buckets (map-side
    combinable); the ONLY unpartitioned window runs over that
    _GS_BUCKETS-row counts table; phase 2 ranks within buckets (each
    task sorts ~N/_GS_BUCKETS rows) and adds the broadcast offsets.
    md5 ranks are uniform, so buckets are balanced for free — at
    100 TB raise _GS_PREFIX_HEX so each bucket's sort fits an
    executor.

    The oracle computes the same permutation with DuckDB's global
    row_number window, proving the decomposition exact (bijectivity,
    seed determinism, and shard-size bounds are additionally pinned by
    tests/test_llm_ops.py).
    """
    d = load_table(spark, sf_dir, "documents")
    rk = F.md5(
        F.concat(F.lit(f"shuffle-{_GS_SEED}:"), F.col("doc_id").cast("string"))
    )
    h = d.select(
        "doc_id",
        rk.alias("rk"),
        hex_slice_bigint(rk, 1, _GS_PREFIX_HEX).alias("bucket"),
    )
    counts = h.groupBy("bucket").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("rk", "doc_id")
    pos = (
        h.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("offset") + F.col("rn")).cast("bigint").alias("global_pos"),
        )
    )
    return pos.select(
        "doc_id",
        "global_pos",
        ((F.col("global_pos") - 1) / _GS_SHARD)
        .cast("bigint")
        .alias("shard_id"),
        ((F.col("global_pos") - 1) % _GS_SHARD)
        .cast("bigint")
        .alias("shard_pos"),
    )


#: Token budget for the repeat-epochs plan (tokens to draw across all
#: sources) and the temperature exponent discipline: α = 0.5 (IEEE
#: sqrt is correctly rounded everywhere — the pipeline_temperature_
#: mixture rationale), with the per-source weight nano-quantized
#: BEFORE the integer share arithmetic so every downstream number is
#: exact.
_TB_BUDGET = 200_000


@register(
    "pipeline_token_budget_plan",
    oracle=f"""
        WITH avail AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS avail_tokens
            FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY source
        ), wts AS (
            SELECT source, avail_tokens,
                   CAST(round(sqrt(CAST(avail_tokens AS DOUBLE))
                              * 1000000000.0) AS BIGINT) AS weight_nano
            FROM avail
        ), tot AS (
            SELECT CAST(sum(weight_nano) AS BIGINT) AS tot_nano FROM wts
        ), plan AS (
            SELECT w.source, w.avail_tokens, w.weight_nano,
                   CAST({_TB_BUDGET} * w.weight_nano // NULLIF(t.tot_nano, 0)
                        AS BIGINT) AS target_tokens
            FROM wts w, tot t
        )
        SELECT source, avail_tokens, weight_nano, target_tokens,
               CAST((target_tokens + avail_tokens - 1) // NULLIF(avail_tokens, 0)
                    AS BIGINT) AS n_epochs,
               CAST(CASE WHEN target_tokens = 0 THEN 0
                    ELSE target_tokens
                         - ((target_tokens + avail_tokens - 1)
                            // NULLIF(avail_tokens, 0) - 1) * avail_tokens
                    END AS BIGINT) AS last_epoch_tokens
        FROM plan
    """,
    tags=("pipeline", "mixture", "budget", "epochs"),
)
def pipeline_token_budget_plan(spark, sf_dir):
    """Repeat-EPOCHS token-budget planner — the data-constrained
    scaling step (Muennighoff et al. 2023: when the budget exceeds a
    source's unique tokens, the source repeats for multiple epochs):
    given a total token budget and per-source unique-token counts,
    allocate temperature-scaled targets (α = 0.5 — the mT5 rule,
    chosen because IEEE sqrt is correctly rounded, the
    pipeline_temperature_mixture discipline) and emit each source's
    epoch plan: full epochs plus the ragged last-epoch token count.

    Exactness: the per-source weight is nano-quantized sqrt
    (one closed-form IEEE expression → integer), the share is
    ``budget · w_nano DIV Σw_nano`` (pure integer — no float division
    anywhere), and epochs/remainders are ceiling-division identities,
    so every output column is an exact BIGINT both engines must agree
    on bit-for-bit.

    Scale shape: one map-side-combinable token-count aggregate into a
    20-row source table; the total is a 1-row broadcast; everything
    after is per-row arithmetic. At 100 TB the only corpus-sized cost
    is the token count, which rides any existing stats pass."""
    d = load_table(spark, sf_dir, "documents")
    avail = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("avail_tokens"))
    )
    wts = avail.select(
        "source",
        "avail_tokens",
        F.round(F.sqrt(F.col("avail_tokens").cast("double")) * 1000000000.0)
        .cast("bigint")
        .alias("weight_nano"),
    )
    tot = wts.agg(F.sum("weight_nano").cast("bigint").alias("tot_nano"))
    plan = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        "weight_nano",
        F.expr(f"CAST({_TB_BUDGET} * weight_nano DIV tot_nano AS BIGINT)")
        .alias("target_tokens"),
    )
    return plan.select(
        "source",
        "avail_tokens",
        "weight_nano",
        "target_tokens",
        F.expr(
            "CAST((target_tokens + avail_tokens - 1) DIV avail_tokens"
            " AS BIGINT)"
        ).alias("n_epochs"),
        # target_tokens = 0 (source share floors to nothing) must plan
        # ZERO last-epoch tokens — the unguarded remainder identity
        # degenerates to 0 - (0-1)*avail = avail, a phantom full epoch
        # contradicting n_epochs = 0.
        F.expr(
            "CAST(CASE WHEN target_tokens = 0 THEN 0"
            " ELSE target_tokens - ((target_tokens + avail_tokens - 1)"
            " DIV avail_tokens - 1) * avail_tokens END AS BIGINT)"
        ).alias("last_epoch_tokens"),
    )
