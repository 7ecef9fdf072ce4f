"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame/Catalyst expressions (no UDFs, fully
codegen'd, horizontally scalable):

- **exact**: hash-groupBy on the raw text (or md5 for wide rows);
- **MinHash-LSH**: shingle → 32 min-hashes from a 2-universal family
  over the shingle's md5 halves → 8 bands of 4 → candidate pairs via
  band-bucket join → exact-Jaccard verify;
- **SimHash**: 64-bit sign-aggregated token hashes, near-dups =
  small Hamming distance;
- **n-gram Jaccard**: EXACT all-pairs via a lossless prefix-filtered
  inverted index (also the verify stage for the approximate tiers).

Determinism: every hash derives from md5, so each tier's DuckDB
oracle reproduces the full signatures bit-for-bit (MinHash minima,
SimHash bit votes) — no RNG and no engine-private hash anywhere
(SURVEY §7 hard-part (c)).

Scale design: LSH candidate generation shuffles on the band signature
(a 1-in-(bands×buckets) partition of the corpus), never on all-pairs;
the verify join only touches candidate pairs. At 100 TB the band
buckets are the unit of parallelism and skew (a boilerplate-text
bucket) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import materialize
from jubilant_garbanzo_spark.functions.hashing import hex_slice_bigint

N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS


def tokens(col: Column) -> Column:
    """Whitespace tokenization — reproduces the reference's
    ``getText.split(" ")`` (``main.scala:45``) exactly."""
    return F.split(col, " ")


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles; documents shorter than ``n`` tokens
    fall back to their full text as a single shingle.

    Formulated as ``n`` row-level ``slice``s zipped elementwise: the
    lambdas reference only their own arguments, so nothing row-scoped is
    re-evaluated per element. (The naive ``transform(sequence(...),
    i -> element_at(toks, i+j)...)`` embeds the ``split`` via outer
    reference and re-runs it for every element — O(tokens²) per doc,
    measured 30× slower at sf0.1.)
    """
    toks = tokens(col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.slice(toks, 1, m)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    # NULL text ⇒ EMPTY shingle set, never array(NULL): the round-12
    # NULL-payload audit caught the short-doc fallback emitting one
    # NULL shingle per NULL doc — md5(NULL) minhashes to an all-NULL
    # signature, every band key concat_ws-collapses to the SAME string,
    # and an all-NULL-text crawl batch (fetch failures) declared every
    # pair a duplicate (C(n,2) pairs at jaccard 1.0). An empty set
    # drops the doc from the signature table on both engines — the
    # semantics the oracle (string_split(NULL) → no rows) always had.
    return F.when(col.isNull(), F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.when(m >= 1, zipped).otherwise(F.array(col)))
    )


#: Modulus of the 2-universal permutation family: 2^31 − 1 (Mersenne
#: prime). h1 < 2^60 and p·(h2 mod M) < 2^36, so the mixing arithmetic
#: never overflows a signed 64-bit int in ANY engine.
MINHASH_MODULUS = 2_147_483_647


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "id",
    shingle_col: str = "sh",
    n_perm: int = N_PERM,
) -> DataFrame:
    """``(id, m0..m{n_perm-1})``: per-doc min of a 2-universal hash
    family ``(h1 + p·h2) mod M`` where h1/h2 are the two md5 halves of
    the shingle (hex → int) — ONE md5 per shingle, ``n_perm`` integer
    mixes. md5 + integer arithmetic exist identically in DuckDB, so
    the ENTIRE LSH pipeline is oracle-checkable bit-for-bit (round 1
    used Spark-only xxhash64 and could only be rows-only checked).

    Shape matters at scale: explode the shingle set, compute the
    ``n_perm`` hashes per (doc, shingle) row, then ``groupBy(id).min``
    — Catalyst plans a partial (map-side) aggregate so the shuffle
    carries one ``n_perm``-long row per doc per mapper, never the
    shingles. This replaces a single giant nested-HOF expression
    (32 × ``array_min(transform(...))``) that overflowed whole-stage
    codegen and ran ~50× slower.
    """
    exploded = docs.select(id_col, F.explode(shingle_col).alias("s"))
    md5c = F.md5("s")
    # Two-step projection: h1/h2m land in their own columns first, so
    # the md5 + hex-parse tree exists ONCE per shingle — inlining it
    # into all n_perm mix expressions would evaluate it 32×.
    halves = exploded.select(
        id_col,
        hex_slice_bigint(md5c, 1, 15).alias("h1"),
        F.pmod(
            hex_slice_bigint(md5c, 17, 15), F.lit(MINHASH_MODULUS)
        ).alias("h2m"),
    )
    hashed = halves.select(
        id_col,
        *[
            F.pmod(
                F.col("h1") + p * F.col("h2m"), F.lit(MINHASH_MODULUS)
            ).alias(f"h{p}")
            for p in range(n_perm)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{p}").alias(f"m{p}") for p in range(n_perm)]
    )


def band_keys(n_perm: int = N_PERM, n_bands: int = N_BANDS) -> Column:
    """Array of band keys over minhash columns ``m0..m{n_perm-1}``:
    band b's key concatenates its ``n_perm/n_bands`` row hashes
    (collision within any band ⇒ candidate pair)."""
    rows_per_band = n_perm // n_bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )


def exact_jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / union


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared MinHash index build: ``(sh, sigs, banded)``, each
    eagerly localCheckpointed.

    Materializing ONCE matters twice over (VERDICT r7 #6):

    - within one query: Catalyst does not CSE sibling subplans, so
      without the checkpoints the band self-join runs the whole
      shingle→signature pipeline TWICE and the verify stage two more
      times (the r7 plan audit counted 12 parquet scans / 0 reused
      exchanges across this family);
    - across queries: ``dedup_minhash_lsh``, ``dedup_minhash_accuracy``
      and the ``dedup_cluster_*`` family all start from the same index
      — registered per fixture with ``catalog.session_index``, they
      share one build per session instead of paying the shingle
      pipeline once each (the headline-set cost VERDICT r7 flagged).
      At cluster scale this is the standard "build the index once,
      probe many" deployment: ``sh``/``sigs`` as a parquet side table,
      ``banded`` partitioned by band key.
    """
    # Round 15, measured and KEPT AS IS: fanning the projected docs out
    # to cluster parallelism before the shingle build (the fan_out_scan
    # recipe, gated on the plan's pre-shuffle partition count) read
    # 0.97x net over the 4-query family in a fresh-JVM-per-session A/B
    # — the exchange ships full text bytes, which costs about what the
    # single-task shingle+hash build saves, and the production
    # multi-file layout makes the gate a no-op anyway.
    sh = materialize(docs.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col)).alias("sh"),
    ))
    sigs = materialize(minhash_signatures(sh, "id", "sh"))
    banded = materialize(
        sigs.select("id", F.explode(band_keys()).alias("band"))
    )
    return sh, sigs, banded


def minhash_band_candidates(index: tuple) -> DataFrame:
    """The LSH candidate-generation stage alone: the distinct
    band-collision pairs (id_a < id_b) of a :func:`minhash_index`.
    Split out so scale benchmarks (scripts/bench_scale.py) can count
    candidates on EXACTLY the production stage rather than a
    reimplementation."""
    banded = index[2]
    return (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(index: tuple, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) of a
    :func:`minhash_index`.

    Pipeline: per-doc shingle set → minhash signature via partial-agg
    (``minhash_signatures``) → explode band keys → self-join on band key
    (candidates) → distinct pairs → exact-Jaccard verify against the
    shingle sets. Only candidate pairs are ever materialized; the band
    join shuffles 1 row per (doc, band), and AQE skew-split handles a
    boilerplate-heavy bucket.
    """
    sh = index[0]
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = exact_jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        minhash_band_candidates(index)
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        # Unrounded threshold test (matches the oracle's WHERE clause);
        # round only the projected output.
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def duplicate_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id,
    cluster_id)`` with cluster_id = min doc id in the component (the
    canonical "keeper") — the step that turns pairwise near-dup hits
    into dedup GROUPS (A≈B, B≈C ⇒ {A,B,C} even when A,C never paired).

    Iterative min-label propagation with pointer jumping: each round
    every node takes the min label among itself and its neighbors, then
    a path-halving shortcut replaces each label by its label's label
    (``label := min(label, label[label])``). The shortcut doubles how
    far the component minimum has reached per round, so convergence is
    O(log diameter) rounds instead of O(diameter) — a 50-node chain
    converges in ~7 rounds, well inside the default budget (pinned by
    ``tests/test_llm_ops.py::test_duplicate_clusters_chain_converges``).
    This is the public label-doubling trick from the CC-in-MapReduce
    literature (Kiveris et al., "Connected Components in MapReduce and
    Beyond" use alternating star operations for the same bound). The
    loop is driver-COORDINATED but every step is a distributed
    join+agg (the standard Spark shape for iterative graph algorithms —
    GraphX/GraphFrames do the same). ``localCheckpoint`` truncates
    lineage each round — without it the plan doubles per iteration and
    the job dies on plan-compile time long before data size matters.

    One Spark job per round: the previous label rides along as a
    ``chg`` flag column, so a single lazy ``localCheckpoint`` + count
    action both materializes the round and reads the convergence
    signal. (An earlier version re-joined the new and old label tables
    just to count changes — a second shuffle join per round that
    roughly doubled wall-time on small data where per-job overhead
    dominates.)

    Raises if not converged within ``max_iters`` rather than returning
    possibly-wrong labels (the DuckDB oracle computes the exact
    transitive closure, so only the fixpoint matches it).
    """
    # Materialize the DIRECTED edge list once, BEFORE symmetrizing.
    # Two separate discoveries, both measured:
    # - r5: without any checkpoint the upstream pair pipeline (e.g.
    #   MinHash-LSH candidate generation + verify) re-executes per
    #   round — 3× total wall at sf0.1.
    # - r7 x10 profile: checkpointing AFTER the union is still 2× too
    #   expensive — the union's two branches are two copies of the
    #   full pair pipeline, and Catalyst does not CSE sibling
    #   subplans, so the eager checkpoint ran LSH twice (5.05 s of the
    #   query's 5.9 s CC portion at x10). Checkpoint the directed
    #   edges (one pipeline execution), then symmetrize from the
    #   materialized blocks — the union is two in-memory scans.
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = materialize(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iters):
        # Min over the neighborhood, keeping the old label in-row (a
        # left join — every neighbor id is already in `labels`, so this
        # equals the union+groupBy formulation while preserving the
        # old label for the in-row convergence flag below).
        neigh_min = (
            sym.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        merged = labels.join(neigh_min, "id", "left").select(
            "id",
            F.col("label").alias("old_label"),
            F.least("label", F.coalesce("nlabel", "label")).alias("label"),
        )
        # Pointer jumping: label := min(label, label[label]). Labels
        # always name nodes in the same component, so the shortcut is
        # safe and halves the remaining path to the component minimum.
        # Disjoint column names on the jump side keep the self-join
        # unambiguous for the analyzer.
        jumped = merged.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        new_labels = materialize(
            merged.join(jumped, on=F.col("label") == F.col("jid"), how="left")
            .select(
                "id",
                F.least("label", F.coalesce("jlabel", "label")).alias("label"),
                "old_label",
            )
            .withColumn("chg", F.col("label") != F.col("old_label"))
            .select("id", "label", "chg"),
            # Lazy: the count() below is the first action, so ONE job
            # materializes the checkpoint AND counts changed rows.
            eager=False,
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iters} iterations"
    )


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, simhash)``: 64-bit SimHash as a 64-char bitstring.

    Per token, two 32-bit halves of its md5 supply the 64 ±1 votes;
    fingerprint bit i is the sign of vote-sum i. Shaped like
    :func:`minhash_signatures`: explode tokens → one md5 per token →
    64 ``sum`` aggregates with map-side partial combine (the shuffle
    carries 64 longs per doc per mapper, never tokens). md5 — not
    Spark-only xxhash64 — so the DuckDB oracle re-derives identical
    fingerprints (round 1 was rows-only here).
    """
    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    m = F.md5("t")
    hashed = ex.select(
        "id",
        hex_slice_bigint(m, 1, 8).alias("v1"),
        hex_slice_bigint(m, 9, 8).alias("v2"),
    )
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col("v1") if i < 32 else F.col("v2"), i % 32)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    return sums.select(
        "id",
        F.concat(
            *[
                F.when(F.col(f"s{i}") > 0, "1").otherwise("0")
                for i in range(64)
            ]
        ).alias("simhash"),
    )


def hamming_distance_bitstrings(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bitstrings."""
    return F.size(
        F.filter(
            F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: x != y),
            lambda d: d,
        )
    )


def ngram_prefix_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """The PPJoin prefix-filtered candidate stage alone: ``(sh, cand)``
    — per-doc shingle sets and the distinct prefix-collision pairs.
    Split out so scale benchmarks count candidates on the production
    stage itself (see :func:`minhash_band_candidates`).

    The candidate pipeline runs on ``xxhash64``-ENCODED shingles
    (round 13): the freq agg, the ranking window, and the self-join
    shuffle 8-byte bigints instead of ~25-byte shingle strings, and the
    sorts compare longs instead of strings — measured at the x30 scale
    decade (150 k docs, median-of-3): full query 26.7 s → 15.1 s
    (−43 %), identical result pairs. Losslessness is PRESERVED, not
    probabilistic:

    - cross-doc collisions (two different shingles, same hash, in
      different docs) only ADD spurious candidates — the verify join
      recomputes Jaccard on the TRUE shingle arrays;
    - a within-doc collision (two of one doc's shingles sharing a
      hash) is the one case that could shrink a prefix below the
      completeness bound, and it is DETECTABLE per doc:
      ``size(array_distinct(hashes)) < size(shingles)``. Such a doc
      (probability ~|sh|²/2⁶⁴ per doc) indexes its FULL hash set, for
      which the prefix-filter theorem needs no bound at all — any
      qualifying partner still collides inside the partner's own
      prefix. The guard costs two ``size()`` calls on arrays already
      built.

    The rarest-first order becomes (df asc, hash asc) — a different
    but equally valid global total order (the theorem needs ANY total
    order; df-ascending is the bucket-size optimization and df in hash
    space differs only on merged cross-doc collisions). The positional
    filter stays valid: with ``sz`` the TRUE shingle count and ``rn``
    the hash-space rank, ``sz − rn + 1 ≥ |hashes| − rn + 1`` upper-
    bounds the remaining overlap, so the bound only loosens.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    # Deliberately NO checkpoint here, unlike minhash_band_candidates:
    # measured A/B at sf0.1 (median-of-5, same session), the original
    # lazy pipeline runs the full Jaccard query in 4.65 s vs 5.27 s
    # with sh+prefix checkpointed and 5.62 s with prefix alone. The
    # self-join's two sides shuffle on the SAME key from canonically
    # identical subplans, so AQE reuses the exchange at runtime — a
    # checkpoint only adds a serialization pass and breaks codegen
    # fusion. The minhash family is the opposite (verify re-runs a
    # 32-hash aggregation through a DIFFERENT exchange key — no reuse
    # possible), which is why it does checkpoint.
    sh = docs.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    )
    hashed = sh.select(
        "id",
        F.size("sh").alias("sz"),
        F.array_distinct(
            F.transform("sh", lambda s: F.xxhash64(s))
        ).alias("hs"),
    )
    ex = hashed.select(
        "id", "sz", F.size("hs").alias("szh"), F.explode("hs").alias("s")
    )
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    ceil_t_sz = F.expr(
        f"CAST((CAST(sz AS BIGINT) * {num} + {den} - 1) DIV {den} AS INT)"
    )
    # Collision guard (see docstring): a doc whose hash set is smaller
    # than its shingle set indexes EVERYTHING; all others use the
    # standard (sz − ⌈t·sz⌉ + 1) prefix bound.
    prefix_len = F.when(F.col("szh") < F.col("sz"), F.col("szh")).otherwise(
        F.col("sz") - ceil_t_sz + 1
    )
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("s"))
    prefix = (
        ex.join(freq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "s", "rn", "sz")
    )
    # PPJoin POSITIONAL filter (Xiao/Wang/Lin/Yu WWW'08 — public
    # literature), applied per matching shingle BEFORE the distinct:
    # J ≥ t ⇔ O·(num+den) ≥ num·(|A|+|B|) for overlap O, and for any
    # common shingle s at 1-based rarest-first positions rnA/rnB, every
    # common shingle of the pair sits at position ≥ rn of the FIRST
    # common one, so O ≤ min(|A|−rnA+1, |B|−rnB+1) holds on that first-
    # match row. A qualifying pair therefore always survives on its
    # first-match row (lossless under ANY-row semantics), while
    # boilerplate-heavy collisions whose tails cannot reach the overlap
    # bound are dropped before they pay the distinct + verify join.
    # Measured at sf0.1 (median-of-5, interleaved baseline re-run):
    # candidates 409 103 → 124 979 (3.3×), full-query wall 3.60-3.92 s
    # → 2.37 s, result pairs identical (256).
    #
    # Round 16, measured and REJECTED — PPJoin's INDEX-prefix
    # tightening (index side keeps only the |x|−⌈2t/(1+t)·|x|⌉+1
    # rarest shingles, roles by size): lossless (oracle + randomized
    # brute-force green) and it cuts index postings ~1/3, but the
    # asymmetric sides break the self-join's exchange reuse, so the
    # freq-join + ranking window execute TWICE — interleaved sf0.1 A/B
    # 0.60x (wins 0/4); with an eager prefix checkpoint to restore
    # single execution, 0.56x (wins 0/5) — the barrier + extra
    # exchange cost more than the candidate cut
    # (plans/r16/evidence/ab_ngram_idx{,2}.json). Bucket skew is not
    # the issue either: prefix buckets measured max=10/median=7
    # postings at sf0.1 (probe_ngram_stages.py) — the rarest-first
    # order keeps them uniform by construction, so salting (guide
    # §2.5) has nothing to split. The symmetric one-subplan form stays.
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "s")
        .filter(F.col("x.id") < F.col("y.id"))
        .filter(
            F.least(
                F.col("x.sz") - F.col("x.rn") + 1,
                F.col("y.sz") - F.col("y.rn") + 1,
            ).cast("bigint")
            * F.lit(num + den)
            >= (F.col("x.sz") + F.col("y.sz")).cast("bigint") * F.lit(num)
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return sh, cand


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold, with prefix-filtered
    candidate generation (AllPairs/PPJoin, Bayardo et al. WWW'07 —
    public literature).

    Completeness: J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉; under a single global
    shingle order, two sets with overlap ≥ α must intersect within
    their (|X| − α + 1)-prefixes. So indexing only each doc's
    (⌊|sh|·(1−t)⌋ + 1) rarest shingles and equi-joining on those
    provably loses no qualifying pair — the DuckDB oracle runs the
    naive quadratic form, so the driver verifies losslessness.

    Scale shape: the inverted index is built over the RAREST shingles
    per doc (global document-frequency ascending), so hot boilerplate
    shingles are exactly the ones NOT indexed — candidate buckets stay
    small by construction instead of by hoping a blocking column is
    selective; the positional filter inside the candidate join (see
    :func:`ngram_prefix_candidates`) then drops collisions whose
    rarest-first tails cannot reach the overlap bound before they cost
    a distinct or a verify join. Replaces round-1 ``source`` blocking (VERDICT "What's
    wrong" #3: ~10 fixed blocks ⇒ quadratic blocks at 100 TB).
    Shuffles: shingle-frequency agg (partial-agg combine), prefix
    window per doc, candidate equi-join on shingle, verify join on id —
    all linear in data or candidates, never all-pairs.
    """
    from fractions import Fraction

    # Rarest-first total order (df asc, shingle asc — ties broken
    # deterministically); prefix length = sz - ceil(t*sz) + 1.
    # ceil(t*sz) in EXACT integer arithmetic: t as a rational num/den,
    # ceil(sz*num/den) = (sz*num + den - 1) div den. Double arithmetic
    # here can overshoot (0.55*20 → 11.000000000000002 → ceil 12),
    # silently shortening the prefix and dropping qualifying pairs.
    # The SAME snapped rational drives BOTH the prefix bound (inside
    # ngram_prefix_candidates) and the verify filter below, so the
    # operator's threshold semantics is exactly "jaccard ≥ num/den"
    # end to end (num/den == threshold bit-for-bit for every threshold
    # with a small decimal/binary representation, e.g. 0.5, 0.8, 0.3).
    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    sh, cand = ngram_prefix_candidates(docs, id_col, text_col, n, threshold)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        # Verify with the SAME rational as the prefix bound, as an
        # exact integer cross-multiplication (inter/union ≥ num/den ⇔
        # inter·den ≥ num·union) — no float rounding on the threshold
        # test; round only the output projection.
        .filter(
            inter.cast("bigint") * F.lit(den) >= F.lit(num) * union.cast("bigint")
        )
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
    )


def containment_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> tuple[DataFrame, DataFrame]:
    """The asymmetric-prefix candidate stage of
    :func:`containment_pairs` alone: ``(sh, cand)`` where ``sh`` is
    the per-doc shingle set and ``cand`` the distinct (id_a, id_b)
    collision pairs. Split out (mirroring
    :func:`minhash_band_candidates`) so scale benchmarks count
    candidates on EXACTLY the production stage.

    Completeness: C(A→B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, a bound on the
    CONTAINEE side only — so A indexes its (|A| − ⌈t·|A|⌉ + 1) rarest
    shingles (same global df-ascending order as the Jaccard prefix
    filter) while the container side posts ALL its shingles; any
    qualifying pair must collide on one of A's prefix shingles.
    The verify filter re-tests with the same exact rational
    (inter·den ≥ num·|A| — no float threshold), so the operator is
    provably lossless vs the naive quadratic oracle.

    Scale shape: the containee prefix keeps the probing side tiny; the
    full posting index is the linear-in-corpus cost, and the standard
    100 TB guard is dropping stop-shingles (df above a cap) from the
    index — they cannot be in any short prefix, so only pairs whose
    ENTIRE overlap is boilerplate are affected. Candidate equi-join on
    shingle, verify join on ids — never all-pairs.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    # sh materializes once (measured A/B at sf0.1, median-of-5: 1.65 s
    # with the checkpoint vs 2.29 s without): unlike the symmetric
    # Jaccard self-join, the containee prefix and the full posting
    # index are DIFFERENT subplans (no runtime exchange reuse), and
    # both verify joins rebuild shingles through different keys.
    sh = materialize(docs.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    ))
    # Hash-encoded postings, same scheme + losslessness argument as
    # ngram_prefix_candidates (round 13): bigint shuffle keys instead
    # of shingle strings. Asymmetric twist: only the CONTAINEE side's
    # prefix bound needs the within-doc collision guard — a container-
    # side collision merges two of B's hashes but cannot REMOVE the
    # hash of any shingle B shares with A from B's distinct posting
    # set, so container recall is unconditional. Measured at the x30
    # decade (median-of-3): full query 18.9 s (committed BENCH_scale
    # row) → 9.1 s (−52 %), identical result rows.
    hashed = sh.select(
        "id",
        F.size("sh").alias("sz"),
        F.array_distinct(
            F.transform("sh", lambda s: F.xxhash64(s))
        ).alias("hs"),
    )
    ex = hashed.select(
        "id", "sz", F.size("hs").alias("szh"), F.explode("hs").alias("s")
    )
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    ceil_t_sz = F.expr(
        f"CAST((CAST(sz AS BIGINT) * {num} + {den} - 1) DIV {den} AS INT)"
    )
    prefix_len = F.when(F.col("szh") < F.col("sz"), F.col("szh")).otherwise(
        F.col("sz") - ceil_t_sz + 1
    )
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("s"))
    prefix = (
        ex.join(freq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "s")
    )
    full = ex.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "s")
    # Size filter on the collision rows: O ≤ |B| and C ≥ t needs
    # O ≥ ⌈t·|A|⌉, so any container smaller than t·|A| shingles cannot
    # qualify — exact integer cross-multiplication, applied before the
    # distinct. Lossless (pair-level bound, independent of which
    # shingle collided). Measured at sf0.1 (median-of-5): candidates
    # 133 263 → 81 276, wall 1.57 s → 1.36 s, identical 505 result
    # rows. The FULL positional filter (rn on the container side too,
    # as in ngram_prefix_candidates) was A/B'd and REJECTED here: it
    # cuts candidates further (→ 72 662) but needs a second
    # freq-join + window pass over the whole posting index, netting
    # 1.56 s — the asymmetric index only ranks the containee side, so
    # container positions are not free the way both sides are in the
    # symmetric Jaccard self-join.
    # Shuffle WIDTH at the x30 tail — measured and REJECTED, round 9
    # (VERDICT r7 #5 / r8 carry-over). The x30 probe's 11.7× wall is a
    # straggler tail on these fixed-width-32 exchanges; every remedy
    # was A/B'd at x30 (median-of-3, one session, rows identical):
    #
    #   global AQE initialPartitionNum=256 : containment −13 %, but
    #     sibling dedup_ngram_jaccard +21 % (512: BOTH worse);
    #   global shuffle.partitions=64/256   : containment −29 %
    #     (21.3 → 15.1 s), ngram unchanged-to-worse — helps exactly
    #     one query, and conf cannot be scoped per query (SQLConf is
    #     read at execution, not when the DataFrame is built);
    #   query-local repartition(wide) on the cand/verify exchanges
    #     (this spot): 21.3 → 26.2 s — WORSE. The explicit exchanges
    #     cannot co-partition with the conf-width shuffles the planner
    #     inserts for the joins, so they are additive, not
    #     substitutive.
    #
    # So the conf width stands, and no query-local width is set here.
    # session.py sizes it to the session's cores (the numbers above were
    # taken at local[32], width 32), and a cluster deploys it at 2-3×
    # total cores, which IS the flat-width remedy the A/B shows
    # containment wants. The tail is a property of a narrow width
    # against x30 data, not of the operator's scale shape (candidates
    # stay linear; BENCH_scale.json).
    cand = (
        prefix.join(full, "s")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.col("sz_b").cast("bigint") * F.lit(den)
            >= F.lit(num) * F.col("sz_a").cast("bigint")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return sh, cand


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT directed shingle containment C(A→B) = |A∩B| / |A| ≥ t —
    the asymmetric near-dup test that catches excerpts, quotes, and
    wrapper boilerplate, which symmetric Jaccard structurally misses
    (a 50-shingle excerpt inside a 500-shingle page has J ≈ 0.1 but
    C = 1.0). Broder's containment measure (public literature).
    Candidate generation (asymmetric prefix index + size filter +
    the x30 shuffle-width adjudication) lives in
    :func:`containment_candidates`; this adds the exact-rational
    verify join."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    sh, cand = containment_candidates(docs, id_col, text_col, n, threshold)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(
            inter.cast("bigint") * F.lit(den)
            >= F.lit(num) * F.size("sh_a").cast("bigint")
        )
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.size("sh_a"), 6).alias("containment"),
        )
    )
