"""Semantic tests for LLM-pipeline ops the DuckDB oracle can't check
(Spark-only xxhash64 signatures, approximate algorithms)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import load_table
from jubilant_garbanzo_spark.operators import dedup as D
from jubilant_garbanzo_spark.operators import similarity as S


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH (32 perms, 8×4 bands) must find ≥90% of true J≥0.9 pairs
    (theoretical candidate prob at J=0.9 is 1-(1-0.9^4)^8 ≈ 0.9996),
    and every reported pair must satisfy its verified threshold."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = D.minhash_lsh_pairs(D.minhash_index(docs), threshold=0.9)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}

    # Exact all-pairs ground truth (bounded: sf0.001 → 500 docs).
    sh = docs.select(
        F.col("doc_id").alias("id"), D.shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            D.exact_jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"),
        )
        .filter(F.col("j") >= 0.9)
    )
    true_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}

    assert true_pairs, "fixture should contain near-duplicate documents"
    recall = len(lsh_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"
    assert lsh_pairs <= true_pairs | lsh_pairs  # sanity: no malformed ids


def test_minhash_no_false_positives_after_verify(spark, sf_dir):
    """The verify stage makes LSH output exact above the threshold:
    every reported jaccard must be ≥ the threshold."""
    docs = load_table(spark, sf_dir, "documents")
    rows = D.minhash_lsh_pairs(D.minhash_index(docs), threshold=0.8).collect()
    assert all(r["jaccard"] >= 0.8 for r in rows)


def test_simhash_identical_and_near_texts(spark):
    """Identical texts → identical fingerprints; a one-token edit on a
    long doc moves few bits; unrelated texts differ a lot."""
    base = " ".join(f"tok{i}" for i in range(100))
    edited = " ".join(("tok{}".format(i) if i != 50 else "CHANGED") for i in range(100))
    other = " ".join(f"zzz{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)], "id long, text string"
    )
    fp = D.simhash_fingerprints(df, id_col="id").select("id", F.col("simhash").alias("s"))
    pairs = (
        fp.alias("a")
        .crossJoin(fp.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            D.hamming_distance_bitstrings(F.col("a.s"), F.col("b.s")).alias("d"),
        )
    )
    d = {(r["ia"], r["ib"]): r["d"] for r in pairs.collect()}
    assert d[(1, 2)] == 0
    assert d[(1, 3)] <= 8, f"near-dup moved {d[(1,3)]} bits"
    assert d[(1, 4)] >= 16, f"unrelated docs only {d[(1,4)]} bits apart"


def test_ivf_recall_on_clustered_data(spark):
    """IVF probing 2/4 buckets must recover the exact top-10 when the
    data actually clusters (the fixture embeddings are unclustered
    random vectors, so recall there is meaningless — this constructs
    4 well-separated clusters deterministically)."""
    import math

    dim = 16
    rows = []
    for cluster in range(4):
        base = [math.sin(cluster * 37 + d) for d in range(dim)]
        for m in range(50):
            vec = [
                base[d] + 0.05 * math.sin(m * 13 + d + cluster) for d in range(dim)
            ]
            rows.append((cluster * 50 + m, cluster, [float(x) for x in vec]))
    e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    q = e.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {r["vec_id"] for r in S.brute_force_topk(e, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in S.ivf_topk(e, q, k=10, bucket_col="label", n_probe=2).collect()
    }
    assert len(exact & approx) >= 9, f"IVF recall {len(exact & approx)}/10"


def test_asof_join_semantics(spark):
    """as-of join edge cases: exact-timestamp match (<=), no prior row
    (NULL), tie on right timestamps (max tie_break wins)."""
    from jubilant_garbanzo_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 20), (3, 100, 5)], "eid long, k long, t long"
    )
    right = spark.createDataFrame(
        [(100, 10, 900), (100, 10, 901), (100, 15, 902)],
        "k long, rt long, rid long",
    )
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="t",
        right_ts="rt",
        right_value_cols=["rid"],
        tie_break="rid",
    )
    got = {r["eid"]: r["rid"] for r in out.collect()}
    assert got[1] == 901  # equal ts included; tie → max rid
    assert got[2] == 902  # latest prior
    assert got[3] is None  # nothing at or before t=5


def test_resize_matches_python_reference(spark):
    """Fake-resize through the full Arrow round-trip must equal the
    same nearest-neighbor computed driver-side."""
    from jubilant_garbanzo_spark.operators.multimodal import (
        _fake_resize,
        resize_payload,
    )

    rows = [(1, b"hello world"), (2, b""), (3, bytes(range(256)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: bytes(r["payload"]) for r in resize_payload(df, 8, 6).collect()}
    for doc_id, payload in rows:
        assert got[doc_id] == _fake_resize(payload, 8, 6)
        assert len(got[doc_id]) == (48 if payload else 0)


def _tiny_png(width: int = 3, height: int = 2, value: int = 128) -> bytes:
    """Hand-assembled valid 8-bit grayscale PNG (no image lib needed),
    so the real-kernel tests have genuine image bytes to decode."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([value]) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_kernel_gate_is_loud_when_pillow_absent(spark):
    """kernel='real' must fail fast (driver-side, not in a worker)
    when Pillow is missing — and the probe must reflect reality."""
    import importlib.util

    from jubilant_garbanzo_spark.operators import multimodal as M

    assert M.REAL_DECODERS_AVAILABLE == (importlib.util.find_spec("PIL") is not None)
    df = spark.createDataFrame([(1, _tiny_png())], "doc_id long, payload binary")
    if not M.REAL_DECODERS_AVAILABLE:
        with pytest.raises(NotImplementedError):
            M.decode_metadata(df, kernel="real")
        with pytest.raises(NotImplementedError):
            M.resize_payload(df, kernel="real")
    with pytest.raises(ValueError):
        M.decode_metadata(df, kernel="png")


def test_real_decode_kernel_reads_actual_png(spark):
    """Un-skips automatically once Pillow lands in the container: the
    real kernel must report true pixel dimensions, not the fake's
    byte-length arithmetic."""
    from jubilant_garbanzo_spark.operators import multimodal as M

    if not M.REAL_DECODERS_AVAILABLE:
        pytest.skip("Pillow not installed; real decode kernel inactive")
    df = spark.createDataFrame(
        [(1, _tiny_png(3, 2)), (2, _tiny_png(5, 4))], "doc_id long, payload binary"
    )
    meta = {r["doc_id"]: r for r in M.decode_metadata(df, kernel="real").collect()}
    assert (meta[1]["width"], meta[1]["height"], meta[1]["n_frames"]) == (3, 2, 1)
    assert (meta[2]["width"], meta[2]["height"]) == (5, 4)
    resized = M.resize_payload(df, 8, 6, kernel="real").collect()
    assert all(len(bytes(r["payload"])) == 48 for r in resized)


def test_feature_extract_matches_numpy_reference(spark):
    """Histogram features through mapInPandas must equal the numpy
    reference, L1-normalized to 1 for non-empty payloads."""
    import numpy as np

    from jubilant_garbanzo_spark.operators.multimodal import extract_features

    rows = [(1, b"abcabc"), (2, b""), (3, bytes(range(256)) * 3)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["features"] for r in extract_features(df, dim=16).collect()}
    for doc_id, payload in rows:
        if not payload:
            assert got[doc_id] == [0.0] * 16
            continue
        counts = np.bincount(
            np.frombuffer(payload, dtype=np.uint8) // 16, minlength=16
        )[:16]
        expect = (counts / counts.sum()).tolist()
        assert got[doc_id] == expect
        assert abs(sum(got[doc_id]) - 1.0) < 1e-4


def test_salted_join_equals_plain_join(spark):
    """Salting must be a pure physical rewrite: same rows, same schema,
    for inner and left joins, including unmatched keys and a hot key."""
    from jubilant_garbanzo_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, f"r{i}") for i in range(500)]  # hot key 1
        + [(2, "x"), (3, "y"), (99, "no-match")],
        "k long, payload string",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "b"), (3, "c"), (50, "unused")], "k long, tag string"
    )
    for how in ("inner", "left"):
        plain = big.join(small, "k", how).orderBy("k", "payload").collect()
        salted = salted_join(big, small, "k", how).orderBy("k", "payload").collect()
        assert salted == plain, how


def test_ngram_prefix_filter_is_lossless_and_bounded(spark, sf_dir):
    """The prefix-filtered candidate stage must (a) reproduce the naive
    all-pairs result exactly — the filter is a pure physical rewrite —
    and (b) keep inverted-index buckets bounded (rarest-first indexing
    leaves hot boilerplate shingles unindexed).

    Thresholds cover both a dyadic value (0.5, exact in FP) and a
    non-dyadic one (0.55, where double arithmetic makes 0.55*20 land at
    11.000000000000002 and a naive ceil would overshoot, shortening the
    prefix and silently dropping qualifying pairs — the bound must be
    computed in exact integer arithmetic)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), D.shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = D.exact_jaccard(F.col("sh_a"), F.col("sh_b"))
    for threshold in (0.5, 0.55):
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.ngram_jaccard_pairs(docs, threshold=threshold).collect()
        }
        naive = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .collect()
        }
        assert got == naive, threshold
        assert naive, "fixture should contain qualifying near-dup pairs"


def test_adaptive_bits_bounds_bucket_growth():
    """The geometry formula itself: expected bucket population
    N / 2^bits stays ≤ TARGET_BUCKET for every corpus size up to the
    MAX_BITS saturation point, and bits is monotone in N — the
    by-construction fix for the round-5 quadratic candidate blowup."""
    prev = 0
    for n in [1, 10, 500, 505, 2000, 2005, 6000, 20005, 100_000, 1_000_000]:
        bits = S.adaptive_bits(n)
        assert S.MIN_BITS <= bits <= S.MAX_BITS
        assert bits >= prev
        prev = bits
        if n > S.TARGET_BUCKET * 2**S.MIN_BITS and bits < S.MAX_BITS:
            assert n / 2**bits <= S.TARGET_BUCKET, (n, bits)
    # Exact power-of-two boundaries must not flap (integer arithmetic).
    assert S.adaptive_bits(S.TARGET_BUCKET * 32) == 5
    assert S.adaptive_bits(S.TARGET_BUCKET * 32 + 1) == 6


def test_hyperplane_kernel_matches_expression(spark, sf_dir):
    """The Arrow signature kernel (hyperplane_keys_full) must produce
    the IDENTICAL (id, band, key) set as the codegen HOF expression at
    the same width — the coordinate-sequential accumulation is the same
    left-to-right IEEE order as the fold, so sign bits cannot differ.
    Same equality discipline as the k-means dual kernel."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        S.as_double(F.col("embedding")).alias("v"),
    )
    kernel = {
        (r["id"], r["band"], r["key"])
        for r in S.hyperplane_keys_full(e, 64).collect()
    }
    expr = {
        (r["id"], r["band"], r["key"])
        for r in e.select(
            "id",
            F.posexplode(
                S.hyperplane_band_keys(F.col("v"), 64, S.MAX_BITS)
            ).alias("band", "key"),
        ).collect()
    }
    assert kernel == expr
    assert kernel, "fixture should produce signatures"


def test_effective_bits_widens_on_skew_and_matches_oracle(spark):
    """Skew adaptation end to end on a deliberately clustered corpus
    (10 tight clusters of 100 — hyperplanes rarely split a cluster, so
    collision mass at the uniform-formula width blows past the cap):
    effective_bits must (a) widen beyond the adaptive_bits floor and
    (b) agree EXACTLY with the DuckDB oracle CTE's ``eb`` selection —
    the same differential discipline as the adaptive_bits twin test,
    but through the full measured-mass grid."""
    import random

    import duckdb

    from jubilant_garbanzo_spark.queries.llm import _hyperplane_sig_cte

    rng = random.Random(7)
    rows = []
    vid = 0
    for _ in range(10):
        base = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(100):
            rows.append(
                (vid, [b + rng.uniform(-0.02, 0.02) for b in base], "x")
            )
            vid += 1
    n = len(rows)
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).select(F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v"))
    banded_full = S.hyperplane_keys_full(e, 64).localCheckpoint(eager=True)
    spark_bits = S.effective_bits(banded_full, n)
    assert spark_bits > S.adaptive_bits(n), "skew cap should engage"

    con = duckdb.connect()
    con.register(
        "embeddings_src",
        __import__("pandas").DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
            }
        ),
    )
    con.execute(
        "CREATE TABLE embeddings AS "
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, "
        "'x' AS label FROM embeddings_src"
    )
    duck_bits = con.execute(
        _hyperplane_sig_cte(seeded=False) + " SELECT bits FROM eb"
    ).fetchone()[0]
    assert duck_bits == spark_bits
    # The point-probe variant (lsh_topk's oracle) must select the
    # adaptive_bits FLOOR even on this skewed corpus — probe geometry
    # ignores pairwise collision mass by design (recall collapses
    # otherwise; see lsh_topk docstring).
    duck_floor = con.execute(
        _hyperplane_sig_cte(seeded=False, skew=False) + " SELECT bits FROM eb"
    ).fetchone()[0]
    assert duck_floor == S.adaptive_bits(n) < spark_bits


def test_effective_bits_saturates_on_unsplittable_corpus(spark):
    """A corpus of IDENTICAL vectors can never satisfy the mass cap
    (identical keys at every width), so the measured widening must
    terminate at MAX_BITS instead of looping or erroring — the
    planes-run-out clamp."""
    rows = [(i, [float(j % 5) for j in range(64)]) for i in range(200)]
    e = spark.createDataFrame(rows, "id long, v array<double>")
    banded = S.hyperplane_keys_full(e, 64).localCheckpoint(eager=True)
    assert S.effective_bits(banded, 200) == S.MAX_BITS


def test_hyperplane_band_buckets_bounded(spark, sf_dir):
    """Candidate buckets must be bounded by signature geometry: every
    (band, key) bucket well under the corpus size, and each band using
    a healthy share of its 2^bits key space — the property the removed
    label-column blocking could not guarantee."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    bits = S.adaptive_bits(n)
    banded = e.select(
        "vec_id",
        F.posexplode(
            S.hyperplane_band_keys(S.as_double(F.col("embedding")), 64, bits)
        ).alias("band", "key"),
    )
    sizes = banded.groupBy("band", "key").count()
    largest = sizes.agg(F.max("count")).collect()[0][0]
    assert largest <= n * 0.4, f"hot bucket {largest}/{n}"
    per_band = {
        r["band"]: r["n_keys"]
        for r in sizes.groupBy("band")
        .agg(F.countDistinct("key").alias("n_keys"))
        .collect()
    }
    assert len(per_band) == S.N_SIG_BANDS
    assert all(k >= 8 for k in per_band.values()), per_band


def test_duplicate_clusters_transitive_merge(spark):
    """A-B and B-C pairs must merge into one cluster labeled by the min
    id, even though A and C never paired; disjoint pairs stay separate;
    non-paired docs don't appear."""
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20}


def test_duplicate_clusters_chain_converges(spark):
    """Adversarial large-diameter component: a 50-node chain (diameter
    49) must converge at the DEFAULT max_iters — the pointer-jumping
    shortcut makes rounds O(log diameter), so plain O(diameter)
    propagation (which would need 49 rounds against the default budget
    of 25) is pinned as fixed. All 50 nodes label to the chain minimum."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 50)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in D.duplicate_clusters(pairs).collect()
    }
    assert got == {i: 1 for i in range(1, 51)}


def test_int8_quantization_reconstruction_bound(spark):
    """Symmetric int8 quantization must reconstruct every component to
    within half a quantization step (|x - q·scale| ≤ scale/2), hit the
    int8 range exactly, and map the max-magnitude component to ±127."""
    from jubilant_garbanzo_spark.queries import load_all

    spec = load_all()["embed_quantize_int8"]
    rows = spec.fn(spark, "/root/testdata/sf0.001").collect()
    src = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    }
    assert rows
    for r in rows:
        q = [int(s) for s in r["q_vec"].split(",")]
        x = src[r["vec_id"]]
        scale = r["scale"]
        assert len(q) == len(x)
        assert all(-127 <= qi <= 127 for qi in q)
        assert max(abs(qi) for qi in q) == 127
        # scale is rounded to 6dp for the oracle hash; allow that slack
        # on top of the half-step bound.
        for xi, qi in zip(x, q):
            assert abs(xi - qi * scale) <= scale / 2 + 1e-4


def test_containment_catches_excerpt_jaccard_misses(spark):
    """An excerpt fully inside a long document must score containment
    1.0 (directed A→B) while its Jaccard stays far below any dedup
    threshold — the asymmetric property the operator exists for."""
    from jubilant_garbanzo_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(8))  # prefix of base
    other = " ".join(f"x{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, base), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    # Excerpt → base is full containment; the reverse direction and the
    # unrelated doc must not appear.
    assert cont == {(2, 1): 1.0}, cont
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == [], jac


def test_adaptive_lsh_recall_at_higher_bits(spark):
    """The round-6 adaptive geometry must not silently destroy recall:
    on a corpus big enough to push the band width ABOVE the minimum
    (4000 vectors -> 7 bits/band), seeded near-exact duplicate pairs
    (tiny perturbation of one coordinate, cosine > 0.9999) must still
    collide in >= one band and survive similarity_join, and exact
    copies must ALWAYS collide (identical vectors => identical
    signatures at any width)."""
    import math

    n, dim = 4000, 16
    bits = S.adaptive_bits(n)
    assert bits > S.MIN_BITS, bits

    def vec(i: int) -> list[float]:
        # deterministic unit-ish vectors spread over the sphere
        return [
            math.sin(0.1 * i + 0.7 * j) + 0.01 * ((i * 31 + j * 17) % 7)
            for j in range(dim)
        ]

    rows = [(i, vec(i)) for i in range(n - 20)]
    # 10 exact copies + 10 near-exact (one coordinate nudged by 1e-4)
    for k in range(10):
        rows.append((10_000 + k, vec(k)))
        w = vec(10 + k)
        w[0] += 1e-4
        rows.append((20_000 + k, w))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in S.similarity_join(
            df, threshold=0.9999, dim=dim
        ).collect()
    }
    exact_found = sum(1 for k in range(10) if (k, 10_000 + k) in pairs)
    near_found = sum(1 for k in range(10) if (10 + k, 20_000 + k) in pairs)
    assert exact_found == 10, (exact_found, sorted(pairs)[:20])
    # near-exact pairs: sign-agreement per plane ~1 at cosine 0.9999;
    # allow one unlucky miss out of ten rather than flake
    assert near_found >= 9, (near_found, sorted(pairs)[:20])


def test_adaptive_k_geometry():
    """Cluster count grows linearly with corpus (flat per-cluster
    population), clamps at MIN_K below the first target boundary, and
    uses only integer arithmetic (exact at boundaries)."""
    assert S.adaptive_k(1) == S.MIN_K
    assert S.adaptive_k(S.MIN_K * S.TARGET_CLUSTER) == S.MIN_K
    assert S.adaptive_k(S.MIN_K * S.TARGET_CLUSTER + 1) == S.MIN_K + 1
    assert S.adaptive_k(100 * S.TARGET_CLUSTER) == 100


def test_lloyd_assignments_keep_exact_copies_together(spark, sf_dir):
    """An exact-copy vector must land in the same cluster as its
    original (identical quantized coordinates → identical distances →
    identical (dist, cid) argmin) — the property SemDeDup's
    cluster-scoped candidate generation rests on."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    a = S.lloyd_assignments(e.unionByName(probes), iters=2)
    cids = {r["vec_id"]: r["cid"] for r in a.collect()}
    for i in range(5):
        assert cids[i] == cids[i + 100000], (i, cids[i], cids[i + 100000])
    # Every vector got exactly one assignment.
    assert len(cids) == e.count() + 5


def test_lloyd_arrow_kernel_equals_expression_kernel(spark, sf_dir, monkeypatch):
    """The Arrow int64-matmul assignment and the JVM cross-join fold
    must produce IDENTICAL (vec_id, cid) assignments — both are the
    same exact integer recurrence, so the kernel switchover
    (ARROW_ASSIGN_CELLS) can never change results, only speed. The
    embed_kmeans_lloyd query runs the same operator, so under the Arrow
    kernel it must still match its oracle exactly."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.testing import compare_query

    e = load_table(spark, sf_dir, "embeddings")
    expr_path = {
        (r["vec_id"], r["cid"])
        for r in S.lloyd_assignments(e, iters=2).collect()
    }
    monkeypatch.setattr(S, "ARROW_ASSIGN_CELLS", 1)
    arrow_path = {
        (r["vec_id"], r["cid"])
        for r in S.lloyd_assignments(e, iters=2).collect()
    }
    assert expr_path == arrow_path
    problems = compare_query(spark, load_all()["embed_kmeans_lloyd"], sf_dir)
    assert not problems, problems[:3]


@pytest.mark.parametrize("arrow", [False, True], ids=["expression", "arrow"])
def test_lloyd_rejects_ragged_embeddings(spark, monkeypatch, arrow):
    """Embeddings of different lengths fail the assignment loudly under
    BOTH kernels — never a NULL distance that silently drops the
    vector from the (dist, cid) argmin."""
    if arrow:
        monkeypatch.setattr(S, "ARROW_ASSIGN_CELLS", 1)
    e = spark.createDataFrame(
        [(0, [0.5, 0.25, -0.5]), (1, [0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="ragged embedding: vec_id 1 has 2"):
        S.lloyd_assignments(e, k=1, iters=2).collect()


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing contract (SIGMOD'03): two documents sharing a
    token run of length ≥ w + k − 1 (= 8 here) MUST share at least one
    fingerprint hash — regardless of where the run sits in either
    document. Construct two docs that differ everywhere except an
    8-token run at different offsets and check the guarantee on the
    registered query's own pipeline."""
    from jubilant_garbanzo_spark.queries import load_all

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    doc_a = "a1 a2 a3 " + shared + " a4 a5 a6 a7 a8 a9"
    doc_b = "b1 b2 b3 b4 b5 b6 b7 " + shared + " b8 b9"
    import tempfile

    d = spark.createDataFrame(
        [(0, doc_a, "en", "s0", len(doc_a)), (1, doc_b, "en", "s1", len(doc_b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp(prefix="jg_winnow_")
    d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    # The registered overlap query keeps pairs with >= 3 shared
    # fingerprints; the guarantee itself promises >= 1, so check it on
    # the fingerprint sets directly (and sanity the per-doc counts).
    fps = {
        r["doc_id"]: r["n_fingerprints"]
        for r in load_all()["text_winnowing_fingerprints"].fn(spark, tmp).collect()
    }
    assert fps[0] >= 1 and fps[1] >= 1
    # Direct guarantee: recompute fingerprint sets and intersect.
    from pyspark.sql import Window, functions as F

    toks = d.select("doc_id", F.split("text", " ").alias("ts"))
    kg = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ts") - 4),
                lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i + 1, 4)),
            )
        ).alias("idx", "kgram"),
    ).select(
        "doc_id",
        F.col("idx").cast("bigint").alias("idx"),
        (
            F.conv(F.substring(F.md5("kgram"), 1, 15), 16, 10).cast("bigint")
            % 1000000007
        ).alias("h"),
    )
    m = kg.groupBy("doc_id").agg(F.count("*").alias("m"))
    w = Window.partitionBy("doc_id").orderBy("idx").rowsBetween(0, 4)
    sel = (
        kg.join(m, "doc_id")
        .select(
            "doc_id",
            "idx",
            "m",
            F.min(F.col("h") * 1048576 + F.col("idx")).over(w).alias("sel"),
        )
        .filter(F.col("idx") <= F.col("m") - 5)
        .select("doc_id", F.expr("sel DIV 1048576").alias("fp"))
        .distinct()
    )
    rows = sel.collect()
    s0 = {r["fp"] for r in rows if r["doc_id"] == 0}
    s1 = {r["fp"] for r in rows if r["doc_id"] == 1}
    assert s0 & s1, "8-token shared run produced no shared fingerprint"


def test_pq_adc_self_distance_equals_encode_error(spark, sf_dir):
    """The encode⇄search identity: the ADC distance from the query
    vector to its OWN code word must equal that row's err_scaled from
    pq_encode — both are Σ_s ||q_s − centroid(code_s)||² in scaled-int
    units. Catches any drift between the encoder's argmin keys and the
    search LUT (off-by-one subspace slicing, wrong centroid order)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    q_id, err = (
        S.pq_encode(e)
        .join(e.select("vec_id"), "vec_id")
        .orderBy(F.col("vec_id").desc())
        .select("vec_id", "err_scaled")
        .first()
    )
    ranked = S.pq_adc_topk(e, topk=n, exclude_self=False).collect()
    self_rows = [r for r in ranked if r["vec_id"] == q_id]
    assert len(self_rows) == 1, "query row missing with exclude_self=False"
    assert self_rows[0]["adc_dist"] == err, (self_rows[0]["adc_dist"], err)


def test_pq_adc_separates_constructed_clusters(spark):
    """On 4 well-separated clusters, every same-cluster vector must
    outrank every other-cluster vector under ADC (the sampled codebook
    contains members of each cluster, so same-cluster codes land on
    near centroids and cross-cluster sums dominate)."""
    import math

    dim = 64
    rows = []
    for cluster in range(4):
        base = [math.sin(cluster * 37 + d) for d in range(dim)]
        for i in range(50):
            vec = [
                base[d] + 0.02 * math.sin(i * 13 + d + cluster)
                for d in range(dim)
            ]
            rows.append((cluster * 50 + i, [float(x) for x in vec]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # query = max vec_id = 199, cluster 3 (ids 150..199)
    top = S.pq_adc_topk(e, topk=49).collect()
    got = {r["vec_id"] for r in top}
    assert got == set(range(150, 199)), sorted(got - set(range(150, 199)))


# -- BPE tokenizer apply (round 9) --------------------------------------------


def _py_bpe(word, merges):
    """Independent imperative reference: the GPT-2 bpe() loop (find
    lowest-rank pair, merge all occurrences left-to-right, repeat)."""
    ranks = {m: i for i, m in enumerate(merges)}
    toks = list(word)
    while len(toks) > 1:
        pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
        cand = [(ranks[p], p) for p in pairs if p in ranks]
        if not cand:
            break
        _, (a, b) = min(cand)
        out, i = [], 0
        while i < len(toks):
            if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def test_bpe_matches_gpt2_reference_loop(spark):
    """The unrolled HOF pipeline must equal the imperative GPT-2 merge
    loop word-for-word — including greedy-order pre-emption ("data" →
    [d, at, a] because (a,t) outranks (d,a)), completed chains
    ("batch"), repeated merges in one pass ("thethe"), and
    single-char/unmergeable words."""
    from jubilant_garbanzo_spark.operators import bpe as BPE

    words = [
        "the", "data", "join", "batch", "merge", "sort", "customer",
        "scan", "window", "a", "aaaa", "filter", "stream", "thethe",
        "sorting", "vector", "column", "query", "thee", "batchbatch",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["tokens"])
        for r in BPE.bpe_tokens(df).collect()
    }
    for w in words:
        assert got[w] == _py_bpe(w, BPE.MERGES), w


def test_bpe_corpus_reaches_fixpoint_within_n_rounds(spark, sf_dir):
    """N_ROUNDS must cover the longest merge chain on the real corpus:
    after N_ROUNDS no ranked pair may remain in any word (otherwise
    the unrolled plan silently under-merges)."""
    from jubilant_garbanzo_spark.operators import bpe as BPE

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    toks = BPE.bpe_tokens(words, "word", "tokens")
    leftovers = toks.filter(
        BPE.mergeable_rank_min("tokens").isNotNull()
    ).count()
    assert leftovers == 0


# -- URL canonicalization (round 9) -------------------------------------------


def test_url_canonicalization_cases(spark):
    """Closed-form expectations for each normalization rule, plus the
    rule that REAL query params survive in original order."""
    from jubilant_garbanzo_spark.operators import textops as TX

    cases = [
        ("HTTP://WWW.Example.COM:80/a//b/?utm_source=x#f",
         "https://example.com/a/b"),
        ("https://Example.com:443/a/", "https://example.com/a"),
        ("https://example.com//", "https://example.com/"),
        ("https://example.com/p?lang=en&utm_medium=m&page=2",
         "https://example.com/p?lang=en&page=2"),
        ("http://sub.example.com/p?fbclid=1&gclid=2&ref=3",
         "https://sub.example.com/p"),
        ("https://example.com/p?utm_campaign=a", "https://example.com/p"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = {
        r["raw"]: r["canon"]
        for r in df.select(
            "raw", TX.canonicalize_url(F.col("raw")).alias("canon")
        ).collect()
    }
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw], want)


def test_url_dedup_group_shape(spark, sf_dir):
    """The synthesized mess packs exactly 2 variants per canonical URL
    (10 consecutive doc_ids x 5 host residues), and every canonical
    matches the closed form https://site{m}.example.com/docs/page-{g}
    with ?lang=en on g % 4 == 0 groups."""
    import re

    from jubilant_garbanzo_spark.queries.llm import text_url_canonical_dedup

    rows = text_url_canonical_dedup(spark, sf_dir).collect()
    assert rows, "dedup produced no groups"
    pat = re.compile(
        r"^https://site[0-4]\.example\.com/docs/page-\d+(\?lang=en)?$"
    )
    for r in rows:
        assert r["n_copies"] == 2, r
        assert pat.match(r["canonical_url"]), r["canonical_url"]
        g = int(r["canonical_url"].split("page-")[1].split("?")[0])
        assert (
            r["canonical_url"].endswith("?lang=en") == (g % 4 == 0)
        ), r["canonical_url"]


def test_bpe_training_matches_sennrich_loop(spark, sf_dir):
    """train_merges must equal the imperative Sennrich get_stats/merge
    loop on the real corpus — ranks, pairs, merged tokens AND weighted
    counts (which pins the non-overlap pair-count semantics, not just
    the argmax order)."""
    from collections import Counter

    from jubilant_garbanzo_spark.operators import bpe as BPE

    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    expected = []
    for r in range(BPE.N_TRAIN_MERGES):
        stats = Counter()
        for w, toks in words.items():
            for i in range(len(toks) - 1):
                stats[(toks[i], toks[i + 1])] += vocab[w]
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        a, b = best
        expected.append((r, a, b, a + b, stats[best]))
        for w, toks in words.items():
            out, i = [], 0
            while i < len(toks):
                if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            words[w] = out

    wdf = spark.createDataFrame(
        [(w, c) for w, c in vocab.items()], "word string, cnt long"
    )
    got = [
        (r["merge_rank"], r["a"], r["b"], r["merged"], r["weighted_count"])
        for r in BPE.train_merges(wdf).collect()
    ]
    assert got == expected


def test_ivfpq_matches_numpy_reference(spark, sf_dir):
    """Third independent replay of the full IVFADC system: NumPy
    computes shifted-floor-div coarse centroids, residuals, the
    md5-sampled residual codebook, dist*k+j codes, bucket probing and
    per-bucket ADC — the Spark result must match tuple-for-tuple
    (which pins the integer discipline, not just the ranking)."""
    import hashlib

    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    got = [
        (r["q_id"], r["vec_id"], r["bkt"], r["adc_dist"])
        for r in S.ivfpq_adc_topk(e).collect()
    ]

    rows = e.select("vec_id", "label", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    bkt = np.array([r["label"] for r in rows], dtype=np.int64)
    V = np.array(
        [[round(float(x) * 1e6) for x in r["embedding"]] for r in rows],
        dtype=np.int64,
    )
    m, k, dim, scale, n_probe, topk = 4, 16, 64, 1_000_000, 2, 10
    sub = dim // m
    cent = {}
    for b in np.unique(bkt):
        X = V[bkt == b]
        sq = X.sum(axis=0).astype(np.int64)
        n = X.shape[0]
        cent[b] = (2 * sq + n * 4 * scale + n) // (2 * n) - 2 * scale
    R = np.stack([V[i] - cent[bkt[i]] for i in range(len(ids))])
    h = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
    order = sorted(range(len(ids)), key=lambda i: (h[i], ids[i]))[:k]
    CB = R[order]
    codes = np.zeros((len(ids), m), dtype=np.int64)
    for s in range(m):
        d = (
            (R[:, None, s * sub : (s + 1) * sub]
             - CB[None, :, s * sub : (s + 1) * sub]) ** 2
        ).sum(axis=2)
        keys = d * k + np.arange(k)[None, :]
        codes[:, s] = keys.min(axis=1) % k
    qidx = int(np.argmax(ids))
    q_id, qi = ids[qidx], V[qidx]
    probed = sorted(
        cent, key=lambda b: (int(((qi - cent[b]) ** 2).sum()), b)
    )[:n_probe]
    cand = []
    for b in probed:
        qr = qi - cent[b]
        lut = np.zeros((m, k), dtype=np.int64)
        for s in range(m):
            lut[s] = (
                (qr[s * sub : (s + 1) * sub][None, :]
                 - CB[:, s * sub : (s + 1) * sub]) ** 2
            ).sum(axis=1)
        for i in range(len(ids)):
            if bkt[i] != b or ids[i] == q_id:
                continue
            cand.append(
                (int(q_id), int(ids[i]), int(b),
                 sum(int(lut[s][codes[i, s]]) for s in range(m)))
            )
    cand.sort(key=lambda t: (t[3], t[1]))
    assert got == cand[:topk]


def test_irls_calibration_matches_numpy_newton(spark, sf_dir):
    """Third replay of the calibration recurrence in NumPy — including
    the micro-quantization of the per-row sigmoid and the exact-integer
    moment sums, so the test pins the numeric DISCIPLINE, not just an
    approximate fit. Also sanity: round 2 must move the intercept
    toward the base rate (beta monotone step, det > 0)."""
    import numpy as np

    from jubilant_garbanzo_spark.operators import textops as TX
    from jubilant_garbanzo_spark.queries.llm import text_quality_calibration

    got = {
        r["irls_round"]: (r["beta0"], r["beta1"])
        for r in text_quality_calibration(spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    W = [
        (j * TX.WEIGHT_MIX) % TX.WEIGHT_MOD - TX.WEIGHT_OFF
        for j in range(TX.HASH_DIM)
    ]
    import hashlib

    xs, ys = [], []
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        wsum = sum(
            W[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % TX.HASH_DIM]
            for t in toks
        )
        x = (wsum + TX.BIAS_MILLI * len(toks)) / (1000.0 * len(toks))
        xs.append(x)
        ys.append(1 if r["n_chars"] >= 300 else 0)
    x = np.array(xs)
    xm = np.array([int(np.floor(v * 1000.0 + 0.5)) if v >= 0
                   else -int(np.floor(-v * 1000.0 + 0.5)) for v in xs],
                  dtype=np.int64)
    y = np.array(ys, dtype=np.int64)

    beta = (0.0, 0.0)
    exp_rounds = {}
    for rnd in (1, 2):
        eta = beta[0] + beta[1] * x
        p = 1.0 / (1.0 + np.exp(-eta))
        pmu = np.array([int(np.floor(v * 1e6 + 0.5)) for v in p],
                       dtype=np.int64)
        w12 = pmu * (1000000 - pmu)
        ru = y * 1000000 - pmu
        swd = int(w12.sum()) / 1e12
        swxd = int((w12 * xm).sum()) / 1e15
        swxxd = int((w12 * xm * xm).sum()) / 1e18
        srd = int(ru.sum()) / 1e6
        srxd = int((ru * xm).sum()) / 1e9
        det = swd * swxxd - swxd * swxd
        assert det > 0
        beta = (
            beta[0] + (swxxd * srd - swxd * srxd) / det,
            beta[1] + (swd * srxd - swxd * srd) / det,
        )
        exp_rounds[rnd] = (round(beta[0], 6), round(beta[1], 6))

    for rnd in (1, 2):
        assert abs(got[rnd][0] - exp_rounds[rnd][0]) < 2e-6, (rnd, got, exp_rounds)
        assert abs(got[rnd][1] - exp_rounds[rnd][1]) < 2e-6, (rnd, got, exp_rounds)


def test_url_canonicalization_malformed_returns_null(spark):
    """Non-URL inputs (bare hosts, scheme-relative, garbage) must map
    to NULL, not silently collapse into the single 'https:///' group
    (ADVICE r9)."""
    from jubilant_garbanzo_spark.operators import textops as TX

    bad = ["example.com/path", "//cdn.example.com/x", "not a url", ""]
    ok = "https://example.com/p"
    df = spark.createDataFrame([(r,) for r in bad + [ok]], "raw string")
    got = {
        r["raw"]: r["canon"]
        for r in df.select(
            "raw", TX.canonicalize_url(F.col("raw")).alias("canon")
        ).collect()
    }
    for raw in bad:
        assert got[raw] is None, (raw, got[raw])
    assert got[ok] == ok


def test_short_doc_shingles_do_not_crash_sparse_and_heaps(spark):
    """Docs under 3 words used to hit sequence(1, 0) == [1, 0] and
    throw INVALID_ARRAY_INDEX under ANSI mode (ADVICE r9 medium).
    Both 3-gram HOF queries must skip such docs instead."""
    import tempfile

    from jubilant_garbanzo_spark.queries.llm import (
        text_heaps_law,
        text_sparse_tfidf_cosine,
    )

    rows = [
        (0, "tiny", "en", "s0", 4),
        (1, "two words", "en", "s0", 9),
        (2, "alpha beta gamma delta epsilon zeta", "en", "s1", 35),
        (3, "alpha beta gamma delta epsilon zeta", "en", "s1", 35),
        (4, "one two three four five six", "en", "s2", 27),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="jg_shortdoc_")
    d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    pairs = text_sparse_tfidf_cosine(spark, tmp).collect()
    assert all(r["id_a"] >= 2 and r["id_b"] >= 2 for r in pairs)
    assert any(r["id_a"] == 2 and r["id_b"] == 3 for r in pairs)
    heaps = text_heaps_law(spark, tmp).collect()
    assert heaps, "heaps fit produced no grid rows"


def test_dsir_resample_enriches_target_language(spark, sf_dir):
    """The selected top-K must be enriched in the target slice
    (lang='en') relative to the raw corpus — the entire point of
    importance resampling — and ranks must be a dense 1..K with
    weights non-increasing."""
    from jubilant_garbanzo_spark.queries import load_all

    rows = load_all()["text_dsir_resample"].fn(spark, sf_dir).collect()
    assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == list(
        range(1, len(rows) + 1)
    )
    ordered = sorted(rows, key=lambda r: r["rnk"])
    assert all(
        a["logw_micro"] >= b["logw_micro"]
        for a, b in zip(ordered, ordered[1:])
    )
    en_sel = sum(1 for r in rows if r["lang"] == "en") / len(rows)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    en_raw = d.filter(F.col("lang") == "en").count() / d.count()
    assert en_sel > en_raw, (en_sel, en_raw)


def _imperative_bpe_train_apply(texts, n_merges):
    """Reference loop: Sennrich training then GPT-2 greedy apply of
    the learned rank table, both imperative Python."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        stats = Counter()
        for w, toks in words.items():
            for i in range(len(toks) - 1):
                stats[(toks[i], toks[i + 1])] += vocab[w]
        if not stats:
            break
        a, b = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        for w, toks in words.items():
            out, i = [], 0
            while i < len(toks):
                if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            words[w] = out
    rank = {m: r for r, m in enumerate(merges)}

    def apply_word(w):
        toks = list(w)
        while True:
            cand = [
                (rank[(toks[i], toks[i + 1])], i)
                for i in range(len(toks) - 1)
                if (toks[i], toks[i + 1]) in rank
            ]
            if not cand:
                return toks
            r = min(c[0] for c in cand)
            a, b = merges[r]
            out, i = [], 0
            while i < len(toks):
                if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out

    freq = Counter()
    for w, c in vocab.items():
        for tok in apply_word(w):
            freq[tok] += c
    return merges, freq


def test_bpe_roundtrip_matches_imperative_train_apply(spark, sf_dir):
    """text_bpe_roundtrip (distributed train → learned-table apply)
    must equal the imperative train→apply reference loop on the real
    corpus: same top-40 token frequencies. Also pins the fixpoint: no
    learned pair survives in any word after N_TRAIN_MERGES apply
    rounds."""
    from jubilant_garbanzo_spark.operators import bpe as BPE
    from jubilant_garbanzo_spark.queries import load_all

    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    merges, freq = _imperative_bpe_train_apply(texts, BPE.N_TRAIN_MERGES)
    want = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:40]

    got = [
        (r["token"], r["freq"])
        for r in load_all()["text_bpe_roundtrip"].fn(spark, sf_dir).collect()
    ]
    assert got == want

    # Fixpoint: re-run the engine apply with the learned table and
    # probe for any remaining ranked pair.
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    toks = BPE.bpe_tokens(
        wc, "word", "tokens",
        rounds=len(merges), merges=tuple(merges),
    )
    leftover = toks.filter(
        BPE.mergeable_rank_min("tokens", tuple(merges)).isNotNull()
    ).count()
    assert leftover == 0


def test_cluster_keep_best_retention_properties(spark, sf_dir):
    """dedup_cluster_keep_best: whole-corpus verdict, exactly one
    keeper per cluster, and the keeper is the (n_words DESC, doc_id
    ASC) argmax of its cluster — checked against a per-cluster replay."""
    from jubilant_garbanzo_spark.queries import load_all

    rows = load_all()["dedup_cluster_keep_best"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count(), "one verdict row per corpus doc"

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["is_kept"]]
        assert len(kept) == 1, f"cluster {cid}: {len(kept)} keepers"
        best = sorted(members, key=lambda m: (-m["n_words"], m["doc_id"]))[0]
        assert kept[0]["doc_id"] == best["doc_id"]

    # The cluster labels agree with dedup_cluster_cc on clustered docs.
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in load_all()["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    }
    mine = {r["doc_id"]: r["cluster_id"] for r in rows}
    for doc_id, cid in cc.items():
        assert mine[doc_id] == cid


def test_ngram_novelty_first_doc_and_mass_conservation(spark, sf_dir):
    """text_ngram_novelty: the corpus-min doc is 100% novel, every
    novel count is attributed exactly once (sums to the corpus distinct
    shingle count), and an exact duplicate of an earlier doc scores 0."""
    from jubilant_garbanzo_spark.queries import load_all

    rows = load_all()["text_ngram_novelty"].fn(spark, sf_dir).collect()
    first_doc = min(r["doc_id"] for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[first_doc]["novelty"] == 1.0

    docs = load_table(spark, sf_dir, "documents")
    total_distinct = (
        docs.select(F.explode(D.shingles(F.col("text"))).alias("s"))
        .select("s")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == total_distinct

    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_shingles"]

    # Exact-duplicate pairs in the fixture: the later doc is 0% novel.
    dup_later = (
        docs.alias("a")
        .join(
            docs.alias("b"),
            (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
            "left_semi",
        )
        .select("a.doc_id")
        .collect()
    )
    for r in dup_later:
        assert by_id[r["doc_id"]]["n_novel"] == 0, r["doc_id"]


def test_suffix_ranks_match_imperative_reference(spark):
    """Prefix-doubling suffix ranks vs a brute-force Python ranking on
    a corpus engineered for the tricky cases: equal whole suffixes
    (exact-dup docs), one suffix a prefix of another, 1-token docs,
    and a cross-doc repeated span."""
    from jubilant_garbanzo_spark.operators import suffixarray as SA

    rows = [
        (1, "b a n a n a"),
        (2, "b a n a n a"),          # exact duplicate of doc 1
        (3, "a n a"),                # suffix of doc 1's tail
        (4, "z"),                    # 1-token doc
        (5, "q w b a n a n a q w"),  # embeds doc 1 as an inner span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in SA.suffix_ranks(df).collect()
    }

    suffixes = {}
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        for p in range(len(toks)):
            suffixes[(doc_id, p)] = tuple(toks[p:p + (1 << SA.ROUNDS)])
    ordered = sorted(set(suffixes.values()))
    want = {
        k: ordered.index(v) + 1 for k, v in suffixes.items()
    }
    assert got == want

    # Exact-duplicate docs collide rank-for-rank; distinct suffixes
    # never collide.
    for p in range(6):
        assert got[(1, p)] == got[(2, p)]
    assert got[(1, 1)] == got[(5, 3)] or suffixes[(1, 1)] != suffixes[(5, 3)]


def test_longest_dup_substring_finds_planted_span(spark, tmp_path):
    """Plant a known longest repeated span in an otherwise
    repetition-free corpus; the top row must find exactly it, in both
    the cross-doc and the within-doc placement."""
    from jubilant_garbanzo_spark.queries import load_all

    span = " ".join(f"dup{i}" for i in range(9))
    rows = [
        (1, "src", f"a1 b1 c1 {span} d1 e1"),
        (2, "src", f"x2 {span} y2 z2 w2 v2"),
        (3, "src", " ".join(f"u{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    out = load_all()["text_longest_dup_substring"].fn(spark, sf).collect()
    top = out[0]
    assert top["lcp"] == 9
    assert {top["doc_a"], top["doc_b"]} == {1, 2}
    assert (top["doc_a"], top["pos_a"]) in {(1, 3), (2, 1)}
    # Every reported lcp is consistent with a direct token comparison.
    toks = {r[0]: [t for t in r[2].split(" ") if t] for r in rows}
    for r in out:
        a = toks[r["doc_a"]][r["pos_a"]:]
        b = toks[r["doc_b"]][r["pos_b"]:]
        lcp = 0
        for x, y in zip(a, b):
            if x != y:
                break
            lcp += 1
        assert r["lcp"] == min(lcp, 128) or (
            lcp >= 128 and r["lcp"] == 128
        ), r


def test_cluster_incremental_frozen_old_labels(spark, tmp_path):
    """New docs (doc_id % 5 == 4) must inherit FROZEN old cluster ids,
    transitively through new-new edges; unmatched new components mint a
    new cluster labeled by their min doc id."""
    from jubilant_garbanzo_spark.queries import load_all

    y = " ".join(f"y{i}" for i in range(40))
    x = " ".join(f"x{i}" for i in range(40))
    z = " ".join(f"z{i}" for i in range(40))
    rows = [
        (1, "src", y), (2, "src", y),      # old near-dup pair -> cluster 1
        (21, "src", x),                    # old singleton holding text x
        (22, "src", z + " tail22"),        # old, unrelated
        (9, "src", y),                     # new, dup of old 2 -> cluster 1
        (14, "src", x), (19, "src", x),    # new-new chain; 19 ~ old 21
        (24, "src", " ".join(f"q{i}" for i in range(40))),  # new singleton
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    got = {
        r["doc_id"]: (r["cluster_id"], r["is_new_cluster"])
        for r in load_all()["dedup_cluster_incremental"].fn(spark, sf).collect()
    }
    assert set(got) == {9, 14, 19, 24}, "verdicts for the new batch only"
    assert got[9] == (1, False)     # direct old match, frozen label 1
    assert got[14] == (21, False)   # transitive via new 19 -> old 21
    assert got[19] == (21, False)
    assert got[24] == (24, True)    # no old chain -> new cluster


def test_span_corruption_reconstructs_original(spark, tmp_path):
    """inputs ∪ targets must reconstruct the original text exactly:
    substituting sentinel k in inputs with target span k yields the
    source tokens; geometry is one 3-span per full 20-token window."""
    import re

    from jubilant_garbanzo_spark.queries import load_all

    rows = [
        (7, "src", " ".join(f"t{i}" for i in range(47))),   # 2 full windows
        (8, "src", " ".join(f"s{i}" for i in range(19))),   # 0 windows
        (9, "src", " ".join(f"u{i}" for i in range(20))),   # exactly 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    out = {
        r["doc_id"]: r
        for r in load_all()["text_span_corruption"].fn(spark, sf).collect()
    }
    assert out[7]["n_spans"] == 2 and out[8]["n_spans"] == 0
    assert out[8]["inputs"] == rows[1][2]
    assert out[8]["targets"] == "<extra_id_0>"

    for doc_id, _, text in rows:
        r = out[doc_id]
        # parse targets: '<extra_id_k> tok tok tok ... <extra_id_ns>'
        spans = {}
        parts = re.split(r"<extra_id_(\d+)>", r["targets"])
        for k, body in zip(parts[1::2], parts[2::2]):
            spans[int(k)] = body.strip().split() if body.strip() else []
        rebuilt = []
        for tok in r["inputs"].split(" "):
            m = re.fullmatch(r"<extra_id_(\d+)>", tok)
            rebuilt.extend(spans[int(m[1])] if m else [tok])
        assert rebuilt == text.split(" "), doc_id
        assert len(spans.get(r["n_spans"], [])) == 0  # terminal sentinel


def test_kneser_ney_matches_python_reference(spark, tmp_path):
    """Exact-integer KN probabilities vs an imperative float KN
    implementation on a tiny corpus (agreement within the nano-nat
    quantization)."""
    import math
    from collections import Counter, defaultdict

    from jubilant_garbanzo_spark.queries import load_all

    rows = [
        (1, "src", "a b a b c a b"),
        (2, "src", "b c a a b b c"),
        (3, "src", "c c a b a c b a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    docs = {r[0]: r[2].split() for r in rows}
    bigrams = {d: list(zip(t, t[1:])) for d, t in docs.items()}
    c2 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter(b[0] for bs in bigrams.values() for b in bs)
    t1 = defaultdict(set)
    t2 = defaultdict(set)
    for (w1, w2) in c2:
        t1[w1].add(w2)
        t2[w2].add(w1)
    tt = len(c2)
    d_disc = 0.75

    def p_kn(w1, w2):
        return (c2[(w1, w2)] - d_disc) / c1[w1] + (
            d_disc * len(t1[w1]) / c1[w1]
        ) * (len(t2[w2]) / tt)

    want = {
        doc: sum(-math.log(p_kn(*b)) for b in bs) / len(bs)
        for doc, bs in bigrams.items()
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_kn_nll"])
        for r in load_all()["text_kneser_ney_nll"].fn(spark, sf).collect()
    }
    for doc, bs in bigrams.items():
        assert got[doc][0] == len(bs)
        assert abs(got[doc][1] - want[doc]) < 1e-5, doc
    # KN probabilities over every continuation of a context sum to 1.
    for w1 in c1:
        s = sum(p_kn(w1, w2) for w2 in t1[w1])
        lam = d_disc * len(t1[w1]) / c1[w1]
        missing = sum(
            lam * len(t2[w2]) / tt for w2 in t2 if (w1, w2) not in c2
        )
        assert abs(s + missing - 1.0) < 1e-9, w1


def test_suffix_ranks_randomized_small_alphabet(spark):
    """Seeded random corpus over a 3-letter alphabet (maximal tie /
    shared-prefix structure) vs the brute-force Python ranking."""
    import random

    from jubilant_garbanzo_spark.operators import suffixarray as SA

    rng = random.Random(1234)
    rows = [
        (i, " ".join(rng.choice("ab c".split() + ["ab", "ca"])
                     for _ in range(rng.randint(1, 25))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in SA.suffix_ranks(df).collect()
    }
    suffixes = {}
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        for p in range(len(toks)):
            suffixes[(doc_id, p)] = tuple(toks[p:p + (1 << SA.ROUNDS)])
    ordered = sorted(set(suffixes.values()))
    want = {k: ordered.index(v) + 1 for k, v in suffixes.items()}
    assert got == want


def test_span_corruption_randomized_lengths(spark, tmp_path):
    """Reconstruction + geometry across every window-boundary length
    0..45 (includes the empty doc and exact multiples of 20)."""
    import re

    from jubilant_garbanzo_spark.queries import load_all

    rows = [
        (n, "src", " ".join(f"w{n}_{i}" for i in range(n)))
        for n in range(0, 46)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    out = {
        r["doc_id"]: r
        for r in load_all()["text_span_corruption"].fn(spark, sf).collect()
    }
    for n, _, text in rows:
        r = out[n]
        assert r["n_tokens"] == n and r["n_spans"] == n // 20
        spans = {}
        parts = re.split(r"<extra_id_(\d+)>", r["targets"])
        for k, body in zip(parts[1::2], parts[2::2]):
            spans[int(k)] = body.strip().split() if body.strip() else []
        rebuilt = []
        for tok in (r["inputs"].split(" ") if r["inputs"] else []):
            m = re.fullmatch(r"<extra_id_(\d+)>", tok)
            rebuilt.extend(spans[int(m[1])] if m else [tok])
        assert rebuilt == (text.split(" ") if text else []), n
        assert all(len(spans[k]) == 3 for k in range(n // 20)), n


def test_cluster_incremental_no_bridge_through_shared_old_cluster(
    spark, tmp_path
):
    """A shared old-cluster seed must be a component ATTRIBUTE, never a
    transit node: new docs 4 and 9 both seed to old cluster 10 (via
    different anchors), 9 additionally chains new-new to 14 whose seed
    is the smaller old cluster 3 — doc 4 has NO new-new path to 14 and
    must stay in cluster 10, not be dragged to 3 through the shared
    virtual node (the round-10 review finding)."""
    from jubilant_garbanzo_spark.operators import dedup as D
    from jubilant_garbanzo_spark.queries import load_all

    # All edits are chosen to flip EXACTLY 4 of the 38 3-gram shingles
    # (J_sh = 34/42 = 0.81 >= 0.8): 4-token swaps at the head/tail
    # edges, 2-token swaps mid-doc. Second-degree pairs accumulate two
    # disjoint edits (J_sh = 30/46 = 0.65 < 0.8), so the chain is a
    # path, not a clique.
    T = [f"t{i}" for i in range(40)]

    def swap(base, lo, n, tag):
        out = list(base)
        for j in range(n):
            out[lo + j] = f"{tag}{j}"
        return out

    A = T                              # doc 10 (old)
    B = swap(A, 0, 4, "b")             # doc 15 (old): ~10
    x4 = swap(A, 36, 4, "x")           # doc 4 (new): ~10 only
    y9 = swap(B, 36, 4, "y")           # doc 9 (new): ~15 only
    z14 = swap(y9, 18, 2, "z")         # doc 14 (new): ~9
    c3 = swap(z14, 0, 4, "c")          # doc 3 (old): ~14 only
    rows = [
        (10, "src", " ".join(A)),
        (15, "src", " ".join(B)),
        (3, "src", " ".join(c3)),
        (4, "src", " ".join(x4)),
        (9, "src", " ".join(y9)),
        (14, "src", " ".join(z14)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    # Pin the pair structure this test depends on (loud failure if the
    # banding geometry ever shifts): 10-15 old-old, 4-10, 9-15, 3-14
    # seeds, 9-14 new-new; crucially NO 4-9 and NO 4-14 edge.
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            D.minhash_index(docs), threshold=0.8
        ).collect()
    }
    assert got_pairs == {(10, 15), (4, 10), (9, 15), (3, 14), (9, 14)}, (
        got_pairs
    )

    out = {
        r["doc_id"]: (r["cluster_id"], r["is_new_cluster"])
        for r in load_all()["dedup_cluster_incremental"].fn(spark, sf).collect()
    }
    assert set(out) == {4, 9, 14}
    assert out[4] == (10, False), "4 must NOT be bridged to cluster 3"
    assert out[9] == (3, False)   # new-new chain to 14 reaches cluster 3
    assert out[14] == (3, False)


def test_global_shuffle_permutation_invariants(spark, sf_dir):
    """pipeline_global_shuffle must be a seeded PERMUTATION: positions
    are a bijection onto 1..N, shard sizes are exactly _GS_SHARD
    except the ragged last shard, and the assignment is deterministic
    across independent evaluations (seed-keyed md5, no RNG, no
    partitioning dependence)."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.pipeline import _GS_SHARD

    fn = load_all()["pipeline_global_shuffle"].fn
    rows = fn(spark, sf_dir).collect()
    n = len(rows)
    pos = sorted(r["global_pos"] for r in rows)
    assert pos == list(range(1, n + 1)), "positions not a bijection"
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    last = max(by_shard)
    for sid, sp in by_shard.items():
        expect = _GS_SHARD if sid < last else n - last * _GS_SHARD
        assert len(sp) == expect, (sid, len(sp))
        assert sorted(sp) == list(range(len(sp))), sid
    again = {r["doc_id"]: r["global_pos"] for r in fn(spark, sf_dir).collect()}
    assert again == {r["doc_id"]: r["global_pos"] for r in rows}


def test_phash_dedup_exact_dup_and_kernel_reference(spark, tmp_path):
    """dHash properties: (a) identical payloads pair at hamming 0;
    (b) the kernel matches a direct Python replay of the
    resample-and-compare definition; (c) pairs beyond the radius (or
    sharing no 16-bit band) never surface."""
    from jubilant_garbanzo_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
        _dhash_kernel,
    )
    from jubilant_garbanzo_spark.queries import load_all

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, "src", base),
        (2, "src", base),                 # exact payload dup of 1
        (3, "src", "Z" * 200),            # constant bytes: all-zero hash
        (4, "src", " ".join(f"q{i}x{i * 7 % 13}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    # kernel vs direct replay
    for _, _, text in rows:
        payload = text.encode()
        n, target = len(payload), DHASH_W * DHASH_H
        g = bytes(payload[(i * n) // target] for i in range(target))
        want = "".join(
            "1" if g[r * DHASH_W + c] > g[r * DHASH_W + c + 1] else "0"
            for r in range(DHASH_H)
            for c in range(DHASH_W - 1)
        )
        assert _dhash_kernel(payload) == want
    assert _dhash_kernel(b"") is None

    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in load_all()["multimodal_phash_dedup"].fn(spark, sf).collect()
    }
    assert out[(1, 2)] == 0
    # doc 3's hash is all zeros; docs 1/4 are text-like — any pair with
    # 3 that survives banding must still clear the radius to appear.
    for pair, hd in out.items():
        assert hd <= 20, (pair, hd)


def _exactsubstr_python_replay(texts: dict[int, str], k: int = 8):
    """Independent imperative replay of the EXACTSUBSTR cut: span
    inventory → ≥2-occurrence groups → corpus-order canonical keeper →
    covered-position union → cleaned text + stats."""
    toks = {d: [t for t in s.split(" ") if t] for d, s in texts.items()}
    groups: dict[tuple, list] = {}
    for d in sorted(toks):
        ws = toks[d]
        for p in range(len(ws) - k + 1):
            groups.setdefault(tuple(ws[p : p + k]), []).append((d, p))
    covered: dict[int, set] = {d: set() for d in toks}
    for occ in groups.values():
        if len(occ) < 2:
            continue
        for d, p in sorted(occ)[1:]:
            covered[d].update(range(p, p + k))
    out = {}
    for d, ws in toks.items():
        if not ws:
            continue
        cut = covered[d]
        kept = [t for i, t in enumerate(ws) if i not in cut]
        out[d] = (
            len(ws),
            len(cut),
            sum(len(ws[i]) for i in cut),
            " ".join(kept),
        )
    return out


def test_exactsubstr_removal_planted_span_and_replay(spark, tmp_path):
    """A 10-token span planted in two docs must be cut from exactly
    the non-canonical doc (union of its three overlapping 8-span
    starts = the whole 10 tokens); the canonical doc keeps everything;
    and the full output matches the independent Python replay."""
    from jubilant_garbanzo_spark.queries import load_all

    span = " ".join(f"dup{i}" for i in range(10))
    texts = {
        1: f"a1 b1 c1 {span} d1 e1",
        2: f"x2 y2 {span} z2 w2 v2 u2",
        3: " ".join(f"u{i}" for i in range(30)),
    }
    rows = [(d, "src", t) for d, t in texts.items()]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_removed"],
            r["n_chars_removed"],
            r["cleaned_text"],
        )
        for r in load_all()["dedup_exactsubstr_removal"].fn(spark, sf).collect()
    }
    assert got == _exactsubstr_python_replay(texts)
    assert got[1][1] == 0, "canonical occurrence must be kept"
    assert got[2][1] == 10, "whole planted span cut from doc 2"
    assert "dup0" not in got[2][3] and "dup9" not in got[2][3]
    # kept + removed reconstruct the source token counts
    for d, (n, rm, _, cleaned) in got.items():
        kept = [t for t in cleaned.split(" ") if t]
        assert len(kept) == n - rm


def test_exactsubstr_removal_idempotent(spark, tmp_path, sf_dir):
    """Re-running removal on the cleaned corpus must remove nothing —
    each surviving 8-span occurs once by construction (checked on the
    planted fixture AND on the real sf0.001 corpus, where cut
    boundaries could in principle mint new spans)."""
    from jubilant_garbanzo_spark.queries import load_all

    fn = load_all()["dedup_exactsubstr_removal"].fn
    for src in ("planted", "fixture"):
        if src == "planted":
            span = " ".join(f"dup{i}" for i in range(12))
            rows = [
                (1, "src", f"a1 b1 {span} c1 d1"),
                (2, "src", f"{span} e2 f2 g2 h2 i2 j2 k2"),
                (3, "src", " ".join(f"m{i}" for i in range(25))),
            ]
            base = str(tmp_path / "base")
            spark.createDataFrame(
                rows, "doc_id long, source string, text string"
            ).write.parquet(f"{base}/documents.parquet")
        else:
            base = sf_dir
        cleaned = fn(spark, base).select(
            "doc_id",
            F.col("cleaned_text").alias("text"),
        )
        again = str(tmp_path / f"again_{src}")
        cleaned.filter(F.col("text") != "").write.parquet(
            f"{again}/documents.parquet"
        )
        rerun = fn(spark, again).agg(F.sum("n_removed")).first()[0]
        assert rerun == 0, f"{src}: second pass removed {rerun} tokens"


def test_unigram_tokenize_matches_python_viterbi(spark, tmp_path):
    """The fold must reproduce an independent Python Viterbi loop —
    same vocab, same (score, fewer-pieces, lexicographically-greatest)
    tie order — on adversarial words: vocab words, UNK characters,
    length-1, and the MAXLEN boundary."""
    from jubilant_garbanzo_spark.operators import unigram as U
    from jubilant_garbanzo_spark.queries import load_all

    vocab = dict(U.VOCAB)

    def viterbi(word: str):
        # best[j] = (score, -pieces, seg) for word[:j]
        best = [(0, 0, "")] + [None] * len(word)
        for j in range(1, len(word) + 1):
            cands = []
            for k in range(1, min(U.KMAX, j) + 1):
                prev = best[j - k]
                if prev is None:
                    continue
                piece = word[j - k : j]
                lp = vocab.get(piece)
                if lp is None and k == 1:
                    lp = U.UNK_MILLI
                if lp is None:
                    continue
                cands.append(
                    (prev[0] + lp, prev[1] - 1, prev[2] + " " + piece)
                )
            best[j] = max(cands)
        s, np_, seg = best[len(word)]
        return (-np_, seg[1:], s)

    words = [
        "data", "batch", "window", "customer", "stream", "query",
        "a", "zq9", "thethethe", "datadatada", "xyxyxyxyxyxy",
        "atatatatat", "scanscansc",
    ]
    assert all(len(w) <= U.MAXLEN for w in words)
    text = " ".join(words)
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", text)], "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        r["word"]: (r["n_pieces"], r["segmentation"], r["score_milli"])
        for r in load_all()["text_unigram_tokenize"].fn(spark, sf).collect()
    }
    assert set(got) == set(words)
    for w in words:
        assert got[w] == viterbi(w), (w, got[w], viterbi(w))
        # reconstruction: pieces concatenate back to the word
        assert "".join(got[w][1].split(" ")) == w


def test_unigram_train_matches_python_hard_em(spark, tmp_path):
    """text_unigram_train must reproduce an independent Python replay
    of the whole Viterbi-EM loop — seeding, both E-steps (Viterbi
    counts), both prunes (count DESC, piece ASC), and the add-1
    milli-nat re-scoring — exactly, piece for piece."""
    import math

    from jubilant_garbanzo_spark.operators import unigram as U
    from jubilant_garbanzo_spark.queries import load_all

    words = {
        # crafted so EM genuinely reprices: 'data'/'scan' dominate,
        # 'ta'/'at' compete for the same characters, singletons prune
        "data": 9, "scan": 7, "batch": 5, "tadata": 4, "atdata": 3,
        "scans": 3, "q": 2, "zq": 1, "datascan": 2,
    }
    text = " ".join(w for w, c in sorted(words.items()) for _ in range(c))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", text)], "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    def round_half_up(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def score(kept: dict[str, int]) -> dict[str, int]:
        tot, nv = sum(kept.values()), len(kept)
        return {
            p: round_half_up(math.log((c + 1) / (tot + nv)) * 1000)
            for p, c in kept.items()
        }

    def viterbi(word: str, lp_of: dict[str, int]) -> list[str]:
        best = [(0, 0, "")] + [None] * len(word)
        for j in range(1, len(word) + 1):
            cands = []
            for k in range(1, min(U.KMAX, j) + 1):
                prev = best[j - k]
                if prev is None:
                    continue
                piece = word[j - k : j]
                lp = lp_of.get(piece)
                if lp is None and k == 1:
                    lp = U.UNK_MILLI
                if lp is None:
                    continue
                cands.append(
                    (prev[0] + lp, prev[1] - 1, prev[2] + " " + piece)
                )
            best[j] = max(cands)
        return best[len(word)][2][1:].split(" ")

    # seed: frequency-weighted substrings of length 1..KMAX
    seed: dict[str, int] = {}
    for w, c in words.items():
        for s in range(len(w)):
            for k in range(1, min(U.KMAX, len(w) - s) + 1):
                seed[w[s : s + k]] = seed.get(w[s : s + k], 0) + c
    kept = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(
        (
            (p, c)
            for p, c in seed.items()
            if len(p) >= 2 and c >= U.SEED_MIN_CNT
        ),
        key=lambda pc: (-pc[1], pc[0]),
    )[: U.SEED_MULTI_MAX]
    kept.update(dict(multi))
    lp_of = score(kept)

    for _ in range(U.EM_ROUNDS):
        use: dict[str, int] = {}
        for w, c in words.items():
            for piece in viterbi(w, lp_of):
                use[piece] = use.get(piece, 0) + c
        nxt = {p: use.get(p, 0) for p in lp_of if len(p) == 1}
        multi = sorted(
            (
                (p, use[p])
                for p in lp_of
                if len(p) >= 2 and use.get(p, 0) > 0
            ),
            key=lambda pc: (-pc[1], pc[0]),
        )[: U.KEEP_MULTI]
        nxt.update(dict(multi))
        kept, lp_of = nxt, score(nxt)

    got = {
        r["piece"]: (r["piece_len"], r["usage_count"], r["lp_milli"])
        for r in load_all()["text_unigram_train"].fn(spark, sf).collect()
    }
    want = {p: (len(p), kept[p], lp_of[p]) for p in kept}
    assert got == want
    # and EM must have actually pruned: the seed multi set is larger
    # than the survivors (the loop did work, not a pass-through)
    assert len([p for p in seed if len(p) >= 2 and seed[p] >= U.SEED_MIN_CNT]) > len(
        [p for p in got if len(p) >= 2]
    )


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """embed_pca_power_iteration must (a) reproduce an exact-integer
    NumPy/Python replay of quantization → scatter identity → 4 shifted
    renormalized matvec rounds, bit for bit, and (b) actually point at
    PC1: |cosine| vs numpy.linalg.eigh's top covariance eigenvector
    above 0.99."""
    import numpy as np

    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.llm import (
        _PCA_DIM,
        _PCA_ROUNDS,
        _PCA_SCALE,
    )

    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    n, d = emb.shape
    assert d == _PCA_DIM

    # exact-integer replay with Python ints (object dtype: no overflow)
    q = np.array(
        [[int(round(v * _PCA_SCALE)) for v in row] for row in emb],
        dtype=object,
    )
    s = q.T @ q
    m = q.sum(axis=0)
    cells = n * s - np.outer(m, m)

    def shifted_div(a: int, b: int) -> int:
        # both engines truncate toward zero; numerator is positive by
        # construction so this IS floor == round-half-up of a/b - shift
        return (2 * a + b * 4 * _PCA_SCALE + b) // (2 * b) - 2 * _PCA_SCALE

    x = np.array(
        [500000 + ((j * 37) % 997) * 1000 for j in range(d)], dtype=object
    )
    for _ in range(_PCA_ROUNDS):
        u = cells @ x
        mx = max(abs(int(v)) for v in u)
        x = np.array(
            [shifted_div(int(v) * _PCA_SCALE, mx) for v in u], dtype=object
        )
    want_mean = [shifted_div(int(mi), n) for mi in m]

    got = {
        r["dim"]: (r["mean_micro"], r["pc1_scaled"])
        for r in load_all()["embed_pca_power_iteration"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == {
        j: (want_mean[j], int(x[j])) for j in range(d)
    }


def test_pca_scatter_grid_marker_cells_carry_means_and_count(spark):
    """Round-15 internals: _pca_scatter_upper emits j = -1 marker
    cells alongside the upper-triangle products — sij of a marker row
    must equal the exact per-dim coordinate sum, nij its row count
    (= n for every dim), and the j >= 0 cells the exact sum of
    upper-triangle products, so the one-pass grid is equivalent to the
    separate scatter + means passes it replaced."""
    from pyspark.sql import functions as F

    from jubilant_garbanzo_spark.queries.llm import _pca_scatter_upper

    vecs = [[3, -1, 4], [1, 5, -9], [2, 6, 5], [-3, 5, 8]]
    df = spark.createDataFrame(
        [(v,) for v in vecs], "qv array<bigint>"
    ).select("qv")
    rows = {
        (r["i"], r["j"]): (int(r["sij"]), int(r["nij"]))
        for r in _pca_scatter_upper(df).collect()
    }
    n, d = len(vecs), len(vecs[0])
    for i in range(d):
        want_mean = sum(v[i] for v in vecs)
        assert rows[(i, -1)] == (want_mean, n)
        for j in range(i, d):
            want = sum(v[i] * v[j] for v in vecs)
            assert rows[(i, j)] == (want, n)
    assert len(rows) == d + d * (d + 1) // 2


def test_pca_power_iteration_converges_on_planted_direction(
    spark, tmp_path
):
    """On data with a genuine spectral gap (a planted direction u with
    in-direction variance ~25x the noise floor — the fixture corpus is
    near-isotropic, lambda2/lambda1 = 0.99, where NO fixed round count
    converges), the 4 unrolled rounds must land on PC1: |cosine| vs
    numpy.linalg.eigh's top covariance eigenvector > 0.99."""
    import numpy as np

    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.llm import _PCA_DIM

    rng = np.random.RandomState(7)  # seeded: deterministic fixture
    u = rng.randn(_PCA_DIM)
    u /= np.linalg.norm(u)
    emb = (
        np.outer(rng.randn(300) * 0.5, u)
        + rng.randn(300, _PCA_DIM) * 0.02
        + rng.randn(_PCA_DIM) * 0.05  # a nonzero mean to exercise centering
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, [float(v) for v in row], 0) for i, row in enumerate(emb)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf}/embeddings.parquet")

    rows = (
        load_all()["embed_pca_power_iteration"].fn(spark, sf).collect()
    )
    gotv = np.zeros(_PCA_DIM)
    for r in rows:
        gotv[r["dim"]] = float(r["pc1_scaled"])
    # eigh on what the query actually saw (float32 parquet roundtrip)
    seen = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf}/embeddings.parquet")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    c = seen - seen.mean(axis=0)
    _, v = np.linalg.eigh(c.T @ c)
    pc1 = v[:, -1]
    cos = abs(gotv @ pc1) / (np.linalg.norm(gotv) * np.linalg.norm(pc1))
    assert cos > 0.99, cos
    # and the reported mean is the true quantized mean direction
    mean_micro = np.array(
        [r["mean_micro"] for r in sorted(rows, key=lambda r: r["dim"])],
        dtype=np.float64,
    )
    want = seen.mean(axis=0) * 1_000_000
    assert np.max(np.abs(mean_micro - want)) <= 1.0


def test_farthest_point_init_matches_python_gonzalez(spark, sf_dir):
    """embed_farthest_point_init must reproduce a Python Gonzalez
    traversal exactly (same quantization, same (dist DESC, vec_id ASC)
    argmax) and its max-min distance sequence must be non-increasing
    (the k-center coverage-radius invariant)."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.llm import _FPI_K, _FPI_SCALE

    vecs = {
        r["vec_id"]: [
            int(round(float(v) * _FPI_SCALE)) for v in r["embedding"]
        ]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    chosen = [(0, min(vecs), 0)]
    for r in range(1, _FPI_K):
        best = max(
            (
                (min(d2(v, vecs[c]) for _, c, _ in chosen), -vid, vid)
                for vid, v in vecs.items()
            ),
        )
        chosen.append((r, best[2], best[0]))

    got = sorted(
        (r["sel_rank"], r["vec_id"], r["maxmin_dist"])
        for r in load_all()["embed_farthest_point_init"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert got == chosen
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)


def test_rrf_fusion_matches_arm_recomputation(spark, sf_dir):
    """RRF invariants: every fused score equals the integer-nano sum
    recomputed from the two arms run independently; ranks agree with
    each arm's own total order; the cut is the top-15 of the fused
    order."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.retrieval import (
        _RRF_ARM_DEPTH,
        _RRF_K,
        _RRF_TOP,
        _bm25_scores,
    )

    specs = load_all()
    sparse = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_ARM_DEPTH)
        .collect()
    )
    rs = {r["doc_id"]: i + 1 for i, r in enumerate(sparse)}
    dense = specs["embed_cosine_topk"].fn(spark, sf_dir)  # top-10 twin
    # recompute the dense arm at depth 20 via the same operator
    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dense_rows = S.brute_force_topk(e, q, k=_RRF_ARM_DEPTH).collect()
    rd = {r["vec_id"]: i + 1 for i, r in enumerate(dense_rows)}

    expect = {}
    for doc in set(rs) | set(rd):
        n = 0
        if doc in rs:
            n += 10**9 // (_RRF_K + rs[doc])
        if doc in rd:
            n += 10**9 // (_RRF_K + rd[doc])
        expect[doc] = n
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:_RRF_TOP]

    got = specs["retrieval_rrf_fusion"].fn(spark, sf_dir).collect()
    assert [(r["doc_id"], r["rrf_nano"]) for r in got] == want
    for r in got:
        assert r["rank_sparse"] == rs.get(r["doc_id"])
        assert r["rank_dense"] == rd.get(r["doc_id"])


def test_ccnet_buckets_partition_and_verdict(spark, sf_dir):
    """CCNet bucketing invariants: per doc the three segments' bigram
    counts sum to ntok−1; buckets are terciles within each segment
    class (sizes differ by ≤1); is_kept ⇔ bucket ≤ 2."""
    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.queries import load_all

    rows = load_all()["text_ccnet_bucket_filter"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    ntok = {
        r["doc_id"]: len([t for t in r["text"].split(" ") if t]) for r in docs
    }
    per_doc: dict[int, int] = {}
    per_seg_bucket: dict[tuple, int] = {}
    for r in rows:
        assert r["ppl_bucket"] in (1, 2, 3)
        assert r["is_kept"] == (r["ppl_bucket"] <= 2)
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_bigrams"]
        k = (r["segment"], r["ppl_bucket"])
        per_seg_bucket[k] = per_seg_bucket.get(k, 0) + 1
    for d, n in per_doc.items():
        assert n == ntok[d] - 1, (d, n, ntok[d])
    for seg in ("head", "middle", "tail"):
        sizes = [per_seg_bucket.get((seg, b), 0) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (seg, sizes)


def test_bpe_fertility_rollup_matches_per_word_counts(spark, tmp_path):
    """Fertility must equal the frequency-weighted average of per-word
    BPE token counts (recomputed independently from bpe_tokens on the
    distinct words), with fertility ≥ 1 and n_chars ≥ n_tokens."""
    from jubilant_garbanzo_spark.operators import bpe as BPE
    from jubilant_garbanzo_spark.queries import load_all

    rows = [
        (1, "en", "src0", "batch batch data the the the"),
        (2, "de", "src0", "data merge sort sort"),
        (3, "en", "src1", "window scan"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    words = sorted({w for _, _, _, t in rows for w in t.split(" ")})
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    ntok = {
        r["word"]: len(r["tokens"])
        for r in BPE.bpe_tokens(wdf, "word", "tokens").collect()
    }
    expect = {}
    for lang in ("en", "de"):
        ws = [
            w
            for _, lg, _, t in rows
            if lg == lang
            for w in t.split(" ")
        ]
        n_words = len(ws)
        n_tokens = sum(ntok[w] for w in ws)
        n_chars = sum(len(w) for w in ws)
        expect[lang] = (
            n_words,
            n_tokens,
            n_chars,
            round(n_tokens / n_words, 6),
            round(n_chars / n_tokens, 6),
        )
    got = {
        r["lang"]: (
            r["n_words"],
            r["n_tokens"],
            r["n_chars"],
            r["fertility"],
            r["chars_per_token"],
        )
        for r in load_all()["text_bpe_fertility"].fn(spark, sf).collect()
    }
    assert got == expect
    for lang, (_, ntk, nch, fert, cpt) in got.items():
        assert fert >= 1.0 and nch >= ntk, (lang, fert)


def test_token_budget_plan_invariants(spark, sf_dir):
    """Budget-plan invariants: Σ target ≤ budget with slack < one
    nano-share per source (floor division), epochs = ceil(target /
    avail), and the ragged last epoch holds 1..avail tokens whenever
    the target is positive."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.queries.pipeline import _TB_BUDGET

    rows = load_all()["pipeline_token_budget_plan"].fn(spark, sf_dir).collect()
    assert rows
    total_target = sum(r["target_tokens"] for r in rows)
    assert total_target <= _TB_BUDGET
    assert _TB_BUDGET - total_target < len(rows) + 1  # floor-div slack
    for r in rows:
        t, a = r["target_tokens"], r["avail_tokens"]
        assert r["n_epochs"] == -(-t // a)
        if t > 0:
            assert 1 <= r["last_epoch_tokens"] <= a
            assert (r["n_epochs"] - 1) * a + r["last_epoch_tokens"] == t


def test_audio_vad_matches_python_replay_and_edge_cases(spark, tmp_path):
    """audio VAD vs a Python replay on crafted payloads: empty text,
    sub-frame text (0 frames), an all-quiet payload, an
    active-quiet-active pattern with known segment structure, and a
    remainder tail that must be dropped."""
    from jubilant_garbanzo_spark.operators.multimodal import (
        VAD_FRAME,
        VAD_THRESH,
    )
    from jubilant_garbanzo_spark.queries import load_all

    loud = " " * VAD_FRAME          # spaces: (32-128)^2*16 = 147456 >= T
    quiet = "m" * VAD_FRAME         # 'm'=109: (19^2)*16 = 5776 < T
    docs = [
        (1, ""),                       # empty: all-zero row
        (2, "abc"),                    # sub-frame: 0 frames
        (3, quiet * 3),                # 3 frames, none active
        (4, loud + quiet + loud * 2),  # segments: [1], [3,4] -> 2 seg
        (5, loud * 2 + "xy"),          # remainder 'xy' dropped
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, "src", t) for i, t in docs],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    def replay(t: str):
        b = t.encode()
        nf = len(b) // VAD_FRAME
        frames = [
            sum(
                (x - 128) ** 2
                for x in b[i * VAD_FRAME : (i + 1) * VAD_FRAME]
            )
            for i in range(nf)
        ]
        act = [e >= VAD_THRESH for e in frames]
        nseg = sum(
            1 for i, a in enumerate(act) if a and (i == 0 or not act[i - 1])
        )
        longest = run = 0
        for a in act:
            run = run + 1 if a else 0
            longest = max(longest, run)
        return (nf, sum(act), nseg, longest, sum(frames))

    got = {
        r["doc_id"]: (
            r["n_frames"],
            r["n_active"],
            r["n_segments"],
            r["longest_run"],
            r["total_energy"],
        )
        for r in load_all()["multimodal_audio_vad"].fn(spark, sf).collect()
    }
    assert got == {i: replay(t) for i, t in docs}
    # the crafted cases hit the intended shapes
    assert got[1] == (0, 0, 0, 0, 0)
    assert got[2][0] == 0
    assert got[3][1] == 0 and got[3][0] == 3
    assert got[4][2] == 2 and got[4][3] == 2
    assert got[5][0] == 2


def test_wordpiece_matches_huggingface_semantics(spark, tmp_path):
    """The WordPiece fold must reproduce the HuggingFace greedy
    longest-match-first algorithm (operators/wordpiece.py
    python_reference) on adversarial words: full-vocab words, UNK
    triggers mid-word and at the first char, length-1, and the MAXLEN
    boundary — including whole-word [UNK] (never per-character)."""
    from jubilant_garbanzo_spark.operators import wordpiece as W
    from jubilant_garbanzo_spark.queries import load_all

    words = [
        "data", "batch", "window", "customer", "stream", "query",
        "a", "zq9", "9zq", "thethethe", "datadatada", "xyxyxyxyxyxy",
        "filter", "column", "grouping", "hashed", "thing",
    ]
    assert all(len(w) <= W.MAXLEN for w in words)
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", " ".join(words))],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        r["word"]: (r["n_pieces"], r["segmentation"], r["is_unk"])
        for r in load_all()["text_wordpiece_tokenize"].fn(spark, sf).collect()
    }
    assert set(got) == set(words)
    for w in words:
        ref = W.python_reference(w)
        assert got[w] == (len(ref), " ".join(ref), ref == ["[UNK]"]), (
            w, got[w], ref,
        )
        # reconstruction: non-UNK pieces strip ## and concatenate back
        if ref != ["[UNK]"]:
            assert "".join(p.removeprefix("##") for p in ref) == w
    # the battery must actually exercise both fallback paths
    assert got["zq9"][2] and got["9zq"][2]
    assert not got["data"][2]


def test_wordpiece_randomized_corpus_parity(spark, tmp_path):
    """One-job randomized sweep: 200 seeded random words (length
    1..MAXLEN over a skewed alphabet plus occasional digits, so both
    multi-char matches and whole-word UNKs fire) must match the
    HuggingFace-semantics Python loop exactly."""
    import random

    from jubilant_garbanzo_spark.operators import wordpiece as W
    from jubilant_garbanzo_spark.queries import load_all

    rng = random.Random(20260816)
    alphabet = "datascnbthequrywio7"  # '7' plants UNK triggers
    words = sorted(
        {
            "".join(
                rng.choice(alphabet)
                for _ in range(rng.randint(1, W.MAXLEN))
            )
            for _ in range(200)
        }
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", " ".join(words))],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        r["word"]: (r["n_pieces"], r["segmentation"], r["is_unk"])
        for r in load_all()["text_wordpiece_tokenize"].fn(spark, sf).collect()
    }
    assert set(got) == set(words)
    n_unk = 0
    for w in words:
        ref = W.python_reference(w)
        n_unk += ref == ["[UNK]"]
        assert got[w] == (len(ref), " ".join(ref), ref == ["[UNK]"]), w
    assert n_unk > 10, "alphabet failed to plant whole-word UNKs"


def _wordpiece_train_reference(
    word_counts: dict[str, int], rounds: int
) -> list[tuple[int, str, str, str, int, int]]:
    """Pure-Python likelihood-scored merge loop (HuggingFace WordPiece
    trainer semantics, integer-quantized score)."""
    from jubilant_garbanzo_spark.operators.wordpiece import SCORE_SCALE

    toks = {w: [c for c in w] for w in word_counts}
    out = []
    for r in range(rounds):
        sym: dict[str, int] = {}
        pair: dict[tuple[str, str], int] = {}
        for w, ts in toks.items():
            cnt = word_counts[w]
            for t in ts:
                sym[t] = sym.get(t, 0) + cnt
            for a, b in zip(ts, ts[1:]):
                pair[(a, b)] = pair.get((a, b), 0) + cnt
        if not pair:
            break
        # deterministic tiebreak: (score DESC, pcount DESC, a ASC, b ASC)
        scored = sorted(
            pair.items(),
            key=lambda kv: (
                -(kv[1] * SCORE_SCALE // (sym[kv[0][0]] * sym[kv[0][1]])),
                -kv[1],
                kv[0][0],
                kv[0][1],
            ),
        )
        (a, b), pcount = scored[0]
        sn = pcount * SCORE_SCALE // (sym[a] * sym[b])
        out.append((r, a, b, a + b, pcount, sn))
        for w, ts in toks.items():
            merged = []
            i = 0
            while i < len(ts):
                if i + 1 < len(ts) and ts[i] == a and ts[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(ts[i])
                    i += 1
            toks[w] = merged
    return out


def test_wordpiece_train_matches_python_reference(spark, tmp_path):
    """text_wordpiece_train must reproduce the pure-Python
    likelihood-scored merge loop — identical pairs, counts, and
    nano-quantized scores per round — on a corpus engineered so the
    likelihood argmax genuinely DIVERGES from the raw-count argmax
    (the rare-but-associated pair must win a round)."""
    from jubilant_garbanzo_spark.operators import wordpiece as W
    from jubilant_garbanzo_spark.queries import load_all

    # 'qz' appears 4x and q/z appear ONLY together -> likelihood 1/cnt;
    # 'th' appears 12x but t and h are everywhere -> low likelihood.
    word_counts = {
        "the": 8,
        "that": 4,
        "tath": 3,
        "qz": 4,
        "hat": 5,
        "data": 6,
        "taq": 1,
    }
    text_parts = []
    for w, c in word_counts.items():
        text_parts.extend([w] * c)
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", " ".join(text_parts))],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    ref = _wordpiece_train_reference(word_counts, W.N_TRAIN_MERGES)
    got = [
        (
            r["merge_rank"],
            r["a"],
            r["b"],
            r["merged"],
            r["pair_count"],
            r["score_nano"],
        )
        for r in load_all()["text_wordpiece_train"].fn(spark, sf).collect()
    ]
    assert got == ref, (got, ref)
    # the likelihood score must have diverged from raw-count order at
    # least once: 'th' has the max raw pair count in round 0 but must
    # NOT be the first merge
    counts_argmax = ("t", "h")
    assert (ref[0][1], ref[0][2]) != counts_argmax, ref[0]


def test_dhash_tiered_dedup_equivalent_to_flat_pairs(spark, tmp_path):
    """The exact-group-collapse tier (operators/multimodal.
    dhash_tiered_dedup) must be a lossless refactor of the flat banded
    join: expanding (groups, rep-level near pairs) back to member
    pairs reproduces multimodal_phash_dedup's output exactly on a
    corpus with genuine r-way exact duplicates — while the tier's
    join input is the DISTINCT-hash table, which is what keeps
    candidate mass flat on duplicated corpora (VERDICT r11 #7)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from jubilant_garbanzo_spark.operators import multimodal as M
    from jubilant_garbanzo_spark.queries import load_all

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a completely different payload with other bytes in every slot",
        "the quick brown fox jumps over the lazy dog again and agaiN",
    ]
    rows = []
    did = 0
    for r in range(4):  # 4-way duplication of every base text
        for text in base:
            did += 1
            rows.append((did, "src", text))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    flat = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in load_all()["multimodal_phash_dedup"].fn(spark, sf).collect()
    }

    d = spark.read.parquet(f"{sf}/documents.parquet")
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    groups, near = M.dhash_tiered_dedup(payloads)
    fps = (
        M.dhash_fingerprints(payloads)
        .filter(F.col("dhash").isNotNull())
        .collect()
    )
    members: dict[str, list[int]] = {}
    for r in fps:
        members.setdefault(r["dhash"], []).append(r["doc_id"])
    rep_of = {min(v): k for k, v in members.items()}

    expanded = set()
    for mlist in members.values():
        for i, j in combinations(sorted(mlist), 2):
            expanded.add((i, j, 0))
    for r in near.collect():
        for ia in members[rep_of[r["rep_a"]]]:
            for ib in members[rep_of[r["rep_b"]]]:
                expanded.add((min(ia, ib), max(ia, ib), r["hamming"]))

    assert len(members) < len(rows), "corpus failed to build exact groups"
    assert expanded == flat
    got_groups = {
        (r["rep_id"], r["n_members"]) for r in groups.collect()
    }
    assert all(n == 4 for _, n in got_groups), got_groups


def test_wordpiece_oracle_differential_on_unk_corpus(spark, sf_dir, tmp_path):
    """Strict Spark-vs-DuckDB compare on a corpus that plants
    whole-word UNKs and boundary lengths — the sf fixtures are all
    lowercase-alpha, so the ORACLE's bad-path CASEs would otherwise
    only ever run their happy branch."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.testing import (
        build_shaped_fixture,
        compare_query,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    build_shaped_fixture(sf_dir, str(sf), "empty")
    words = [
        "data", "zq9", "9zq", "a", "xyxyxyxyxyxy", "batch", "grouping",
        "que7ry", "thethethe",
    ]
    import os

    os.remove(sf / "documents.parquet")
    spark.createDataFrame(
        [(1, "src", " ".join(words)), (2, "src", "data data zq9")],
        "doc_id long, source string, text string",
    ).toPandas().to_parquet(sf / "documents.parquet", index=False)

    problems = compare_query(
        spark, load_all()["text_wordpiece_tokenize"], str(sf)
    )
    assert not problems, problems


def test_unigram_viterbi_randomized_corpus_parity(spark, tmp_path):
    """One-job randomized sweep: 200 seeded random words (length
    1..MAXLEN over a skewed alphabet, so vocab pieces genuinely fire)
    must segment identically to the Python Viterbi loop — scores,
    piece counts, and segmentations."""
    import random

    from jubilant_garbanzo_spark.operators import unigram as U
    from jubilant_garbanzo_spark.queries import load_all

    rng = random.Random(20260815)
    alphabet = "datascnbthequrywio"  # overlaps the vocab pieces
    words = sorted(
        {
            "".join(
                rng.choice(alphabet)
                for _ in range(rng.randint(1, U.MAXLEN))
            )
            for _ in range(200)
        }
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "src", " ".join(words))],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    vocab = dict(U.VOCAB)

    def viterbi(word):
        best = [(0, 0, "")] + [None] * len(word)
        for j in range(1, len(word) + 1):
            cands = []
            for k in range(1, min(U.KMAX, j) + 1):
                prev = best[j - k]
                if prev is None:
                    continue
                piece = word[j - k : j]
                lp = vocab.get(piece)
                if lp is None and k == 1:
                    lp = U.UNK_MILLI
                if lp is None:
                    continue
                cands.append(
                    (prev[0] + lp, prev[1] - 1, prev[2] + " " + piece)
                )
            best[j] = max(cands)
        s, np_, seg = best[len(word)]
        return (-np_, seg[1:], s)

    got = {
        r["word"]: (r["n_pieces"], r["segmentation"], r["score_milli"])
        for r in load_all()["text_unigram_tokenize"].fn(spark, sf).collect()
    }
    assert set(got) == set(words)
    for w in words:
        assert got[w] == viterbi(w), w


def test_audio_vad_randomized_payload_parity(spark, tmp_path):
    """One-job randomized sweep: 100 seeded random payloads (printable
    bytes, lengths straddling frame boundaries 0..5 frames plus
    remainders) must match the Python replay on every summary field."""
    import random

    from jubilant_garbanzo_spark.operators.multimodal import (
        VAD_FRAME,
        VAD_THRESH,
    )
    from jubilant_garbanzo_spark.queries import load_all

    rng = random.Random(16)
    chars = " abcdefghijklmnopqrstuvwxyz0123456789~!"
    docs = [
        (
            i,
            "".join(
                rng.choice(chars)
                for _ in range(rng.randint(0, 5 * VAD_FRAME + 7))
            ),
        )
        for i in range(100)
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, "src", t) for i, t in docs],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    def replay(t):
        b = t.encode()
        nf = len(b) // VAD_FRAME
        fr = [
            sum(
                (x - 128) ** 2
                for x in b[i * VAD_FRAME : (i + 1) * VAD_FRAME]
            )
            for i in range(nf)
        ]
        act = [e >= VAD_THRESH for e in fr]
        nseg = sum(
            1 for i, a in enumerate(act) if a and (i == 0 or not act[i - 1])
        )
        longest = run = 0
        for a in act:
            run = run + 1 if a else 0
            longest = max(longest, run)
        return (nf, sum(act), nseg, longest, sum(fr))

    got = {
        r["doc_id"]: (
            r["n_frames"],
            r["n_active"],
            r["n_segments"],
            r["longest_run"],
            r["total_energy"],
        )
        for r in load_all()["multimodal_audio_vad"].fn(spark, sf).collect()
    }
    assert got == {i: replay(t) for i, t in docs}


def _tmp_differential(spark, tmp_path, table, df, query_name):
    """Differential (Spark vs the query's OWN registered DuckDB oracle)
    on a throwaway single-table fixture: regression harness for the
    edge-case classes the sf fixtures never produce (non-ASCII text,
    degenerate/empty corpora)."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.testing import compare_query, duckdb_connection

    sf = str(tmp_path / "sf")
    # coalesce(1): guarantee one part file even for 0 rows.
    df.coalesce(1).write.parquet(f"{sf}/{table}.parquet")
    con = duckdb_connection(sf)
    try:
        spec = load_all()[query_name]
        sdf = spec.fn(spark, sf)
        rows = sdf.collect()  # collect ONCE, reused for the compare
        problems = compare_query(
            spark, spec, sf, con=con, spark_result=(sdf.columns, rows)
        )
        assert not problems, f"{query_name}: " + "; ".join(problems[:3])
        return rows
    finally:
        con.close()


def test_exactsubstr_removal_nonascii_counts_chars_not_bytes(
    spark, tmp_path
):
    """A duplicated span of multibyte tokens must yield the SAME
    n_chars_removed on both engines (regression: the oracle used
    DuckDB strlen = BYTES against Spark length = CHARACTERS, silently
    ASCII-only) and the count must be characters ('café' = 4)."""
    span = "café naïve crème über señor piñata déjà vu"  # 8 tokens
    texts = {
        1: f"a1 b1 {span} c1",
        2: f"x2 {span} y2 z2",
        3: " ".join(f"u{i}" for i in range(30)),
    }
    df = spark.createDataFrame(
        [(d, "src", t) for d, t in texts.items()],
        "doc_id long, source string, text string",
    )
    rows = _tmp_differential(
        spark, tmp_path, "documents", df, "dedup_exactsubstr_removal"
    )
    got = {r["doc_id"]: r["n_chars_removed"] for r in rows}
    assert got[1] == 0, "canonical occurrence keeps its span"
    assert got[2] == sum(len(t) for t in span.split(" "))  # 35 chars


def test_pca_power_iteration_degenerate_identical_vectors(
    spark, tmp_path
):
    """All-identical embeddings make every scatter cell exactly 0, so
    each matvec is 0 and the max-abs renormalizer is 0: the greatest(
    mx, 1) guard must yield pc1 = 0 on BOTH engines (regression:
    DuckDB raised division-by-zero while Spark's non-ANSI DIV returned
    NULL — the engines failed differently)."""
    vec = [0.25] * 64
    df = spark.createDataFrame(
        [(i, vec, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = _tmp_differential(
        spark, tmp_path, "embeddings", df, "embed_pca_power_iteration"
    )
    assert len(rows) == 64
    assert all(r["pc1_scaled"] == 0 for r in rows)
    assert all(r["mean_micro"] == 250000 for r in rows)


def test_farthest_point_init_empty_corpus_yields_zero_rows(
    spark, tmp_path
):
    """An empty embeddings table must select NO centers on either
    engine (regression: the oracle's ungrouped min() aggregate emitted
    a phantom (0, NULL, 0) first-pick row against Spark's empty
    limit(1))."""
    df = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    rows = _tmp_differential(
        spark, tmp_path, "embeddings", df, "embed_farthest_point_init"
    )
    assert rows == []


def test_token_budget_zero_target_plans_zero_epoch_tokens(
    spark, sf_dir, monkeypatch
):
    """With a 1-token budget every source's floor share is 0 tokens:
    the plan must report n_epochs = 0 AND last_epoch_tokens = 0
    (regression: the unguarded remainder identity claimed a phantom
    full epoch of avail_tokens), and the epoch-sum identity
    (n_epochs-1)⁺·avail + last_epoch == target must hold everywhere."""
    import jubilant_garbanzo_spark.queries.pipeline as P
    from jubilant_garbanzo_spark.queries import load_all

    monkeypatch.setattr(P, "_TB_BUDGET", 1)
    rows = load_all()["pipeline_token_budget_plan"].fn(spark, sf_dir).collect()
    assert rows and all(r["target_tokens"] == 0 for r in rows)
    for r in rows:
        t, a = r["target_tokens"], r["avail_tokens"]
        assert r["n_epochs"] == -(-t // a)
        assert r["last_epoch_tokens"] == 0
        assert max(r["n_epochs"] - 1, 0) * a + r["last_epoch_tokens"] == t


def test_global_shuffle_bucket_width_does_not_change_permutation(
    spark, sf_dir, monkeypatch
):
    """_GS_PREFIX_HEX is a parallelism knob, not a semantics knob: the
    two-phase bucket decomposition must produce the IDENTICAL global
    permutation at 16, 256, and 4096 buckets (the 100 TB tuning advice
    in the docstring is only safe if widening the split can never
    reorder anything)."""
    import jubilant_garbanzo_spark.queries.pipeline as P
    from jubilant_garbanzo_spark.queries import load_all

    fn = load_all()["pipeline_global_shuffle"].fn

    def snapshot(width):
        monkeypatch.setattr(P, "_GS_PREFIX_HEX", width)
        return sorted(
            (r["doc_id"], r["global_pos"], r["shard_id"], r["shard_pos"])
            for r in fn(spark, sf_dir).collect()
        )

    base = snapshot(2)
    assert snapshot(1) == base
    assert snapshot(3) == base
