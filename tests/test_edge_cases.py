"""Edge cases the DuckDB oracle can't see (SURVEY §5.2.4): empty
inputs, nulls, degenerate corpora, and order-independence properties.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jubilant_garbanzo_spark.functions.money import exact_sum
from jubilant_garbanzo_spark.operators import dedup as D
from jubilant_garbanzo_spark.operators import textops as TX

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_minhash_empty_corpus(spark):
    out = D.minhash_lsh_pairs(D.minhash_index(docs_df(spark, [])))
    assert out.count() == 0


def test_minhash_single_doc(spark):
    docs = docs_df(spark, [(1, "a b c d e")])
    out = D.minhash_lsh_pairs(D.minhash_index(docs))
    assert out.count() == 0


def test_minhash_identical_docs_always_pair(spark):
    """Identical texts have identical signatures — LSH must always
    produce the pair, at any threshold."""
    rows = [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")]
    index = D.minhash_index(docs_df(spark, rows))
    out = D.minhash_lsh_pairs(index, threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(1, 2, 1.0)]


def test_minhash_null_text_dropped_not_crashing(spark):
    """Null text cannot be shingled; those docs drop out of the
    signature table instead of poisoning the join."""
    rows = [(1, None), (2, "a b c d"), (3, "a b c d")]
    index = D.minhash_index(docs_df(spark, rows))
    out = D.minhash_lsh_pairs(index, threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(2, 3)]


def test_shingles_shorter_than_n_fall_back_to_full_text(spark):
    row = (
        docs_df(spark, [(1, "only two")])
        .select(D.shingles(F.col("text")).alias("sh"))
        .first()
    )
    assert row["sh"] == ["only two"]


def test_dedup_exact_groups_nulls_together(spark):
    rows = [(1, None), (2, None), (3, "x")]
    out = (
        docs_df(spark, rows)
        .groupBy("text")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(out) == 1 and out[0]["text"] is None


def test_quality_score_null_and_empty(spark):
    out = (
        docs_df(spark, [(1, None), (2, "")])
        .select(TX.quality_score(F.col("text")).alias("q"))
        .collect()
    )
    assert out[0]["q"] is None
    # "" tokenizes to one empty token: defined, not NaN/error.
    assert out[1]["q"] is not None


def test_simhash_deterministic_and_64bit(spark):
    out = D.simhash_fingerprints(
        docs_df(spark, [(1, "a b c"), (2, "a b c")])
    ).collect()
    sigs = {r["id"]: r["simhash"] for r in out}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 64


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1,
        max_size=200,
    ),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_exact_sum_is_partition_and_order_independent(spark, cents, seed):
    """exact_sum must equal the Decimal ground truth under ANY row
    order and partitioning — the property raw double sums lack, and
    the reason every money aggregate in the engine uses it."""
    import random

    vals = [c / 100.0 for c in cents]
    truth = float(sum(Decimal(c) for c in cents) / 100)
    shuffled = vals[:]
    random.Random(seed).shuffle(shuffled)
    for n_parts in (1, 7):
        df = spark.createDataFrame(
            [(v,) for v in shuffled], "x double"
        ).repartition(n_parts)
        got = df.agg(exact_sum(F.col("x")).alias("s")).first()["s"]
        assert got == pytest.approx(truth, abs=1e-9)


@given(st.integers(min_value=0, max_value=10**9))
def test_adaptive_bits_properties(n):
    """Property: the adaptive LSH band width always stays in
    [MIN_BITS, MAX_BITS], and whenever it is not clamped the implied
    expected bucket population n/2^bits is within (T/2, T] — the
    invariant that makes hyperplane candidate pairs grow linearly."""
    from jubilant_garbanzo_spark.operators import similarity as S

    bits = S.adaptive_bits(n)
    assert S.MIN_BITS <= bits <= S.MAX_BITS
    unclamped = (
        n > S.TARGET_BUCKET * 2**S.MIN_BITS and bits < S.MAX_BITS
    )
    if unclamped:
        assert n <= S.TARGET_BUCKET * 2**bits
        assert n > S.TARGET_BUCKET * 2 ** (bits - 1)


@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(min_value=0, max_value=10**9))
def test_adaptive_bits_matches_duckdb_twin(n):
    """The SQL twin must agree with the Python formula on EVERY n,
    including exact power-of-two boundaries (both sides are pure
    integer arithmetic — that is the point)."""
    import duckdb

    from jubilant_garbanzo_spark.operators import similarity as S

    sql_bits = duckdb.sql(
        f"SELECT {S.adaptive_bits_sql(str(n))}"
    ).fetchone()[0]
    assert sql_bits == S.adaptive_bits(n), n


@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    )
)
def test_ewma_fold_matches_duckdb_reduce(values):
    """timeseries_ewma's fold discipline: Spark's aggregate(slice, v1,
    ...) and DuckDB's list_reduce are the same left fold. Pure-python
    replay of the Spark expression vs the actual DuckDB list_reduce
    must agree BIT-FOR-BIT (α=0.25 exact in binary, same IEEE op
    order)."""
    import duckdb

    acc = values[0]
    for x in values[1:]:
        acc = acc * 0.75 + x * 0.25
    got = duckdb.sql(
        "SELECT list_reduce(CAST(? AS DOUBLE[]), (a, x) -> a * 0.75 + x * 0.25)",
        params=[values],
    ).fetchone()[0]
    assert got == acc, (values, got, acc)


@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=10**7),
    st.sampled_from([10, 100, 1000, 10_000, 25, 4, 7]),
)
def test_derived_partsupp_suppliers_distinct(p_partkey, n_supp):
    """The supplier-assignment formula used by the derived partsupp
    (dbgen §4.2.3 shape, stride fixed at floor(S/4)) must yield 4
    DISTINCT in-range suppliers for every part at every supplier count
    — the property q9/q16/q20's per-(part,supplier) joins rely on.
    (This test CAUGHT the original literal-dbgen stride collapsing at
    the fixtures' tiny S, e.g. S=10 parts 81-90 -> one supplier.)"""
    s = n_supp
    keys = {
        ((p_partkey - 1 + (p_partkey - 1) // s + i * max(s // 4, 1)) % s)
        + 1
        for i in range(4)
    }
    assert len(keys) == min(4, s), (p_partkey, s, keys)
    assert all(1 <= k <= s for k in keys)


# ---------------------------------------------------------------------------
# asof_join forward direction + tolerance (round-6 wave-3 extension)
# ---------------------------------------------------------------------------

ASOF_L = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("lts", T.TimestampType()),
        T.StructField("lid", T.LongType()),
    ]
)
ASOF_R = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("rts", T.TimestampType()),
        T.StructField("rid", T.LongType()),
    ]
)


def _asof(spark, left_rows, right_rows, **kw):
    from jubilant_garbanzo_spark.operators.asof import asof_join

    left = spark.createDataFrame(left_rows, ASOF_L)
    right = spark.createDataFrame(right_rows, ASOF_R)
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="lts",
        right_ts="rts",
        right_value_cols=["rid"],
        tie_break="rid",
        **kw,
    )
    return {r.lid: r.rid for r in out.collect()}


def test_asof_forward_picks_next_not_prev(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    got = _asof(
        spark,
        [(1, t(10), 100)],
        [(1, t(5), 1), (1, t(20), 2), (1, t(30), 3)],
        direction="forward",
    )
    assert got == {100: 2}  # earliest right >= left, not the latest before


def test_asof_forward_equal_ts_is_inclusive_max_tie(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    got = _asof(
        spark,
        [(1, t(10), 100)],
        [(1, t(10), 7), (1, t(10), 9), (1, t(25), 1)],
        direction="forward",
    )
    assert got == {100: 9}  # >= includes equal ts; max rid wins the tie


def test_asof_tolerance_boundary_and_miss(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    # match 5 s ahead with a 5 s tolerance -> kept (inclusive boundary);
    # match 6 s ahead with a 5 s tolerance -> nulled out
    got = _asof(
        spark,
        [(1, t(10), 100), (2, t(10), 200)],
        [(1, t(15), 1), (2, t(16), 2)],
        direction="forward",
        tolerance_us=5_000_000,
    )
    assert got == {100: 1, 200: None}


def test_asof_backward_tolerance_nulls_stale_match(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    got = _asof(
        spark,
        [(1, t(30), 100)],
        [(1, t(5), 1)],
        tolerance_us=10_000_000,
    )
    assert got == {100: None}  # 25 s stale > 10 s tolerance


def test_asof_backward_unchanged_without_tolerance(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    got = _asof(
        spark,
        [(1, t(30), 100), (1, t(3), 101)],
        [(1, t(5), 1), (1, t(20), 2)],
    )
    assert got == {100: 2, 101: None}


# ---------------------------------------------------------------------------
# Wave-3 degenerate inputs via a synthetic sf_dir (fixture-shaped parquet)
# ---------------------------------------------------------------------------


def _write_embeddings(spark, path, rows):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/embeddings.parquet")


def test_kmeans_identical_vectors_collapse_to_seed_zero(spark, tmp_path):
    """All-identical corpus: every distance tie resolves to cluster 0,
    the other three seed clusters lose all members and vanish, and the
    inertia is exactly zero."""
    from jubilant_garbanzo_spark.queries import load_all

    rows = [(i, [0.25, -0.5, 0.125, 1.0], 0) for i in range(8)]
    _write_embeddings(spark, str(tmp_path), rows)
    out = load_all()["embed_kmeans_lloyd"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cluster_id == 0 and r.n_vectors == 8 and r.inertia_q2 == 0
    assert r.centroid_q == "250000,-500000,125000,1000000"


def test_kmeans_two_tight_groups_split(spark, tmp_path):
    """Two well-separated blobs with k=4 seeds: the blobs end up in
    different clusters and inertia stays zero within each blob."""
    from jubilant_garbanzo_spark.queries import load_all

    a = [(i, [0.0, 0.0], 0) for i in range(3)]
    b = [(10 + i, [1.0, 1.0], 1) for i in range(3)]
    _write_embeddings(spark, str(tmp_path), a + b)
    out = {
        r.cluster_id: r
        for r in load_all()["embed_kmeans_lloyd"].fn(spark, str(tmp_path)).collect()
    }
    # seeds 0,1,2 are identical zero-vectors; seed 3 is the first b row
    sizes = sorted(r.n_vectors for r in out.values())
    assert sizes == [3, 3]
    assert all(r.inertia_q2 == 0 for r in out.values())


def _write_events(spark, path, rows):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")


def test_interval_coverage_single_event_and_merge(spark, tmp_path):
    """One event = one island of exactly its own duration; two events
    whose intervals overlap merge into one island whose length is the
    union, not the sum."""
    import datetime as dt

    from jubilant_garbanzo_spark.queries import load_all

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: value 0.0 -> duration exactly 30 s
        (1, t0, 1, "view", 0.0, "{}"),
        # user 2: two 30 s intervals starting 10 s apart -> union 40 s
        (2, t0, 2, "view", 0.0, "{}"),
        (3, t0 + dt.timedelta(seconds=10), 2, "view", 0.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.user_id: r
        for r in load_all()["timeseries_interval_coverage"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[1].n_islands == 1 and out[1].covered_sec == 30.0
    assert out[2].n_islands == 1 and out[2].covered_sec == 40.0
    assert out[2].n_events == 2


def test_checksum_modsum_channel_catches_xor_blind_duplication(spark, tmp_path):
    """Inserting a row TWICE leaves the xor channel unchanged (pairs
    cancel) but moves the mod-sum channel — the documented reason
    validate_table_checksum carries both."""
    import pyspark.sql.types as T2

    from jubilant_garbanzo_spark.queries import load_all

    order_schema = T2.StructType(
        [
            T2.StructField("o_orderkey", T2.LongType()),
            T2.StructField("o_custkey", T2.LongType()),
            T2.StructField("o_orderstatus", T2.StringType()),
            T2.StructField("o_totalprice", T2.DoubleType()),
            T2.StructField("o_orderdate", T2.TimestampType()),
            T2.StructField("o_orderpriority", T2.StringType()),
        ]
    )
    cust_schema = T2.StructType(
        [
            T2.StructField("c_custkey", T2.LongType()),
            T2.StructField("c_name", T2.StringType()),
            T2.StructField("c_nationkey", T2.LongType()),
            T2.StructField("c_acctbal", T2.DoubleType()),
            T2.StructField("c_mktsegment", T2.StringType()),
        ]
    )
    supp_schema = T2.StructType(
        [
            T2.StructField("s_suppkey", T2.LongType()),
            T2.StructField("s_name", T2.StringType()),
            T2.StructField("s_nationkey", T2.LongType()),
            T2.StructField("s_acctbal", T2.DoubleType()),
        ]
    )
    import datetime as dt

    base = [(1, 1, "O", 10.0, dt.datetime(2024, 1, 1), "1-URGENT"),
            (2, 1, "F", 20.0, dt.datetime(2024, 1, 2), "2-HIGH")]
    dup_pair = base + [base[0], base[0]]  # row 1 inserted twice more

    def write(rows, path):
        spark.createDataFrame(rows, order_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/orders.parquet")
        spark.createDataFrame(
            [(1, "c", 1, 0.0, "BUILDING")], cust_schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
        spark.createDataFrame(
            [(1, "s", 1, 0.0)], supp_schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/supplier.parquet")

    fn = load_all()["validate_table_checksum"].fn
    write(base, f"{tmp_path}/a")
    write(dup_pair, f"{tmp_path}/b")
    a = {r.table_name: r for r in fn(spark, f"{tmp_path}/a").collect()}
    b = {r.table_name: r for r in fn(spark, f"{tmp_path}/b").collect()}
    assert a["orders"].xor_checksum == b["orders"].xor_checksum  # xor blind
    assert a["orders"].modsum_checksum != b["orders"].modsum_checksum
    assert a["orders"].n_rows != b["orders"].n_rows


def test_pit_join_purchase_before_any_status_is_unknown(spark, tmp_path):
    """A purchase with no prior status event must surface as 'unknown',
    and a status change AFTER the purchase must not leak backward."""
    import datetime as dt

    from jubilant_garbanzo_spark.queries import load_all

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "purchase", 5.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "signup", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 7, "purchase", 6.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.purchase_id: r.status_at_purchase
        for r in load_all()["join_point_in_time_scd2"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out == {1: "unknown", 3: "signup"}


# ---------------------------------------------------------------------------
# Property tests for wave-3/4 operators: random inputs through the real
# queries (synthetic fixture dirs), brute-force Python ground truths.
# ---------------------------------------------------------------------------

#: PROP_MAX_EXAMPLES=200 turns the 6-example CI default into a stress
#: sweep (per-test @settings overrides beat hypothesis profiles, so an
#: env knob here is the only way to widen these from the command line).
#: The round-11 tied-start island-split bug fell to exactly this kind
#: of widened brute-force run.
_PROP = dict(
    max_examples=int(__import__("os").environ.get("PROP_MAX_EXAMPLES", "6")),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


@settings(**_PROP)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=3600),  # start offset s
            st.integers(min_value=0, max_value=200_000_000),  # value µs
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_coverage_matches_bruteforce(spark, tmp_path_factory, data):
    """timeseries_interval_coverage == Python interval-merge on random
    per-user interval sets (the sweep-line vs brute-force property)."""
    import datetime as dt

    from jubilant_garbanzo_spark.queries import load_all

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=s), u, "view", k / 1e6, "{}")
        for i, (u, s, k) in enumerate(data)
    ]
    path = str(tmp_path_factory.mktemp("ivp"))
    _write_events(spark, path, rows)
    got = {
        r.user_id: (r.n_islands, r.n_events, r.covered_sec)
        for r in load_all()["timeseries_interval_coverage"]
        .fn(spark, path)
        .collect()
    }
    # brute force
    per_user: dict = {}
    base_us = int(base.timestamp()) * 1_000_000
    for i, (u, s, k) in enumerate(data):
        start = base_us + s * 1_000_000
        dur = (round(k) % 90_000_000) + 30_000_000
        per_user.setdefault(u, []).append((start, start + dur))
    for u, ivs in per_user.items():
        ivs.sort()
        merged = []
        for s0, e0 in ivs:
            if merged and s0 <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e0)
            else:
                merged.append([s0, e0])
        covered = sum(e - s for s, e in merged) / 1e6
        assert got[u][0] == len(merged), (u, got[u], merged)
        assert got[u][1] == len(ivs)
        assert got[u][2] == pytest.approx(covered, abs=1e-6)


@settings(**_PROP)
@given(
    groups=st.dictionaries(
        st.sampled_from(["A", "N", "R"]),
        st.lists(
            st.integers(min_value=1, max_value=40_000_000),  # cents
            min_size=1,
            max_size=60,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_exact_median_matches_sorted(spark, tmp_path_factory, groups):
    """agg_exact_median_histogram's two-phase pruned walk == the sorted
    lower median, on random grouped cents."""
    import pyspark.sql.types as T2

    from jubilant_garbanzo_spark.queries import load_all

    schema = T2.StructType(
        [
            T2.StructField("l_returnflag", T2.StringType()),
            T2.StructField("l_extendedprice", T2.DoubleType()),
        ]
    )
    rows = [(g, c / 100.0) for g, cs in groups.items() for c in cs]
    path = str(tmp_path_factory.mktemp("med"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/lineitem.parquet")
    got = {
        r.flag: (r.n_rows, r.median_price)
        for r in load_all()["agg_exact_median_histogram"]
        .fn(spark, path)
        .collect()
    }
    for g, cs in groups.items():
        srt = sorted(cs)
        truth = srt[(len(srt) + 1) // 2 - 1] / 100.0
        assert got[g][0] == len(cs)
        assert got[g][1] == pytest.approx(truth, abs=1e-9), (g, srt)


@settings(**_PROP)
@given(
    keys=st.sets(
        st.integers(min_value=0, max_value=10**7), min_size=1, max_size=300
    )
)
def test_global_row_number_matches_enumerate(spark, tmp_path_factory, keys):
    """ids_global_row_number == enumerate over (key % 64, key) order,
    for arbitrary unique key sets."""
    import pyspark.sql.types as T2

    from jubilant_garbanzo_spark.queries import load_all

    schema = T2.StructType([T2.StructField("o_orderkey", T2.LongType())])
    path = str(tmp_path_factory.mktemp("rn"))
    spark.createDataFrame([(k,) for k in keys], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    got = {
        r.o_orderkey: r.global_rn
        for r in load_all()["ids_global_row_number"].fn(spark, path).collect()
    }
    ordered = sorted(keys, key=lambda k: (k % 64, k))
    n = len(ordered)
    want = {
        k: i + 1
        for i, k in enumerate(ordered)
        if (i + 1) % 100 == 1 or (i + 1) == n
    }
    assert got == want


def test_versioned_table_snapshot_isolation(spark, tmp_path):
    """An in-flight write (data present, manifest absent) must be
    invisible: latest-resolution keeps serving the last PUBLISHED
    version, and publishing is the manifest rename alone."""
    from jubilant_garbanzo_spark.sources.versioned import (
        commit_version,
        latest_version,
        read_version,
    )

    table_dir = str(tmp_path / "vt")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(9).withColumnRenamed("id", "k")
    commit_version(df1, table_dir, 1)
    assert latest_version(table_dir) == 1
    # Simulate an in-flight v2: data lands, no manifest yet.
    df2.write.mode("overwrite").parquet(f"{table_dir}/v2")
    assert latest_version(table_dir) == 1
    assert read_version(spark, table_dir).count() == 5
    # Publish: one manifest write flips visibility.
    commit_version(df2, table_dir, 2)
    assert latest_version(table_dir) == 2
    assert read_version(spark, table_dir).count() == 9
    # Time travel still serves the immutable v1.
    assert read_version(spark, table_dir, version=1).count() == 5


def test_adaptive_bits_holds_past_two_million_vectors():
    """Regression pin for the round-6 watch item: with the oracle
    unroll width at 24 bits, "corpus-adaptive" must keep widening past
    the old 16-bit saturation point (~2 M vectors) and the SQL twin
    must agree out there — checked at 3 M, 100 M, and the new 537 M
    saturation boundary."""
    import duckdb

    from jubilant_garbanzo_spark.operators import similarity as S

    assert S.MAX_BITS >= 24
    for n in (3_000_000, 100_000_000, S.TARGET_BUCKET * 2**S.MAX_BITS + 1):
        bits = S.adaptive_bits(n)
        assert bits > 16 or n <= S.TARGET_BUCKET * 2**16
        sql_bits = duckdb.sql(f"SELECT {S.adaptive_bits_sql(str(n))}").fetchone()[0]
        assert sql_bits == bits, n
    assert S.adaptive_bits(3_000_000) == 17
    assert S.adaptive_bits(S.TARGET_BUCKET * 2**S.MAX_BITS + 1) == S.MAX_BITS


def test_pq_adc_corpus_smaller_than_codebook(spark):
    """N < k: the sampled codebook degrades to N centroids and the
    search must still return N-1 ranked rows (self excluded) with the
    encode-search identity intact — the boundary a tiny partition
    fragment or a filtered shard hits in production."""
    from jubilant_garbanzo_spark.operators import similarity as S

    rows = [
        (i, [float((i * 7 + d) % 5 - 2) / 2.0 for d in range(64)])
        for i in range(5)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ranked = S.pq_adc_topk(e, topk=10).collect()
    assert len(ranked) == 4, ranked
    assert all(r["q_id"] == 4 for r in ranked)
    dists = [r["adc_dist"] for r in ranked]
    assert dists == sorted(dists)
    # identity: with every vector a centroid, codes are exact → the
    # self row (exclude_self=False) has err == 0 == its own ADC dist
    own = {
        r["vec_id"]: r["adc_dist"]
        for r in S.pq_adc_topk(e, topk=10, exclude_self=False).collect()
    }
    enc = {r["vec_id"]: r["err_scaled"] for r in S.pq_encode(e).collect()}
    assert own[4] == enc[4] == 0, (own.get(4), enc.get(4))


def test_blob_export_collect_is_row_capped(spark):
    """The one fixture-export collect (sources/formats.py) must refuse —
    not OOM the driver — when the modulus-sample exceeds its cap
    (VERDICT r7 #8: guard the collect with a row-cap assert). The
    limit(cap+1) bound means an over-cap sample raises instead of
    silently truncating."""
    import os

    from jubilant_garbanzo_spark.sources import formats as FMT

    with pytest.raises(ValueError, match="row_cap"):
        FMT.export_text_blobs(
            spark, "/root/testdata/sf0.001", modulus=1, row_cap=3
        )
    # under the cap the export succeeds and is built once: a second
    # call returns the same path with its files untouched
    def export():
        return FMT.export_text_blobs(
            spark, "/root/testdata/sf0.001", modulus=997, row_cap=1000
        )

    out = export()
    files = {e.name: e.stat().st_mtime_ns for e in os.scandir(out)}
    assert files
    assert export() == out
    assert {e.name: e.stat().st_mtime_ns for e in os.scandir(out)} == files


def test_hilbert_curve_matches_reference_and_is_bijective(spark):
    """The unrolled let-binding Hilbert expression must equal the
    public iterative xy->d algorithm exactly (including reflections at
    high coordinates) and be injective — the properties the clustered
    layout's pruning story rests on."""
    from jubilant_garbanzo_spark.queries.sources import (
        HILBERT_ORDER,
        _hilbert_d,
    )

    def py_hilbert(order, x, y):
        d = 0
        s = 1 << (order - 1)
        while s > 0:
            rx = 1 if x & s else 0
            ry = 1 if y & s else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(16) for y in range(16)]
    pts += [(12345, 678), (65535, 65535), (40000, 1), (1, 40000)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", _hilbert_d("x", "y").alias("d")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == py_hilbert(HILBERT_ORDER, x, y), (x, y)
    assert len({got[p] for p in pts}) == len(pts)


def test_gopher_rules_each_rule_fires_exactly_once(spark, tmp_path):
    """Eight constructed docs: one passes every rule, the other seven
    each violate EXACTLY one rule — so the battery's per-rule counts
    are fully determined and no rule is vacuously untested (the
    synthetic fixture has no lines/bullets/symbols)."""
    from jubilant_garbanzo_spark.queries import load_all

    passing = " ".join(["the", "and"] + ["alpha"] * 48)
    docs = [
        passing,                                        # passes all
        "the and word",                                 # words < 50
        " ".join(["the", "and"] + ["ab"] * 48),         # mean len < 3
        " ".join(["the", "and"] + ["alpha"] * 48) + " ######",  # symbols
        "\n".join(["- the and alpha beta gamma"] * 10),  # bullets
        # 7 words/line keeps the doc >= 50 words even though the 9
        # line boundaries merge adjacent words under the space-split
        "\n".join(
            ["the and alpha beta gamma delta epsilon..."] * 4
            + ["the and alpha beta gamma delta epsilon"] * 6
        ),                                              # ellipsis lines
        " ".join(["the", "and"] + ["123"] * 48),        # alpha frac
        " ".join(["alpha"] * 50),                       # stopwords < 2
    ]
    rows = [
        (i, t, "en", "s0", len(t)) for i, t in enumerate(docs)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["rule"]: (r["n_rejected"], r["reject_frac"])
        for r in load_all()["text_gopher_rules"].fn(spark, str(tmp_path)).collect()
    }
    for rule in (
        "words_outside_50_100k",
        "mean_word_length_3_10",
        "symbol_word_ratio_gt_10pct",
        "bullet_lines_ge_90pct",
        "ellipsis_lines_gt_30pct",
        "alpha_word_frac_lt_80pct",
        "stopwords_lt_2",
    ):
        assert got[rule] == (1, 0.125), (rule, got[rule])
    assert got["any_rule"] == (7, 0.875)


def test_cusum_changepoint_finds_planted_shift(spark, tmp_path):
    """A series with a hard level shift (5/hour for 30 hours, then
    25/hour for 30 hours) must put the CUSUM argmax exactly on the
    last pre-shift hour, with before/after means at the true levels."""
    import datetime as dt

    from jubilant_garbanzo_spark.queries import load_all

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for hr in range(60):
        level = 5 if hr < 30 else 25
        for i in range(level):
            rows.append(
                (
                    eid,
                    base + dt.timedelta(hours=hr, seconds=i),
                    "click",
                    eid % 7,
                )
            )
            eid += 1
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, user_id long"
    ).write.parquet(f"{sf}/events.parquet")

    got = (
        load_all()["timeseries_cusum_changepoint"].fn(spark, sf).collect()
    )
    assert len(got) == 1
    r = got[0]
    assert r["change_idx"] == 30
    assert r["change_hour"] == "2024-03-02 05:00"  # hour index 29
    assert r["mean_before_micro"] == 5_000_000
    assert r["mean_after_micro"] == 25_000_000


def test_recursive_cte_matches_python_bfs_and_path_dp(spark, sf_dir):
    """sql_recursive_cte_reachability vs an independent Python replay:
    min_hops must equal BFS distance (<= 3) and n_paths must equal the
    bounded path-count DP sum_{h<=3} paths(0 -> v, h) over the same
    half-mean-thresholded edge set."""
    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    edges = con.execute(
        """WITH e0 AS (
           SELECT CAST(c.c_nationkey AS BIGINT) src,
                  CAST(s.s_nationkey AS BIGINT) dst, count(*) w
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY 1, 2
        ), tot AS (SELECT sum(w) tw, count(*) ne FROM e0)
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e0, tot WHERE 2 * w * ne >= tw
          UNION ALL
          SELECT dst, src FROM e0, tot WHERE 2 * w * ne >= tw
        ) WHERE src != dst"""
    ).fetchall()
    names = dict(
        con.execute("SELECT n_nationkey, n_name FROM nation").fetchall()
    )
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)

    # path-count DP: frontier[h][v] = #paths 0->v of length exactly h
    counts = {0: {0: 1}}
    for h in range(1, 4):
        nxt: dict[int, int] = {}
        for v, c in counts[h - 1].items():
            for w_ in adj.get(v, []):
                nxt[w_] = nxt.get(w_, 0) + c
        counts[h] = nxt
    want = {}
    for h in range(4):
        for v, c in counts[h].items():
            if names[v] not in want:
                want[names[v]] = [h, 0]
            want[names[v]][1] += c
    got = {
        r["nation"]: (r["min_hops"], r["n_paths"])
        for r in load_all()["sql_recursive_cte_reachability"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()}


def test_interval_coverage_tied_starts_merge_into_one_island(spark, tmp_path):
    """Two intervals opening at the SAME instant must form ONE island
    (regression: the island-numbering window ordered by (s, e) while
    the flag pass ordered by (s, event_id), so the shorter tied-start
    interval sorted ahead of the flag-carrying row and split the
    island — found by the brute-force hypothesis property). Checked as
    a differential too: the oracle shared the bug bit-for-bit."""
    import datetime as dt

    from jubilant_garbanzo_spark.queries import load_all
    from jubilant_garbanzo_spark.testing import compare_query, duckdb_connection

    base = dt.datetime(2024, 1, 1, 0, 0, 1)
    rows = [
        # user 3: long interval (104.644297 s) and short (30 s), SAME ts
        (0, base, 3, "view", 164.644297, "{}"),
        (4, base, 3, "view", 0.0, "{}"),
        # user 1: three identical zero-value events at one instant
        (1, base, 1, "view", 0.0, "{}"),
        (2, base, 1, "view", 0.0, "{}"),
        (3, base, 1, "view", 0.0, "{}"),
    ]
    path = str(tmp_path)
    _write_events(spark, path, rows)

    spec = load_all()["timeseries_interval_coverage"]
    con = duckdb_connection(path)
    try:
        problems = compare_query(spark, spec, path, con=con)
        assert not problems, problems
    finally:
        con.close()

    got = {
        r["user_id"]: (r["n_islands"], r["n_events"], r["covered_sec"])
        for r in spec.fn(spark, path).collect()
    }
    assert got[3] == (1, 2, 104.644297)
    assert got[1] == (1, 3, 30.0)


@settings(**_PROP)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30_000_000),  # offset µs
            st.sampled_from(["view", "click", "buy"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_sliding_window_counts_matches_bruteforce(
    spark, tmp_path_factory, data
):
    """sliding_window_counts == Python window-set replay on random
    event times (10s window / 5s slide, epoch-aligned starts): every
    event lands in exactly the two windows whose starts are the two
    5s-grid points in (ts-10s, ts] — boundary microseconds included."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    rows = [
        (
            i,
            base + dt.timedelta(microseconds=off),
            1,
            etype,
            0.0,
            "{}",
        )
        for i, (off, etype) in enumerate(data)
    ]
    path = str(tmp_path_factory.mktemp("swp"))
    _write_events(spark, path, rows)

    from jubilant_garbanzo_spark.queries import load_all

    got = {
        (r.window_start, r.event_type): r.cnt
        for r in load_all()["sliding_window_counts"].fn(spark, path).collect()
    }

    expected: dict = {}
    for off, etype in data:
        ts = base_us + off
        s0 = (ts // 5_000_000) * 5_000_000
        for s in (s0, s0 - 5_000_000):
            key = (
                dt.datetime.fromtimestamp(
                    s / 1_000_000, dt.timezone.utc
                ).strftime("%Y-%m-%d %H:%M:%S"),
                etype,
            )
            expected[key] = expected.get(key, 0) + 1
    assert got == expected


@settings(**_PROP)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=2400),  # ts offset s
            st.integers(min_value=-(10**6), max_value=10**6),  # value µ-ish
        ),
        min_size=1,
        max_size=50,
    )
)
def test_window_range_frame_matches_bruteforce(
    spark, tmp_path_factory, data
):
    """window_range_frame == Python trailing-600s replay on random
    per-user series; RANGE frames include ALL peer rows at a tied
    ts_sec (even later event_ids), which row-based replays get wrong —
    the tie class the interval-coverage bug hid in."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=s), u, "view", k / 1e6, "{}")
        for i, (u, s, k) in enumerate(data)
    ]
    path = str(tmp_path_factory.mktemp("wrf"))
    _write_events(spark, path, rows)

    from jubilant_garbanzo_spark.queries import load_all

    got = {
        r.event_id: (r.user_id, r.ts_sec, r.sum_last_10min, r.n_last_10min)
        for r in load_all()["window_range_frame"].fn(spark, path).collect()
    }

    base_s = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    for i, (u, s, k) in enumerate(data):
        cur = base_s + s
        peers = [
            (u2, s2, k2)
            for (u2, s2, k2) in data
            if u2 == u and cur - 600 <= base_s + s2 <= cur
        ]
        n = len(peers)
        total = sum(round((k2 / 1e6) * 1e6) for _, _, k2 in peers) / 1e6
        assert got[i] == (u, cur, total, n), (i, got[i], (u, cur, total, n))


def _overlap_bruteforce(data):
    """Python ground truth for join_interval_overlap: 30-min-gap
    sessionization in (ts, event_id) order, then the naive quadratic
    overlap join, ranked (overlap_s DESC, u1, u2) LIMIT 50."""
    per_user: dict = {}
    for i, (u, us) in enumerate(data):
        per_user.setdefault(u, []).append((us, i))
    sessions = []
    for u, evs in per_user.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        s0 = e0 = None
        for us, _ in evs:
            if s0 is None or us - e0 > 1_800_000_000:
                if s0 is not None:
                    sessions.append((u, s0, e0))
                s0 = us
            e0 = us
        sessions.append((u, s0, e0))
    agg: dict = {}
    for i, (u1, s1, e1) in enumerate(sessions):
        for u2, s2, e2 in sessions[i + 1 :]:
            if u1 == u2:
                continue
            lo_u, hi_u = min(u1, u2), max(u1, u2)
            if s1 < e2 and s2 < e1:
                ov = (min(e1, e2) - max(s1, s2)) // 1_000_000
                k = (lo_u, hi_u)
                n, t = agg.get(k, (0, 0))
                agg[k] = (n + 1, t + ov)
    rows = sorted(
        ((u1, u2, n, t) for (u1, u2), (n, t) in agg.items()),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:50]
    return rows


@settings(**_PROP)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user
            st.integers(min_value=0, max_value=7200),  # ts offset s
        ),
        min_size=2,
        max_size=40,
    )
)
def test_interval_overlap_matches_bruteforce(spark, tmp_path_factory, data):
    """join_interval_overlap == naive Python sessionize+overlap on
    random event sets with frequent TIED timestamps (regression: the
    session-numbering window ordered by us alone, splitting sessions
    at ties exactly like the interval-coverage island bug; the oracle
    shared it, so only an independent replay can see it)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    rows = [
        (i, base + dt.timedelta(seconds=s), u, "view", 0.0, "{}")
        for i, (u, s) in enumerate(data)
    ]
    path = str(tmp_path_factory.mktemp("ovp"))
    _write_events(spark, path, rows)

    from jubilant_garbanzo_spark.queries import load_all

    got = [
        (r.u1, r.u2, r.n_overlaps, r.overlap_s)
        for r in load_all()["join_interval_overlap"].fn(spark, path).collect()
    ]
    expected = _overlap_bruteforce(
        [(u, base_us + s * 1_000_000) for (u, s) in data]
    )
    # Ranking ties below the LIMIT cutoff are totally ordered
    # (overlap_s DESC, u1, u2) on both sides; compare as sorted lists.
    assert sorted(got) == sorted(expected), (got, expected)


@settings(**_PROP)
@given(
    corpus=st.lists(
        st.lists(
            # tiny alphabet => dense cross-doc overlap, heavy df ties in
            # the rarest-first order, and the <3-token [text] fallback
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=8,
        ),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.55, 0.8]),
)
def test_hashed_prefix_jaccard_matches_bruteforce(spark, corpus, threshold):
    """Round-13 hashed-posting candidate stage vs a pure-Python
    brute-force ground truth on random corpora: every (pair, jaccard)
    at >= threshold must match exactly — the randomized twin of the
    fixture losslessness test, stressing df tie-orders, short-doc
    shingle fallbacks, and empty docs that the fixture shapes miss."""
    from fractions import Fraction

    from jubilant_garbanzo_spark.operators.dedup import ngram_jaccard_pairs

    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]

    def sh(text):
        toks = [t for t in text.split(" ") if t]
        if not toks:
            return {text} if text else {""}
        if len(toks) < 3:
            return {text}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    frac = Fraction(threshold).limit_denominator(1_000_000)
    expected = set()
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            a, b = sh(ta), sh(tb)
            inter = len(a & b)
            union = len(a | b)
            if union and inter * frac.denominator >= frac.numerator * union:
                expected.add((ida, idb, round(inter / union, 6)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == expected, (sorted(got - expected), sorted(expected - got))


def test_zipf_singular_fit_yields_null_not_crash(spark, tmp_path):
    """ADVICE r13: a one-distinct-token corpus makes the zipf fit
    singular — n = 1, x = ln(1) = 0, so den = n*sxx - sx*sx is EXACTLY
    0. Plain '/' threw DIVIDE_BY_ZERO under Spark 4's ANSI default
    while the oracle's CASE yielded NULL; the Spark side now carries
    try_divide, so both engines agree on (NULL slope, NULL
    intercept)."""
    from jubilant_garbanzo_spark.queries import load_all

    rows = [(0, "alpha alpha alpha", "en", "s0", 17)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = load_all()["text_zipf_slope"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_terms"] == 1
    assert out[0]["zipf_slope"] is None
    assert out[0]["log_intercept"] is None


def test_irls_singular_system_yields_null_not_crash(spark, tmp_path):
    """ADVICE r13: all-identical xm = 0 zeroes swxd/swxxd so the IRLS
    2x2 determinant is an EXACT IEEE 0 — plain '/' threw
    DIVIDE_BY_ZERO under the ANSI default where the oracle's CASE
    yields NULL betas. The corpus is engineered so every doc's mean
    hashed-BoW logit rounds to xm = 0: tokens (at, at, w, bh, bh)
    carry weights (-1000, -1000, 239, 972, 972), sum 183, and
    (183 + BIAS_MILLI*5)/5 = -0.4 rounds to 0. With try_divide the
    round-1 betas are NULL and round 2 cascades NULL through the
    NULL-beta sigmoid, exactly as the oracle computes."""
    from jubilant_garbanzo_spark.queries import load_all

    text = "at at w bh bh"
    rows = [
        (0, text, "en", "s0", 500),  # y = 1
        (1, text, "en", "s0", 10),   # y = 0
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = (
        load_all()["text_quality_calibration"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    assert [r["irls_round"] for r in out] == [1, 2]
    for r in out:
        assert r["beta0"] is None and r["beta1"] is None, r


def _sparse_cosine_rows(spark, docs, agg_mode):
    from jubilant_garbanzo_spark.queries.llm import (
        _SPARSE_COS_THRESHOLD,
        sparse_tfidf_components,
    )

    _post, nrm, dots = sparse_tfidf_components(docs, agg_mode=agg_mode)
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nn").alias("nb"))
    cos = F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
    return sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= _SPARSE_COS_THRESHOLD)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .collect()
    )


def test_sparse_tfidf_agg_paths_identical(spark):
    """Round 14: the packed-key BIGINT pair aggregation must produce
    bit-identical cosines to the DECIMAL(38,0) path — both sum the
    exact same integers; only the accumulator width differs. The
    corpus mixes near-dups (high shared-term mass), a partial overlap,
    and singletons so both paths exercise multi-term dot products."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base + " tail"),
        (2, base.replace("lazy", "sleepy")),
        (3, "completely different words entirely here now truly"),
        (4, "the quick brown fox leaps over the lazy dog again and again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dec = _sparse_cosine_rows(spark, docs, "decimal")
    big = _sparse_cosine_rows(spark, docs, "bigint")
    assert dec == big and len(dec) > 0, (dec, big)


def test_sparse_tfidf_auto_mode_survives_degenerate_corpora(spark):
    """The runtime guard's stats row is NULL on an empty corpus and
    trivial on a singleton — both must fall through without crashing
    and return zero pairs (no partner docs)."""
    from jubilant_garbanzo_spark.queries.llm import sparse_tfidf_components

    empty = spark.createDataFrame([], "doc_id long, text string")
    _p, _n, dots = sparse_tfidf_components(empty)
    assert dots.count() == 0
    single = spark.createDataFrame(
        [(7, "one lonely document with several tokens")],
        "doc_id long, text string",
    )
    _p, _n, dots = sparse_tfidf_components(single)
    assert dots.count() == 0


def test_partsupp_zero_suppliers_yields_null_not_crash(spark, tmp_path):
    """Round 14 (found when the oracle division check, now
    test_oracle_divisors_are_null_safe, learned '%'): the derived
    partsupp divides and mods by s = count(supplier). On a
    parts-nonempty / suppliers-empty corpus ANSI Spark threw
    DIVIDE_BY_ZERO where DuckDB yields NULL; the shared zero-supplier
    CASE now makes both engines emit NULL ps_suppkey (which every
    downstream supplier join then drops)."""
    from jubilant_garbanzo_spark.queries.tpch import _partsupp

    spark.createDataFrame(
        [(1, "p1"), (2, "p2")], "p_partkey long, p_name string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(
        [], "s_suppkey long, s_nationkey long, s_name string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/supplier.parquet")
    rows = _partsupp(spark, str(tmp_path)).collect()
    assert len(rows) == 8  # 2 parts x 4 replicas, no crash
    assert all(r["ps_suppkey"] is None for r in rows)
    # supplycost inherits the NULL suppkey term
    assert all(r["ps_supplycost_cents"] is None for r in rows)
