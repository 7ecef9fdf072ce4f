"""Graph-operator unit tests: PageRank fixpoint properties on hand
graphs (structure the sf-fixture oracle can't isolate) and triangle
counting on known topologies."""

from __future__ import annotations

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.operators.graphs import (
    PR_SCALE,
    cooccurrence_edges,
    pagerank_fixed,
    triangle_count,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_cycle_is_uniform(spark):
    """A directed 3-cycle is perfectly symmetric — every node must hold
    exactly the same rank at every iteration (integer arithmetic makes
    this an equality, not an approximation)."""
    e = _edges(spark, [(0, 1, 1), (1, 2, 1), (2, 0, 1)])
    r = _ranks(pagerank_fixed(e, _nodes(spark, [0, 1, 2]), graph_partitions=1))
    assert len(set(r.values())) == 1, r
    # Mass conserved up to integer-truncation drift (< iters * |E| units).
    assert abs(sum(r.values()) - PR_SCALE) < 5 * 3 * 10, r


def test_pagerank_star_concentrates_on_hub(spark):
    """Spokes pointing at a hub: the hub must out-rank every spoke, and
    the hub's dangling mass must recycle (sum stays ~1)."""
    e = _edges(spark, [(1, 0, 1), (2, 0, 1), (3, 0, 1)])
    r = _ranks(
        pagerank_fixed(e, _nodes(spark, [0, 1, 2, 3]), graph_partitions=1)
    )
    assert r[0] > r[1] == r[2] == r[3], r
    assert abs(sum(r.values()) - PR_SCALE) < 5 * 4 * 10, r


def test_pagerank_unhinted_matches_hinted(spark):
    """Round 14 (ADVICE r13): without the graph_partitions small-graph
    signal the dangling-set join no longer carries a broadcast hint —
    AQE picks the strategy. The integer fixpoint must be IDENTICAL to
    the hinted path on the same graph (the hint is a physical-plan
    choice, never a semantics choice)."""
    e = _edges(spark, [(1, 0, 1), (2, 0, 1), (3, 0, 2), (0, 1, 1)])
    nodes = _nodes(spark, [0, 1, 2, 3, 4])  # 4 is isolated (dangling)
    hinted = _ranks(pagerank_fixed(e, nodes, graph_partitions=1))
    unhinted = _ranks(pagerank_fixed(e, nodes))
    assert hinted == unhinted, (hinted, unhinted)


def test_pagerank_weights_shift_mass(spark):
    """Out-edge weights split a node's rank proportionally: with
    0 →(3)→ 1 and 0 →(1)→ 2, node 1 must get ~3× node 2's inflow."""
    e = _edges(spark, [(0, 1, 3), (0, 2, 1), (1, 0, 1), (2, 0, 1)])
    r = _ranks(
        pagerank_fixed(e, _nodes(spark, [0, 1, 2]), graph_partitions=1)
    )
    assert r[1] > r[2], r


def test_triangle_count_known_topologies(spark):
    """K4 has exactly 4 triangles; a 4-cycle has none. Edges are given
    a < b, each once."""
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "a long, b long"
    )
    assert triangle_count(k4).collect()[0]["n_triangles"] == 4
    c4 = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "a long, b long"
    )
    assert triangle_count(c4).collect()[0]["n_triangles"] == 0


def test_cooccurrence_threshold_is_exact_ratio(spark):
    """Edge rule 100*c_ab >= pct*least(c_a, c_b): x and y each appear
    in 2 docs, co-occur in 1 → 50% of the rarer token's docs —
    included at pct=50, excluded at 51."""
    dt = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (3, "y")], "doc_id long, tok string"
    )
    at50 = cooccurrence_edges(dt, min_ratio_pct=50).collect()
    at51 = cooccurrence_edges(dt, min_ratio_pct=51).collect()
    assert [(r["a"], r["b"], r["c_ab"]) for r in at50] == [("x", "y", 1)]
    assert at51 == []


def test_iterative_oracles_materialize_their_ctes():
    """The unrolled k-core/link-prediction oracles reference the shared
    edge CTE once per round per join side; DuckDB inlines each
    reference, so without AS MATERIALIZED the 4-way fact join re-runs
    ~50x and exhausts temp disk at sf0.1 (it presented as 'oracle
    resource exhaustion' for a round before the one-keyword fix). Pin
    the hint so a regenerated oracle cannot silently reintroduce the
    explosion."""
    from jubilant_garbanzo_spark.queries import load_all

    specs = load_all()
    for name in (
        "graph_kcore",
        "graph_link_prediction_jaccard",
        "graph_clustering_coefficient",
    ):
        sql = specs[name].oracle
        assert "AS MATERIALIZED (" in sql, f"{name} lost MATERIALIZED"
        # every multiply-referenced CTE in the shared edge block
        for cte in ("e0", "tot", "und"):
            assert f"{cte} AS MATERIALIZED (" in sql, (
                f"{name}: CTE {cte} is inlined again"
            )


def test_hits_star_graph_matches_integer_recurrence(spark):
    """HITS sanity on a hand-solvable star: 1→3 (w=2), 2→3 (w=1).
    Structure: node 3 is the only authority (no out-edges → hub 0),
    1/2 are pure hubs with h1 = 2·h2 exactly (shared divisor keeps
    within-round ratios); values match an independent Python replay
    of the integer recurrence bit-for-bit."""
    from jubilant_garbanzo_spark.operators.graphs import (
        HITS_SCALE,
        hits_fixed,
    )

    E = [(1, 3, 2), (2, 3, 1)]
    N = [1, 2, 3]
    h = {n: HITS_SCALE for n in N}
    a = {}
    for _ in range(2):
        araw = {}
        for s_, d_, w in E:
            araw[d_] = araw.get(d_, 0) + w * h[s_]
        am = max(araw.values())
        a = {n: v // max(am // HITS_SCALE, 1) for n, v in araw.items()}
        hraw = {}
        for s_, d_, w in E:
            hraw[s_] = hraw.get(s_, 0) + w * a.get(d_, 0)
        hm = max(hraw.values())
        h = {n: v // max(hm // HITS_SCALE, 1) for n, v in hraw.items()}

    edges = spark.createDataFrame(E, "src long, dst long, w long")
    nodes = spark.createDataFrame([(n,) for n in N], "node long")
    out = {
        r["node"]: (r["authority_fixed"], r["hub_fixed"])
        for r in hits_fixed(edges, nodes, iterations=2).collect()
    }
    assert out == {n: (a.get(n, 0), h.get(n, 0)) for n in N}
    assert out[3][1] == 0 and out[1][0] == 0 and out[2][0] == 0
    assert out[1][1] == 2 * out[2][1]


def test_clustering_coefficient_matches_python_on_fixture(spark, sf_dir):
    """graph_clustering_coefficient vs an independent Python
    recomputation from the same symmetrized significant-trade edges:
    degree, triangle count, and the shifted-div ppm must all agree,
    and cc_ppm must respect its bounds (0..1e6, tri <= C(deg,2))."""
    from jubilant_garbanzo_spark.queries import load_all

    specs = load_all()
    rows = specs["graph_clustering_coefficient"].fn(spark, sf_dir).collect()
    # rebuild the edge set exactly as the query derives it
    from jubilant_garbanzo_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    und = set(
        map(
            tuple,
            con.execute(
                """WITH e0 AS (
                   SELECT CAST(c.c_nationkey AS BIGINT) src,
                          CAST(s.s_nationkey AS BIGINT) dst,
                          count(*) w
                   FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
                   JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   GROUP BY 1, 2
                ), tot AS (SELECT sum(w) tw, count(*) ne FROM e0)
                SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM e0, tot WHERE w * ne >= tw
                  UNION ALL
                  SELECT dst, src FROM e0, tot WHERE w * ne >= tw
                ) WHERE src != dst"""
            ).fetchall(),
        )
    )
    names = dict(
        con.execute("SELECT n_nationkey, n_name FROM nation").fetchall()
    )
    nbrs: dict[int, set[int]] = {}
    for s, d in und:
        nbrs.setdefault(s, set()).add(d)
    want = {}
    for v, ns in nbrs.items():
        deg = len(ns)
        if deg < 2:
            continue
        tri = sum(
            1
            for x in ns
            for y in ns
            if x < y and (x, y) in und
        )
        ppm = (2 * (2 * tri * 1000000) + deg * (deg - 1)) // (
            2 * deg * (deg - 1)
        )
        want[names[v]] = (deg, tri, ppm)
    got = {
        r["nation"]: (r["degree"], r["triangles"], r["cc_ppm"])
        for r in rows
    }
    assert got == want
    for deg, tri, ppm in got.values():
        assert 0 <= ppm <= 1_000_000
        assert tri <= deg * (deg - 1) // 2


def test_hits_fixed_rejects_nonpositive_iterations(spark):
    """iterations < 1 must fail fast with a clear contract error, not
    a TypeError from joining a None authority frame."""
    import pytest

    from jubilant_garbanzo_spark.operators.graphs import hits_fixed

    edges = _edges(spark, [(1, 2, 1)])
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="iterations >= 1"):
            hits_fixed(edges, nodes, iterations=bad)
