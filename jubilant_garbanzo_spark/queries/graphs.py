"""Graph-analytics queries: fixed-point PageRank over the trade graph
and triangle counting over the token co-occurrence graph.

Reference parity note: the reference app (tweet-streamer/src/main/
scala/main.scala, 64 lines) has no graph surface; together with the
connected-components clustering in ``operators/dedup.py`` these give
the engine the iterative-graph tier a training-data pipeline needs
(influence scoring, community detection, association mining).

Oracle discipline: PageRank runs in exact scaled-BIGINT arithmetic
(``operators/graphs.py``), so DuckDB replays the identical integer
recurrence via chained CTEs — a full value-hash oracle for an
ITERATIVE algorithm, something float-based formulations cannot offer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import (
    load_table,
    materialize,
    session_index,
)
from jubilant_garbanzo_spark.operators.graphs import (
    PR_DAMPING_PCT,
    PR_SCALE,
    bfs_hops,
    cooccurrence_edges,
    pagerank_fixed,
    triangle_count,
)
from jubilant_garbanzo_spark.queries import register

#: The nation trade graph as a DuckDB CTE, ``e0`` = (src, dst, w): the
#: twin of :func:`_trade_graph`, which every trade-graph oracle opens with.
_TRADE_CTE = """
        WITH e0 AS MATERIALIZED (
            SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                   CAST(s.s_nationkey AS BIGINT) AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        )"""

#: ``sig``: the DuckDB twin of :func:`_significant`, as (src, dst).
_SIG_CTE = _TRADE_CTE + """, tot AS MATERIALIZED (
            SELECT CAST(sum(w) AS BIGINT) AS tw,
                   CAST(count(*) AS BIGINT) AS ne
            FROM e0
        ), sig AS MATERIALIZED (
            SELECT src, dst FROM e0, tot WHERE w * ne >= tw
        )"""

#: ``edges``: the trade graph without self-loops (:func:`_no_self_loops`).
_LOOPLESS_CTE = _TRADE_CTE + """, edges AS MATERIALIZED (
            SELECT src, dst, w FROM e0 WHERE src <> dst
        )"""


def _trade_graph(spark, sf_dir) -> DataFrame:
    """The nation trade graph (src, dst, w): customer nation → supplier
    nation, weighted by lineitem count, self-loops included.

    The fact-fact join chain (lineitem⋈orders shuffles on orderkey,
    then custkey/suppkey joins against broadcastable dims) is the
    100 TB cost; it collapses to ≤ 25·25 entity edges at ANY fact
    scale. Eight graph queries iterate that graph, so it is derived
    once per session and fixture (catalog.session_index), eagerly
    checkpointed on one partition."""

    def build():
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
        return materialize(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .groupBy(
                F.col("c_nationkey").cast("bigint").alias("src"),
                F.col("s_nationkey").cast("bigint").alias("dst"),
            )
            .agg(F.count("*").alias("w"))
            .coalesce(1)
        )

    return session_index(spark, sf_dir, "trade_graph", build)


def _no_self_loops(g: DataFrame) -> DataFrame:
    return g.filter(F.col("src") != F.col("dst"))


def _significant(g: DataFrame) -> DataFrame:
    """The edges whose weight is at least the mean edge weight. The
    integer cross-multiplied threshold w·|E| >= Σw keeps the
    sparsification exact and scale-adaptive — a fixed absolute cutoff
    would empty the graph at small SF and keep everything at 100 TB."""
    tot = g.agg(
        F.sum("w").cast("bigint").alias("tw"),
        F.count("*").cast("bigint").alias("ne"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("ne") >= F.col("tw"))
        .select("src", "dst", "w")
    )


def _undirected(g: DataFrame) -> DataFrame:
    """Symmetrize: each edge both ways, weights summed per (src, dst)."""
    return (
        g.select("src", "dst", "w")
        .unionByName(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )


def _significant_und(spark, sf_dir) -> DataFrame:
    """(src, dst): the symmetrized significant-trade graph without
    self-loops — k-core, link prediction and clustering coefficient.

    Eager materialization, NOT a lazy cache (round 15): each consumer
    reaches this frame through broadcast subtrees (kcore's peel rounds
    nest a broadcast build of every ``keep``; the nbr/deg sides of the
    other two) that AQE launches CONCURRENTLY at action time, and each
    one missed the still-empty lazy cache and re-ran the derivation
    (~25 concurrent 37-task jobs in the kcore job profile,
    plans/r15/evidence/profile_jobs.py). Interleaved sf0.1 A/B,
    measured when the derivation still held the fact-join chain: 2.43x
    (kcore, 3.52 → 1.45 s), 2.09x (link prediction), 1.96x (clustering
    coefficient), rows identical."""
    g = _significant(_trade_graph(spark, sf_dir))
    return materialize(
        _undirected(_no_self_loops(g))
        .select("src", "dst")
        .coalesce(1)
    )


_PR_ITERATIONS = 5


def _pagerank_oracle(iterations: int = _PR_ITERATIONS) -> str:
    """Unrolled-CTE DuckDB twin of the integer PageRank recurrence."""
    d, scale = PR_DAMPING_PCT, PR_SCALE
    parts = [
        _TRADE_CTE,
        f""", nodes AS (
            SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
        ), outw AS (
            SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e0 GROUP BY src
        ), r0 AS (
            SELECT node, CAST({scale} AS BIGINT) // NULLIF(n, 0) AS rank FROM nodes, nn
        )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", c{i} AS (
            SELECT e.dst AS node,
                   CAST(sum((r.rank * e.w) // NULLIF(o.outw, 0)) AS BIGINT) AS in_c
            FROM e0 e
            JOIN outw o ON e.src = o.src
            JOIN r{i - 1} r ON r.node = e.src
            GROUP BY e.dst
        ), d{i} AS (
            SELECT COALESCE(CAST(sum(r.rank) AS BIGINT), 0) AS dang
            FROM r{i - 1} r LEFT JOIN outw o ON r.node = o.src
            WHERE o.src IS NULL
        ), r{i} AS (
            SELECT nodes.node,
                   (CAST({100 - d} * {scale} AS BIGINT) // NULLIF((100 * nn.n), 0))
                   + ({d} * (COALESCE(c.in_c, CAST(0 AS BIGINT))
                             + (dd.dang // NULLIF(nn.n, 0)))) // 100 AS rank
            FROM nodes
            LEFT JOIN c{i} c ON nodes.node = c.node, d{i} dd, nn
        )"""
        )
    parts.append(
        f"""
        SELECT n.n_name AS nation,
               r.rank AS rank_fixed,
               round(CAST(r.rank AS DOUBLE) / {float(scale)}, 6) AS pagerank
        FROM r{iterations} r JOIN nation n ON r.node = n.n_nationkey
        ORDER BY rank_fixed DESC, nation"""
    )
    return "".join(parts)


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank(spark, sf_dir):
    """PageRank over the nation-level trade graph (edge cust-nation →
    supp-nation weighted by lineitem count), 5 fixed iterations,
    d=0.85, EXACT scaled-integer arithmetic — bit-identical on any
    engine/partitioning, so the iterative fixpoint itself is
    hash-oracled against DuckDB's unrolled-CTE replay.

    Scale shape: the expensive part is edge derivation — a fact-fact
    join chain (lineitem⋈orders shuffles on orderkey, then custkey /
    suppkey joins against broadcastable dims) collapsing 100 TB of
    facts to an entity-level edge list. Iterations then run on the
    collapsed graph: per round one equi-join edges⋈ranks (AQE
    broadcasts the rank vector) + one groupBy(dst). Driver never
    collects; the two scalar aggregates (N, dangling mass) travel as
    broadcast 1-row joins."""
    nation = load_table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").cast("bigint").alias("node"))
    # The collapsed nation graph is ≤25 nodes at ANY fact scale —
    # iterate it on one partition (see pagerank_fixed's rationale).
    ranks = pagerank_fixed(
        _trade_graph(spark, sf_dir),
        nodes,
        iterations=_PR_ITERATIONS,
        graph_partitions=1,
    )
    return (
        ranks.join(nation, ranks.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("rank").alias("rank_fixed"),
            F.round(F.col("rank").cast("double") / float(PR_SCALE), 6).alias(
                "pagerank"
            ),
        )
        .orderBy(F.desc("rank_fixed"), "nation")
    )


@register(
    "graph_triangle_count",
    oracle="""
        WITH dt AS (
            SELECT DISTINCT doc_id, t.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''
        ), tc AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY tok
        ), pairs AS (
            SELECT x.tok AS a, y.tok AS b, CAST(count(*) AS BIGINT) AS c_ab
            FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.tok < y.tok
            GROUP BY x.tok, y.tok
        ), edges AS (
            SELECT p.a, p.b
            FROM pairs p
            JOIN tc ta ON p.a = ta.tok
            JOIN tc tb ON p.b = tb.tok
            WHERE 100 * p.c_ab >= 60 * least(ta.c, tb.c)
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM tc) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT)
                FROM edges e1
                JOIN edges e2 ON e1.b = e2.a
                JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles
    """,
    tags=("graph", "triangles", "cooccurrence"),
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the token co-occurrence graph: tokens are
    nodes, an edge joins tokens co-occurring in >= 60% of the rarer
    token's documents (exact integer ratio), triangles counted via the
    ordered two-path equi-join (a < b < c — each triangle once).

    Scale shape: pair generation is per-document (bounded by distinct
    tokens per doc — never corpus-quadratic); the association
    threshold keeps the edge list sparse; the triangle join is two
    equi-joins on token keys. At 100 TB the standard extra guards are
    a stop-token cap before pairing and degree-ordered orientation in
    the triangle join (fan-out bounded by graph arboricity)."""
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    # Eager, not persist (round 15): n_nodes/n_edges/tri consume the
    # edge list through concurrently-built broadcast subtrees that all
    # miss a lazy cache and re-run the co-occurrence pair join (the
    # kcore stampede). Interleaved sf0.1 A/B: 1.69x, rows identical.
    # No coalesce — the token graph is corpus-shaped, unlike the
    # bounded nation graphs.
    edges = materialize(cooccurrence_edges(dt, min_ratio_pct=60))
    n_nodes = dt.select("tok").distinct().agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    tri = triangle_count(edges)
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


_BFS_ROUNDS = 4


def _bfs_oracle(rounds: int = _BFS_ROUNDS) -> str:
    """Unrolled-CTE DuckDB twin of the bounded BFS frontier expansion."""
    parts = [
        _SIG_CTE,
        """, r0 AS (
            SELECT CAST(n_nationkey AS BIGINT) AS node,
                   CAST(0 AS BIGINT) AS hops
            FROM nation WHERE n_regionkey = 0
        )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", r{i} AS (
            SELECT node, min(hops) AS hops
            FROM (SELECT * FROM r{i - 1}
                  UNION ALL
                  SELECT e.dst, r.hops + 1
                  FROM r{i - 1} r JOIN sig e ON r.node = e.src)
            GROUP BY node
        )"""
        )
    parts.append(
        f"""
        SELECT n.n_name AS nation, r.hops
        FROM r{rounds} r JOIN nation n ON r.node = n.n_nationkey
        ORDER BY r.hops, nation
    """
    )
    return "".join(parts)


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle(),
    tags=("graph", "bfs", "reachability", "iterative"),
)
def graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance over the SIGNIFICANT-trade graph:
    nations reachable within 4 hops of any region-0 nation, following
    only edges whose lineitem count is >= the mean edge weight
    (:func:`_significant`).

    Third iterative-graph operator next to PageRank (value
    propagation) and connected components (label propagation): BFS is
    frontier propagation, the primitive under reachability, influence
    radius, and shortest-path features. Exact integers end-to-end, so
    the driver hash covers the full 4-round frontier recurrence.

    Scale shape: identical to graph_pagerank — fact-fact joins
    collapse 100 TB to an entity edge list once, then each round is
    one equi-join + min-groupBy on the collapsed graph (broadcast-
    sized rank/frontier vector, checkpointed static edges, lineage
    truncated per round).
    """
    nation = load_table(spark, sf_dir, "nation")
    edges = _significant(_trade_graph(spark, sf_dir))
    sources = nation.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").cast("bigint").alias("node")
    )
    dist = bfs_hops(edges, sources, iterations=_BFS_ROUNDS, graph_partitions=1)
    return (
        dist.join(nation, dist.node == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "hops")
        .orderBy("hops", "nation")
    )


def _lpa_iter_sql(prev: str, out: str) -> str:
    """One synchronous label-propagation round as DuckDB CTE text."""
    return f"""
        v{out} AS MATERIALIZED (
            SELECT e.src AS node, p.label, CAST(sum(e.w) AS BIGINT) AS wsum
            FROM und e JOIN {prev} p ON e.dst = p.node
            GROUP BY e.src, p.label
        ), b{out} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (
                           PARTITION BY node ORDER BY wsum DESC, label ASC
                       ) AS rn
                FROM v{out}
            ) WHERE rn = 1
        ), {out} AS MATERIALIZED (
            SELECT p.node, coalesce(b.label, p.label) AS label
            FROM {prev} p LEFT JOIN b{out} b ON b.node = p.node
        )"""


@register(
    "graph_label_propagation",
    oracle=_LOOPLESS_CTE + f"""
        , und AS MATERIALIZED (
            SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
                SELECT src, dst, w FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst, w FROM edges
            ) GROUP BY src, dst
        ), l0 AS MATERIALIZED (
            SELECT CAST(n_nationkey AS BIGINT) AS node,
                   CAST(n_nationkey AS BIGINT) AS label
            FROM nation
        ), {_lpa_iter_sql('l0', 'l1')}, {_lpa_iter_sql('l1', 'l2')}
        SELECT node, label AS community
        FROM l2
    """,
    tags=("graph", "community", "iterative"),
)
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (2 fixed
    rounds) over the undirected nation trade graph — the
    linear-per-round community algorithm (Raghavan et al. 2007) that
    complements PageRank (influence) and connected components
    (reachability) in the graph tier.

    Vanilla LPA is famously nondeterministic (random update order,
    random tie-breaks); this formulation is exactly reproducible, so
    an ITERATIVE community algorithm gets a full value-hash oracle:

    - synchronous rounds (all nodes update from the PREVIOUS round's
      labels — no order dependence);
    - deterministic argmax: heaviest incident-weight label wins, ties
      to the SMALLEST label (row_number over (wsum DESC, label ASC) /
      min(struct(-wsum, label)) — same total order on both engines);
    - integer weights (trade counts) — no float vote sums;
    - isolated nodes keep their own label via the left-join coalesce.

    Scale shape: identical skeleton to pagerank_fixed — the fact-join
    edge derivation dominates; each round is one equi-join of the
    edge list against the (node, label) vector (AQE broadcasts it
    when small) + one (node, label) partial-agg vote count + one
    argmin. Two statically-unrolled rounds keep lineage bounded; the
    self-edge filter (src ≠ dst) stops nations trading with
    themselves from trivially self-voting every round.
    """
    nation = load_table(spark, sf_dir, "nation")
    und = _undirected(_no_self_loops(_trade_graph(spark, sf_dir)))
    # NOT eager-checkpointed (round 15, deliberate): unlike kcore's
    # nested broadcast peel, both LPA rounds live in ONE plan where
    # exchange reuse already dedupes the edge derivation — the
    # interleaved A/B measured the blocking checkpoint at 0.90x (a
    # pure latency add), so the lazy form stays.
    labels = nation.select(
        F.col("n_nationkey").cast("bigint").alias("node"),
        F.col("n_nationkey").cast("bigint").alias("label"),
    )
    for _ in range(2):
        votes = (
            und.join(labels, und.dst == labels.node)
            .groupBy(F.col("src").alias("vnode"), "label")
            .agg(F.sum("w").cast("bigint").alias("wsum"))
        )
        best = votes.groupBy("vnode").agg(
            F.min(F.struct((-F.col("wsum")).alias("neg"), F.col("label")))[
                "label"
            ].alias("blabel")
        )
        labels = (
            labels.join(best, labels.node == best.vnode, "left")
            .select(
                "node",
                F.coalesce(F.col("blabel"), F.col("label")).alias("label"),
            )
        )
    return labels.select("node", F.col("label").alias("community"))


def _sssp_round_sql(prev: str, out: str) -> str:
    """One Bellman-Ford relaxation round as DuckDB CTE text."""
    return f"""
        c{out} AS MATERIALIZED (
            SELECT e.dst AS node, p.dist + e.cost AS dist
            FROM und_w e JOIN {prev} p ON e.src = p.node
            UNION ALL
            SELECT node, dist FROM {prev}
        ), {out} AS MATERIALIZED (
            SELECT node, CAST(min(dist) AS BIGINT) AS dist
            FROM c{out} GROUP BY node
        )"""


@register(
    "graph_sssp_bellman_ford",
    oracle=_LOOPLESS_CTE + f"""
        , und_w AS MATERIALIZED (
            SELECT src, dst,
                   CAST((1000000 + sum(w) - 1) // NULLIF(sum(w), 0) AS BIGINT) AS cost
            FROM (
                SELECT src, dst, w FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst, w FROM edges
            ) GROUP BY src, dst
        ), d0 AS MATERIALIZED (
            SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        ), {_sssp_round_sql('d0', 'd1')}, {_sssp_round_sql('d1', 'd2')},
        {_sssp_round_sql('d2', 'd3')}
        SELECT node, dist AS min_cost FROM d3
    """,
    tags=("graph", "sssp", "iterative"),
)
def graph_sssp_bellman_ford(spark, sf_dir):
    """Single-source weighted shortest paths (Bellman-Ford, 3 unrolled
    relaxation rounds) from nation 0 over the undirected trade graph,
    with edge cost = ⌈10⁶ / trade-count⌉ (strong trade = cheap hop) —
    the min-plus counterpart of graph_bfs_hops' hop counting, and the
    sixth algorithm in the graph tier (PageRank / triangles / CC /
    BFS / LPA / SSSP).

    Determinism: integer ceil-division costs (DuckDB ``//`` == Spark
    DIV on positive operands), integer min-plus distances — no float
    accumulation, so the iterative fixpoint hash-oracles exactly like
    PageRank. Nodes unreached within 3 rounds are absent (frontier
    semantics, not NULL-infinity rows).

    Scale shape per round: one equi-join of the edge list against the
    current distance vector (AQE broadcasts it — |nodes| rows) + a
    map-side-combinable min per node. Statically unrolled rounds keep
    lineage bounded; a diameter-bound loop with localCheckpoint every
    k rounds is the production form (operators/graphs.py pagerank
    discipline).
    """
    und_w = materialize(
        _undirected(_no_self_loops(_trade_graph(spark, sf_dir)))
        .select(
            "src",
            "dst",
            F.expr("CAST((1000000 + w - 1) DIV w AS BIGINT)").alias("cost"),
        )
        # the edge derivation must run ONCE, not once per relaxation
        # round; eager localCheckpoint also truncates the growing
        # min-plus lineage (operators/graphs.py pagerank discipline —
        # the measured 15.8 s lazy-lineage failure mode)
        .coalesce(1)
    )
    dist = spark.createDataFrame([(0, 0)], "node bigint, dist bigint")
    for _ in range(3):
        # dist is ≤ |nodes| rows but no checkpoint materialize() could
        # size — broadcast it explicitly: und_w's inherited estimate is
        # no statistic (233.5 PiB on Spark 4.1.2), and without the hint
        # 7 of the plan's 12 joins stayed sort-merge at sf0.01
        cand = und_w.join(F.broadcast(dist), und_w.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("cost")).alias("dist")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .coalesce(1)
        )
    return dist.select("node", F.col("dist").alias("min_cost"))


@register(
    "graph_degree_distribution",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), deg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM edges GROUP BY src
        ), hist AS (
            SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree
        ), tot AS (
            SELECT CAST(sum(n_nodes) AS BIGINT) AS nn,
                   CAST(sum(degree * n_nodes) AS BIGINT) AS ne
            FROM hist
        )
        SELECT h.degree, h.n_nodes,
               round(CAST(h.n_nodes AS DOUBLE) / NULLIF(CAST(t.nn AS DOUBLE), 0), 6)
                   AS node_share,
               CAST(sum(h.n_nodes) OVER (ORDER BY h.degree DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS nodes_with_at_least
        FROM hist h, tot t
    """,
    tags=("graph", "degree", "profile"),
)
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the customer→supplier trade graph (who
    buys from how many distinct suppliers) — the first diagnostic run
    on any large graph: its shape decides every downstream strategy
    (power-law tail → salt the hubs before joining; bounded degree →
    plain hash partitioning is safe). Emits the full histogram plus
    the complementary cumulative count ("nodes with degree ≥ d"), the
    standard power-law diagnostic axis.

    Scale shape: edge derivation is the fact-fact equi-join on
    orderkey with a DISTINCT collapse (partial agg both sides); the
    degree count shuffles once on src; the histogram is a bounded
    (≤ max-degree rows) second agg; the cumulative window runs on the
    HISTOGRAM, not the nodes — single-partition over ≤ a few hundred
    rows at any corpus size, the same bounded-cell discipline as
    text_langid_eval.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    tot = hist.agg(
        F.sum("n_nodes").cast("bigint").alias("nn"),
        F.sum(F.col("degree") * F.col("n_nodes")).cast("bigint").alias("ne"),
    )

    w = (
        Window.orderBy(F.col("degree").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_nodes",
            F.round(
                F.col("n_nodes").cast("double") / F.col("nn").cast("double"), 6
            ).alias("node_share"),
            F.sum("n_nodes").over(w).cast("bigint").alias("nodes_with_at_least"),
        )
    )


_KCORE_K = 12
_KCORE_ROUNDS = 3


def _kcore_edge_cte() -> str:
    """Shared oracle CTE: the symmetrized significant-trade graph
    ``und``, the DuckDB twin of :func:`_significant_und`.

    Every CTE is ``AS MATERIALIZED`` (evaluate once, then reuse —
    supported by DuckDB and PostgreSQL): consumers reference ``und``
    many times, and without the hint the planner inlines each
    reference, re-running the 4-way fact join per mention — for the
    unrolled k-core rounds that inlining compounds to ~50
    re-evaluations and exhausted single-node temp disk at sf0.1. With
    materialization the whole cascade runs in <0.1 s at sf0.1 on the
    identical rows (verified equal at sf0.001/sf0.01)."""
    return _SIG_CTE + """, und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM sig
                UNION ALL
                SELECT dst, src FROM sig
            ) WHERE src != dst
        )"""


def _kcore_oracle() -> str:
    k, parts = _KCORE_K, [_kcore_edge_cte()]
    prev = "und"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""
        , deg{i} AS MATERIALIZED (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM {prev} GROUP BY src
        ), keep{i} AS MATERIALIZED (
            SELECT node FROM deg{i} WHERE deg >= {k}
        ), e{i} AS MATERIALIZED (
            SELECT u.src, u.dst FROM und u
            JOIN keep{i} a ON a.node = u.src
            JOIN keep{i} b ON b.node = u.dst
        )""")
        prev = f"e{i}"
    r = _KCORE_ROUNDS
    parts.append(f"""
        SELECT n.n_name AS nation, d.deg AS core_degree
        FROM (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
              FROM e{r} GROUP BY src) d
        JOIN nation n ON n.n_nationkey = d.node
    """)
    return "".join(parts)


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "kcore", "iterative"),
)
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=12, 3 synchronous peel rounds) of the
    significant-trade graph — the 7th graph algorithm (after PageRank,
    triangles, CC, BFS, LPA, SSSP): repeatedly delete nodes with
    degree < k until the dense core remains; the standard screen for
    "structurally embedded" entities vs hangers-on (dense-subgraph
    mining, spam/community cores). Peeling is CASCADING — removing a
    hub lowers its neighbors' degrees, so round 2 can evict nodes
    round 1 kept — which is exactly what the unrolled-CTE oracle
    replays round for round. Integer degrees end-to-end: the driver
    hash covers the full cascade.

    Scale shape: the graph_pagerank discipline — fact joins collapse
    to an entity edge list once; each peel round is one degree agg +
    one semi-join of edges against surviving nodes (broadcast-sized
    survivor set); rounds ≈ O(peeling depth), statically unrolled so
    lineage stays bounded.
    """
    nation = load_table(spark, sf_dir, "nation")
    und = _significant_und(spark, sf_dir)
    edges = und
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select(F.col("src").alias("node"))
        edges = (
            und.join(F.broadcast(keep), und.src == keep.node, "left_semi")
            .join(
                F.broadcast(keep.withColumnRenamed("node", "node2")),
                F.col("dst") == F.col("node2"),
                "left_semi",
            )
        )
    final_deg = edges.groupBy("src").agg(
        F.count("*").cast("bigint").alias("core_degree")
    )
    return final_deg.join(
        nation, final_deg.src == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "core_degree")


@register(
    "graph_link_prediction_jaccard",
    oracle=_kcore_edge_cte() + """
        , nbr AS MATERIALIZED (
            SELECT src AS node, dst AS nb FROM und
        ), deg AS MATERIALIZED (
            SELECT node, CAST(count(*) AS BIGINT) AS d FROM nbr
            GROUP BY node
        ), common AS MATERIALIZED (
            SELECT a.node AS na, b.node AS nb2,
                   CAST(count(*) AS BIGINT) AS c
            FROM nbr a JOIN nbr b
              ON a.nb = b.nb AND a.node < b.node
            GROUP BY a.node, b.node
        ), scored AS (
            SELECT c.na, c.nb2, c.c,
                   da.d + db.d - c.c AS u,
                   (c.c * 1000000) // NULLIF((da.d + db.d - c.c), 0) AS score_ppm
            FROM common c
            JOIN deg da ON da.node = c.na
            JOIN deg db ON db.node = c.nb2
            LEFT JOIN und e ON e.src = c.na AND e.dst = c.nb2
            WHERE e.src IS NULL
        )
        SELECT na AS node_a, nb2 AS node_b, c AS common_neighbors,
               u AS union_neighbors, score_ppm
        FROM scored
        ORDER BY score_ppm DESC, node_a ASC, node_b ASC
        LIMIT 15
    """,
    tags=("graph", "link-prediction", "jaccard"),
)
def graph_link_prediction_jaccard(spark, sf_dir):
    """Common-neighbor Jaccard link prediction on the significant-trade
    graph: for every NON-adjacent node pair, score |N(a)∩N(b)| /
    |N(a)∪N(b)| and rank the top-15 missing links — the classic
    graph-ML feature (Liben-Nowell & Kleinberg 2003, public
    literature) behind "who should be trading but isn't". The score is
    held in INTEGER parts-per-million (cross-engine floor division),
    so ordering, the LIMIT cut, and the driver hash have zero float
    surface; total order (score DESC, a, b).

    Scale shape: common-neighbor counting is the wedge join (the
    triangle-count plan: neighbor lists joined on the shared
    endpoint, map-side combinable count); degree is a partial agg; the
    adjacency anti-join removes existing edges. Hub nodes are the
    skew point — at scale the triangle-count stop-token cap applies
    to bound wedge fanout.
    """
    und = _significant_und(spark, sf_dir)
    nbr = und.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
    deg = nbr.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    a, b = nbr.alias("a"), nbr.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.nb") == F.col("b.nb"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("na"), F.col("b.node").alias("nb2"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    scored = (
        common.join(F.broadcast(deg.withColumnRenamed("node", "na")), "na")
        .withColumnRenamed("d", "da")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("nb2"), F.col("d").alias("db"))
            ),
            "nb2",
        )
        .join(
            und,
            (F.col("na") == und.src) & (F.col("nb2") == und.dst),
            "left_anti",
        )
        .select(
            "na",
            "nb2",
            "c",
            (F.col("da") + F.col("db") - F.col("c")).alias("u"),
            F.expr("(c * 1000000) DIV (da + db - c)").alias("score_ppm"),
        )
    )
    return (
        scored.select(
            F.col("na").alias("node_a"),
            F.col("nb2").alias("node_b"),
            F.col("c").alias("common_neighbors"),
            F.col("u").alias("union_neighbors"),
            "score_ppm",
        )
        .orderBy(F.desc("score_ppm"), F.asc("node_a"), F.asc("node_b"))
        .limit(15)
    )


_HITS_ITERATIONS = 2


def _hits_oracle(iterations: int = _HITS_ITERATIONS) -> str:
    """Unrolled-CTE DuckDB twin of the integer HITS recurrence."""
    from jubilant_garbanzo_spark.operators.graphs import HITS_SCALE

    parts = [
        _TRADE_CTE,
        f""", nodes AS (
            SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
        ), h0 AS (
            SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes
        )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", ar{i} AS MATERIALIZED (
            SELECT e.dst AS node, CAST(sum(e.w * h.h) AS BIGINT) AS a_raw
            FROM e0 e JOIN h{i - 1} h ON h.node = e.src
            GROUP BY e.dst
        ), am{i} AS (
            SELECT CAST(max(a_raw) AS BIGINT) AS m FROM ar{i}
        ), a{i} AS MATERIALIZED (
            SELECT node,
                   CAST(a_raw // greatest(m // {HITS_SCALE}, 1) AS BIGINT)
                       AS a
            FROM ar{i}, am{i}
        ), hr{i} AS MATERIALIZED (
            SELECT e.src AS node, CAST(sum(e.w * a.a) AS BIGINT) AS h_raw
            FROM e0 e JOIN a{i} a ON a.node = e.dst
            GROUP BY e.src
        ), hm{i} AS (
            SELECT CAST(max(h_raw) AS BIGINT) AS m FROM hr{i}
        ), h{i} AS MATERIALIZED (
            SELECT node,
                   CAST(h_raw // greatest(m // {HITS_SCALE}, 1) AS BIGINT)
                       AS h
            FROM hr{i}, hm{i}
        )"""
        )
    parts.append(
        f"""
        SELECT n.n_name AS nation,
               CAST(coalesce(a.a, 0) AS BIGINT) AS authority_fixed,
               CAST(coalesce(h.h, 0) AS BIGINT) AS hub_fixed,
               round(CAST(coalesce(a.a, 0) AS DOUBLE)
                     / {float(HITS_SCALE)}, 6) AS authority,
               round(CAST(coalesce(h.h, 0) AS DOUBLE)
                     / {float(HITS_SCALE)}, 6) AS hub
        FROM nation n
        LEFT JOIN a{iterations} a ON a.node = n.n_nationkey
        LEFT JOIN h{iterations} h ON h.node = n.n_nationkey
        ORDER BY authority_fixed DESC, hub_fixed DESC, nation"""
    )
    return "".join(parts)


@register(
    "graph_hits",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "iterative"),
)
def graph_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg JACM'99) over the nation
    trade graph — the mutual-reinforcement ranking beside PageRank's
    random surfer: a nation is a strong AUTHORITY when heavy trade
    flows in from strong hubs, a strong HUB when it sources from
    strong authorities. 2 fixed iterations, EXACT scaled-integer
    arithmetic with overflow-safe pre-shifted max normalization
    (operators/graphs.hits_fixed), so the iterative fixpoint is
    hash-oracled against DuckDB's unrolled-CTE replay — the
    graph_pagerank discipline applied to a second classic algorithm.

    Scale shape: identical to graph_pagerank — the fact-join edge
    derivation is the 100 TB cost, the iterations run on the
    collapsed ≤25-node graph (one equi-join + one groupBy per
    half-step, scalar maxima as broadcast 1-row frames, never a
    driver collect)."""
    from jubilant_garbanzo_spark.operators.graphs import HITS_SCALE, hits_fixed

    nation = load_table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").cast("bigint").alias("node"))
    scores = hits_fixed(
        _trade_graph(spark, sf_dir),
        nodes,
        iterations=_HITS_ITERATIONS,
        graph_partitions=1,
    )
    return (
        scores.join(nation, scores.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "authority_fixed",
            "hub_fixed",
            F.round(
                F.col("authority_fixed").cast("double") / float(HITS_SCALE), 6
            ).alias("authority"),
            F.round(
                F.col("hub_fixed").cast("double") / float(HITS_SCALE), 6
            ).alias("hub"),
        )
        .orderBy(
            F.desc("authority_fixed"), F.desc("hub_fixed"), F.asc("nation")
        )
    )


@register(
    "graph_clustering_coefficient",
    oracle=_kcore_edge_cte() + """
        , nbrcc AS MATERIALIZED (
            SELECT src AS node, dst AS nb FROM und
        ), degcc AS MATERIALIZED (
            SELECT node, CAST(count(*) AS BIGINT) AS deg
            FROM nbrcc GROUP BY node
        ), wedges AS MATERIALIZED (
            SELECT a.node, a.nb AS x, b.nb AS y
            FROM nbrcc a JOIN nbrcc b
              ON a.node = b.node AND a.nb < b.nb
        ), closed AS MATERIALIZED (
            SELECT w.node, CAST(count(*) AS BIGINT) AS tri
            FROM wedges w
            JOIN und e ON e.src = w.x AND e.dst = w.y
            GROUP BY w.node
        )
        SELECT n.n_name AS nation,
               d.deg AS degree,
               COALESCE(c.tri, 0) AS triangles,
               CAST((2 * (2 * COALESCE(c.tri, 0) * 1000000)
                     + d.deg * (d.deg - 1))
                    // NULLIF((2 * d.deg * (d.deg - 1)), 0) AS BIGINT) AS cc_ppm
        FROM degcc d
        LEFT JOIN closed c ON c.node = d.node
        JOIN nation n ON n.n_nationkey = d.node
        WHERE d.deg >= 2
    """,
    tags=("graph", "clustering-coefficient", "triangles"),
)
def graph_clustering_coefficient(spark, sf_dir):
    """Per-node LOCAL CLUSTERING COEFFICIENT over the symmetrized
    significant-trade graph (the 9th graph algorithm, after
    PageRank/triangles/CC/BFS/LPA/SSSP/k-core/HITS): for each nation,
    the fraction of its neighbor pairs that are themselves connected —
    cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) — the standard
    "tightly-knit vs hub-and-spoke" structure diagnostic (Watts &
    Strogatz 1998). Emitted in exact integer ppm via shifted
    round-half-up division (all operands positive, so Spark DIV and
    DuckDB // agree), with degree and triangle counts alongside;
    deg < 2 nodes (coefficient undefined) are excluded on both
    engines.

    Scale shape: neighbor-pair wedges are generated by the ordered
    self-join (a.nb < b.nb — each pair once, half the fanout) and
    closed by ONE equi-join against the edge list, the
    graph_triangle_count discipline: wedge fanout is sum-of-deg^2
    bounded, the skew diagnostic `profile_key_skew` is the guard, and
    at 100 TB the standard remedy (degree-ordered orientation) drops
    fanout to the arboricity bound. No windows, no driver data path.
    """
    nation = load_table(spark, sf_dir, "nation")
    und = _significant_und(spark, sf_dir)
    nbr = und.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
    deg = nbr.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    a, b = nbr.alias("a"), nbr.alias("b")
    wedges = a.join(
        b,
        (F.col("a.node") == F.col("b.node"))
        & (F.col("a.nb") < F.col("b.nb")),
    ).select(
        F.col("a.node").alias("node"),
        F.col("a.nb").alias("x"),
        F.col("b.nb").alias("y"),
    )
    closed = (
        wedges.join(
            und,
            (wedges.x == und.src) & (wedges.y == und.dst),
            "left_semi",
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri"))
    )
    zero = F.lit(0).cast("bigint")
    return (
        deg.join(closed, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri"), zero).alias("triangles"),
        )
        .filter(F.col("deg") >= 2)
        .join(nation, F.col("node") == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("deg").alias("degree"),
            "triangles",
            F.expr(
                "(2 * (2 * triangles * 1000000) + deg * (deg - 1))"
                " DIV (2 * deg * (deg - 1))"
            ).cast("bigint").alias("cc_ppm"),
        )
    )
