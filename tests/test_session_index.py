"""catalog.session_index: the one registry of work reused across a
session's queries, and the guarantee that comes with it — an index is
never served from files that were rewritten since it was built, and no
query leaves a plan in Spark's CacheManager for a later read to match.
"""

from __future__ import annotations

import shutil
from types import SimpleNamespace

from jubilant_garbanzo_spark import catalog
from jubilant_garbanzo_spark.queries import load_all

SPECS = load_all()

GRAPH_QUERIES = (
    "graph_pagerank",
    "graph_bfs_hops",
    "graph_label_propagation",
    "graph_sssp_bellman_ford",
    "graph_kcore",
    "graph_link_prediction_jaccard",
    "graph_hits",
    "graph_clustering_coefficient",
)


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_index_keys_fingerprints_and_applications(
    tmp_path, monkeypatch
):
    """Spark-free: one build per key; a changed fingerprint releases the
    old value and rebuilds; distinct params keep distinct entries; a
    new applicationId drops the old entries without releasing them."""
    monkeypatch.setattr(catalog, "_SESSION_INDEX", {})
    released = []
    monkeypatch.setattr(catalog, "_release", released.append)
    table = tmp_path / "t.parquet"
    table.write_bytes(b"v1")
    sf, builds = str(tmp_path), []

    def index(spark, name, *params):
        def build():
            builds.append((name, params))
            return object()

        return catalog.session_index(spark, sf, name, build, *params)

    s1 = _session("app-1")
    a = index(s1, "idx", 1)
    assert index(s1, "idx", 1) is a
    b = index(s1, "idx", 2)
    other = index(s1, "other", 1)
    assert len({id(a), id(b), id(other)}) == 3
    assert builds == [("idx", (1,)), ("idx", (2,)), ("other", (1,))]
    assert released == []

    table.write_bytes(b"v2, longer")
    a2 = index(s1, "idx", 1)
    assert a2 is not a and released == [a]
    assert index(s1, "idx", 1) is a2
    assert len(builds) == 4

    s2 = _session("app-2")
    c = index(s2, "idx", 1)
    assert c is not a2 and released == [a]
    assert list(catalog._SESSION_INDEX) == [("idx", sf, (1,))]


def _registry_rdd_ids(sf_dir: str) -> set[int]:
    """RDD ids of the checkpoints the registry holds for ``sf_dir``."""
    from pyspark.sql import DataFrame

    ids = set()
    for (_, key_dir, _), (_, _, value) in catalog._SESSION_INDEX.items():
        if key_dir != sf_dir:
            continue
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                plan = v._jdf.queryExecution().analyzed()
                while plan.children().size() == 1:
                    plan = plan.children().head()
                ids.add(plan.rdd().id())
    return ids


def test_tables_rewritten_in_place_are_never_served_stale(
    spark, sf_dir, tmp_path
):
    """Rewrite four tables of a fixture copy in place with their first
    60% of rows: every registered index over them (IVF, trade graph,
    MinHash, suffix ranks) must be rebuilt, each query must match
    DuckDB on the new rows, and the replaced checkpoints' storage must
    be freed."""
    import pyarrow.parquet as pq

    from jubilant_garbanzo_spark.testing import compare_query

    names = (
        "embed_ann_ivf",
        "graph_pagerank",
        "graph_hits",
        "graph_kcore",
        "dedup_minhash_lsh",
        "text_suffix_array",
    )
    sf = tmp_path / "sf"
    shutil.copytree(sf_dir, sf, copy_function=shutil.copyfile)

    def mismatches():
        return {
            n: p
            for n in names
            if (p := compare_query(spark, SPECS[n], str(sf)))
        }

    assert mismatches() == {}
    replaced = _registry_rdd_ids(str(sf))
    assert len(replaced) == 7, replaced  # ivf 2, trade 1, minhash 3, sa 1

    for table in ("embeddings", "lineitem", "orders", "documents"):
        path = sf / f"{table}.parquet"
        t = pq.read_table(path)
        pq.write_table(t.slice(0, len(t) * 6 // 10), path)

    assert mismatches() == {}
    stored = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert not replaced & stored, sorted(replaced & stored)
    assert not replaced & _registry_rdd_ids(str(sf))


def test_graph_and_ivf_queries_leave_no_cache_manager_entries(
    spark, sf_dir
):
    """Reuse within a query is a checkpoint and reuse across queries
    goes through the registry, so none of these queries registers a
    plan with Spark's CacheManager — which would match a later read of
    the same paths even after the files changed."""
    spark.catalog.clearCache()
    for name in GRAPH_QUERIES + ("embed_ann_ivf",):
        SPECS[name].fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_exports_of_same_named_fixtures_are_never_shared(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two fixtures whose directories share a basename (``a/sf`` and
    ``b/sf``, ``b`` with nation, customer and orders cut down) each get
    their own exports and bucketed tables in one session: every export
    query matches DuckDB on both, in that order. No query makes a
    ``jg_*`` temp dir: the files live in the session's scratch dir."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from jubilant_garbanzo_spark.testing import compare_query

    names = (
        "scan_csv",
        "scan_json",
        "source_xml",
        "sink_clustered_parquet",
        "join_bucketed_colocated",
    )
    cut = {
        "nation": ("n_regionkey", 2),
        "customer": ("c_custkey", 60),
        "orders": ("o_orderkey", 600),
    }
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for d in (a, b):
        shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    for table, (col, bound) in cut.items():
        path = b / f"{table}.parquet"
        t = pq.read_table(path)
        pq.write_table(t.filter(pc.less(t[col], bound)), path)
    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))

    for sf in (a, b):
        assert {
            n: p for n in names if (p := compare_query(spark, SPECS[n], str(sf)))
        } == {}, sf
    assert [p.name for p in temp.iterdir() if p.name.startswith("jg_")] == []
