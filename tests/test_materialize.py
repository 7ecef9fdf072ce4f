"""catalog.materialize: the package's one materialization primitive.

An eager checkpoint whose stored bytes are within the broadcast
threshold comes back with a broadcast hint, so a join against it can
broadcast without waiting for AQE to measure a shuffle. Lazy
checkpoints, frames over the threshold and frames carrying arrays or
maps come back bare.
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import free_local_checkpoint, materialize

PKG = Path(__file__).resolve().parents[1] / "jubilant_garbanzo_spark"
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _top(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _initial_plan(df) -> str:
    """The physical plan the static planner picks, before AQE runs."""
    return df._jdf.queryExecution().executedPlan().toString()


def _few_rows_big_estimate(spark, n: int = 50):
    """``n`` rows whose plan estimate is 80 MB: a filter does not scale
    a size estimate, so a checkpoint of it inherits the estimate of the
    10M-row range."""
    return spark.range(10**7).filter(F.col("id") < n)


def test_only_catalog_calls_local_checkpoint():
    """Spark-free: every materialization goes through
    catalog.materialize, the one place that sizes what it stores."""
    calls = {
        str(p.relative_to(PKG)): n
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "catalog.py"
        and (n := len(re.findall(r"\.localCheckpoint\(", p.read_text())))
    }
    assert not calls, calls


def test_no_mkdtemp_or_export_root_in_package():
    """Spark-free: a file that a returned frame reads after the query
    returns goes into catalog.scratch_dir, which dies with the session;
    no module makes a temp dir that outlives it or writes under a fixed
    export root."""
    hits = {
        str(p.relative_to(PKG)): found
        for p in sorted(PKG.rglob("*.py"))
        if (found := re.findall(r"tempfile\.mkdtemp\(|EXPORT_ROOT", p.read_text()))
    }
    assert not hits, hits


def test_small_scalar_frame_is_the_broadcast_build_side(spark):
    small = materialize(
        _few_rows_big_estimate(spark).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    assert _top(small) == "ResolvedHint"
    big = spark.range(2 * 10**6).select((F.col("id") % 50).alias("k"))
    plan = _initial_plan(big.join(small, "k"))
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan
    # The same rows checkpointed bare keep the 80 MB estimate.
    bare = _few_rows_big_estimate(spark).select(F.col("id").alias("k"))
    bare = bare.localCheckpoint(eager=True)
    assert "BroadcastHashJoin" not in _initial_plan(big.join(bare, "k"))


def test_lazy_large_and_array_frames_come_back_bare(spark):
    rows = _few_rows_big_estimate(spark)
    assert _top(materialize(rows, eager=False)) == "LogicalRDD"
    nested = rows.select(
        "id", F.struct(F.array("id").alias("a")).alias("s")
    )
    assert _top(materialize(nested)) == "LogicalRDD"
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "100")
        assert _top(materialize(rows)) == "LogicalRDD"
        spark.conf.set(THRESHOLD, "-1")
        assert _top(materialize(rows)) == "LogicalRDD"
    finally:
        spark.conf.set(THRESHOLD, old)
    assert _top(materialize(rows)) == "ResolvedHint"


def test_exploded_array_frame_is_not_broadcast(spark):
    """A broadcast hint rides every unary operator up to the next join:
    had the 1k-row array frame been hinted, its 2M exploded rows would
    be the broadcast side against the 3M-row range."""
    arrays = materialize(
        _few_rows_big_estimate(spark, 1000).select(
            F.col("id").alias("g"),
            F.array_repeat(F.lit(1).cast("tinyint"), 2000).alias("xs"),
        )
    )
    assert _top(arrays) == "LogicalRDD"
    exploded = arrays.select("g", F.posexplode("xs")).select(
        (F.col("g") * 2000 + F.col("pos")).alias("id")
    )
    plan = _initial_plan(exploded.join(spark.range(3 * 10**6), "id"))
    assert "BroadcastHashJoin" not in plan, plan


def test_free_local_checkpoint_drops_a_hinted_frame(spark):
    hinted = materialize(_few_rows_big_estimate(spark))
    assert _top(hinted) == "ResolvedHint"
    plan = hinted._jdf.queryExecution().analyzed()
    rdd_id = plan.children().head().rdd().id()
    sc = spark.sparkContext._jsc.sc()
    assert rdd_id in {i.id() for i in sc.getRDDStorageInfo()}
    free_local_checkpoint(hinted)
    assert rdd_id not in {i.id() for i in sc.getRDDStorageInfo()}
