"""SparkSession factory with scale-appropriate defaults.

The reference app hard-codes ``local[*]`` and Spark defaults
(``main.scala:25``). Here the session is tuned for the engine's target:
large clusters reading ~100 TB. Every knob below is also correct (or
harmless) on a single ``local[N]`` test box:

- **AQE on** (coalesce partitions + skew-join splitting): at 100 TB the
  skew story is AQE, not hand-salting every key (SURVEY.md §4.2).
- **shuffle.partitions** sized to the session's cores
  (``shuffle_width``): ``local[N]`` gets N, so a 4-core box runs 4-wide
  shuffles and state stores and ``local[32]`` keeps 32. A cluster
  deploy sets ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (~2-3× total cores).
  A streaming query's state-store width is fixed by its first run and
  kept in its checkpoint, so changing this never re-shards old state.
- **UTC session timezone** so event-time windows and the DuckDB oracle
  agree byte-for-byte (SURVEY.md §7 "hard parts" (e)).
- **nanosAsLong**: some driver rounds ship ``events.ts`` as
  ns-precision parquet, which Spark 4 refuses to read natively; with
  this flag it arrives as a long and the catalog rebuilds a µs
  timestamp losslessly (integer division). Rounds that ship native µs
  timestamps ignore the flag entirely — the catalog probes the
  physical dtype either way.
- **Arrow** enabled for any Pandas-UDF path (vectorized batches, not
  per-row pickling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (SQLConf) settings that must hold on ANY session the engine
#: uses — including a session handed to us by an external driver.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Join strategy (optimization guide §3.1/§9, round 15): let the
    # planner pick shuffled-hash over sort-merge when its size
    # conditions hold — SHJ skips both sort passes and was measured
    # faster or neutral on every shuffle-join query in the headline
    # set (interleaved same-session A/B at sf0.1, outputs identical:
    # net 1.13x over 49 queries; tpch_q7 1.40x, tpch_q18 1.21x,
    # tpch_q21 1.20x, sql_recursive_cte 1.58x, assoc_copurchase 1.60x,
    # multimodal_phash 2.12x; no causally-affected query regressed —
    # the sub-noise dips were all join-free bodies). The OOM risk a
    # cluster deploy cares about is bounded by the AQE rewrite
    # threshold below: a sort-merge join only becomes shuffled-hash at
    # runtime when EVERY post-shuffle partition is under 64 MB, so the
    # per-task build side stays an order of magnitude below executor
    # memory at any data scale; both knobs stay env-overridable for a
    # deploy that prefers the spill-graceful SMJ default.
    "spark.sql.join.preferSortMergeJoin": os.environ.get(
        "SPARK_GRAFT_PREFER_SMJ", "false"
    ),
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": os.environ.get(
        "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "64m"
    ),
    # Streaming state: bounded late data; see streaming/windows.py.
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    # NOT set here: spark.sql.streaming.stateStore.providerClass →
    # RocksDBStateStoreProvider. That is the right state backend at
    # cluster scale (state ≫ heap, incremental changelog checkpoints).
    # Measured twice: r5 saw +16 s instance startup on the sf0.001
    # sliding window; the r10 interleaved A/B over the six stateful
    # queries at sf0.1 (BASELINE.md) found parity — family total
    # 17.27 s RocksDB vs 17.52 s HDFS, outputs identical, with only the
    # state-heavy members (session TTL 95k keys, stream-stream join)
    # favoring RocksDB. Neither wins at harness scale, so the default
    # stays HDFS (protects the tiny-state majority); a cluster deploy
    # flips it via --conf, and every streaming op here is proven
    # identical under both.
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent).

    The verification driver constructs its own SparkSession; every public
    entry point of this engine funnels through here so behavior does not
    depend on who built the session.
    """
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — leave the session default.
            pass
    return spark


def shuffle_width(cores: int) -> int:
    """``spark.sql.shuffle.partitions`` when the caller names none:
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` if set, else ``cores`` (the
    session's ``defaultParallelism``, N for ``local[N]``).

    At ``local[4]`` the trending stream's windowed aggregate runs 4
    state-store partitions instead of 32: 5 tasks per trigger instead
    of 33, and p50 batch latency 1.51 s -> 0.61 s (10 interleaved
    pairs, CHANGES.md).
    """
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or cores)


def get_spark(
    app_name: str = "jubilant-garbanzo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_width(spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return configure_runtime(spark)
