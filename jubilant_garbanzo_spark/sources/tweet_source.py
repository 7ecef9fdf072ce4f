"""Custom Python DataSource: a deterministic tweet firehose.

The reference's input is a live twitter4j network receiver
(tweet-streamer/src/main/scala/main.scala:41) — unavailable here, like
the kafka jar (COVERAGE.md §2b). Spark 4's Python DataSource API lets
the engine ship its OWN connector instead: this source generates a
deterministic tweet-like feed (id, event time, text with hashtags) —
partitioned batch reads on the executors AND offset-tracked streaming
micro-batches read on the driver — so the full R1→R8 pipeline runs
against a "network-shaped" source the container can actually provide,
with every value reproducible from the row id alone.

Determinism: all content derives from md5(row id) — the same
engine-agnostic idiom the sampling/dedup operators use — so a DuckDB
oracle regenerates the identical feed with `range()` + md5 and the
driver hash-checks queries over a CUSTOM CONNECTOR end-to-end
(something neither kafka nor a socket could offer).

Scale shape: batch reads split the id range into ``n_partitions``
independent slices (one ``InputPartition`` each — embarrassingly
parallel, no skew); the stream reader advances a single integer
offset, emitting ``rows_per_batch`` ids per micro-batch — the
offset/commit contract is exactly kafka's shape, so swapping in the
real kafka source changes options, not the query graph. A micro-batch
is one slice either way, so reading it on the driver loses no
parallelism and saves the per-trigger Python task.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: Feed epoch — tweets are 1 s apart starting here.
FEED_EPOCH = datetime(2024, 1, 1, 0, 0, 0)

#: Vocabulary the generator draws from (md5-indexed).
TAGS = [f"#tag{i}" for i in range(10)]
WORDS = ["spark", "stream", "data", "scale", "join", "query", "shuffle", "plan"]


def _bucket(i: int, salt: str, mod: int) -> int:
    """md5-derived uniform bucket — mirrors the engine's SQL idiom
    ``('0x' || substr(md5(...), 1, 8))::BIGINT % mod``."""
    h = hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[:8]
    return int(h, 16) % mod


def make_tweet(i: int) -> tuple[int, datetime, str]:
    """Row ``i`` of the feed — pure function of ``i``."""
    w1 = WORDS[_bucket(i, "w1", len(WORDS))]
    w2 = WORDS[_bucket(i, "w2", len(WORDS))]
    t1 = TAGS[_bucket(i, "t1", len(TAGS))]
    t2 = TAGS[_bucket(i, "t2", len(TAGS))]
    text = f"{w1} {w2} {t1} {t2}"
    return i, FEED_EPOCH + timedelta(seconds=i), text


TWEET_SCHEMA = StructType(
    [
        StructField("tweet_id", LongType(), False),
        StructField("ts", TimestampNTZType(), False),
        StructField("text", StringType(), False),
    ]
)


@dataclass
class _Slice(InputPartition):
    start: int
    end: int


class TweetBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", "1000"))
        self.n_partitions = int(options.get("partitions", "4"))
        if self.n_rows < 0:
            raise ValueError(f"rows must be >= 0, got {self.n_rows}")
        if self.n_partitions < 1:
            raise ValueError(
                f"partitions must be >= 1, got {self.n_partitions}"
            )

    def partitions(self):
        if self.n_rows == 0:
            # Empty feed: ONE empty slice — the planner calls read(None)
            # if the partition list itself is empty, and range() rejects
            # the old step-0 arithmetic.
            return [_Slice(0, 0)]
        step = (self.n_rows + self.n_partitions - 1) // self.n_partitions
        return [
            _Slice(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            yield make_tweet(i)


class TweetStreamReader(SimpleDataSourceStreamReader):
    """Single-integer offset stream: each micro-batch emits the next
    ``rows_per_batch`` ids, capped at ``rows`` total (a bounded drain
    for tests; production would leave it uncapped).

    A simple reader: PySpark calls ``read`` from ``latestOffset`` on
    the driver and ships the rows to the JVM as Arrow batches, so the
    batch's source stage scans a cached block instead of starting a
    Python task. The end offset is a pure function of the start, so a
    restart resumes from the checkpointed offset and a replayed batch
    (``readBetweenOffsets``, the one read left on an executor) is
    byte-identical. Both return an iterator over a list: the wrapper
    ``copy.copy``s the cached iterator, and a generator cannot be
    copied.

    Known limit: PySpark 4.1.2's Python stream API has no read limit, so
    ``Trigger.AvailableNow`` plans a single batch and drains only
    ``rows_per_batch`` rows of a longer feed."""

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rows_per_batch", "100"))
        self.max_rows = int(options.get("rows", "1000"))
        if self.rows_per_batch < 1:
            raise ValueError(
                f"rows_per_batch must be >= 1, got {self.rows_per_batch}"
            )
        if self.max_rows < 0:
            raise ValueError(f"rows must be >= 0, got {self.max_rows}")

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        lo = start["offset"]
        # max: a checkpoint past a smaller cap must not move backwards
        hi = max(lo, min(lo + self.rows_per_batch, self.max_rows))
        return self.readBetweenOffsets(start, {"offset": hi}), {"offset": hi}

    def readBetweenOffsets(self, start, end):
        return iter([make_tweet(i) for i in range(start["offset"], end["offset"])])


class TweetFirehoseDataSource(DataSource):
    """``spark.read.format("tweet_firehose")`` after
    ``spark.dataSource.register(TweetFirehoseDataSource)``."""

    @classmethod
    def name(cls):
        return "tweet_firehose"

    def schema(self):
        return TWEET_SCHEMA

    def reader(self, schema):
        return TweetBatchReader(self.options)

    def simpleStreamReader(self, schema):
        return TweetStreamReader(self.options)


def register_tweet_source(spark) -> None:
    """Idempotent registration of the connector on a session.

    The module is marked pickle-BY-VALUE first (the cloudpickle API
    for exactly this case): Spark serializes the DataSource class to
    executors, and a module-level class otherwise pickles by reference
    — requiring this package on every executor's sys.path (the
    serialization contract in streaming/stateful.py; a vanilla-session
    driver rehearsal caught the by-reference form failing with
    PYTHON_DATA_SOURCE_ERROR). The classes stay module-level so tests
    can import them directly."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover - older cloudpickle
        pass
    spark.dataSource.register(TweetFirehoseDataSource)
