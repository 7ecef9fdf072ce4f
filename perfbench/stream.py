"""The ``trend_stream`` workload: the reference app as a closed loop.

The package's tweet firehose feeds ``hashtag_windowed_counts`` (10 s
windows sliding 5 s, 10 s watermark) in update mode. Each trigger reads
a fixed ``ROWS_PER_BATCH`` ids and ``processingTime="0 seconds"`` starts
the next trigger as soon as the previous one commits, so batch size
never feeds back into batch time. ``foreachBatch`` emits each batch's
top-10 (cnt desc, window start, tag).

A batch's latency is the time from the previous batch's emit to its
own. The first ``WARM_BATCHES`` batches are set-up; timing stops at
the batch boundary nearest ``--seconds``.

The firehose's content is a pure function of the row id, so the seed
does not change it: every run streams the same ids. After the query
stops, each emitted top-10 is compared with DuckDB's top-10 over the
same ids, regenerated with the md5 idiom of the connector.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

import duckdb
from pyspark.sql import functions as F

import harness
from jubilant_garbanzo_spark.session import get_spark
from jubilant_garbanzo_spark.sources.tweet_source import register_tweet_source
from jubilant_garbanzo_spark.streaming.trending import hashtag_windowed_counts
from spans import StatusStore, Tracer, add_job_spans, gc_ms, job_totals, union_ms

ROWS_PER_BATCH = 2000
#: Batches before timing starts (see results/warmup_curve.json).
WARM_BATCHES = 4
_POLL_S = 0.01

#: Top-10 of the windows the ids [lo, hi) touch, with counts over every
#: id < hi in each window, as update mode emits them.
_ORACLE = """
WITH ids AS (
    SELECT unnest(range(greatest(? - 10, 0), ?)) AS i
), tags AS (
    SELECT i, '#tag' || (('0x' || substr(md5(CAST(i AS VARCHAR) || ':t1'), 1, 8))::BIGINT % 10) AS tag
    FROM ids
    UNION ALL
    SELECT i, '#tag' || (('0x' || substr(md5(CAST(i AS VARCHAR) || ':t2'), 1, 8))::BIGINT % 10) AS tag
    FROM ids
), win AS (
    SELECT i, tag, (i // 5) * 5 - d AS ws
    FROM tags, (SELECT unnest([0, 5]) AS d)
), counted AS (
    SELECT ws, tag, count(*) AS cnt FROM win GROUP BY ws, tag
), touched AS (
    SELECT DISTINCT ws, tag FROM win WHERE i >= ?
)
SELECT strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(c.ws), '%Y-%m-%d %H:%M:%S') AS window_start,
       c.tag, c.cnt
FROM counted c JOIN touched t USING (ws, tag)
ORDER BY c.cnt DESC, window_start, c.tag
LIMIT 10
"""

_PHASES = ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


def _offset(value) -> int:
    """The firehose offset in a progress report's start/end offset,
    which arrives as a dict, JSON or a Python repr; None for batch 0."""
    m = re.search(r"offset\D*(\d+)", str(value))
    return int(m.group(1)) if m else 0


class StreamWorkload:
    def __init__(self, name, seed, seconds, tracer: Tracer, run_dir,
                 warm_batches=None, corrupt=False):
        self.name, self.seed, self.seconds, self.tracer = name, seed, seconds, tracer
        self.run_dir = run_dir
        self.warm = WARM_BATCHES if warm_batches is None else warm_batches
        self.rows = ROWS_PER_BATCH
        self.corrupt = corrupt
        self.emitted: list[tuple[int, list[tuple], float, float]] = []
        self.layers: dict[str, float] = {}

    def _emit(self, df, batch_id):
        t0 = time.perf_counter()
        top = (
            df.select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "tag",
                "cnt",
            )
            .orderBy(F.desc("cnt"), "window_start", "tag")
            .limit(10)
            .collect()
        )
        self.emitted.append((batch_id, [tuple(r) for r in top], t0, time.perf_counter()))

    def setup(self):
        with self.tracer.span("setup", trace="setup"):
            t = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(f"perfbench-{self.name}")
            self.layers["session.get_spark_s"] = time.perf_counter() - t
            self.jvm = harness.jvm_pid()
            self.status = StatusStore(self.spark) if self.tracer.enabled else None
            self.layers["oracle.expected_s"] = 0.0  # checked after the run

            t = time.perf_counter()
            with self.tracer.span("stream.start"):
                spark = self.spark
                register_tweet_source(spark)
                spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
                lines = (
                    spark.readStream.format("tweet_firehose")
                    .option("rows_per_batch", str(self.rows))
                    .option("rows", str(10**12))
                    .load()
                    .select(
                        F.col("ts").cast("timestamp").alias("timestamp"),
                        F.col("text").alias("value"),
                    )
                )
                self.query = (
                    hashtag_windowed_counts(lines)
                    .writeStream.outputMode("update")
                    .foreachBatch(self._emit)
                    .option("checkpointLocation", os.path.join(self.run_dir, "checkpoint"))
                    .trigger(processingTime="0 seconds")
                    .start()
                )
            with self.tracer.span("warm"):
                self._wait_for(lambda: len(self.emitted) >= max(self.warm, 1))
            self.layers["warmup_s"] = time.perf_counter() - t
            self.layers["op.cold_wall_ms"] = (self.emitted[0][3] - t) * 1000.0

    def _wait_for(self, done):
        while not done():
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            time.sleep(_POLL_S)

    def measure(self, clock0: float) -> None:
        n0 = len(self.emitted)
        t0 = self.emitted[n0 - 1][3]
        self.setup_s = t0 - clock0
        gc0 = gc_ms(self.spark) if self.tracer.enabled else 0.0
        steal0 = harness.steal_s()
        while True:
            seen = len(self.emitted)
            self._wait_for(lambda: len(self.emitted) > seen)
            last = self.emitted[-1][3]
            step = last - self.emitted[-2][3]
            if harness.stop_at_boundary(last - t0, step, self.seconds):
                break
        n_end = len(self.emitted)
        last_id = self.emitted[n_end - 1][0]
        # The last timed batch reports its progress once it has committed.
        self._wait_for(lambda: self._last_batch_id() >= last_id)
        self.steal_s = harness.steal_s() - steal0
        if self.tracer.enabled:
            self.layers["jvm.gc_ms"] = gc_ms(self.spark) - gc0
        self.jvm_rss_mb = harness.peak_rss_mb(self.jvm)
        # Stop first: a running query starts the next batch at once, and
        # that batch's transient allocations read as retained memory.
        self.query.stop()
        self.memory_mb = harness.retained_mb(self.spark) + harness.peak_rss_mb()
        self.emitted = self.emitted[:n_end]
        self.first_timed = n0
        self.timed_batches = self.emitted[n0:]
        self.elapsed = self.timed_batches[-1][3] - t0
        self.latencies = [
            (b[3] - a[3]) * 1000.0 for a, b in zip(self.emitted[n0 - 1:], self.timed_batches)
        ]
        self._check()
        if self.tracer.enabled:
            self._trace()

    def _last_batch_id(self) -> int:
        p = self.query.lastProgress
        if p is None:
            return -1
        return (p if isinstance(p, dict) else json.loads(p.json))["batchId"]

    def _check(self):
        """Compare every emitted top-10 with DuckDB over the same ids."""
        progress = {}
        for p in self.query.recentProgress:
            p = p if isinstance(p, dict) else json.loads(p.json)
            progress[p["batchId"]] = p
        self.progress = progress
        self.matched: dict[int, int] = {}
        self.expected_n: dict[int, int] = {}
        self.bad: list[str] = []
        con = duckdb.connect()
        for batch_id, rows, _, _ in self.emitted:
            p = progress.get(batch_id)
            if p is None:
                self.matched[batch_id], self.expected_n[batch_id] = 0, 10
                self.bad.append(f"batch {batch_id}: no progress")
                continue
            src = p["sources"][0]
            lo, hi = _offset(src["startOffset"]), _offset(src["endOffset"])
            expected = con.execute(_ORACLE, [lo, hi, lo]).fetchall()
            if self.corrupt and batch_id == self.timed_batches[0][0]:
                expected[0] = (expected[0][0], expected[0][1], -1)
            hits = sum(a == b for a, b in zip(rows, expected))
            if len(rows) != len(expected) or hits != len(expected):
                self.bad.append(f"batch {batch_id}")
            self.matched[batch_id] = hits
            self.expected_n[batch_id] = max(len(expected), 1)
        con.close()

    def _trace(self):
        jobs = self.status.new_jobs()
        by_batch: dict[int, list[dict]] = {}
        for j in jobs:
            by_batch.setdefault(j["batch"], []).append(j)
        self.jobs_by_batch = by_batch
        epoch = time.time() - time.perf_counter()  # perf_counter -> epoch seconds
        prev_end = self.emitted[0][2]
        root = self.tracer.add(
            "stream", epoch + prev_end, epoch + self.emitted[-1][3], self.tracer.current(),
            trace="stream", rows_per_batch=self.rows,
        )
        for batch_id, _, e0, e1 in self.emitted:
            p = self.progress.get(batch_id, {})
            batch = self.tracer.add(
                "batch", epoch + prev_end, epoch + e1, root, trace=f"batch{batch_id}",
                batch=batch_id, rows=p.get("numInputRows"),
            )
            # Phases laid end to end from the trigger's start (the
            # previous emit); their durations are the progress report's.
            t = epoch + prev_end
            for phase in _PHASES:
                ms = (p.get("durationMs") or {}).get(phase, 0)
                self.tracer.add(f"progress.{phase}", t, t + ms / 1000.0, batch)
                t += ms / 1000.0
            self.tracer.add("emit", epoch + e0, epoch + e1, batch)
            add_job_spans(self.tracer, batch, by_batch.get(batch_id, []))
            prev_end = e1

    def stop(self):
        harness.stop_spark(self.spark)

    # -- results ------------------------------------------------------------
    def _durations(self, phase: str) -> list[float]:
        """``durationMs[phase]`` of every timed batch."""
        return [
            float(self.progress[b[0]]["durationMs"].get(phase, 0))
            for b in self.timed_batches
            if b[0] in self.progress
        ]

    def end_to_end(self) -> dict:
        ids = [b[0] for b in self.timed_batches]
        return {
            "setup_s": self.setup_s,
            "throughput_per_s": self.rows * len(ids) / self.elapsed,
            "latency_ms_p50": harness.quantile(self.latencies, 0.5),
            "latency_geomean_ms": statistics.geometric_mean(self.latencies),
            "recall": sum(self.matched[i] for i in ids)
            / sum(self.expected_n[i] for i in ids),
            "ok_ops_ratio": sum(i in self.progress for i in ids) / len(ids),
            "memory_mb": self.memory_mb,
        }

    def per_layer(self) -> dict:
        ids = [b[0] for b in self.timed_batches]
        jobs = [j for i in ids for j in self.jobs_by_batch.get(i, [])]
        totals = job_totals(jobs)
        n = len(ids)
        wall_start = time.time() - time.perf_counter()
        gaps = []
        for prev, cur in zip(self.emitted[self.first_timed - 1:], self.timed_batches):
            lo, hi = wall_start + prev[3], wall_start + cur[3]
            own = self.jobs_by_batch.get(cur[0], [])
            gaps.append((hi - lo) * 1000.0 - union_ms([(j["submit"], j["end"]) for j in own], lo, hi))
        state = [
            (p["stateOperators"] or [{}])[0]
            for i in ids
            if (p := self.progress.get(i)) is not None
        ]
        out = dict(self.layers)
        med = statistics.median
        out.update(
            {
                "spark.jobs_per_op": totals["jobs"] / n,
                "spark.driver_gap_ms": med(gaps),
                "spark.tasks_per_op": totals["tasks"] / n,
                "spark.executor_cpu_ms": totals["cpu_ms"] / n,
                "spark.executor_busy_ratio": totals["run_ms"]
                / (sum(self.latencies) * harness.cores()),
                "spark.shuffle_read_mb": totals["shuffle_read_b"] / n / 2**20,
                "spark.shuffle_write_mb": totals["shuffle_write_b"] / n / 2**20,
                "spark.peak_task_mem_mb": totals["peak_task_mem_b"] / 2**20,
                "spark.spill_mb": totals["spill_b"] / 2**20,
                "stream.trigger_ms": med(self._durations("triggerExecution")),
                "stream.query_planning_ms": med(self._durations("queryPlanning")),
                "stream.add_batch_ms": med(self._durations("addBatch")),
                "stream.wal_commit_ms": med(self._durations("walCommit")),
                "stream.commit_offsets_ms": med(self._durations("commitOffsets")),
                "stream.latest_offset_ms": med(self._durations("latestOffset")),
                "stream.emit_ms": med((b[3] - b[2]) * 1000.0 for b in self.timed_batches),
                "stream.jobs_per_batch": totals["jobs"] / n,
                "stream.tasks_per_batch": totals["tasks"] / n,
                "stream.state_partitions": float(state[-1].get("numShufflePartitions", 0)),
                "stream.state_rows": med(float(s.get("numRowsTotal", 0)) for s in state),
                "stream.state_memory_mb": med(float(s.get("memoryUsedBytes", 0)) for s in state) / 2**20,
            }
        )
        out["source.firehose_rows_per_s"] = self.firehose_rows_per_s
        return out

    def measure_source(self) -> None:
        """Five standalone batch reads of ``rows_per_batch`` ids through
        the connector, outside the stream (traced runs only)."""
        walls = []
        for _ in range(5):
            t = time.perf_counter()
            self.spark.read.format("tweet_firehose").option("rows", str(self.rows)).option(
                "partitions", "1"
            ).load().count()
            walls.append(time.perf_counter() - t)
        self.firehose_rows_per_s = self.rows / statistics.median(walls)

    def counts(self) -> tuple[int, int, list[str]]:
        ids = [b[0] for b in self.timed_batches]
        failed = sum(self.matched[i] != self.expected_n[i] for i in ids)
        return len(ids), failed, self.bad

    def detail(self) -> dict:
        return {
            "rows_per_batch": self.rows,
            "warm_batches": self.warm,
            "steal_s": self.steal_s,
            "jvm_rss_peak_mb": self.jvm_rss_mb,
            "batches": [
                {
                    "batch": b,
                    "emit_done_s": e1,
                    "trigger_ms": (self.progress.get(b) or {}).get("durationMs", {}).get(
                        "triggerExecution"
                    ),
                    "matched": self.matched.get(b),
                }
                for b, _, _, e1 in self.emitted
            ],
        }
