"""The ``llm_loops`` workload: one client runs the ops of a mix in a
closed loop, a seeded permutation of the mix per pass.

An op is one registered query: ``QuerySpec.fn`` builds the DataFrame
(the fixpoint operators run their eager loop rounds here) and
``collect()`` runs it. Its latency is build plus collect. The collected
rows are compared with the query's DuckDB oracle after the op's clock
has stopped; the oracle rows are computed once, during set-up.

The first ``warm_passes`` passes are set-up: they pay JIT compilation,
code generation and the cold builds of session caches (the MinHash index
of ``dedup_cluster_cc``). Timing then runs whole passes and stops at the
pass boundary nearest ``--seconds``, so every run times the same
multiset of ops.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter

import datagen
import harness
from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.session import get_spark
from jubilant_garbanzo_spark.testing import canonical_rows, duckdb_connection
from spans import StatusStore, Tracer, add_job_spans, gc_ms, job_totals, union_ms

#: One fixpoint operator per loop module: operators/graphs, dedup, bpe,
#: unigram and similarity (k-means' Lloyd assignments). graph_kcore and
#: embed_pca_power_iteration repeat the graphs and embedding loops and
#: would add 4 s of cold pass to every run. Two SQL queries ride along so
#: that the catalog, multi-way joins, aggregates and windows over the ten
#: tables stay measured: TPC-H q9 (six tables, 16 jobs) and a per-group
#: window top-n.
MIX = (
    "graph_pagerank",
    "dedup_cluster_cc",
    "text_bpe_train",
    "text_unigram_train",
    "embed_kmeans_lloyd",
    "tpch_q9_product_profit",
    "window_topn_per_group",
)
#: Scale of the generated tables (lineitem = 6,000,000 x sf rows).
SF = 0.01
#: Warm passes before timing starts (see results/warmup_curve.json).
WARM_PASSES = 1


class Op:
    """Outcome of one op: latency split, correctness, Spark jobs."""

    def __init__(self, name: str, phase: str, pass_no: int):
        self.name, self.phase, self.pass_no = name, phase, pass_no
        self.wall_ms = self.build_ms = self.action_ms = 0.0
        self.start = self.end = 0.0
        self.ok = False
        self.error = ""
        self.matched = 0
        self.expected = 0
        self.jobs: list[dict] = []

    @property
    def correct(self) -> bool:
        return self.ok and self.matched == self.expected


def _compare(expected, columns, rows) -> int:
    """Rows of ``expected`` reproduced exactly. An empty expected result
    counts as one row, matched when the op also returned nothing."""
    cols, got = canonical_rows(columns, [tuple(r) for r in rows])
    exp_cols, exp_rows = expected
    if cols != exp_cols:
        return 0
    if not exp_rows:
        return int(not got)
    return sum((Counter(exp_rows) & Counter(got)).values())


class BatchWorkload:
    def __init__(self, name, seed, seconds, tracer: Tracer, run_dir, sf=None,
                 warm_passes=None, corrupt=False):
        self.name = name
        self.ops = MIX
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.run_dir = run_dir
        self.sf = SF if sf is None else sf
        self.warm_passes = WARM_PASSES if warm_passes is None else warm_passes
        self.corrupt = corrupt
        self.rng = random.Random(seed)
        self.results: list[Op] = []
        self.passes: list[dict] = []
        self.layers: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self):
        with self.tracer.span("setup", trace="setup"):
            t = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(f"perfbench-{self.name}")
            self.layers["session.get_spark_s"] = time.perf_counter() - t
            self.jvm = harness.jvm_pid()
            self.status = StatusStore(self.spark) if self.tracer.enabled else None

            t = time.perf_counter()
            with self.tracer.span("oracle.expected"):
                self.data_dir = datagen.write(
                    self.seed, self.sf, os.path.join(self.run_dir, "data")
                )
                registry = load_all()
                self.specs = {n: registry[n] for n in self.ops}
                con = duckdb_connection(self.data_dir)
                self.expected = {}
                for n, spec in self.specs.items():
                    res = con.execute(spec.oracle)
                    cols = [d[0] for d in res.description]
                    self.expected[n] = canonical_rows(cols, res.fetchall())
                con.close()
            if self.corrupt:
                self._corrupt_one()
            self.layers["oracle.expected_s"] = time.perf_counter() - t

            t = time.perf_counter()
            for p in range(self.warm_passes):
                self._pass(p, "warm")
            self.layers["warmup_s"] = time.perf_counter() - t
            cold = [o for o in self.results if o.pass_no == 0]
            self.layers["op.cold_wall_ms"] = sum(o.wall_ms for o in cold)

    def _corrupt_one(self):
        """Self-test hook: alter one expected cell of the first op."""
        name = self.ops[0]
        cols, rows = self.expected[name]
        bad = list(rows[0])
        bad[-1] = "corrupted"
        self.expected[name] = (cols, [tuple(bad)] + rows[1:])

    # -- the loop ---------------------------------------------------------
    def _op(self, name: str, phase: str, pass_no: int, trace_id: str) -> Op:
        op = Op(name, phase, pass_no)
        spec = self.specs[name]
        with self.tracer.span("op", trace=trace_id, query=name) as op_span:
            op.start = time.time()
            t0 = time.perf_counter()
            t1 = t0
            try:
                with self.tracer.span("build") as build_span:
                    df = spec.fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tracer.span("action") as action_span:
                    rows = df.collect()
                op.ok = True
            except Exception as exc:  # the loop goes on; the op counts as failed
                op.error = f"{type(exc).__name__}: {exc}"[:500]
            t2 = time.perf_counter()
            op.end = time.time()
        op.build_ms = (t1 - t0) * 1000.0
        op.action_ms = (t2 - t1) * 1000.0 if op.ok else 0.0
        op.wall_ms = (t2 - t0) * 1000.0
        op.expected = max(len(self.expected[name][1]), 1)
        if op.ok:
            op.matched = _compare(self.expected[name], df.columns, rows)
        if self.status is not None:
            op.jobs = self.status.new_jobs()
            if op_span is not None:
                split = action_span["start"] if op.ok else op.end
                add_job_spans(self.tracer, build_span, [j for j in op.jobs if j["submit"] < split])
                if op.ok:
                    add_job_spans(self.tracer, action_span, [j for j in op.jobs if j["submit"] >= split])
                op_span["attrs"].update(correct=op.correct, jobs=len(op.jobs))
        self.results.append(op)
        return op

    def _pass(self, pass_no: int, phase: str) -> float:
        order = list(self.ops)
        self.rng.shuffle(order)
        jvm_cpu = harness.cpu_s(self.jvm)
        t = time.perf_counter()
        with self.tracer.span("pass", trace=f"pass{pass_no}", phase=phase):
            for i, name in enumerate(order):
                self._op(name, phase, pass_no, f"pass{pass_no}.op{i}")
        wall = time.perf_counter() - t
        self.passes.append(
            {
                "pass": pass_no,
                "phase": phase,
                "wall_s": wall,
                "jvm_cpu_s": harness.cpu_s(self.jvm) - jvm_cpu,
                "order": order,
            }
        )
        return wall

    def measure(self, clock0: float) -> None:
        self.setup_s = time.perf_counter() - clock0
        gc0 = gc_ms(self.spark) if self.tracer.enabled else 0.0
        steal0 = harness.steal_s()
        t0 = time.perf_counter()
        p = self.warm_passes
        with self.tracer.span("timed", trace="timed"):
            while True:
                wall = self._pass(p, "timed")
                p += 1
                self.elapsed = time.perf_counter() - t0
                if harness.stop_at_boundary(self.elapsed, wall, self.seconds):
                    break
        self.steal_s = harness.steal_s() - steal0
        if self.tracer.enabled:
            self.layers["jvm.gc_ms"] = gc_ms(self.spark) - gc0
        self.jvm_rss_mb = harness.peak_rss_mb(self.jvm)
        self.memory_mb = harness.retained_mb(self.spark) + harness.peak_rss_mb()

    def stop(self):
        harness.stop_spark(self.spark)

    # -- results ------------------------------------------------------------
    def timed(self) -> list[Op]:
        return [o for o in self.results if o.phase == "timed"]

    def end_to_end(self) -> dict:
        ops = self.timed()
        walls = [o.wall_ms for o in ops]
        per_op = {}
        for o in ops:
            per_op.setdefault(o.name, []).append(o.wall_ms)
        return {
            "setup_s": self.setup_s,
            "throughput_per_s": len(ops) / self.elapsed,
            "latency_ms_p50": harness.quantile(walls, 0.5),
            "latency_geomean_ms": statistics.geometric_mean(
                [statistics.median(v) for v in per_op.values()]
            ),
            "recall": sum(o.matched for o in ops) / sum(o.expected for o in ops),
            "ok_ops_ratio": sum(o.ok for o in ops) / len(ops),
            "memory_mb": self.memory_mb,
        }

    def per_layer(self) -> dict:
        ops = self.timed()
        n = len(ops)
        totals = job_totals([j for o in ops for j in o.jobs])
        wall_sum = sum(o.wall_ms for o in ops)
        gaps = [
            o.wall_ms - union_ms([(j["submit"], j["end"]) for j in o.jobs], o.start, o.end)
            for o in ops
        ]
        out = dict(self.layers)
        out.update(
            {
                "spark.jobs_per_op": totals["jobs"] / n,
                "spark.driver_gap_ms": statistics.median(gaps),
                "query.build_ms": statistics.median(o.build_ms for o in ops),
                "query.action_ms": statistics.median(o.action_ms for o in ops),
                "spark.tasks_per_op": totals["tasks"] / n,
                "spark.executor_cpu_ms": totals["cpu_ms"] / n,
                "spark.executor_busy_ratio": totals["run_ms"] / (wall_sum * harness.cores()),
                "spark.shuffle_read_mb": totals["shuffle_read_b"] / n / 2**20,
                "spark.shuffle_write_mb": totals["shuffle_write_b"] / n / 2**20,
                "spark.peak_task_mem_mb": totals["peak_task_mem_b"] / 2**20,
                "spark.spill_mb": totals["spill_b"] / 2**20,
            }
        )
        for name in self.ops:
            mine = [o for o in ops if o.name == name]
            out[f"op.{name}.wall_ms"] = statistics.median(o.wall_ms for o in mine)
            out[f"op.{name}.jobs"] = statistics.fmean(len(o.jobs) for o in mine)
        return out

    def counts(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, names of ops that read below 1.0)."""
        ops = self.timed()
        bad = sorted({o.name for o in self.results if not o.correct})
        return len(ops), sum(not o.correct for o in ops), bad

    def detail(self) -> dict:
        return {
            "sf": self.sf,
            "warm_passes": self.warm_passes,
            "steal_s": self.steal_s,
            "jvm_rss_peak_mb": self.jvm_rss_mb,
            "passes": self.passes,
            "ops": [
                {
                    "name": o.name,
                    "phase": o.phase,
                    "pass": o.pass_no,
                    "wall_ms": o.wall_ms,
                    "build_ms": o.build_ms,
                    "jobs": len(o.jobs),
                    "correct": o.correct,
                    "error": o.error,
                }
                for o in self.results
            ],
        }
