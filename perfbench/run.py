"""Benchmark of the trending-hashtags engine: one command, two workloads.

    python3 perfbench/run.py --workload {trend_stream,llm_loops} \\
        --seed N --seconds S --trace {0,1} [--report PATH]

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.perfbench_work/``, starts the package's own Spark
session (``get_spark``) at ``local[<cores>]``, runs the workload in a
closed loop with one client, checks every result against DuckDB, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from spans recorded around the calls into the package and from
Spark's status store, and the spans are written to
``.perfbench_work/trace/``. A per-layer metric the workload does not
exercise reads 0. ``--report`` also writes both metric sets and the
per-op detail as JSON. Design notes: ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

CLOCK0 = harness.process_start()

WORKLOADS = ("trend_stream", "llm_loops")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the full result as JSON here")
    # Smoke and warm-up-curve settings; the defaults are the benchmark's.
    ap.add_argument("--sf", type=float, help="scale of the generated tables")
    ap.add_argument("--warm", type=int, help="warm passes or batches")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected result (self-test)")
    return ap.parse_args(argv)


def _workload(args, tracer, run_dir):
    if args.workload == "trend_stream":
        from stream import StreamWorkload

        return StreamWorkload(args.workload, args.seed, args.seconds, tracer, run_dir,
                              warm_batches=args.warm, corrupt=args.corrupt)
    from batch import BatchWorkload

    return BatchWorkload(args.workload, args.seed, args.seconds, tracer, run_dir,
                         sf=args.sf, warm_passes=args.warm, corrupt=args.corrupt)


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, harness.ROOT)
    try:
        import jubilant_garbanzo_spark
    except ImportError as exc:
        print(f"perfbench: the package is not in {harness.ROOT}: {exc}", file=sys.stderr)
        return 2
    if not jubilant_garbanzo_spark.__file__.startswith(harness.ROOT + os.sep):
        print(f"perfbench: the package is not in {harness.ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}")
    harness.pin_environment(run_dir)
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    wl = _workload(args, tracer, run_dir)
    try:
        with tracer.span("workload", trace=args.workload, seed=args.seed):
            wl.setup()
            wl.measure(CLOCK0)
        if args.trace and hasattr(wl, "measure_source"):
            wl.measure_source()
        e2e = wl.end_to_end()
        layers = wl.per_layer() if args.trace else {}
        attempted, failed, bad = wl.counts()
    finally:
        if getattr(wl, "spark", None) is not None:
            wl.stop()
        harness.remove(run_dir)

    for name in bad:
        print(f"perfbench: {args.workload}: below 1.0: {name}", file=sys.stderr)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        out_dir = os.path.join(harness.WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    if args.report:
        with open(args.report, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "trace": args.trace,
                    "cores": harness.cores(),
                    "attempted": attempted,
                    "failed": failed,
                    "below_1": bad,
                    "end_to_end": e2e,
                    "per_layer": layers,
                    "detail": wl.detail(),
                },
                f,
                indent=1,
            )

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in chosen
    }
    correct = (
        failed == 0 and not bad and e2e["recall"] == 1.0 and e2e["ok_ops_ratio"] == 1.0
    )
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
