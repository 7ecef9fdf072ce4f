"""Scripted end-to-end demo of the reference's user-visible behavior.

Reproduces ``tweet-streamer/src/main/scala/main.scala`` exactly as a
user sees it: a live network line stream → split on spaces → keep
``#``-prefixed tokens → count per 10 s window sliding 5 s → print the
top-10 every 5 s trigger. An in-process TCP server plays the tweet
firehose (deterministic rotating corpus, ~20 lines/s); the Structured
Streaming query consumes it through the real socket source.

Writes the captured transcript + cadence numbers to DEMO.md.

Usage: python scripts/demo_trending.py [--duration 30] [--out DEMO.md]
"""

from __future__ import annotations

import argparse
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jubilant_garbanzo_spark.session import get_spark  # noqa: E402
from jubilant_garbanzo_spark.streaming.runner import read_socket_lines  # noqa: E402
from jubilant_garbanzo_spark.streaming.trending import (  # noqa: E402
    hashtag_windowed_counts,
)

TWEETS = [
    "#spark structured streaming demo line",
    "#spark and #flink both do windows",
    "loving the #spark engine today",
    "#streams #spark #data all day",
    "#data pipelines need #dedup passes",
    "no hashtags in this line at all",
    "#flink users also read #spark docs",
    "#topk every five seconds like the reference",
    "#spark #spark double tag line",
    "#dedup at one hundred terabytes needs #lsh",
]


def serve_lines(srv: socket.socket, stop: threading.Event, lps: int) -> None:
    """Accept one consumer and push the rotating corpus at ~lps lines/s."""
    try:
        conn, _ = srv.accept()
        i = 0
        with conn:
            while not stop.is_set():
                conn.sendall((TWEETS[i % len(TWEETS)] + "\n").encode())
                i += 1
                time.sleep(1.0 / lps)
    except OSError:
        pass  # query stopped first; fine


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--duration", type=int, default=30)
    ap.add_argument("--lines-per-sec", type=int, default=20)
    ap.add_argument("--out", default="DEMO.md")
    args = ap.parse_args()

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()
    t = threading.Thread(
        target=serve_lines, args=(srv, stop, args.lines_per_sec), daemon=True
    )
    t.start()

    spark = get_spark("trending-demo")
    counts = hashtag_windowed_counts(
        read_socket_lines(spark, "127.0.0.1", port, include_timestamp=True)
    )

    transcript: list[str] = []
    batch_walls: list[float] = []
    t0 = time.time()

    def emit_top10(batch_df, batch_id):
        now = time.time()
        batch_walls.append(now)
        top = (
            batch_df.select(
                F.date_format(F.col("w.start"), "HH:mm:ss").alias("w_start"),
                "tag",
                "cnt",
            )
            .orderBy(F.desc("cnt"), F.asc("w_start"), F.asc("tag"))
            .limit(10)
            .collect()
        )
        block = [f"[t+{now - t0:5.1f}s] batch {batch_id} — top-10 tags:"]
        for r in top:
            block.append(f"    [{r['w_start']}] {r['tag']}: {r['cnt']}")
        if not top:
            block.append("    (no windows yet)")
        transcript.append("\n".join(block))
        print(transcript[-1], file=sys.stderr)

    import tempfile

    with tempfile.TemporaryDirectory(
        prefix="jg_demo_", ignore_cleanup_errors=True
    ) as checkpoint:
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(emit_top10)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="5 seconds")
            .start()
        )
        q.awaitTermination(args.duration)
        q.stop()
    stop.set()
    srv.close()

    deltas = [
        round(b - a, 2) for a, b in zip(batch_walls, batch_walls[1:])
    ]
    with open(args.out, "w") as f:
        f.write(
            "# DEMO — live socket trending top-10 (reference parity)\n\n"
            "The reference app (`tweet-streamer/src/main/scala/main.scala`)\n"
            "prints, every 5 s, the top-10 `#`-tags of the trailing 10 s\n"
            "window over a live network stream. This transcript is that\n"
            "exact behavior from this repo: an in-process TCP server pushes\n"
            f"~{args.lines_per_sec} tweet-lines/s into Spark's socket source;\n"
            "the graph is split-on-space → `#`-prefix filter → 10 s window\n"
            "sliding 5 s → top-10 per 5 s trigger (complete mode), i.e.\n"
            "R1→R8 of SURVEY §2a on the real streaming engine.\n\n"
            f"Captured {time.strftime('%Y-%m-%d %H:%M:%S')}, duration "
            f"{args.duration}s, `python scripts/demo_trending.py`.\n\n"
            "```text\n" + "\n\n".join(transcript) + "\n```\n\n"
            "## Cadence\n\n"
            f"- triggers observed: {len(batch_walls)}\n"
            f"- inter-trigger gaps (s): {deltas}\n"
            "- expected: ~5 s steady-state (first gap shorter: batch 0 fires\n"
            "  as soon as the source connects, mirroring the reference's\n"
            "  immediate first batch at `ssc.start()`).\n"
        )
    print(f"wrote {args.out}: {len(batch_walls)} triggers, gaps {deltas}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
