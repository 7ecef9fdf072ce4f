"""Process plumbing shared by the workloads: environment pinning, the
Spark session's start and stop, peak memory, and summary statistics.

Everything a run writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, generated tables,
stream checkpoints and trace files.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def process_start() -> float:
    """``time.perf_counter()`` reading at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Pin the core count and keep every file Spark, the JVM and Python
    write inside ``run_dir``. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    # Every JVM would otherwise write its perf counters to /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in spawned:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def peak_rss_mb(pid: int | None = None) -> float:
    """VmHWM (peak resident set) of ``pid``, or of this process."""
    with open(f"/proc/{pid or 'self'}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line")


def retained_mb(spark) -> float:
    """Memory the driver JVM retains: the lowest heap in use over
    repeated full collections, plus non-heap in use (metaspace, code
    cache).

    The JVM's resident set is no use as a gate: G1 sizes the young
    generation from pause times, so its peak follows GC timing rather
    than the program (it read 2.8-4.8 GB across runs of the same code).
    The live heap is what the program holds: caches, stream state,
    broadcast and checkpoint blocks, Spark's own bookkeeping.
    """
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python proxies keep JVM objects alive until Python collects them;
    # Spark's ContextCleaner drops unreferenced broadcast, shuffle and
    # checkpoint blocks only after a JVM collection has found them, one
    # blocking removal at a time, and after a few hundred jobs that took
    # over a second. So collect until the heap in use has stopped
    # falling for 1.5 s (at most 6 s) and take the lowest reading.
    gc.collect()
    low = float("inf")
    since = start = time.monotonic()
    while True:
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed()
        now = time.monotonic()
        if used < low * 0.99:
            since = now
        low = min(low, used)
        if now - since >= 1.5 or now - start >= 6.0:
            break
        time.sleep(0.25)
    return (low + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds consumed so far by ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the 'inclusive' method), defined
    for any non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def stop_at_boundary(elapsed: float, last_unit: float, seconds: float) -> bool:
    """True when the window should end at this unit boundary: the one
    nearest to ``seconds`` (the next boundary lies about ``last_unit``
    further on)."""
    return elapsed >= seconds - last_unit / 2.0
