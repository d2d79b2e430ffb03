"""Session sizing, set-up, timing statistics and resource sampling.

Nothing here reads engine internals: the session is a plain SparkSession
sized from the host, and every number is taken from outside the package.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "defi_etl_platform_sqlglot_implementation__spark"
RSS_INTERVAL_S = 0.25


def since_process_start() -> float:
    """Seconds since this process started, read from /proc, so the
    interpreter's own start and every import count (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of the host's memory, within [1 GiB, 4 GiB]: local mode runs
    every task in the one JVM, the inputs are small and the host is
    shared.  The heap starts at this size too (-Xms), so its growth does not
    add run-to-run noise to the peak RSS."""
    return max(1024, min(4096, mem_total_mb() // 8 // 256 * 256))


def scrub_engine_env() -> dict[str, str]:
    """Remove the engine's ``SPARK_GRAFT_*`` variables so defaults are
    measured; returns what was set, for the report."""
    found = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    for k in found:
        del os.environ[k]
    return found


def prepare_process_env(work: Path) -> None:
    """Point temp files at the work dir and let Python workers import the
    package from the checkout root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def build_session(work: Path, event_log_dir: Path | None = None):
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{driver_memory_mb()}m -Djava.io.tmpdir={work / 'tmp'}")
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.streaming.numRecentProgressUpdates", "1000"))
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def import_engine():
    """Import the engine afresh: drop cached modules so import-time work is
    paid on every set-up, then import ``__spark_entry__`` (which imports
    every registry module)."""
    for name in list(sys.modules):
        if name == "__spark_entry__" or name == PACKAGE or name.startswith(PACKAGE + "."):
            del sys.modules[name]
    import __spark_entry__

    return __spark_entry__


class Sessions:
    """Owns the benchmark's SparkSession; the first set-up launches the JVM."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None

    def setup(self, event_log_dir: Path | None = None) -> None:
        """Start a session (stopping any previous one) and import the engine
        afresh.  The Python workers start with the first Python UDF."""
        self.stop()
        self.spark = build_session(self.work, event_log_dir)
        import_engine()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------- statistics

def tail_rank(n: int) -> int:
    """1-based rank (ascending) of the tail sample: the highest one with at
    least ten samples beyond it, when that lies above the median (21 samples
    or more); with fewer samples, the highest sample."""
    k = n - 10
    return k if k > n / 2 else n


def latency_summary(values: list[float]) -> dict:
    """Median and tail of ``values`` with the tail's percentile and the
    number of samples beyond it."""
    if not values:
        raise ValueError("no latency samples")
    xs = sorted(values)
    n = len(xs)
    p50 = statistics.median(xs)
    k = tail_rank(n)
    return {"n": n, "p50": p50, "tail": xs[k - 1],
            "tail_pct": round(100.0 * k / n, 1), "tail_beyond": n - k}


# ----------------------------------------------------------- resources

def _tree_rss_kb(root_pid: int) -> int:
    """RSS of ``root_pid`` and its descendants.  A child of the JVM that still
    runs the JVM's executable is not counted: the JVM starts helper
    processes (such as ``chmod`` for local files) with vfork, and until they
    exec they report the JVM's own pages.  The executable is read before
    the counters, so a helper that execs in between reads as small."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    exe: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            exe[pid] = os.readlink(f"/proc/{d}/exe")
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as fh:
                rss[pid] = int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        kids = children.get(p, [])
        if exe.get(p, "").endswith("/java"):
            kids = [k for k in kids if exe[k] != exe[p]]
        stack.extend(kids)
    return total


class RssSampler:
    """Samples the RSS of this process tree (Python, JVM and Python workers)
    from /proc on a background thread; ``peak_mb`` is the largest sample."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def load1() -> float:
    return os.getloadavg()[0]


# --------------------------------------------------------------- tracing

class Tracer:
    """Spans around the benchmark's calls into each layer.

    Spans are kept in memory in every run (two clock reads each).  When
    ``spark`` is given (the traced run) each span also sets a Spark job
    group named ``<op>:<name>``, so the event log attributes every job,
    stage, task and plan node to the span that caused it.
    """

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[tuple[int, str, float, float]] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, op: int, name: str):
        if self.sc is not None:
            gid = f"{op}:{name}"
            self.sc.setJobGroup(gid, gid)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((op, name, t0, time.time()))

    def durations(self, name: str) -> list[float]:
        return [b - a for _, n, a, b in self.spans if n == name]

    def windows(self, name: str) -> list[tuple[str, float, float]]:
        """(job group, start, end) of every span called ``name``."""
        return [(f"{op}:{n}", a, b) for op, n, a, b in self.spans if n == name]
