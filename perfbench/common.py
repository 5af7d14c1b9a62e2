"""Shared pieces of the benchmark: run-environment pinning, session
set-up, summary statistics and the driver-tree RSS sampler."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


# --- statistics ---------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile on TAIL_LADDER with at least MIN_BEYOND
    samples beyond it, or None when n is too small for any of them."""
    best = None
    for q in TAIL_LADDER:
        if round(n * (100.0 - q) / 100.0, 6) >= MIN_BEYOND:
            best = q
    return best


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values) -> float:
    return statistics.median(values)


# --- run environment ----------------------------------------------------


def total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat. The
    run record gives the share of CPU time the hypervisor took away
    while the run ran, so a slow run can be told from a slow host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pin_environment(root: str, work: str) -> dict[str, str]:
    """Set the variables Spark and its Python workers read at launch.
    Returns the pinned values for the run record."""
    cpus = str(os.cpu_count() or 1)
    driver_mb = min(2048, total_ram_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    for k in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    return pinned


def spark_conf(work: str) -> dict[str, str]:
    # -Xms = -Xmx and a fixed 512 MiB young generation: the collector
    # neither resizes the heap nor sizes eden run by run, so the driver's
    # RSS follows the old generation's live data (and the Python
    # workers) rather than where in eden each run's last collection fell
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -Xmn512m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }


# --- session set-up -------------------------------------------------------


def warm_up(spark, work: str) -> None:
    """The fixed warm-up every set-up runs: an aggregate with a shuffle
    and a parquet round trip. Python workers start on first use."""
    path = os.path.join(work, "warmup.parquet")
    df = spark.range(200_000).selectExpr("id % 97 AS k", "id AS v")
    df.groupBy("k").sum("v").collect()
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).groupBy("k").count().collect()


def set_up(work: str):
    """Start the session cold, as a fresh `@daily` caller does: the JVM
    launch, class loading and first jobs all fall inside the timing.
    Returns (spark, start_s, warmup_s)."""
    from core_telecoms_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work))
    t1 = time.perf_counter()
    warm_up(spark, work)
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_heap_mb(spark) -> dict[str, float]:
    """The driver JVM's heap: the sum of the heap pools' peak use, and
    the committed size. Goes to the run record beside peak_rss_mb."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    return {"heap_peak_mb": peak / 2**20, "heap_committed_mb": committed / 2**20}


def shut_down(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- memory ---------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(pid: int) -> dict[int, int]:
    """RSS in bytes of every descendant of `pid` (the JVM and its Python
    workers), not counting `pid` itself."""
    kids = _children_map()
    todo = list(kids.get(pid, []))
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * page
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the driver tree's RSS in a background thread; `peak_mb`
    is the largest sum seen while running. A process counts only once
    it is seen in two samples in a row: a child the JVM spawns to run a
    shell command shares the JVM's pages until it execs, and counting it
    would add the JVM's RSS a second time."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        prev: dict[int, int] = {}
        while not self._stop.is_set():
            cur = tree_rss(pid)
            total = sum(rss for p, rss in cur.items() if p in prev)
            self.peak_mb = max(self.peak_mb, total / (1024 * 1024))
            prev = cur
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
