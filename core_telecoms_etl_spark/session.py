"""SparkSession construction tuned for both local testing and cluster scale.

Settings rationale (100 TB design stance):
- AQE on: runtime coalescing, skew-join splitting, and dynamic join-strategy
  switching are the first line of defense at scale.
- shuffle partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from a larger initial number.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are portable across clusters.
- Arrow enabled for any pandas exchange (toPandas / pandas UDFs).
- Python workers: every Python task starts with
  `importlib.invalidate_caches()`, which under CPython 3.11 makes each
  zip importer on the worker's path re-parse its archive (pyspark.zip,
  the py4j zip and the 37 MB spark-core jar): ~200 ms per task. The
  workers come from the engine's own daemon (`_pydaemon`), which
  re-reads an archive only when its (mtime, size) stamp changed. Spark
  starts the daemon by module name, so the module must be importable
  where workers start, or every Python stage fails. The package's
  parent directory therefore goes on the workers' PYTHONPATH; on a
  cluster the executors need the engine installed there too.
- Driver JVM cold start: a local-mode launch maps a class-data-sharing
  archive of the classes Spark loads (JDK dynamic CDS, JEP 350), which
  roughly halves JVM start plus the first jobs' class loading. See
  `_class_archive`.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory that holds the package, for the Python workers' path
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the machine's memory, at most 48g: a local-mode JVM holds
    driver and executors, and a constant 48g heap on a smaller machine
    turns a runaway plan into a kernel OOM kill instead of a Java heap
    error."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{min(48 << 10, total // 2 >> 20)}m"


# --- driver class-data-sharing archive -----------------------------------
#
# A JDK dynamic CDS archive holds the parsed and verified form of the
# classes a run loaded; a JVM that maps it skips loading them from the
# jars. The first local-mode start with no matching archive runs with
# `-XX:ArchiveClassesAtExit`: its JVM writes the archive when it exits,
# and the Python side publishes it under its stamp only after that JVM
# exited with status 0 (a truncated archive crashes the JVM that maps
# it). Later starts whose stamp matches map it with
# `-XX:SharedArchiveFile`. The archive holds class metadata only.

# how long the exit handler waits for a dumping JVM (~10 s measured)
_DUMP_WAIT_S = 120
# the JVM's [warning][cds] lines (signed jars, old class versions) go to
# its stdout, which is the caller's
_QUIET = "-Xlog:cds=off,cds+dynamic=off"


def _heap_bytes(memory: str) -> int:
    """A Spark memory string as bytes; a bare number is MiB."""
    m = memory.strip().lower().removesuffix("b")
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if m[-1:] in scale:
        return int(m[:-1]) * scale[m[-1]]
    return int(m) << 20


def _stat_line(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}\n"


def _archive_stamp(spark_home: str, conf_dir: str, conf: dict, memory: str):
    """A digest of what the JVM checks before it maps an archive: the
    JVM build, the classpath in order (each jar's name, size and mtime)
    and the compressed-oops mode, which a heap of 32 GiB or more turns
    off. Reads files only. None when a directory on the classpath holds
    a file: the dump refuses non-empty directories."""
    java_home = os.environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java") if java_home
        else shutil.which("java")
    )
    if not java:
        return None
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    lines = [f"oops {_heap_bytes(memory) < 32 << 30}\n"]
    lines += [
        _stat_line(os.path.join(jdk, f))
        for f in ("lib/modules", "lib/server/libjvm.so")
    ]
    with open(os.path.join(jdk, "release")) as f:
        lines.append(f.read())
    # the launcher's order: extraClassPath, the conf dir, the jars, then
    # the Hadoop/YARN conf dirs and SPARK_DIST_CLASSPATH
    entries = [
        *conf.get("spark.driver.extraClassPath", "").split(os.pathsep),
        conf_dir,
        os.path.join(spark_home, "jars", "*"),
        os.environ.get("HADOOP_CONF_DIR", ""),
        os.environ.get("YARN_CONF_DIR", ""),
        *os.environ.get("SPARK_DIST_CLASSPATH", "").split(os.pathsep),
    ]
    for entry in filter(None, entries):
        if entry.endswith("*"):
            d = entry[:-1]
            lines += [
                _stat_line(os.path.join(d, n))
                for n in sorted(os.listdir(d))
                if n.lower().endswith(".jar")
            ]
        elif os.path.isdir(entry):
            if os.listdir(entry):
                return None
            lines.append(f"{entry}/\n")
        elif os.path.exists(entry):
            lines.append(_stat_line(entry))
        else:
            lines.append(f"{entry} -\n")
    return hashlib.sha256("".join(lines).encode()).hexdigest()[:20]


def _remove_strays(cds_dir: str) -> None:
    """Delete the dump files (`<stamp>.<pid>.<random>.tmp`) whose Python
    process is gone: they were never published and may be truncated."""
    for name in os.listdir(cds_dir):
        parts = name.split(".")
        if len(parts) != 4 or parts[3] != "tmp" or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cds_dir, name))
        except OSError:
            pass  # alive, under another user


def _class_archive(conf: dict, memory: str):
    """(driver Java options, SPARK_CONF_DIR for the launch, dump path or
    None) for this launch, or None for a plain start.

    A plain start when: a JVM is already running in this process; the
    caller sets `spark.master`, `spark.driver.defaultJavaOptions` or
    PYSPARK_SUBMIT_ARGS (each can change the JVM's classpath, flags or
    mode); the conf directory
    holds a real file (`spark-defaults.conf`, `log4j2.properties`,
    `spark-env.sh`: the dump refuses non-empty classpath directories,
    and the engine never moves or hides them); or the cache directory
    cannot be written. A conf directory that is missing or holds only
    `*.template` files, which Spark never reads, is swapped for an
    empty one under the cache for the launch."""
    from pyspark.find_spark_home import _find_spark_home

    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "PYSPARK_SUBMIT_ARGS" in os.environ
        or "spark.master" in conf
        or "spark.driver.defaultJavaOptions" in conf
    ):
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
            spark_home, "conf"
        )
        if os.path.isdir(conf_dir) and not all(
            n.endswith(".template") for n in os.listdir(conf_dir)
        ):
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"),
            "core_telecoms_etl_spark",
        )
        empty_conf = os.path.join(cache, "conf")
        cds_dir = os.path.join(cache, "cds")
        os.makedirs(empty_conf, exist_ok=True)
        os.makedirs(cds_dir, exist_ok=True)
        stamp = _archive_stamp(
            spark_home, empty_conf, conf,
            conf.get("spark.driver.memory", memory),
        )
        if stamp is None:
            return None
        _remove_strays(cds_dir)
        archive = os.path.join(cds_dir, f"{stamp}.jsa")
        if os.path.isfile(archive):
            return f"-XX:SharedArchiveFile={archive} {_QUIET}", empty_conf, None
        fd, dump = tempfile.mkstemp(
            prefix=f"{stamp}.{os.getpid()}.", suffix=".tmp", dir=cds_dir
        )
        os.close(fd)
    except (OSError, ValueError):
        # unwritable cache, unreadable JDK or Spark layout, odd memory
        # string: start plain
        return None
    return f"-XX:ArchiveClassesAtExit={dump} {_QUIET}", empty_conf, dump


def _publish_at_exit(proc: subprocess.Popen, dump: str) -> None:
    """At interpreter exit: stop the session, end the dumping JVM (it
    exits on stdin EOF and writes the archive), wait for it, and
    publish the archive under its stamp only if the JVM exited with
    status 0. Without this wait PySpark never waits for its JVM, which
    would outlive the caller while it dumps."""

    def publish() -> None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            # a clean stop first, or the accumulator server's thread
            # reports the JVM's end as an EOFError; a JVM that is gone
            # already makes stop() raise, and the exit goes on
            with contextlib.suppress(Exception):
                sc.stop()
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        try:
            code = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        stamp, _ = os.path.basename(dump).split(".", 1)
        archive = os.path.join(os.path.dirname(dump), f"{stamp}.jsa")
        with contextlib.suppress(OSError):
            if code == 0 and os.path.getsize(dump) > 0:
                os.replace(dump, archive)
            else:
                os.remove(dump)

    atexit.register(publish)


def get_spark(
    app_name: str = "core-telecoms-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied.

    On a cluster the master/memory settings come from spark-submit; the
    builder only sets master when none is configured (local dev/test).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "core_telecoms_etl_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    conf = dict(extra_conf or {})
    archive = None
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        # local mode = driver-only JVM; give it real memory, sized to the
        # machine. On a cluster these come from spark-submit instead.
        memory = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory()
        archive = _class_archive(conf, memory)
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", memory
        ).config(
            # Splits are sized by bytes, so the 128 MB default hands a
            # 1–20 MB local test file to ONE core and every scan-rooted
            # stage runs serial (measured 2× on funnel's event scan).
            # Right-size for megabyte-scale local data; cluster submits
            # set 128–256 MB per SCALING.md "Config deltas".
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        options, conf_dir, dump = archive
        builder = builder.config("spark.driver.defaultJavaOptions", options)
        caller_conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if caller_conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = caller_conf_dir
        if dump is not None:
            _publish_at_exit(SparkContext._gateway.proc, dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark
