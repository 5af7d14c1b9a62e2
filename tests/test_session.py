"""The engine's session set-up: the Python worker daemon
(`core_telecoms_etl_spark._pydaemon`), its reach from a driver that
runs outside the repository, and the driver JVM's class-data-sharing
archive."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from core_telecoms_etl_spark import _pydaemon

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def counted_reads(monkeypatch):
    """The number of archive directory reads zipimport makes, with the
    daemon's `invalidate_caches` installed on every zip importer."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    return reads


def test_unchanged_archive_is_not_read_again(tmp_path, counted_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pd_first": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))
    assert len(counted_reads) == 1  # the constructor's read, unstamped

    importer.invalidate_caches()
    files = importer._files
    assert len(counted_reads) == 2  # stamped once
    for _ in range(3):
        importer.invalidate_caches()
        sub.invalidate_caches()
    assert len(counted_reads) == 2
    assert importer._files is files and sub._files is files
    assert zipimport._zip_directory_cache[str(archive)] is files


def test_rewritten_archive_makes_a_new_module_importable(
    tmp_path, counted_reads, monkeypatch
):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pd_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    importlib.invalidate_caches()
    assert importlib.import_module("pd_first").X == 1
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pd_second")

    # in place: same path, same importer in sys.path_importer_cache
    _write_zip(archive, {"pd_first": "X = 1\n", "pd_second": "Y = 2\n"})
    reads = len(counted_reads)
    importlib.invalidate_caches()
    assert len(counted_reads) == reads + 1
    assert importlib.import_module("pd_second").Y == 2

    archive.unlink()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(archive)]._files == {}
    for name in ("pd_first", "pd_second"):
        sys.modules.pop(name)


def test_consecutive_python_stages_keep_every_zip_directory(spark):
    def zip_directories(batches):
        """One row per zip importer in this worker: whether its directory
        is the object the previous task in this worker left it with (None
        on the first). The previous objects stay referenced, so `is`
        cannot be fooled by a freed address being reused."""
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        seen = zipimport.__dict__.setdefault("_test_session_seen", {})
        rows = []
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                key = f"{imp.archive}:{imp.prefix}"
                prev = seen.get(key)
                same = None if prev is None else prev is imp._files
                rows.append((os.getpid(), key, same))
                seen[key] = imp._files
        yield pd.DataFrame(rows, columns=["pid", "importer", "same"])

    schema = "pid long, importer string, same boolean"
    # more tasks than workers, so each reused worker runs in both stages
    df = spark.range(0, 16, 1, 16)
    first = df.mapInPandas(zip_directories, schema).collect()
    second = df.mapInPandas(zip_directories, schema).collect()
    assert any("pyspark.zip" in r.importer for r in first)
    compared = [r for r in second if r.same is not None]
    assert compared, "no worker ran a task in both stages"
    assert [r for r in compared if not r.same] == []


_DRIVER = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from core_telecoms_etl_spark import get_spark

spark = get_spark("outside", shuffle_partitions=2)

@pandas_udf("string")
def invalidation(ids: pd.Series) -> pd.Series:
    import zipimport
    fn = zipimport.zipimporter.invalidate_caches
    return ids.map(lambda _: f"{{fn.__module__}}.{{fn.__qualname__}}")

print(sorted({{r[0] for r in spark.range(4).select(invalidation("id")).collect()}}))
spark.stop()
"""


def test_driver_outside_the_repo_runs_python_workers(tmp_path):
    """A driver whose working directory is elsewhere, with no PYTHONPATH
    and the engine reachable only through its own sys.path: the daemon
    must still import, or every Python stage fails."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(_DRIVER.format(root=str(ROOT))))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    # the daemon runs as __main__; the stock method lives in zipimport
    assert run.stdout.splitlines()[-1] == "['__main__.invalidate_caches']"


# --- the driver's class-data-sharing archive ---------------------------------

_CDS_DRIVER = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from pyspark import SparkContext
from core_telecoms_etl_spark import get_spark

spark = get_spark("cds", shuffle_partitions=2, extra_conf={conf!r})
spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
out = {{
    "args": [str(a) for a in mx.getRuntimeMXBean().getInputArguments()],
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}
if {kill_dump!r}:
    # kill the JVM once its exit-time dump starts writing the file
    dump = [a for a in out["args"] if "ArchiveClassesAtExit" in a][0]
    dump = dump.split("=", 1)[1]
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    written = 0
    while not written and proc.poll() is None:
        time.sleep(0.005)
        written = os.path.exists(dump) and os.path.getsize(dump)
    proc.kill()
    out["written_at_kill"] = written
print(json.dumps(out))
"""


def _drive(tmp_path, cache, *, conf=None, conf_dir=None, kill_dump=False):
    """Run a driver in a fresh process with `cache` as XDG_CACHE_HOME;
    returns its one stdout line, parsed. The process has exited, and
    its exit handler has published (or dropped) any dump, on return."""
    script = tmp_path / "cds_driver.py"
    script.write_text(
        textwrap.dedent(
            _CDS_DRIVER.format(root=str(ROOT), conf=conf or {}, kill_dump=kill_dump)
        )
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")
    }
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    # no JVM line ([warning][cds] ...) reaches the caller's stdout
    lines = run.stdout.splitlines()
    assert len(lines) == 1, run.stdout[:3000]
    return json.loads(lines[0])


def _flag(out, name):
    """The value of the JVM's `-XX:<name>=` input argument, or None."""
    got = [a.split("=", 1)[1] for a in out["args"] if a.startswith(f"-XX:{name}=")]
    assert len(got) <= 1, out["args"]
    return got[0] if got else None


def _cds_files(cache):
    d = Path(cache) / "core_telecoms_etl_spark" / "cds"
    return sorted(p.name for p in d.iterdir()) if d.is_dir() else []


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A cache whose archive the first start dumped and published:
    (cache, archive path, that start's output)."""
    tmp = tmp_path_factory.mktemp("cds")
    cache = tmp / "cache"
    first = _drive(tmp, cache)
    assert _flag(first, "SharedArchiveFile") is None
    dump = Path(_flag(first, "ArchiveClassesAtExit"))
    stamp = dump.name.split(".")[0]
    assert _cds_files(cache) == [f"{stamp}.jsa"]  # the dump file was promoted
    yield cache, dump.with_name(f"{stamp}.jsa"), first
    shutil.rmtree(tmp)  # pytest keeps old temp dirs; archives are 166 MB


@pytest.fixture
def cache(tmp_path):
    """A cache directory for one test, removed after it."""
    yield tmp_path / "cache"
    shutil.rmtree(tmp_path / "cache", ignore_errors=True)


def _copy_cache(src, to):
    shutil.copytree(src, to, copy_function=os.link)
    return to


def test_first_start_dumps_the_archive_and_the_next_maps_it(tmp_path, published):
    cache, archive, first = published
    second = _drive(tmp_path, cache)
    assert _flag(second, "SharedArchiveFile") == str(archive)
    assert _flag(second, "ArchiveClassesAtExit") is None
    assert first["conf_dir"] is second["conf_dir"] is None  # env restored
    assert _cds_files(cache) == [archive.name]  # dumped once per stamp


def test_changed_stamp_starts_without_the_archive_and_dumps_again(
    tmp_path, published, cache
):
    _copy_cache(published[0], cache)
    old = published[1].name
    jar = tmp_path / "extra.jar"  # a classpath change is a stamp change
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    out = _drive(tmp_path, cache, conf={"spark.driver.extraClassPath": str(jar)})
    assert _flag(out, "SharedArchiveFile") is None
    new = Path(_flag(out, "ArchiveClassesAtExit")).name.split(".")[0] + ".jsa"
    assert new != old
    assert _cds_files(cache) == sorted([old, new])


def test_killed_dump_and_truncated_file_are_never_mapped(
    tmp_path, published, cache
):
    """A truncated archive crashes the JVM that maps it (SIGBUS while
    relocating pointers), so only a dump whose JVM exited cleanly is
    published, and leftovers of dead processes are removed."""
    killed = _drive(tmp_path, cache, kill_dump=True)
    stamp = Path(_flag(killed, "ArchiveClassesAtExit")).name.split(".")[0]
    assert killed["written_at_kill"] > 0  # killed part-way through the file
    assert _cds_files(cache) == []

    # a dump file a dead process left behind: its first 4 KiB
    gone = subprocess.Popen(["true"])
    gone.wait()
    stray = cache / "core_telecoms_etl_spark" / "cds" / f"{stamp}.{gone.pid}.x.tmp"
    with open(published[1], "rb") as f:
        stray.write_bytes(f.read(4096))
    out = _drive(tmp_path, cache)
    assert _flag(out, "SharedArchiveFile") is None
    assert _cds_files(cache) == [f"{stamp}.jsa"]


def test_real_conf_directory_gets_no_archive_and_is_left_alone(
    tmp_path, published, cache
):
    _copy_cache(published[0], cache)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.ui.showConsoleProgress false\n"
    )
    (conf_dir / "spark-env.sh.template").write_text("# template\n")

    def snapshot():
        return {
            p.name: (p.read_bytes(), p.stat().st_mtime_ns)
            for p in conf_dir.iterdir()
        }

    before = snapshot()
    out = _drive(tmp_path, cache, conf_dir=conf_dir)
    assert not [a for a in out["args"] if "Archive" in a], out["args"]
    assert out["conf_dir"] == str(conf_dir)
    assert snapshot() == before
    assert _cds_files(cache) == [published[1].name]
