"""The engine's session set-up: the Python worker daemon
(`core_telecoms_etl_spark._pydaemon`) and its reach from a driver that
runs outside the repository."""

from __future__ import annotations

import importlib
import os
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
