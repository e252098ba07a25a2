"""a5spark.worker_daemon: the stat guard on zipimport's directory re-read,
and its selection as the Python worker daemon of get_spark sessions."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from a5spark import worker_daemon


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    return str(path)


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed for one test only, with an empty stat cache."""
    monkeypatch.setattr(worker_daemon, "_seen", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon._guarded_invalidate_caches,
    )
    yield monkeypatch
    for name in [m for m in sys.modules if m.startswith("a5zmod_")]:
        del sys.modules[name]


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    return reads


def test_guard_skips_reread_of_unchanged_zip(tmp_path, guarded):
    archive = _write_zip(tmp_path / "mods.zip", {"a5zmod_a.py": "X = 1\n"})
    guarded.syspath_prepend(archive)
    assert importlib.import_module("a5zmod_a").X == 1
    importlib.invalidate_caches()  # first sight of the archive: one read
    reads = _count_reads(guarded)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # the counter sees the stock method's re-read
    guarded.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._read
    )
    importlib.invalidate_caches()
    assert archive in reads


def test_guard_rereads_zip_rewritten_in_place(tmp_path, guarded):
    archive = _write_zip(tmp_path / "mods.zip", {"a5zmod_b1.py": "X = 1\n"})
    guarded.syspath_prepend(archive)
    assert importlib.import_module("a5zmod_b1").X == 1
    importlib.invalidate_caches()
    inode = os.stat(archive).st_ino
    _write_zip(archive, {"a5zmod_b1.py": "X = 1\n", "a5zmod_b2.py": "Y = 2\n"})
    assert os.stat(archive).st_ino == inode
    reads = _count_reads(guarded)
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("a5zmod_b2").Y == 2


def test_get_spark_workers_run_the_guard():
    import pandas as pd
    from pyspark.sql import functions as F

    from a5spark.session import get_spark

    spark = get_spark("a5spark-test-worker-daemon", master="local[1]")
    try:
        assert (
            spark.conf.get("spark.python.daemon.module")
            == "a5spark.worker_daemon"
        )

        @F.pandas_udf("boolean")
        def guard_installed(x: pd.Series) -> pd.Series:
            # runs in the worker: names from this test module do not resolve
            from a5spark import worker_daemon

            guard = worker_daemon._guarded_invalidate_caches
            installed = zipimport.zipimporter.invalidate_caches is guard
            return pd.Series([installed] * len(x))

        rows = spark.range(1).select(guard_installed("id").alias("g")).collect()
    finally:
        spark.stop()
    assert rows[0]["g"] is True


def test_get_spark_workers_find_a5spark_from_another_cwd(tmp_path):
    """A driver that imports a5spark through sys.path, run from a directory
    that does not contain it: the workers must still import the daemon."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from a5spark.session import get_spark\n"
        "spark = get_spark('a5spark-test-cwd', master='local[1]')\n"
        "rows = spark.createDataFrame([(1, 'a'), (2, 'b')]).collect()\n"
        "spark.stop()\n"
        "print(len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "2"
