"""The Python worker daemon (map_reduce_group_spark/pyworker_daemon.py):
tasks fork from it, its zip importers do not re-read the archives the
daemon started with, and archives a job ships later still import."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

DAEMON = "map_reduce_group_spark.pyworker_daemon"


def _task_importers(_):
    """In a task: the daemon module, and per archive on the path outside
    the SparkFiles root (where shipped archives live), the importer class
    and how many central-directory reads an ``importlib.invalidate_caches()``
    makes, next to what a stock ``zipimporter`` of the same archive makes."""
    import importlib
    import os
    import pkgutil
    import sys
    import zipimport

    from pyspark import SparkFiles

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    shipped = os.path.join(SparkFiles.getRootDirectory(), "")
    archives = [p for p in sys.path if os.path.isfile(p) and not p.startswith(shipped)]
    importers = {p: type(pkgutil.get_importer(p)).__name__ for p in archives}
    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
        kept_reads = sum(r in importers for r in reads)
        reads.clear()
        for p in archives:
            zipimport.zipimporter(p).invalidate_caches()
    finally:
        zipimport._read_directory = stock_read
    yield sys.modules["__main__"].__spec__.name, importers, kept_reads, len(reads)


def test_tasks_fork_from_daemon_that_keeps_zip_directories(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == DAEMON
    for daemon, importers, kept_reads, stock_reads in (
        sc.parallelize(range(2), 2).mapPartitions(_task_importers).collect()
    ):
        assert daemon == DAEMON
        assert any(p.endswith("pyspark.zip") for p in importers), importers
        assert set(importers.values()) == {"_KeptZipImporter"}, importers
        assert kept_reads == 0
        assert stock_reads == len(importers)  # the count sees a stock re-read


def test_zip_shipped_after_start_imports_in_task(spark, tmp_path):
    """sc.addPyFile after the session (and its daemon) started: tasks put
    the archive on their path from the SparkFiles root, and it keeps the
    stock invalidation, so it imports."""
    name = f"mrg_shipped_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'shipped'\n")
    sc = spark.sparkContext
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(2), 2).mapPartitions(load).collect() == ["shipped"] * 2


def test_kept_importer_rereads_only_archives_not_kept(tmp_path, monkeypatch):
    """The rule itself, without a task: an archive the daemon started with
    keeps the directory it read; any other archive is re-read."""
    from map_reduce_group_spark import pyworker_daemon

    archive = tmp_path / "lib.zip"

    def write(module):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr(f"{module}.py", "")

    write("first")
    importer = pyworker_daemon._KeptZipImporter(str(archive))
    write("second")
    monkeypatch.setattr(pyworker_daemon, "_KEPT", frozenset({str(archive)}))
    importer.invalidate_caches()
    assert importer.find_spec("second") is None
    monkeypatch.setattr(pyworker_daemon, "_KEPT", frozenset())
    importer.invalidate_caches()
    assert importer.find_spec("second") is not None


def test_tasks_run_when_driver_starts_outside_repo(tmp_path):
    """A driver script run from another directory, with the package on its
    own sys.path only: the workers must still import the daemon module
    (and the package), so Python tasks run."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from map_reduce_group_spark.session import get_session\n"
        "spark = get_session('mrg-outside-cwd')\n"
        "print(spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * 2).sum())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "12"
