"""``worker_daemon``: Python tasks skip re-reading unchanged zips.

Every task calls ``importlib.invalidate_caches()``; the probes below run
inside a task on the session's local master, which ``get_spark`` points at
the package's daemon. The patch lives in the worker processes only: the
pytest process's ``zipimport`` stays CPython's own.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _pytest_process_zipimport_unpatched():
    yield
    assert zipimport._read_directory.__module__ == "zipimport"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _in_one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_invalidate_caches_rereads_no_unchanged_zip(spark):
    def reads_during_invalidate(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        yield len(reads), len(importers)

    # PySpark's own daemon reads 16 times on CPython < 3.13: three archives
    # (pyspark.zip, py4j, the spark-core jar) under 16 importers.
    (reads, importers), = _in_one_task(spark, reads_during_invalidate)
    assert importers > 0
    assert reads == 0


def test_rewritten_zip_on_sys_path_imports_new_module(spark, tmp_path):
    archive = str(tmp_path / "mods.zip")
    old, new = f"zmod_old_{tmp_path.name}", f"zmod_new_{tmp_path.name}"

    def import_after_rewrite(_):
        import importlib
        import sys
        import zipfile

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{old}.py", "X = 1\n")
        sys.path.insert(0, archive)
        try:
            x = importlib.import_module(old).X
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{old}.py", "X = 1\n")
                z.writestr(f"{new}.py", "Y = 2\n")
            importlib.invalidate_caches()
            yield x, importlib.import_module(new).Y
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            for name in (old, new):
                sys.modules.pop(name, None)

    assert _in_one_task(spark, import_after_rewrite) == [(1, 2)]


def test_driver_outside_repo_root_runs_python_tasks(tmp_path):
    # The worker finds the daemon module through spark.executorEnv.PYTHONPATH
    # alone: neither the driver's cwd nor its environment names the repo.
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from alibaba_cppfeaturestore_spark.session import get_spark\n"
        "sc = get_spark(master='local[1]').sparkContext\n"
        "print(sc.parallelize([1], 1).map(lambda x: x).collect())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[1]"
