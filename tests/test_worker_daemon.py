"""The Python worker daemon: launch archives are frozen against per-task
rescans, and the session factory makes the daemon importable.

Every Spark task calls ``importlib.invalidate_caches()``, which makes each
cached ``zipimporter`` re-read its archive's central directory. The daemon
turns that into a no-op for the archives on its launch ``sys.path`` only.
All assertions are structural (which archives get re-read), not timings.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FREEZE_CHILD = r"""
import importlib, json, sys, zipimport
late_zip = sys.argv[1]
import geomesa_spark.worker_daemon  # noqa: F401 — the daemon's launch-time setup
sys.path.insert(0, late_zip)
import mod_launch, mod_late  # noqa: F401
reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: (reads.append(path), real(path))[1]
importlib.invalidate_caches()
print(json.dumps({"reads": reads, "launch_file": mod_launch.__file__}))
"""


def _zip_with_module(path, name):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 1\n")
    return str(path)


def test_invalidate_caches_skips_only_launch_archives(tmp_path):
    launch_zip = _zip_with_module(tmp_path / "launch.zip", "mod_launch")
    late_zip = _zip_with_module(tmp_path / "late.zip", "mod_late")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([launch_zip, REPO]))
    r = subprocess.run(
        [sys.executable, "-c", _FREEZE_CHILD, late_zip],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["launch_file"].startswith(launch_zip)  # imported from the archive
    assert launch_zip not in out["reads"]  # present at daemon start: frozen
    assert late_zip in out["reads"]  # added later: still refreshed


def _rescanned_launch_archives(_):
    import importlib
    import sys
    import zipimport

    from pyspark import SparkFiles

    task_dir = SparkFiles.getRootDirectory()
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: (reads.append(path), real(path))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield n_zip, [p for p in reads if not p.startswith(task_dir)]


def test_spark_task_does_not_rescan_launch_archives(spark):
    assert spark.conf.get("spark.python.daemon.module") == "geomesa_spark.worker_daemon"
    [(n_zip, rescanned)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_rescanned_launch_archives).collect()
    )
    assert n_zip > 0  # the worker does hold Spark's archives (pyspark.zip, py4j, jar)
    assert rescanned == []


_SESSION_CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from geomesa_spark.session import get_spark
spark = get_spark(cpus=1, app="daemon-path-check")
print("DAEMON", spark.conf.get("spark.python.daemon.module"))
print("RESULT", spark.sparkContext.parallelize([1, 2, 3], 1).map(lambda x: x * 2).sum())
spark.stop()
"""


def test_daemon_starts_when_package_is_only_on_driver_sys_path(tmp_path):
    """The driver finds the package through ``sys.path`` alone (another cwd,
    no PYTHONPATH); the daemon the JVM launches must still import it."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_NO_DAEMON_PRELOAD")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", _SESSION_CHILD, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "DAEMON geomesa_spark.worker_daemon" in r.stdout, r.stderr[-2000:]
    assert "RESULT 12" in r.stdout, r.stderr[-2000:]
