"""Python worker daemon that freezes Spark's launch archives and preloads the
engine's import cascade.

PySpark forks every Python UDF worker from one long-lived daemon process
per executor (pyspark/daemon.py); forked children inherit the daemon's
state via copy-on-write, so work done HERE is done once per executor, not
once per task or per worker.

The per-task cost this removes is an archive rescan, not imports. Every
task starts with ``pyspark.worker_util.setup_spark_files`` calling
``importlib.invalidate_caches()``, and on Python 3.11 each cached
``zipimporter`` then re-reads its archive's whole central directory in pure
Python (``zipimport._read_directory``). A forked worker holds 14-16 of them:
``pyspark.zip`` once per imported subpackage, ``py4j-*.zip``, and the
spark-core jar (5,359 entries, no ``.py`` files) that the JVM puts on the
worker PYTHONPATH. Together that measured 0.2-0.25 CPU-s per task before the
UDF ran (4-core host, Python 3.11). :func:`_freeze_launch_archives` makes that
refresh a no-op for the archives on the daemon's launch ``sys.path``: Spark
ships them with the executor and they do not change while it lives. An
archive a task adds later (``--py-files``, ``addPyFile``) keeps the base
refresh. The preload then imports numpy/pandas/pyarrow/pyspark.sql and the
engine modules once, so forked workers inherit them instead of importing
them on their first task (idle workers are reaped between stages).

Wired up by session.get_spark via spark.python.daemon.module, which also
puts this package's root on spark.executorEnv.PYTHONPATH. NOTE: the daemon
module itself must be importable wherever the daemon process starts — if
it is not, the daemon fails to launch and every Python stage fails; the
try/except below only degrades the OPTIONAL preloads (e.g. a stripped
deployment missing a heavy dependency), it cannot rescue a missing
package. On a multi-node cluster the package must exist at the same path
on every executor (or ship it with --archives and point
spark.executorEnv.PYTHONPATH at it), or set SPARK_GRAFT_NO_DAEMON_PRELOAD=1
to leave the stock daemon in place.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _freeze_launch_archives() -> None:
    launch = frozenset(p for p in sys.path if os.path.isfile(p))

    class LaunchArchiveImporter(zipimport.zipimporter):
        def invalidate_caches(self):
            if self.archive not in launch:
                super().invalidate_caches()

    sys.path_hooks[:] = [
        LaunchArchiveImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    # importers cached while runpy located this module would bypass the hook
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


def _preload() -> None:
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.parquet  # noqa: F401
        import pyspark.sql.functions  # noqa: F401
        import pyspark.sql.pandas.serializers  # noqa: F401
    except Exception:  # pragma: no cover — bare worker env
        return
    try:
        import geomesa_spark.operators  # noqa: F401 — pulls every operator module
        import geomesa_spark.functions.image  # noqa: F401
        import geomesa_spark.functions.jpeg  # noqa: F401
        import geomesa_spark.functions.text  # noqa: F401
        import geomesa_spark.core.cells  # noqa: F401
        import geomesa_spark.core.geometry  # noqa: F401
        import geomesa_spark.sources.parquet_scan  # noqa: F401
    except Exception:  # pragma: no cover — py-files deploy without cwd pkg
        pass


_freeze_launch_archives()
_preload()

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
