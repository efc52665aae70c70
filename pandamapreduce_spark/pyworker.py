"""The engine's Python worker daemon: PySpark's own daemon, minus the
per-task re-read of the archives that Spark ships its Python code in.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
so that a file added by ``SparkContext.addPyFile`` becomes importable.
On Python 3.11 that call makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory. A
reused worker holds 16 such entries: 12 into ``pyspark.zip`` (1,328
files), two into py4j's zip and two into the spark-core jar (5,359
files). That is 0.1-0.2 s of CPU per task, whatever the task does
(docs/PERF.md).

The archives on ``sys.path`` when the daemon starts are Spark's own, and
they do not change while a worker lives. Their importers, and those of
every package path inside them, skip the re-read. Everything else is
still invalidated on every task: the SparkFiles directory, archives that
``addPyFile`` adds later, and plain directories.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` for local sessions, where the workers run
from the driver's working directory and environment. It imports only the
standard library and ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


class FixedArchiveImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose archive is read once, for the worker's life."""

    def invalidate_caches(self):
        pass


def fix_archives() -> None:
    """Give every archive on ``sys.path``, and every path inside one, a
    ``FixedArchiveImporter``: through a ``sys.path_hooks`` entry for the
    paths imported from later, and by swapping the importers already in
    ``sys.path_importer_cache``."""
    archives = tuple(p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p))

    def inside(path: str) -> bool:
        return any(path == a or path.startswith(a + os.sep) for a in archives)

    def hook(path: str) -> FixedArchiveImporter:
        if not inside(path):
            raise ImportError("not inside an archive fixed at daemon start", path=path)
        return FixedArchiveImporter(path)

    sys.path_hooks.insert(0, hook)
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter and inside(path):
            sys.path_importer_cache[path] = FixedArchiveImporter(path)


if __name__ == "__main__":
    fix_archives()
    from pyspark import daemon

    daemon.manager()
