"""Spark's Python worker daemon, minus a fixed cost paid by every task.

Before each task, ``pyspark.worker`` runs ``importlib.invalidate_caches()``.
On CPython 3.10 and 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory at once.
With Spark 4.1 that is 16 importers over pyspark.zip, the py4j zip and the
spark-core jar, ~26,700 entries and ~200 ms per task on a 4-vCPU host.
(CPython 3.12 made the re-read lazy, gh-103200.)

This daemon drops those importers from the cache before each task, so
there is nothing to invalidate.  The cache is only a cache: Python rebuilds
a dropped entry from ``zipimport._zip_directory_cache`` without reading
the archive.  Only the archives that were on ``sys.path`` when the daemon
started (Spark's own) are dropped; the importers of zips a job adds with
``addPyFile`` are left as they are.  ``session.get_spark`` installs it
with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import daemon


def spark_archive_roots(path: list[str]) -> tuple[str, ...]:
    """The zip and jar archives on ``path``."""
    return tuple(p for p in path if p.endswith((".zip", ".jar")))


def drop_archive_importers(cache: dict, roots: tuple[str, ...]) -> None:
    """Remove from ``cache`` the zipimporters of ``roots`` and of paths
    inside them."""
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and any(
            key == r or key.startswith(r + os.sep) for r in roots
        ):
            del cache[key]


if __name__ == "__main__":
    roots = spark_archive_roots(sys.path)
    worker_main = daemon.worker_main

    def drop_then_work(infile, outfile):
        drop_archive_importers(sys.path_importer_cache, roots)
        return worker_main(infile, outfile)

    # daemon.worker() looks worker_main up in its module on every task
    daemon.worker_main = drop_then_work
    daemon.manager()
