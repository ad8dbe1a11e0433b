"""The engine's Python worker daemon: ``pyspark.daemon`` whose workers
drop their cached zip importers before every task.

Each Python task's ``pyspark.worker.main`` calls
``importlib.invalidate_caches()`` (in ``setup_spark_files``).  On
Python 3.11 that makes every cached ``zipimport.zipimporter`` re-read
its archive's whole directory: one per pyspark subpackage the daemon
imported, plus ``pyspark.zip``, the py4j zip and the spark-core jar at
the roots of ``PYTHONPATH``, which any import of a module not loaded
yet walks, so a reused worker gains them back from its own tasks.
That was 0.15-0.3 s of every task on a 4-core host, whatever the
task's size.

Here each worker empties those entries from ``sys.path_importer_cache``
(a cache the import system documents as safe to clear) right before it
runs a task, so ``invalidate_caches`` finds none to re-read; a later
import rebuilds an importer from ``zipimport``'s own directory cache
without opening the archive again.

``session.get_spark`` sets this module as
``spark.python.daemon.module``; the JVM starts it as
``python -m tinybrain_spark.daemon``, which finds the package through
the ``PYTHONPATH`` that ``get_spark`` pins.
"""

import sys
import zipimport

import pyspark.daemon

_run_task = pyspark.daemon.worker_main


def _drop_zip_importers_and_run(infile, outfile):
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    return _run_task(infile, outfile)


def main() -> None:
    pyspark.daemon.worker_main = _drop_zip_importers_and_run
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
