"""PySpark worker daemon without the per-task zip-directory re-read.

``session.get_spark`` selects this module with Spark's
``spark.python.daemon.module`` conf; Spark runs it as ``python -m
d6tstack_spark._daemon`` and every Python worker forks from it. Each task
calls ``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on Python 3.11 every ``zipimporter`` on the
worker's ``sys.path`` answers by re-reading its archive's whole central
directory: ``pyspark.zip``, the py4j zip and the 5359-entry
``spark-core`` jar, ~190 ms per task on a 4-core host. This daemon makes
``zipimporter.invalidate_caches`` a no-op before it forks, then runs the
stock ``pyspark.daemon.manager()``.

That is safe because those archives do not change while a worker lives.
A zip added with ``addPyFile`` is a new path and gets a fresh importer.
A zip *replaced in place* under the same path would be read stale by
workers that already imported from it.

Importing this module has no side effects; it acts only as ``__main__``.
"""

if __name__ == "__main__":
    import zipimport

    zipimport.zipimporter.invalidate_caches = lambda self: None

    from pyspark.daemon import manager

    manager()
