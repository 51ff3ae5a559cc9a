"""The engine's Python worker daemon (``d6tstack_spark._daemon``).

Every Python task calls ``importlib.invalidate_caches()``; on Python 3.11
each zip on the worker's ``sys.path`` (``pyspark.zip``, the py4j zip, the
``spark-core`` jar) answers by re-reading its whole central directory.
``session.get_spark`` runs the workers under a daemon that turns that
re-read into a no-op. These tests pin it without timing anything: the
directory reads a task's ``invalidate_caches()`` makes are counted, and
a Python UDF's result is checked unchanged.
"""

from __future__ import annotations

import os


def test_tasks_skip_zip_directory_rereads(spark):
    """A task's ``invalidate_caches()`` re-reads no zip directory, the task
    runs under the engine's daemon, and the UDF's output is exact."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import numpy as np
        import pyarrow as pa

        calls = []
        read = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        # a fresh import after the invalidation still resolves
        from d6tstack_spark.codecs.kernels import bitpack, bitunpack

        for b in batches:
            ids = b.column(0).to_numpy().astype(np.uint64)
            back = bitunpack(bitpack(ids, 8), 8, len(ids))
            yield pa.RecordBatch.from_pydict(
                {
                    "dir_reads": [len(calls)] * len(ids),
                    "main": [sys.modules["__main__"].__spec__.name] * len(ids),
                    "id": b.column(0),
                    "twice": pa.array(back.astype(np.int64) * 2),
                }
            )

    rows = (
        spark.range(0, 64, 1, 4)
        .mapInArrow(probe, "dir_reads long, main string, id long, twice long")
        .collect()
    )
    assert {(r["main"], r["dir_reads"]) for r in rows} == {
        ("d6tstack_spark._daemon", 0)
    }
    assert sorted((r["id"], r["twice"]) for r in rows) == [
        (i, 2 * i) for i in range(64)
    ]


def test_daemon_only_where_workers_can_import_it(monkeypatch, tmp_path):
    """The daemon conf is set for a local master when the package sits in
    a directory the worker sees at start (working directory, PYTHONPATH),
    never for a ``--py-files`` archive or a non-local master."""
    import d6tstack_spark.session as session

    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    assert session._daemon_importable("local[2]")
    assert session._daemon_importable("local")
    assert not session._daemon_importable("yarn")
    assert not session._daemon_importable("local-cluster[2,1,1024]")

    monkeypatch.chdir(tmp_path)
    assert not session._daemon_importable("local[2]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._daemon_importable("local[2]")

    # imported from a --py-files zip: workers see it only per task
    zipped = str(tmp_path / "pkg.zip" / "d6tstack_spark" / "session.py")
    monkeypatch.setenv("PYTHONPATH", str(tmp_path / "pkg.zip"))
    monkeypatch.setattr(session, "__file__", zipped)
    assert not session._daemon_importable("local[2]")
