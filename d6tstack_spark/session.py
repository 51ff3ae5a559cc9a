"""SparkSession builder with engine defaults (local mode tuned for tests/bench).

No side effects at import; safe for ``spark-submit --py-files``.
"""

from __future__ import annotations

import os
import site
import tempfile

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "d6tstack_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, UTC timezone and shuffle partitions ≈ cores.

    ``master=None`` keeps the master of a driver that spark-submit (or the
    ``pyspark`` shell) started: its ``--master``, or spark-submit's own
    ``local[*]`` default — so on a cluster, submit with ``--master`` and
    pass no ``master`` here. A driver PySpark has yet to launch (plain
    ``python``, pytest) runs on ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32). A ``master`` passed here always wins.

    Python workers fork from the engine's daemon (``d6tstack_spark._daemon``,
    Spark's ``spark.python.daemon.module`` conf) whenever they can import it:

    - why: every Python task calls ``importlib.invalidate_caches()``, and on
      Python 3.11 each zip on the worker's ``sys.path`` answers by re-reading
      its whole central directory: ~37 ms for the 5359-entry ``spark-core``
      jar and ~28 ms more for its ``/org`` path, 6–7 ms for ``pyspark.zip``
      and for each of its ~12 cached sub-package paths — 190–270 ms a task,
      against ~15 ms of work for a small one. The daemon makes that re-read
      a no-op (SCALE.md §4 has the stage timings);
    - when: a ``local`` / ``local[N]`` master and the package in a directory
      the worker sees at start — the working directory, ``PYTHONPATH`` or
      site-packages. A package shipped only with ``--py-files`` reaches the
      workers per task, after the daemon starts, so such a session keeps the
      stock daemon. On a cluster the executors must import
      ``d6tstack_spark`` at daemon start (installed, or on the executor
      ``PYTHONPATH``); there pass the conf with ``extra_conf``, which
      overrides any default here;
    - a session started outside ``get_spark`` keeps the per-task cost, and
      so does ``getOrCreate`` on an already-running session, which does not
      apply the conf.

    On a ``local`` / ``local[N]`` master the JVM and its Python workers
    talk over Unix-domain sockets (``spark.python.unix.domain.socket.
    enabled``): over loopback TCP the first Arrow batch of a task waits
    out a delayed-ACK stall. On a 4-core host a warm 4-task no-op
    ``mapInArrow`` collect took 165–171 ms over TCP and 130–147 ms over
    Unix-domain sockets (medians of 15, two sessions each). See
    :func:`_unix_socket_dir` for when.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = _submitted_master() or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (
        int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if _daemon_importable(master):
        b = b.config("spark.python.daemon.module", "d6tstack_spark._daemon")
    sock_dir = _unix_socket_dir(master, extra_conf or {})
    if sock_dir is not None:
        b = b.config("spark.python.unix.domain.socket.enabled", "true")
        b = b.config("spark.python.unix.domain.socket.dir", sock_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _submitted_master() -> str | None:
    """``spark.master`` of the driver JVM spark-submit (or the ``pyspark``
    shell) started before this process, which it announces through
    ``PYSPARK_GATEWAY_PORT``; None when there is no such JVM."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # connects; launches nothing
    return SparkConf().get("spark.master", None)


def _daemon_importable(master: str) -> bool:
    """Whether local-mode workers can import the engine's daemon when it
    starts: Spark runs it as ``python -m``, so its ``sys.path`` holds the
    working directory, ``PYTHONPATH`` and site-packages — not the
    ``--py-files`` archives, which each task adds later."""
    if not (master == "local" or master.startswith("local[")):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return os.path.isdir(root) and any(
        p and os.path.abspath(p) == root for p in seen
    )


# Spark names each worker socket ``<dir>/.<uuid4>.sock``; an AF_UNIX path
# holds at most 107 bytes before its terminating NUL
_SOCK_NAME_BYTES = len("/.00000000-0000-0000-0000-000000000000.sock")
_AF_UNIX_PATH_MAX = 107


def _unix_socket_dir(master: str, conf: dict) -> str | None:
    """The directory local-mode Python workers' Unix-domain sockets go in,
    or None to keep TCP: any non-local master (executors on other hosts),
    or a directory too long for Spark's socket names. The directory is
    the caller's ``spark.python.unix.domain.socket.dir``, else
    ``tempfile.gettempdir()``."""
    if not (master == "local" or master.startswith("local[")):
        return None
    d = conf.get("spark.python.unix.domain.socket.dir")
    d = d or tempfile.gettempdir()
    if len(os.fsencode(d)) + _SOCK_NAME_BYTES > _AF_UNIX_PATH_MAX:
        return None
    return d
