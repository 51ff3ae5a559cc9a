"""``session.get_spark`` under ``spark-submit``: the submitted master wins."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark

_PROBE = """
from d6tstack_spark.session import get_spark

spark = get_spark(app_name="master-probe")
print("MASTER=" + spark.sparkContext.master, flush=True)
spark.stop()
"""


def test_submitted_master_is_kept(tmp_path):
    """``get_spark()`` in a driver started by ``spark-submit --master
    'local[2]'`` runs on ``local[2]``, not on ``local[$SPARK_GRAFT_CPUS]``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="3",
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [submit, "--master", "local[2]", "--conf", "spark.ui.enabled=false",
         str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MASTER=local[2]" in out.stdout.splitlines(), out.stdout


def test_unix_socket_dir_decision(tmp_path):
    """Local masters get Unix-domain worker sockets in the caller's socket
    dir or the temp dir; other masters, and a dir too long for Spark's
    ``.<uuid>.sock`` names within the AF_UNIX path limit, keep TCP."""
    import tempfile

    from d6tstack_spark.session import _unix_socket_dir

    key = "spark.python.unix.domain.socket.dir"
    assert _unix_socket_dir("local[4]", {}) == tempfile.gettempdir()
    assert _unix_socket_dir("local", {}) == tempfile.gettempdir()
    assert _unix_socket_dir("local[*]", {key: "/tmp/s"}) == "/tmp/s"
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert _unix_socket_dir(master, {}) is None, master
    long_dir = "/tmp/" + "d" * 60  # 65 bytes: the socket path needs 108
    assert _unix_socket_dir("local[2]", {key: long_dir}) is None
    assert _unix_socket_dir("local[2]", {key: long_dir[:-1]}) == long_dir[:-1]


def test_local_workers_use_unix_sockets(spark):
    """The shared local session's Python workers were started in
    Unix-domain socket mode."""
    import pyarrow as pa

    def env(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"v": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]}
            )

    got = spark.range(0, 2, 1, 2).mapInArrow(env, "v string").collect()
    assert {r.v.lower() for r in got} == {"true"}
