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
