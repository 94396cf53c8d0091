"""The engine session builder honours the master it is given."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark

from .conftest import SPARK_MASTER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_fixture_runs_on_requested_master(spark):
    assert spark.sparkContext.master == SPARK_MASTER


def test_get_spark_keeps_spark_submit_master(tmp_path):
    """``get_spark()`` with no master, in a script run by
    ``spark-submit --master local[1]``, runs on local[1] — not on the
    ``local[$SPARK_GRAFT_CPUS]`` default of a plain python process."""
    script = tmp_path / "submitted.py"
    script.write_text(
        "from sparkstreamingproject_spark.session import get_spark\n"
        "print('MASTER=' + get_spark().sparkContext.master)\n")
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [submit, "--master", "local[1]", "--conf", "spark.ui.enabled=false",
         str(script)],
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MASTER=local[1]" in out.stdout.splitlines(), out.stdout
