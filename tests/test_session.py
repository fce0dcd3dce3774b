"""session.get_spark under spark-submit: the submitter's master wins."""

import os
import shutil
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
from dqc_spark.session import get_spark

spark = get_spark()
print("MASTER " + spark.sparkContext.master)
spark.stop()
"""


def test_get_spark_keeps_spark_submit_master(tmp_path):
    submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    # SPARK_GRAFT_CPUS is the no-master default's core count; it must
    # not override the master the submitter chose
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4",
               PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g",
         str(probe)],
        env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("MASTER ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    assert lines[-1] == "MASTER local[2]"
