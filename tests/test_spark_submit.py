"""The north rule's packaging surface, taken literally: the REAL
``spark-submit`` binary, a REAL multi-executor master (local-cluster —
separate executor JVMs), and the engine shipped ONLY via
``--py-files dist/engine.zip``.

The in-process tests (test_job_cli.py) already cover the job
semantics; what only this test proves is the full submission path
itself — driver launched by the spark-submit launcher scripts, the zip
distributed by the SparkContext file server to freshly forked executor
JVMs, and the resumable job completing under that regime.  Reference packaging analog:
the reference ships a PyInstaller one-file binary
(1_Program_Do_Archiwizacji/build_exe.py); ours is the cluster-native
equivalent per SURVEY §7 step 5.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not Path(SPARK_SUBMIT).exists(),
    reason="spark-submit launcher not on this box",
)
def test_spark_submit_py_files_local_cluster(tmp_path):
    # build the zip the way a deploy would — package.sh is the one
    # packaging recipe
    r = subprocess.run(
        ["bash", str(REPO / "scripts" / "package.sh")],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    zip_path = REPO / "dist" / "engine.zip"
    assert zip_path.exists()

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local-cluster[2,2,1536]",
            "--py-files", str(zip_path),
            str(REPO / "archvisier_spark" / "job.py"),
            "--synthesize", "40",
            "--output", out,
            "--checkpoint", ckpt,
            "--n-chunks", "4",
            "--finalize",
        ],
        capture_output=True, text=True, timeout=420,
        # run from an empty cwd so the package can ONLY come from the
        # zip --py-files shipped — a repo-root cwd would mask a broken
        # zip via the driver's implicit sys.path
        cwd=str(tmp_path),
        env={"PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable,
             "PATH": "/usr/bin:/bin",
             "JAVA_HOME": "/usr/lib/jvm/java-17-openjdk-amd64",
             "HOME": str(tmp_path)},
    )
    assert r.returncode == 0, (r.stdout[-1000:] + r.stderr[-3000:])
    rep = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert rep["chunks_complete"] == 4
    assert rep["lineage_docs"] == 40
    assert rep["finalized_rows"] == 40
