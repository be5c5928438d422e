"""The north-rule launch path, for real: `spark-submit --py-files
pdfplucker_spark.zip <driver>` from a directory that does NOT contain the
package, with PYTHONPATH stripped — the driver and the Python workers must
get the package from the zip alone, exactly as on a cluster."""

import os
import subprocess
import sys
import zipfile

import pyspark

import pdfplucker_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(pdfplucker_spark.__file__)))

DRIVER = """
from pdfplucker_spark.session import get_spark
from pdfplucker_spark.gen import write_tier
from pdfplucker_spark import job

spark = get_spark(app="submit_smoke", master="local[2]")
data = write_tier("t1", WORK + "/data")
m = job.run(spark, data, WORK + "/out", run_id="submit1", limit=40)
print("SUBMIT_OK", m["total_docs"], m["failed_docs"])
spark.stop()
"""


def test_spark_submit_py_files_end_to_end(tmp_path):
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    zpath = tmp_path / "pdfplucker_spark.zip"
    pkg = os.path.join(REPO, "pdfplucker_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    driver = tmp_path / "driver.py"
    driver.write_text(f"WORK = {str(tmp_path)!r}\n" + DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", str(zpath), str(driver)],
        capture_output=True,
        text=True,
        timeout=280,
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
    )
    assert "SUBMIT_OK 40 1" in res.stdout, res.stdout[-2000:] + res.stderr[-2000:]
