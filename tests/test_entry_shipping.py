# -*- coding: utf-8 -*-
"""The entry module ships the package to the Python workers as a zip, and
the workers put shipped files ahead of PYTHONPATH. The zip must hold this
checkout's code, whatever an older copy of the entry module left behind at
the fixed path it used to reuse."""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "dss_plugin_google_cloud_vision_spark"
OLD_FIXED_ZIP = "/tmp/spark_webtext_engine_entry.zip"

# A fresh process gets a fresh SparkContext and fresh Python workers, so no
# module imported by an earlier test can answer for the shipped zip.
PROBE = textwrap.dedent(
    """
    import hashlib, json
    import __spark_entry__ as entry
    from dss_plugin_google_cloud_vision_spark.session import get_spark

    spark = get_spark(app_name="zip-probe", cores=1,
                      extra_conf={"spark.driver.memory": "1g"})
    entry._ensure_workers_can_import(spark)

    def probe(_):
        import dss_plugin_google_cloud_vision_spark.naming as module
        data = module.__loader__.get_data(module.__file__)
        return module.__file__, hashlib.sha256(data).hexdigest()

    path, digest = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    print("PROBE " + json.dumps({"path": path, "sha256": digest}))
    spark.stop()
    """
)


def test_workers_import_this_checkout_not_a_stale_zip(tmp_path):
    pythonpath = os.pathsep.join([str(REPO_ROOT), os.environ.get("PYTHONPATH", "")])
    backup = tmp_path / "previous.zip"
    if os.path.exists(OLD_FIXED_ZIP):
        shutil.move(OLD_FIXED_ZIP, backup)
    try:
        with zipfile.ZipFile(OLD_FIXED_ZIP, "w") as stale:
            stale.writestr(f"{PACKAGE}/__init__.py", "")
            stale.writestr(f"{PACKAGE}/naming.py", "STALE = True\n")
        # run outside the checkout: the workers' working directory must not
        # put the package on their path ahead of the shipped zip
        done = subprocess.run(
            [sys.executable, "-c", PROBE],
            cwd=tmp_path,
            env={**os.environ, "PYTHONPATH": pythonpath},
            capture_output=True,
            text=True,
            timeout=300,
        )
    finally:
        os.remove(OLD_FIXED_ZIP)
        if backup.exists():
            shutil.move(backup, OLD_FIXED_ZIP)
    lines = [line for line in done.stdout.splitlines() if line.startswith("PROBE ")]
    assert lines, done.stdout[-2000:] + done.stderr[-2000:]
    worker = json.loads(lines[0][len("PROBE "):])
    checkout = (REPO_ROOT / PACKAGE / "naming.py").read_bytes()
    assert worker["sha256"] == hashlib.sha256(checkout).hexdigest(), worker["path"]
