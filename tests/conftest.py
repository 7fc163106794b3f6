import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
TESTS_DIR = Path(__file__).resolve().parent
for p in (str(REPO_ROOT), str(TESTS_DIR)):
    if p not in sys.path:
        sys.path.insert(0, p)
# Spark python workers are separate processes: they need the repo (and the
# test modules whose functions get pickled by reference) on their path.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO_ROOT), str(TESTS_DIR), os.environ.get("PYTHONPATH", "")]
)

from dss_plugin_google_cloud_vision_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", extra_conf={"spark.driver.memory": "4g"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def jobs_launched(spark):
    """``jobs_launched()`` → how many jobs the scheduler has submitted so
    far: every job, tagged or not, from any driver thread (the status
    store's job list stops growing at ``spark.ui.retainedJobs``)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
