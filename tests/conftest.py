import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

REFERENCE_DIR = os.environ.get("PROMPTNER_REFERENCE_DIR", "/root/reference")
TESTDATA_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# Tests that read the reference checkout (its code, samples or recorded
# outputs) skip where it is absent; PROMPTNER_REFERENCE_DIR points them
# at another copy.
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DIR),
    reason=f"reference checkout not found at {REFERENCE_DIR} "
           "(set PROMPTNER_REFERENCE_DIR)")


@pytest.fixture(scope="session")
def spark():
    from promptner_spark.plans.session import build_session

    spark = build_session(app_name="promptner-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA_DIR, "sf0.001")
