import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from facebook_presto_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # 16 of the verify box's 32 cores: the differential corpus contains
    # a handful of genuinely quadratic correlated-subquery cases
    # (BroadcastNestedLoopJoin over orders×orders) whose wall-clock is
    # CPU-bound; 8 cores left the driver's pytest window unmet.
    s = get_spark("pytest", cpus=16)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
