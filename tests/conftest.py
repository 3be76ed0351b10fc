import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# deterministic property tests in the driver's CI gate: same examples
# every run, no per-test deadline (Spark JIT warmup would trip it)
settings.register_profile("ci", derandomize=True, deadline=None)
settings.load_profile("ci")

from deepie_spark.session import get_spark  # noqa: E402

REFERENCE_DATA = "/root/reference/rnnRE/data"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    # cores: $SPARK_GRAFT_CPUS, else every local core (get_spark's default)
    s = get_spark("deepie_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
