import os
import sys
import uuid

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)
sys.path.insert(0, _REPO)

# Python workers spawned by the JVM must be able to unpickle module-level
# test funcs (cloudpickle serializes importable functions by reference).
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")]
).rstrip(os.pathsep)

from psweep_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # a bounded heap: with the 48g default, G1 grew the session JVM past
    # a 15 GB host's memory in the million-edge chain test, which needs <4 GB
    os.environ.setdefault("PSWEEP_SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="psweep-spark-tests", shuffle_partitions=8)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_of(spark, thunk):
    """Spark job ids started while ``thunk`` runs, and its result."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return list(sc.statusTracker().getJobIdsForGroup(group)), out
