import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from counsel_data_pipeline_spark.session import get_spark

# The reference pipeline's checkout, beside this repository: its committed
# outputs (raw landing files, merged per-county and whole-Taiwan files, the
# published snapshot, the geocode cache) are the parity tests' golden data.
REFERENCE_DIR = os.path.join(os.path.dirname(ROOT), "reference")


@pytest.fixture(scope="session")
def reference():
    """Root of the reference checkout. Without it, each test that reads it
    fails with one line naming the directory (README.md, "Tests")."""
    if not os.path.isdir(REFERENCE_DIR):
        pytest.fail(f"reference checkout missing: {REFERENCE_DIR}", pytrace=False)
    return REFERENCE_DIR


def jobs_fired(spark, group: str, fn):
    """Run ``fn`` under the Spark job group ``group``; return its result
    and the number of Spark jobs it fired, from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Python workers must import test modules (test-local Resolver classes
    # are cloudpickled by reference); propagate repo root + tests dir.
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    extra = os.pathsep.join([root, here])
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{extra}{os.pathsep}{prev}" if prev else extra
    s = get_spark("pytest")
    yield s
