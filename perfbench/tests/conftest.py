import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH] + ([prev] if prev else []))
    from counsel_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(tmp_path_factory):
    import gen_tables

    out = str(tmp_path_factory.mktemp("tables"))
    gen_tables.generate(out, 0.001, 42)
    return out
