import importlib.util
import os
import pathlib
import uuid

import pytest

from fabrix_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fabrix_spark_tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def verify_local():
    """``tools/verify_local.py`` as a module: its ``compare`` is the
    exact oracle comparison the registry sweep uses."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", pathlib.Path(__file__).resolve().parent.parent / "tools" / "verify_local.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` → the number of Spark jobs ``fn`` starts,
    counted through a job group."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
