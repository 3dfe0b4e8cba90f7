import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale-robustness checks"
    )


@pytest.fixture(scope="session", autouse=True)
def _purged_derived_state():
    """Drop the derived state earlier runs left for SF_DIR, so the
    snapshot-committing queries commit in this run instead of reading
    what an older build of the engine committed."""
    from kiji_scoring_spark.state import purge_derived_state

    purge_derived_state(SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from kiji_scoring_spark.session import get_spark

    s = get_spark(app_name="kiji-scoring-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
