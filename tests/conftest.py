import os

import pytest

from flink_project_userbehavioranalysis_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run @pytest.mark.slow tests (heavyweight mid-scale "
        "sweeps; default-skipped so the suite fits a CI/driver budget — "
        "their assertions are also covered by tools/check_all.py)",
    )


def pytest_collection_modifyitems(config, items):
    runslow_env = os.environ.get("SPARK_GRAFT_RUNSLOW", "").strip().lower()
    if config.getoption("--runslow") or runslow_env in ("1", "true", "yes", "on"):
        return
    skip = pytest.mark.skip(
        reason="slow: opt in with --runslow / SPARK_GRAFT_RUNSLOW=1 "
        "(assertions also driven by tools/check_all.py)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ubx-tests", master="local[4]", shuffle_partitions=4, streaming=True)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
