import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def spark():
    from table2qb_spark.session import get_spark

    s = get_spark(app_name="table2qb_spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def reference_available():
    if not os.path.isdir(REFERENCE):
        pytest.skip("reference repo not available")
    return REFERENCE


def example_csv(example: str, filename: str) -> str:
    return os.path.join(REFERENCE, "examples", example, "csv", filename)


def example_csvw(example: str, filename: str) -> str:
    return os.path.join(REFERENCE, "examples", example, "csvw", filename)


@pytest.fixture(scope="session")
def default_config():
    """The reference test suite's shared columns config
    (test/resources/columns.csv, loaded in test_common.clj:13-16)."""
    from table2qb_spark.config.columns import load_column_configuration

    path = os.path.join(REFERENCE, "test", "resources", "columns.csv")
    if not os.path.exists(path):
        pytest.skip("reference columns.csv not available")
    return load_column_configuration(path)


def pytest_terminal_summary(terminalreporter):
    """One counted line for the tests skipped because the reference checkout
    is absent, instead of only silent ``s`` marks."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and "reference" in str(rep.longrepr[2])
    )
    if n:
        terminalreporter.write_line(
            f"reference-dependent: {n} skipped ({REFERENCE} absent)"
        )
