import os
import sys
from pathlib import Path

import pytest

os.environ.setdefault("TZ", "UTC")
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tortank_spark.fixtures import reference_missing  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "needs_reference: a parity test that reads the tortank fixture "
        "corpus; skipped with a reason when the corpus is absent",
    )


def pytest_collection_modifyitems(config, items):
    reason = reference_missing()
    if reason is None:
        return
    for item in items:
        if "needs_reference" in item.keywords:
            item.add_marker(pytest.mark.skip(reason=reason))


@pytest.fixture(scope="session")
def spark():
    from tortank_spark.session import get_spark

    s = get_spark("tortank-tests", cpus=8, shuffle_partitions=8)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
