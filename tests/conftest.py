from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_for_dbpl_dataset_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The shared test session's shape — single source of truth, imported by
# tools/cost_ledger.py so COSTS.md is measured at the shape the suite
# actually pays for.  On a 32-core host, 16 threads cut the three
# heaviest sf1 oracle-net rows from 360 s (4 threads) to 131 s while
# leaving cores for DuckDB oracle phases and Python UDF workers; capped
# at cpu_count so a smaller host does not oversubscribe.
# Results do not depend on the value: the hash-identity net is
# partition-count-invariant by construction, and the session stays
# multi-partition so that property is exercised.
SUITE_CPUS = min(16, os.cpu_count() or 16)
SUITE_SHUFFLE_PARTITIONS = SUITE_CPUS


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute scale tests (large synthesized inputs)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests", cpus=SUITE_CPUS, shuffle_partitions=SUITE_SHUFFLE_PARTITIONS
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
