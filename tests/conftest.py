from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute full-registry gates (run by default; deselect "
        "with -m 'not slow' for the quick loop)",
    )


@pytest.fixture(scope="session")
def spark():
    from pydatalake_gen2_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from pydatalake_gen2_spark.harness import duck_connect

    return duck_connect(sf_dir)


@pytest.fixture(scope="session")
def registry_audit(spark, sf_dir):
    """One jobless construction pass over the whole registry
    (``typeaudit.audit_all``, the same call as ``tools/check.py
    --analyze``); the registry-wide gates read their rules from it."""
    from pydatalake_gen2_spark.typeaudit import audit_all

    return audit_all(spark, sf_dir)
