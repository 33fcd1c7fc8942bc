from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_ingestor_web_app_spark import registry
from data_ingestor_web_app_spark.session import get_spark

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest")
    yield spark


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def batch_sweep(spark, sf_small):
    """Every registered batch query built once, with what each registry-wide
    plan guard checks (tests/batch_sweep.py). The eager-action lint's
    action surface and exemptions decide how each query is built."""
    from tests.batch_sweep import sweep
    from tests.test_eager_action_lint import ACTIONS, ALLOWED

    return sweep(spark, sf_small, ACTIONS, ALLOWED)
