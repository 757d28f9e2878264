from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from information_retrieval_system_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_mid() -> str:
    return "/root/testdata/sf0.01"
