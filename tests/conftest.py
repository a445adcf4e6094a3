from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def spark():
    from mangaextractor_spark.session import get_spark

    s = get_spark(app_name="tests", cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return f"{TESTDATA}/sf0.01"
