from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from vexor_spark.session import get_spark  # noqa: E402

TESTDATA = Path("/root/testdata")
SF_SMALL = str(TESTDATA / "sf0.001")
SF_MEDIUM = str(TESTDATA / "sf0.01")


@pytest.fixture(scope="session")
def spark():
    session = get_spark("local[4]", shuffle_partitions=8, app_name="vexor_spark_tests")
    yield session
    session.stop()


@pytest.fixture
def executor_route():
    """Send every search_distributed call to the executor route, for
    tests that assert its internals (WAND counters, candidate sources):
    at test sizes every query would otherwise take the driver route.
    Its own MonkeyPatch, so a test's `monkeypatch.undo()` keeps it."""
    import vexor_spark.index.storage as storage

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(storage, "DRIVER_MAX_POSTINGS", -1)
        yield
