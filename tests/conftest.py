import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from symspellpy_spark.operators import neighborhood  # noqa: E402
from symspellpy_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("symspellpy_spark_tests", cores=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture
def relational_route(monkeypatch):
    """``with relational_route():`` — every lookup, compound and
    segmentation call made inside takes its relational route (the
    broadcast limit drops to 0 terms); calls outside stay routed as
    usual, so one test can compare both routes."""

    @contextlib.contextmanager
    def active():
        with monkeypatch.context() as m:
            m.setattr(neighborhood, "BROADCAST_VOCAB_LIMIT", 0)
            yield

    return active


@pytest.fixture(scope="session")
def reference_symspell_module():
    """The reference implementation, importable as a behavioral oracle
    only; tests that need it skip where the checkout is absent."""
    ref = "/root/reference"
    if ref not in sys.path:
        sys.path.insert(0, ref)
    return pytest.importorskip("symspellpy")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
