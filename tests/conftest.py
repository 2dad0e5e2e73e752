import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from awesome_spark_search.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("asearch-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture
def no_long_postings(monkeypatch):
    """Serving must never need the long postings table: its decoder
    (``build.unpack_postings``, behind ``Index.postings``) raises."""
    from awesome_spark_search import build

    def refuse(packed):
        raise AssertionError("serving read the long postings table")

    monkeypatch.setattr(build, "unpack_postings", refuse)
