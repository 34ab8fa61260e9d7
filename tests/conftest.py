import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from montezuma_spark.session import get_spark

    s = get_spark("montezuma-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def saved_copy(tmp_path_factory):
    """Save an Index to a fresh temp dir and return the re-loaded copy: a
    default Searcher over it serves on the saved-layout cell-cache tier
    (footer-pruned point reads + the cell LRU cache)."""

    def copy(index):
        return index.save(str(tmp_path_factory.mktemp("saved_ix")))

    return copy
