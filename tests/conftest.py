import gc
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from parse_html_spark.session import get_spark

    spark = get_spark(cpus=4, app="parse_html_spark_tests")
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _thaw_heap():
    """Some tests run ``session._worker_setup()`` in this process,
    directly or through a worker function. It freezes the heap and
    installs a hook that freezes again at every
    ``importlib.invalidate_caches()``. Undo both after each test, so
    later tests (the gc-paused linear-time gates among them) collect
    over the same heap as without those tests."""
    yield
    from parse_html_spark.session import _FreezeAtTaskStart

    if _FreezeAtTaskStart in sys.meta_path:
        sys.meta_path.remove(_FreezeAtTaskStart)
    gc.unfreeze()
