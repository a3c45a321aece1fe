import sys
from pathlib import Path

import pytest

# this checkout's engine, not an installed or other copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

@pytest.fixture(scope="session")
def spark():
    from hogzilla_spark import get_spark

    s = get_spark(app_name="hogzilla_tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
