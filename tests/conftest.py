import pytest

from sequenzo_spark import get_spark
from sequenzo_spark.caches import release_caches


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sequenzo-spark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Operators persist intermediate frames through one registry; drop
    them after every test so the session-scoped Spark does not accumulate
    cached frames across the suite."""
    yield
    release_caches()


@pytest.fixture(scope="session")
def toy(spark):
    """The reference's hand-checkable fixture
    (tests/statistics/test_statistics_user_friendly_api.py:19-29):
    seq1 = A-A-B-B, seq2 = A-B-B-A →
    DSS [A,B] / [A,B,A]; durations [2,2] / [1,2,1]; transitions 1 / 2."""
    rows = [
        ("s1", 0, "A"), ("s1", 1, "A"), ("s1", 2, "B"), ("s1", 3, "B"),
        ("s2", 0, "A"), ("s2", 1, "B"), ("s2", 2, "B"), ("s2", 3, "A"),
    ]
    return spark.createDataFrame(rows, "seq_id string, pos int, state string")
