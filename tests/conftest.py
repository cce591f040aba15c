import sys
from pathlib import Path

import pytest

# test this checkout's engine, whatever the cwd or PYTHONPATH
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from nail_parquet_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sample(spark):
    """Reference 5-row canonical fixture (tests/common/mod.rs:131-149)."""
    return spark.createDataFrame(
        [
            (1, "Alice", 100.0, "A"),
            (2, "Bob", 250.5, "B"),
            (3, "Charlie", 300.0, "A"),
            (4, "David", 450.5, "B"),
            (5, "Eve", 500.0, "C"),
        ],
        "id long, name string, value double, category string",
    )


@pytest.fixture(scope="session")
def sample2(spark):
    """Join partner (mod.rs:152-166)."""
    return spark.createDataFrame(
        [(1, 85.5), (2, 92.0), (3, 78.5), (6, 88.0)],
        "user_id long, score double",
    )


@pytest.fixture(scope="session")
def with_nulls(spark):
    return spark.createDataFrame(
        [
            (1, "a", 1.0),
            (2, None, None),
            (3, "c", 3.0),
            (4, None, 4.0),
            (5, "e", None),
        ],
        "id long, s string, v double",
    )
