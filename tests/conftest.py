import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from geocode_spark.session import get_spark
from geocode_spark.sources import fixtures


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geocode-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    base = fixtures.FIXTURE_DIR
    if not (base / "pages.parquet").exists():
        fixtures.build_all(base)
    return base


@pytest.fixture
def uncoalesced(spark):
    """Keep AQE from merging small shuffle partitions for one test, so a
    tiny input still spreads over ``spark.sql.shuffle.partitions`` tasks."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)
