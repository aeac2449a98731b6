from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sierradb_spark.session import get_spark

    s = get_spark(app_name="sierradb-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class HeadsFold:
    """Reference for every heads-log fold the store writes (rollover,
    compaction, delete): a Spark groupBy/max over the pre-fold log."""

    def __init__(self, spark):
        self.spark = spark

    def reference(self, paths, extra=None, drop=()) -> list[tuple]:
        from pyspark.sql import functions as F

        from sierradb_spark.eventstore.schema import HEADS_SCHEMA

        log = self.spark.read.schema(HEADS_SCHEMA).parquet(*paths)
        if extra is not None:
            log = log.unionByName(extra)
        if drop:
            log = log.where(~F.col("stream_id").isin(*drop))
        folded = log.groupBy("partition_id", "stream_id").agg(
            F.max("stream_version").alias("stream_version"),
            F.max("partition_sequence").alias("partition_sequence"),
        )
        return sorted(tuple(r) for r in folded.collect())

    @staticmethod
    def written(store) -> list[tuple]:
        """The rows of the store's one heads file, exactly as stored."""
        import pyarrow.parquet as pq

        from sierradb_spark.eventstore.store import _HEADS_ARROW

        (name,) = store._read_state().heads_files
        table = pq.read_table(os.path.join(store.heads_path, name))
        assert table.schema.equals(_HEADS_ARROW), table.schema
        return sorted(tuple(r.values()) for r in table.to_pylist())


@pytest.fixture()
def heads_fold(spark) -> HeadsFold:
    return HeadsFold(spark)


_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    if items:
        stash = items[0].config.stash
        stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + sum(
            1 for item in items if item.get_closest_marker("slow")
        )


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # pytest.ini deselects the slow tier by default; say so, so a
    # default run is never mistaken for the whole suite.
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_line(
            f"{n} slow tests deselected; the full suite is: "
            'python -m pytest tests/ -m "slow or not slow"'
        )
