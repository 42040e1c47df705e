from __future__ import annotations

import pytest

from nass_summary_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_configs={
            # static config: bucketed-table tests need a warehouse
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def await_stream(q, timeout: float) -> None:
    """Wait for streaming query ``q`` to finish. A query still running
    after ``timeout`` seconds is stopped and the test fails, so a slow
    stream never compares partial output nor outlives its test."""
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(f"stream {q.name or q.id} did not finish in {timeout}s")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


class _LossyReader:
    """``DataFrameReader`` whose ``parquet`` of a path containing
    ``marker`` keeps only the first row; ``option`` chains."""

    def __init__(self, reader, marker: str) -> None:
        self._reader = reader
        self._marker = marker

    def option(self, key, value):
        return _LossyReader(self._reader.option(key, value), self._marker)

    def parquet(self, *paths):
        df = self._reader.parquet(*paths)
        return df.limit(1) if any(self._marker in p for p in paths) else df


class _LossyRewriteSession:
    """Session stand-in for maintenance calls: every attribute is the
    real session's, except that ``read...parquet`` of a path containing
    ``marker`` (a staged rewrite) keeps only its first row — a rewrite
    that lost rows, so the validate-before-swap branch runs."""

    def __init__(self, spark, marker: str) -> None:
        self._spark = spark
        self._marker = marker

    def __getattr__(self, name):
        return getattr(self._spark, name)

    @property
    def read(self):
        return _LossyReader(self._spark.read, self._marker)


@pytest.fixture
def lossy_rewrite_session(spark):
    """``lossy_rewrite_session(marker)`` -> a session whose reads of a
    staged rewrite (a path containing ``marker``) lose rows."""
    return lambda marker: _LossyRewriteSession(spark, marker)
