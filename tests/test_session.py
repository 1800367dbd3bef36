"""Session factory defaults are sized to the machine they run on."""

from nutch_spark import session


def test_default_cores_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3


def test_default_cores_from_affinity_mask(monkeypatch):
    """No env override: the process's CPU affinity mask sizes
    ``local[N]``, never a fixed 32."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: {0, 2, 5}, raising=False)
    assert session.default_cores() == 3


def test_shuffle_partitions_default_to_cores(monkeypatch):
    """No ``shuffle_partitions``: one shuffle partition per task thread,
    not a 32-partition floor."""
    from pyspark.sql import SparkSession
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    conf = session.get_spark(cores=3)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_fetch_partitions_default_to_cores(monkeypatch):
    """A default CrawlConfig fetches in one partition per task thread,
    not 32."""
    from nutch_spark.config import CrawlConfig
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert CrawlConfig().num_fetch_partitions == 3
