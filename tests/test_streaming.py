"""Structured Streaming frontier maintenance (optional extension —
the reference is batch-only; these verify the streaming wrappers run
the same operators with identical results)."""

import glob
import os

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.storage import SnapshotTable
from nutch_spark.streaming.frontier import (run_frontier_stream,
                                            stream_fetch_metrics,
                                            stream_first_seen)

_SEG_SCHEMA = ("url string, status string, fetch_time long, retries int, "
               "fetch_interval int, score double, signature string, "
               "modified_time long, metadata map<string,string>")


@pytest.fixture()
def segment_rows(spark, tmp_path):
    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()
    rows = [
        (f"http://s.test/p{i}", "linked", 1_000_000 + i, 0, 3600,
         0.5, None, 0, None)
        for i in range(20)
    ] + [
        ("http://s.test/p0", "fetch_success", 2_000_000, 0, 3600,
         1.0, "aa" * 16, 0, None),
    ]
    df = spark.createDataFrame(rows, _SEG_SCHEMA)
    df.coalesce(1).write.parquet(str(seg_dir / "batch0"))
    return str(seg_dir / "batch0")


def test_frontier_stream_matches_batch(spark, tmp_path, segment_rows):
    """Each micro-batch commits one crawldb snapshot (the SnapshotTable
    layout CrawlRun writes): no per-batch scratch dirs are left behind,
    and snapshots beyond the last two expire."""
    cfg = CrawlConfig()
    db_path = str(tmp_path / "crawldb")

    def run_once():
        q = run_frontier_stream(spark, segment_rows, db_path, cfg,
                                str(tmp_path / "ckpt"), trigger_once=True)
        q.awaitTermination(120)
        return SnapshotTable(spark, str(tmp_path), "crawldb").read()

    out = run_once()
    statuses = {r.url: r.status for r in out.collect()}
    assert statuses["http://s.test/p0"] == "db_fetched"
    assert statuses["http://s.test/p5"] == "db_unfetched"
    assert out.count() == 20

    # two more availableNow runs over newly arrived segment files
    for i, url in ((1, "http://s.test/p1"), (2, "http://s.test/new")):
        spark.createDataFrame(
            [(url, "fetch_success", 3_000_000 + i, 0, 3600, 1.0,
              "bb" * 16, 0, None)], _SEG_SCHEMA
        ).coalesce(1).write.mode("append").parquet(segment_rows)
        out = run_once()
    statuses = {r.url: r.status for r in out.collect()}
    assert statuses["http://s.test/p1"] == "db_fetched"
    assert statuses["http://s.test/new"] == "db_fetched"
    assert statuses["http://s.test/p5"] == "db_unfetched"
    assert out.count() == 21
    assert not glob.glob(str(tmp_path / "*.batch*"))
    assert len(glob.glob(os.path.join(db_path, "s[0-9]*"))) <= 2


def test_frontier_stream_keeps_crawldb_bucket_count(spark, tmp_path,
                                                   segment_rows,
                                                   monkeypatch):
    """A micro-batch commits the crawldb with the bucket count it was
    committed with, not a count of its own."""
    import json
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    db = spark.createDataFrame(
        [(f"http://s.test/q{i}", "db_unfetched", 0, 0, 3600, 1.0, None,
          0, None) for i in range(6)], _SEG_SCHEMA)
    SnapshotTable(spark, str(tmp_path), "crawldb", n_buckets=3,
                  sort=False).commit(db, 0)
    q = run_frontier_stream(spark, segment_rows,
                            str(tmp_path / "crawldb"), CrawlConfig(),
                            str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    meta = json.loads((tmp_path / "crawldb" / "_table.json").read_text())
    assert meta["current"] == 1
    assert {snap["n_buckets"] for snap in meta["snapshots"].values()} \
        == {3}
    assert SnapshotTable(spark, str(tmp_path), "crawldb").read() \
        .count() == 26


def test_stream_first_seen_dedups_across_batches(spark, tmp_path):
    """applyInPandasWithState URL-seen: a url discovered in batch 0 is
    suppressed when rediscovered in batch 1 (state persists in the
    checkpoint across restarts of the availableNow query)."""
    src = tmp_path / "disc"
    src.mkdir()
    ck = str(tmp_path / "ck3")
    out_dir = str(tmp_path / "firstseen")

    def write_batch(urls, name):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        df.coalesce(1).write.parquet(str(src / name))

    def run_once():
        stream = spark.readStream.schema("url string") \
            .parquet(str(src) + "/*")

        def sink(batch, batch_id):
            batch.write.mode("append").parquet(out_dir)

        q = (stream_first_seen(stream, n_buckets=4)
             .writeStream.outputMode("update")
             .foreachBatch(sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    write_batch([f"http://h{i}.test/a" for i in range(6)], "b0")
    run_once()
    first = {r.url for r in spark.read.parquet(out_dir).collect()}
    assert first == {f"http://h{i}.test/a" for i in range(6)}

    # batch 1: 3 repeats + 2 new
    write_batch(["http://h0.test/a", "http://h1.test/a",
                 "http://h2.test/a", "http://new1.test/a",
                 "http://new2.test/a"], "b1")
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    after = [r.url for r in rows]
    assert "http://new1.test/a" in after and "http://new2.test/a" in after
    # repeats were suppressed by the checkpointed state
    assert after.count("http://h0.test/a") == 1
    assert after.count("http://h1.test/a") == 1
    assert after.count("http://h2.test/a") == 1
    assert all(0 <= r.bucket < 4 for r in rows)


def test_stream_fetch_metrics(spark, tmp_path):
    src = tmp_path / "fetchstream"
    src.mkdir()
    rows = [("http://a/1", "fetch_success", 60_000),
            ("http://a/2", "fetch_success", 61_000),
            ("http://a/3", "fetch_gone", 62_000)]
    df = spark.createDataFrame(
        rows, "url string, status string, fetch_time long")
    df.coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(
        "url string, status string, fetch_time long") \
        .parquet(str(src / "b0"))
    metrics = stream_fetch_metrics(stream)
    q = (metrics.writeStream.outputMode("append")
         .format("memory").queryName("fm")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.status): r.n for r in spark.sql(
        "select * from fm").collect()}
    # append mode emits only windows closed by the watermark; with a
    # single batch nothing closes — accept either emitted counts or
    # empty (the query itself must run without error)
    assert got.get("fetch_success", 2) == 2
