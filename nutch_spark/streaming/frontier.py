"""Streaming frontier maintenance (optional extension).

The reference is strictly batch — rounds of MR jobs (SURVEY.md §1.4);
nothing here is parity-relevant. This module shows the engine's
operators running under Structured Streaming for deployments that want
continuous discovery instead of round boundaries:

- ``stream_discovered``: ``readStream`` over a segments directory
  (each fetch round drops crawl_parse parquet there), watermarked
  dedup of discovered URLs, then ``foreachBatch`` merges each
  micro-batch into the crawldb with the SAME batch updatedb operator and
  commits it as a crawldb snapshot — one code path and one crawldb
  layout for both execution modes.
- ``stream_fetch_metrics``: windowed per-status counts with a
  watermark for late fetch records (the streaming analog of
  ``fetch_metrics``).

Micro-batch + foreachBatch is the right shape here because the
updatedb merge is a full-outer co-group keyed by url — exactly what
Spark's streaming joins can't express incrementally without keeping
the whole frontier in state; delegating to the batch operator per
micro-batch keeps the state in the table (a crawldb snapshot), not the
stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CrawlConfig
from ..operators import updatedb as update_op
from .. import schema as S


def stream_discovered(spark: SparkSession, segments_dir: str,
                      watermark: str = "10 minutes") -> DataFrame:
    """Stream of crawl_parse message rows from a segments directory,
    deduped per url within the watermark."""
    stream = (spark.readStream
              .schema(S.CRAWLDB)
              .parquet(segments_dir))
    return (stream
            .withColumn("_event_ts",
                        F.timestamp_millis(F.col("fetch_time")))
            .withWatermark("_event_ts", watermark)
            .dropDuplicates(["url", "status", "_event_ts"])
            .drop("_event_ts"))


def run_frontier_stream(spark: SparkSession, segments_dir: str,
                        crawldb_path: str, cfg: CrawlConfig,
                        checkpoint_dir: str,
                        trigger_once: bool = True):
    """Continuously merge discovered rows into the crawldb.

    Each micro-batch applies the batch updatedb (state machine +
    OPIC accumulation) against the current crawldb snapshot and
    commits the result as the next crawldb round through
    :meth:`~nutch_spark.crawl.CrawlRun.commit_round`, with the
    crawldb's own bucket count and no URL-seen layer: a crash
    mid-batch leaves the previous snapshot current; an empty
    micro-batch commits nothing. Snapshots older than the last two
    expire. ``crawldb_path`` is a crawl directory's ``crawldb``."""
    import os
    import time

    from ..crawl import CrawlRun

    crawl_dir, name = os.path.split(crawldb_path.rstrip(os.sep))
    if name != "crawldb":
        raise ValueError(f"not a crawl's crawldb dir: {crawldb_path}")
    discovered = stream_discovered(spark, segments_dir)

    def merge(batch: DataFrame, batch_id: int) -> None:
        # Spark runs a no-data batch to advance the dedup watermark;
        # it must not rewrite the crawldb and expire a snapshot
        if batch.isEmpty():
            return
        run = CrawlRun(batch.sparkSession, crawl_dir, cfg,
                       seen_filter="none")
        cur = run.resume_round()
        db = None if cur < 0 else run.load_crawldb(cur)
        new_db = update_op.updatedb(db, batch, cfg,
                                    int(time.time() * 1000))
        run.commit_round(new_db, cur + 1)
        run.db_table.expire_snapshots(keep_last=2)

    writer = (discovered.writeStream
              .outputMode("append")
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(merge))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_first_seen(discovered: DataFrame,
                      n_buckets: int = 64) -> DataFrame:
    """Stateful streaming URL-seen filter: emit each url the FIRST
    time it is discovered across all micro-batches, keyed by url-hash
    bucket with ``applyInPandasWithState`` (the custom-stateful
    analog of the batch bloom layer in ``operators/urlseen.py``).

    State per bucket = the sorted array of 64-bit url hashes already
    seen; a discovery whose hash is present is dropped. Bucketing by
    ``pmod(xxhash64(url), n_buckets)`` spreads state across
    partitions, so per-group state stays bounded when ``n_buckets``
    scales with frontier size — the same sizing rule as the batch
    bloom buckets. Production note: exact hashes cost 8 B/url of
    state store; beyond ~10⁸ in-flight urls switch the state payload
    to bloom bitsets (same group shape, constant size) and let the
    batch crawldb anti-join own exactness, as the north-rule design
    does.

    Returns a streaming DataFrame (url, bucket) in update mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        urls: list[str] = []
        for pdf in pdfs:
            for url, h in zip(pdf["url"], pdf["h"]):
                h = int(h)
                if h not in seen:
                    seen.add(h)
                    urls.append(url)
        state.update((sorted(seen),))
        yield pd.DataFrame({"url": urls,
                            "bucket": [int(key[0])] * len(urls)})

    keyed = (discovered
             .withColumn("h", F.xxhash64("url"))
             .withColumn("bucket",
                         F.pmod(F.col("h"), F.lit(n_buckets))
                         .cast("int"))
             .select("bucket", "url", "h"))
    return keyed.groupBy("bucket").applyInPandasWithState(
        dedup,
        outputStructType="url string, bucket int",
        stateStructType="hashes array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def stream_fetch_metrics(crawl_fetch_stream: DataFrame,
                         window: str = "1 minute",
                         watermark: str = "5 minutes") -> DataFrame:
    """Windowed per-status fetch counters with late-data handling —
    the streaming analog of Fetcher's live pages/sec reporting
    (Fetcher.java:135-154)."""
    return (crawl_fetch_stream
            .withColumn("_ts", F.timestamp_millis(F.col("fetch_time")))
            .withWatermark("_ts", watermark)
            .groupBy(F.window("_ts", window).alias("w"),
                     F.col("status"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "status",
                    "n"))
