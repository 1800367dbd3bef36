"""Cluster entry point: run the crawl cycle under spark-submit.

The north rule's deployment shape (BASELINE.json): the engine is
launched with ``spark-submit --py-files`` on a multi-executor cluster
against an Iceberg/bucketed pages corpus. This script is that entry
point — it takes the cluster's SparkSession as-is (master, executor
sizing, shuffle partitions all come from spark-submit/cluster conf;
nothing is hardcoded to local mode) and drives
:class:`nutch_spark.crawl.CrawlRun` with resume.

Packaging + launch:

    cd /root/repo && zip -r /tmp/nutch_spark.zip nutch_spark
    spark-submit \
      --master <cluster-master> \
      --py-files /tmp/nutch_spark.zip \
      --conf spark.sql.mapKeyDedupPolicy=LAST_WIN \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.execution.arrow.pyspark.enabled=true \
      scripts/submit_crawl.py \
      --pages s3://bucket/pages --seeds s3://bucket/seeds.txt \
      --out s3://bucket/crawl --rounds 5 --topn 50000

(mapKeyDedupPolicy=LAST_WIN is REQUIRED — the metadata overlays
reproduce the reference's fetch-wins map merge with it; the other two
confs are the perf defaults `nutch_spark.session.get_spark` applies in
local mode.)

Sizing guidance for the 10^10-URL design point is in BENCH.md; the
crawldb bucket count (``--db-buckets``) should be a small multiple of
total executor cores, and robots should be a table small enough to
broadcast (per-authority rows).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True,
                   help="pages table path (parquet/Iceberg: url, "
                        "warc_ts, html, text, lang)")
    p.add_argument("--seeds", required=True,
                   help="seed list: text file(s), one url per line, "
                        "tab-separated metadata (Injector format)")
    p.add_argument("--out", required=True,
                   help="crawl state dir (crawldb snapshots, segments, "
                        "linkdb, bloom, their commit records)")
    p.add_argument("--robots", default=None,
                   help="optional robots table path (authority, "
                        "robots_txt, fetch_code)")
    p.add_argument("--http-status", default=None,
                   help="optional protocol-outcome table path")
    p.add_argument("--rounds", type=int, default=1)
    p.add_argument("--topn", type=int, default=50_000,
                   help="generate topN per round (bin/crawl sizes this "
                        "as 50000 x numSlaves)")
    p.add_argument("--threads", type=int, default=50,
                   help="fetch partitions per round (bin/crawl: 50 "
                        "threads/task)")
    p.add_argument("--db-buckets", type=int, default=256,
                   help="crawldb bucket(url, N) count")
    p.add_argument("--scoring", choices=["opic", "link"],
                   default="opic")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    from nutch_spark.operators.sources import read_pages, read_seeds

    # the cluster's session: master/executors/partitions from
    # spark-submit — only semantic confs are asserted here
    spark = SparkSession.builder \
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN") \
        .getOrCreate()

    cfg = CrawlConfig().with_(
        generate_top_n=args.topn,
        num_fetch_partitions=args.threads,
        scoring_filter=args.scoring)

    pages = read_pages(spark, args.pages)
    robots = (spark.read.parquet(args.robots) if args.robots
              else spark.createDataFrame(
                  [], "authority string, robots_txt string, "
                      "fetch_code int"))
    http_status = (spark.read.parquet(args.http_status)
                   if args.http_status else None)
    # CrawlRun.inject consumes seed LINES (Injector format) directly
    seeds = read_seeds(spark, args.seeds)

    run = CrawlRun(spark, args.out, cfg, pages, robots, http_status,
                   db_buckets=args.db_buckets)
    # the committed snapshot's footer rows: no job re-scans it
    n = run.rows_or_count(run.crawl(seeds, rounds=args.rounds))
    print(f"crawl complete: {n} crawldb rows after "
          f"round {run.resume_round()} (per-table metrics: the "
          f"_snapshot.json commit records under {args.out} and "
          f"{args.out}/crawldb/_table.json)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
