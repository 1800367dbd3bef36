"""Generator: select the per-round fetchlist from the frontier.

Reference: Generator.java — Selector.map due-filter (lines 168-232),
host/domain partitioning (235-239, URLPartitioner.java:66-94), topN +
per-host cap reduce (242-335), HashComparator fetchlist ordering
(386-416), optional ``_ngt_`` write-back (421-463).

Spark shape (one job, no MR round boundaries):
  due-filter (pure column predicates)
  → per-host cap: row_number() over (host, score desc)      [shuffle 1]
  → global topN: orderBy(score desc).limit(n)               [TakeOrdered]
  → salted host repartition + sortWithinPartitions(urlhash) [shuffle 2]

Scale notes: the due-filter is pushed to the scan (status/fetch_time
are plain columns); the host-cap window and the politeness
repartition both key on host, and AQE handles skewed hosts in the
window shuffle while the generate.max.count cap bounds any single
host's contribution before the fetch partitioning — the reference's
own hot-host defense (Generator.java:282-327).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window, functions as F

from ..config import CrawlConfig
from ..functions.filters import filter_accepts_col
from ..functions.urls import host_col, spark_udfs
from ..schema import META_GENERATE_TIME
from . import schedules

# topN above this switches from TakeOrderedAndProject (one merge task
# holds N rows) to distributed threshold selection (ours)
TOPN_DISTRIBUTED_MIN = 100_000


def generate(crawldb: DataFrame, cfg: CrawlConfig,
             cur_time_ms: int | None = None,
             gen_time_ms: int | None = None,
             partition_output: bool = True) -> DataFrame:
    """Produce the fetchlist (FETCHLIST schema: CRAWLDB + segnum +
    fetch_partition), ordered for polite fetching.

    ``partition_output=False`` keeps the schema (``fetch_partition``
    and ``_urlhash`` columns are still computed) but skips the
    physical salted-host repartition + url-hash sort. Use it when the
    fetchlist flows straight into the two-phase fetcher without being
    stored: :func:`~nutch_spark.operators.fetch.schedule_fetchlist`
    re-clusters on ``(queue_id, _attempted)`` for the politeness
    windows regardless of input layout, so the generate-side exchange
    and sort of the full fetchlist would be immediately discarded —
    one redundant full-width shuffle+sort per round on the widest
    per-round frame. Callers that *store* the fetchlist as a
    crawl_generate segment (CrawlRun) keep the default: the layout is
    the reference's on-disk segment order (Generator.java:386-416) and
    doubles as the durable artifact."""
    if cur_time_ms is None:
        cur_time_ms = int(time.time() * 1000)
    if gen_time_ms is None:
        gen_time_ms = cur_time_ms
    udfs = spark_udfs()

    df = crawldb
    # URLFilters (Generator.java:172-184)
    if cfg.generate_filter:
        df = filter_accepts_col(df, cfg.url_filter_rules, "url") \
            .where(F.col("accepted")).drop("accepted")

    # schedule.shouldFetch with over-max clamp (Generator.java:188-192)
    sf = schedules.should_fetch(cfg, cur_time_ms,
                                fetch_time=F.col("fetch_time"),
                                fetch_interval=F.col("fetch_interval"))
    df = (df.withColumn("_eligible", sf["eligible"])
            .withColumn("fetch_time", sf["fetch_time"])
            .withColumn("fetch_interval", sf["fetch_interval"])
            .where(F.col("_eligible")).drop("_eligible"))

    # _ngt_ in-flight guard (Generator.java:194-200)
    ngt = F.element_at(F.coalesce(F.col("metadata"), F.create_map()),
                       META_GENERATE_TIME).cast("long")
    df = df.where(ngt.isNull() | (ngt + cfg.crawl_gen_delay_ms <= cur_time_ms))

    # OPIC generatorSortValue = score * 1.0 (OPICScoringFilter.java:89-92)
    df = df.withColumn("_sort", F.col("score"))

    # gates (Generator.java:210-223)
    if cfg.generate_restrict_status:
        df = df.where(F.col("status") == cfg.generate_restrict_status)
    if cfg.generate_min_score is not None:
        df = df.where(F.col("_sort") >= cfg.generate_min_score)
    if cfg.generate_min_interval != -1:
        df = df.where(F.col("fetch_interval") <= cfg.generate_min_interval)

    # host or registered domain for the cap (Generator.java:262-282);
    # the cap key normalizes with scope=generate_host_count
    # (Generator.java:148,267) — applied only when the config carries
    # scoped normalizer rules, so default crawls keep the pure-JVM
    # host extraction
    cap_url = F.col("url")
    scoped = dict(cfg.normalizer_scope_orders).get("generate_host_count") \
        or dict(cfg.normalizer_scope_regex_rules).get("generate_host_count")
    if scoped and cfg.generate_normalise:
        from ..functions.normalizers import normalizer_udf
        df = df.withColumn(
            "_cap_url",
            normalizer_udf(cfg, "generate_host_count")(cap_url))
        cap_url = F.col("_cap_url")
    if cfg.generate_count_mode == "domain":
        df = df.withColumn("_hostordomain", udfs["domain"](cap_url))
    else:
        df = df.withColumn(
            "_hostordomain",
            F.coalesce(host_col(cap_url), F.lit("")))
    df = df.drop("_cap_url") if "_cap_url" in df.columns else df
    df = df.where(F.col("_hostordomain").isNotNull()
                  & (F.col("_hostordomain") != ""))

    # per-host/domain cap, score-descending, url-asc tiebreak.
    # The reference increments the counter before testing >= maxCount
    # (Generator.java:293-304), admitting maxCount-1 per host — kept
    # bug-compatible (FIXTURES.md F5 G2). With maxNumSegments > 1 the
    # overflow spills into later segments instead of being dropped
    # (Generator.java:295-327): the first segment holds maxCount-1
    # rows per host (the same pre-increment quirk), every later one
    # holds maxCount, and only rows past the total capacity are lost.
    max_seg = max(1, cfg.generate_max_num_segments)
    segnum = F.lit(1)
    if cfg.generate_max_count > 0:
        mc = cfg.generate_max_count
        w = Window.partitionBy("_hostordomain") \
            .orderBy(F.desc("_sort"), F.asc("url"))
        df = df.withColumn("_rn", F.row_number().over(w))
        if max_seg > 1:
            df = df.where(F.col("_rn") <= (mc - 1) + (max_seg - 1) * mc)
            segnum = F.when(F.col("_rn") < mc, F.lit(1)).otherwise(
                (F.floor((F.col("_rn") - mc) / mc) + 2).cast("int"))
        else:
            df = df.where(F.col("_rn") < mc)
        df = df.withColumn("_segnum", segnum.cast("int")).drop("_rn")
    elif max_seg > 1 and cfg.generate_top_n and cfg.generate_top_n > 0:
        # no host cap: segments fill in global score order, topN per
        # segment (Generator.java:248-255 count/limit walk). A global
        # rank is inherently one ordered pass — same cost family as
        # the reference's score-sorted reduce; only reached when a
        # multi-segment fetchlist is requested without a host cap.
        wg = Window.orderBy(F.desc("_sort"), F.asc("url"))
        df = (df.withColumn("_gr", F.row_number().over(wg))
                .where(F.col("_gr") <= cfg.generate_top_n * max_seg)
                .withColumn("_segnum",
                            (F.floor((F.col("_gr") - 1)
                                     / cfg.generate_top_n) + 1)
                            .cast("int"))
                .drop("_gr"))
    else:
        df = df.withColumn("_segnum", F.lit(1).cast("int"))

    # global topN (Generator.java:248-255). Small N: Take­Ordered­And­
    # Project (per-partition heaps + single merge task). Large N: a
    # single task holding the whole top-N (GBs at bin/crawl sizing,
    # 50k×numSlaves) is the bottleneck, so switch to threshold
    # selection — downstream only needs the top-N *set* (the fetchlist
    # is re-partitioned by host and re-sorted by url-hash below), so
    # no global order is ever materialized. With multiple segments the
    # budget applies per segment (limit = topN/numReduce per reducer
    # per segment in the reference); maxNumSegments is small, so a
    # per-segment selection loop stays a handful of jobs.
    if cfg.generate_top_n and cfg.generate_top_n > 0:
        def _topn(sub: DataFrame) -> DataFrame:
            if cfg.generate_top_n <= TOPN_DISTRIBUTED_MIN:
                return sub.orderBy(F.desc("_sort"), F.asc("url")) \
                    .limit(cfg.generate_top_n)
            return _top_n_by_threshold(
                sub, cfg.generate_top_n, "_sort", "url",
                small_limit=TOPN_DISTRIBUTED_MIN)
        if max_seg > 1 and cfg.generate_max_count > 0:
            parts = [_topn(df.where(F.col("_segnum") == s))
                     for s in range(1, max_seg + 1)]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            df = out
        elif max_seg == 1:
            df = _topn(df)
        # (no-cap multi-segment branch above already budgeted topN
        # per segment via the global rank)

    # stamp _ngt_ into the fetchlist rows (Generator.java:228)
    df = df.withColumn(
        "metadata",
        F.map_concat(
            F.map_filter(F.coalesce(F.col("metadata"), F.create_map()),
                         lambda k, v: k != META_GENERATE_TIME),
            F.create_map(F.lit(META_GENERATE_TIME),
                         F.lit(str(gen_time_ms)))))

    # salted host partitioning (URLPartitioner.java:66-94 with the
    # per-run seed XOR at Generator.java:662) + HashComparator order
    # within each partition (Generator.java:386-416)
    n = cfg.num_fetch_partitions
    df = (df
          .withColumn("segnum", F.col("_segnum")).drop("_segnum")
          .withColumn(
              "fetch_partition",
              F.pmod(F.xxhash64(F.col("_hostordomain"),
                                F.lit(cfg.partition_seed)), n).cast("int")))
    if partition_output:
        df = df.repartition(n, F.col("fetch_partition"))
    # _urlhash is computed AFTER the repartition: planning the
    # Arrow UDF below the topN limit would split it into
    # LocalLimit/GlobalLimit with a full range sort instead of
    # TakeOrderedAndProject (per-partition heaps + merge).
    # _urlhash stays in the output: the fetcher's FIFO windows
    # order by the same hash (fetch.schedule_fetchlist reuses the
    # column instead of re-running the Arrow UDF over every url)
    df = df.withColumn("_urlhash", udfs["url_hash"](F.col("url")))
    if partition_output:
        df = df.sortWithinPartitions("_urlhash")
    return df.drop("_sort", "_hostordomain")


def _bottom_k_by_key(df: DataFrame, k: int, key_col: str,
                     small_limit: int = 100_000,
                     n_ranges: int = 512, _depth: int = 0) -> DataFrame:
    """Exact k smallest rows by a (unique-valued) key column without any
    single task materializing k rows — the string-key analog of
    threshold selection, for tie groups whose keys (urls) have no
    numeric quantile.

    Range-cut selection: range-partition the keys into ``n_ranges``
    contiguous ranges, collect per-range (count, max_key) — ``n_ranges``
    scalars, never rows — and keep every range that fits wholly under
    the k budget IN PLACE with a ``key <= cut`` filter. Only the single
    boundary range (≈ count/n_ranges rows) recurses; candidates shrink
    ~n_ranges× per level, so depth is O(log_{n_ranges} count) and the
    terminal TakeOrdered holds ≤ small_limit rows. The cut keys are
    properties of the DATA (counts of ``key <= cut`` are exact whatever
    partitioning a re-execution picks), so the result is deterministic
    even though repartitionByRange samples its boundaries."""
    if k <= 0:
        return df.limit(0)
    cnt = df.count()
    if cnt <= k:
        return df
    if k <= small_limit or _depth >= 8:
        return df.orderBy(F.asc(key_col)).limit(k)
    stats = (df.select(key_col)
             .repartitionByRange(n_ranges, F.asc(key_col))
             .select(F.spark_partition_id().alias("p"), key_col)
             .groupBy("p")
             .agg(F.count("*").alias("c"), F.max(key_col).alias("mx"))
             .orderBy("p")
             .collect())
    cum, cut, boundary_mx = 0, None, None
    for r in stats:
        if cum + r["c"] > k:
            boundary_mx = r["mx"]
            break
        cum += r["c"]
        cut = r["mx"]
    if cut is None:
        # first range alone exceeds k: recurse within it
        return _bottom_k_by_key(df.where(F.col(key_col) <= boundary_mx),
                                k, key_col, small_limit, n_ranges,
                                _depth + 1)
    kept = df.where(F.col(key_col) <= cut)
    rem = k - cum
    if rem == 0:
        return kept
    rest = df.where((F.col(key_col) > cut)
                    & (F.col(key_col) <= boundary_mx))
    return kept.unionByName(
        _bottom_k_by_key(rest, rem, key_col, small_limit, n_ranges,
                         _depth + 1))


def _top_n_by_threshold(df: DataFrame, n: int, score_col: str,
                        tie_col: str, rel_err: float = 0.001,
                        small_limit: int = 100_000) -> DataFrame:
    """Exact top-N *set* by (score desc, tie asc) without any single
    task materializing N rows.

    Two-pass threshold selection (the distributed analog of the
    reference's per-reducer ``topN/numReduce`` budget,
    Generator.java:136-137): approx-quantile finds a score cutoff t;
    all rows with score > t are kept in place (never sorted or moved
    to one task); only the boundary tie group score == t — measure-zero
    for continuous OPIC scores — pays the remaining-slot selection.
    If the quantile estimate overshoots (> n strict-above rows),
    recurse into that strictly smaller subset. Driver traffic is a few
    scalar counts/quantiles per iteration.

    Degenerate tie groups (a constant-score frontier at bootstrap makes
    the ENTIRE input one tie group) go through :func:`_bottom_k_by_key`
    range-cut selection instead of a single-merge-task TakeOrdered —
    only remainders ≤ ``small_limit`` ever pay a single-task limit."""
    cnt = df.count()
    if cnt <= n:
        return df
    above = df
    while True:
        frac = max(0.0, 1.0 - n / cnt)
        [t] = df.approxQuantile(score_col, [frac], rel_err)
        above = df.where(F.col(score_col) > t)
        a = above.count()
        if a <= n:
            break
        df, cnt = above, a   # overshoot: shrink into strict-above
    if n - a > 0:
        ties = _bottom_k_by_key(df.where(F.col(score_col) == t),
                                n - a, tie_col, small_limit)
        return above.unionByName(ties)
    return above


def free_generate(urls: DataFrame, cfg: CrawlConfig,
                  now_ms: int, normalize: bool = True,
                  filter_urls: bool = True) -> DataFrame:
    """FreeGenerator (tools/FreeGenerator.java): build a fetchlist
    directly from a URL list (column ``line``), bypassing the crawldb —
    normalize + filter, default schedule/score, then the same salted
    host partitioning + url-hash ordering as the main generator."""
    udfs = spark_udfs()
    df = (urls
          .select(F.trim(F.col("line")).alias("url"))
          .where((F.length("url") > 0) & ~F.col("url").startswith("#")))
    if normalize:
        # scope=inject (FreeGenerator.java:87,101)
        from ..functions.normalizers import normalizer_udf
        df = df.withColumn("url",
                           normalizer_udf(cfg, "inject")(F.col("url"))) \
            .where(F.col("url").isNotNull())
    if filter_urls:
        df = filter_accepts_col(df, cfg.url_filter_rules, "url") \
            .where(F.col("accepted")).drop("accepted")
    df = df.dropDuplicates(["url"]).select(
        "url",
        F.lit("db_unfetched").alias("status"),
        F.lit(now_ms).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(cfg.db_fetch_interval_default).cast("int")
         .alias("fetch_interval"),
        F.lit(1.0).alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    n = cfg.num_fetch_partitions
    return (df
            .withColumn("segnum", F.lit(1).cast("int"))
            .withColumn("_host", udfs["host"](F.col("url")))
            .withColumn(
                "fetch_partition",
                F.pmod(F.xxhash64(F.col("_host"),
                                  F.lit(cfg.partition_seed)), n)
                .cast("int"))
            .withColumn("_urlhash", udfs["url_hash"](F.col("url")))
            .repartition(n, F.col("fetch_partition"))
            .sortWithinPartitions("_urlhash")
            .drop("_host", "_urlhash"))


def update_generated(crawldb: DataFrame, fetchlist: DataFrame,
                     cfg: CrawlConfig, gen_time_ms: int) -> DataFrame:
    """generate.update.crawldb: stamp ``_ngt_`` on generated URLs so
    the next generate skips in-flight work (Generator.java:421-463)."""
    gen = fetchlist.select("url").withColumn("_generated", F.lit(True))
    return (crawldb.join(gen, "url", "left")
            .withColumn(
                "metadata",
                F.when(
                    F.col("_generated"),
                    F.map_concat(
                        F.map_filter(
                            F.coalesce(F.col("metadata"), F.create_map()),
                            lambda k, v: k != META_GENERATE_TIME),
                        F.create_map(F.lit(META_GENERATE_TIME),
                                     F.lit(str(gen_time_ms)))))
                .otherwise(F.col("metadata")))
            .drop("_generated"))
