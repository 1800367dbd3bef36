"""Fetcher — the politeness scheduler, Spark-native.

Reference: Fetcher.java / FetcherThread.java / FetchItemQueue.java.
The reference runs an in-memory multi-queue thread scheduler per map
task: items are grouped into per-authority queues (``proto://host``
lowercased, FetchItem.java:64-101); each queue serves FIFO with
``nextFetchTime = lastFinish + crawlDelay`` (FetchItemQueue.java:95-138,
fetcher.server.delay=5 s); robots.txt is checked before each fetch
(FetcherThread.java:254-289); protocol outcomes map to CrawlDatum fetch
statuses (FetcherThread.java:309-401); redirects emit ``linked`` datums
carrying ``_repr_`` (FetcherThread.java:425-509, URLUtil.chooseRepr).

Spark-native replacement ("fetch" = equi-join against the pages table,
per BASELINE.json input_hint — no live network):

1. fetchlist → broadcast-join robots fixtures → vectorized rule eval;
2. **deterministic virtual-time schedule**: within each queue the k-th
   *attempted* URL (FIFO in HashComparator url-hash order, matching the
   fetchlist shuffle order of Generator.java:386-416) completes at
   ``round_start + floor(k / threads) × effective_delay(queue)`` —
   waves of ``fetcher.threads.per.queue`` items spaced by the
   effective delay (fetcher.server.min.delay when threads > 1,
   FetchItemQueue.java:133-136). This reproduces the crawl-ordering
   contract without threads, and the timelimit becomes a filter on
   virtual time (Fetcher.java:391-397);
3. equi-join of the surviving fetchlist against ``http_status`` and
   ``pages`` on url (the protocol GET);
4. one ``when``-chain maps protocol outcome → fetch status;
5. redirect targets are canonicalized, filtered, and emitted as
   ``linked`` rows with ``_repr_`` via chooseRepr (URLUtil.java:325-425).
   A redirect is never followed within the round; its target waits for
   a later round, which is the reference's ``http.redirect.max=0``.

Scale notes: the politeness unit is the fetch partition (salted host
partitioning from generate); the virtual-time window shuffles on
queue_id only once; robots is broadcast (one row per authority); the
pages join is url-equi and never carries html bytes past the content
projection (column pruning keeps frontier columns off the wide scan).
Speculative execution must stay off for wall-clock runs
(Fetcher.java:483) — moot under virtual time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from ..config import CrawlConfig
from ..functions.filters import filter_accepts_col
from ..functions.normalizers import normalizer_udf
from ..functions.robots import join_robots
from ..functions.urls import choose_repr, host_col, queue_id_col, \
    spark_udfs
from ..schema import (
    FETCH_GONE, FETCH_NOTMODIFIED, FETCH_REDIR_PERM, FETCH_REDIR_TEMP,
    FETCH_RETRY, FETCH_SUCCESS, META_PROTOCOL_STATUS, META_REPR_URL,
    STATUS_LINKED,
)

# protocol-status names recorded under _pst_ (ProtocolStatus analog)
PST_SUCCESS = "success"
PST_MOVED = "moved"
PST_TEMP_MOVED = "temp_moved"
PST_NOTMODIFIED = "notmodified"
PST_NOTFOUND = "notfound"
PST_ACCESS_DENIED = "access_denied"
PST_EXCEPTION = "exception"
PST_ROBOTS_DENIED = "robots_denied"
PST_ROBOTS_DENIED_DELAY = "robots_denied_maxcrawldelay"


def _choose_repr_udf():
    @pandas_udf("string")
    def _f(src: pd.Series, dst: pd.Series, temp: pd.Series) -> pd.Series:
        return pd.Series([
            choose_repr(s, d, bool(t)) if isinstance(d, str) else None
            for s, d, t in zip(src, dst, temp)])
    return _f


def schedule_fetchlist(fetchlist: DataFrame, pages: DataFrame,
                       robots: DataFrame, http_status: DataFrame | None,
                       cfg: CrawlConfig,
                       round_start_ms: int) -> DataFrame:
    """Phase 1 of the fetch round: politeness schedule + protocol-status
    resolution, entirely on slim columns (html never enters this plan —
    the only pages-side columns are presence + warc timestamp).

    Returns one row per fetchlist item:
    ``url, retries, fetch_interval, score, metadata, queue_id,
    virtual_time, fetch_time, _attempted, _pst, _fstatus, redirect_to,
    content_length, _page_ms``.

    Materialize this frame once per round (persist/localCheckpoint —
    ``CrawlRun.run_round`` persists :func:`fetch`'s ``schedule``) and
    derive the three round outputs with :func:`outputs_from_schedule`;
    the politeness windows and the frontier-side joins then execute
    exactly once per cycle instead of once per consumer. At 100 TB the window
    sorts over the full fetchlist are the second-largest shuffle of the
    cycle — running them once matters as much as keeping page bytes out
    of them.
    """
    udfs = spark_udfs()

    fl = join_robots(fetchlist, robots, cfg.http_agent_name,
                     cfg.http_robots_403_allow)
    if cfg.fetcher_queue_mode == "byHost":
        # JVM expression — whole-stage codegen, no Python worker
        fl = fl.withColumn("queue_id", queue_id_col("url"))
    else:
        # byDomain (FetchItemQueues.java:54-74): key on the registered
        # domain. The cached queue_id UDF is byHost-only — build the
        # mode-closed UDF here (the round-2 cached call silently fell
        # back to byHost keys)
        from ..functions.urls import queue_id as _qid

        @pandas_udf("string")
        def _queue_domain(urls: pd.Series) -> pd.Series:
            return urls.map(
                lambda u: _qid(u, "byDomain") if u is not None else None)
        fl = fl.withColumn("queue_id", _queue_domain(F.col("url")))

    delay_over = (F.col("robots_delay_ms").isNotNull()
                  & (F.col("robots_delay_ms") > cfg.fetcher_max_crawl_delay_ms))
    attempted = F.col("robots_allowed") & ~delay_over
    threads = max(1, cfg.fetcher_threads_per_queue)
    if threads > 1:
        # fetcher.threads.per.queue > 1: waves of `threads` concurrent
        # items spaced by fetcher.server.min.delay; queue delay AND
        # robots crawl-delay are ignored for spacing
        # (FetchItemQueue.java:133-136 — nextFetchTime uses
        # minCrawlDelay unconditionally when maxThreads > 1; the
        # max.crawl.delay gone-gate above still applies, it fires in
        # FetcherThread before the item ever reaches a queue).
        eff_delay = F.lit(cfg.fetcher_server_min_delay_ms)
    else:
        eff_delay = (F.when(
            F.col("robots_delay_ms").isNotNull() & ~delay_over,
            F.col("robots_delay_ms"))
            .otherwise(F.lit(cfg.fetcher_server_delay_ms)))

    # FIFO order within a queue = HashComparator url-hash order
    # (Generator.java:386-416); row_number only over attempted items —
    # robots-denied URLs are emitted immediately and consume no
    # politeness slot (FetcherThread.java:254-266). generate() already
    # computed _urlhash for its within-partition sort — reuse it when
    # the fetchlist carries it (one fewer Arrow pass over every url).
    if "_urlhash" not in fl.columns:
        fl = fl.withColumn("_urlhash", udfs["url_hash"](F.col("url")))
    fl = (fl.withColumn("_attempted", attempted)
            .withColumn("_eff_delay", eff_delay))
    wa = Window.partitionBy("queue_id", "_attempted") \
        .orderBy("_urlhash", "url")
    fl = fl.withColumn(
        "_k",
        F.when(F.col("_attempted"),
               F.row_number().over(wa) - 1).otherwise(F.lit(0)))
    # virtual completion time of the k-th attempted item: wave
    # floor(k/threads) starts one effective delay after the previous
    # wave finishes (with threads=1 this is the classic
    # round_start + k × delay FIFO spacing of FetchItemQueue.java:128-138)
    fl = fl.withColumn(
        "virtual_time",
        (F.lit(round_start_ms)
         + (F.col("_k") / threads).cast("long")
         * F.col("_eff_delay")).cast("long"))

    # fetcher.timelimit.mins → drop items past the budget
    # (Fetcher.java:391-397, hitByTimeLimit); they stay unfetched.
    if cfg.fetcher_timelimit_ms and cfg.fetcher_timelimit_ms > 0:
        fl = fl.where(~F.col("_attempted")
                      | (F.col("virtual_time")
                         <= round_start_ms + cfg.fetcher_timelimit_ms))

    if http_status is not None:
        st = http_status.select("url", "status_code", "redirect_to",
                                "content_length")
        fl = fl.join(st, "url", "left")
    else:
        fl = (fl.withColumn("status_code", F.lit(None).cast("int"))
                .withColumn("redirect_to", F.lit(None).cast("string"))
                .withColumn("content_length", F.lit(None).cast("long")))
    # fetcher.max.exceptions.per.queue (FetchItemQueues.java:181-201):
    # the k-th queued item is purged when the exceptions among the
    # items before it have already reached the cap — the item whose
    # exception *reaches* the cap still emits its own retry row, only
    # later items vanish (they stay unfetched in the crawldb, exactly
    # like the reference's emptyQueue). Evaluated on the slim
    # fetchlist+status frame so the purge window never shuffles page
    # bytes; exceptions exist only where a status feed reports 5xx —
    # without a feed no row can be an exception, so the whole window
    # pass (a shuffle+sort of the fetchlist) is skipped.
    if cfg.fetcher_max_exceptions_per_queue >= 0 and http_status is not None:
        exc = (F.col("_attempted")
               & (F.coalesce(F.col("status_code"), F.lit(200)) >= 500))
        wexc = Window.partitionBy("queue_id").orderBy("_k") \
            .rowsBetween(Window.unboundedPreceding, -1)
        fl = (fl.withColumn("_exc", exc.cast("int"))
                .withColumn("_exc_before",
                            F.coalesce(F.sum(F.when(F.col("_attempted"),
                                                    F.col("_exc")))
                                       .over(wexc), F.lit(0)))
                .where(~F.col("_attempted")
                       | (F.col("_exc_before")
                          < cfg.fetcher_max_exceptions_per_queue))
                .drop("_exc", "_exc_before"))

    # --- the "protocol GET", metadata half: presence + timestamp -------
    # the pages side is the 100 TB table — never broadcast it (the
    # hint pins a shuffle join even when size estimates drift under
    # the autoBroadcast threshold; a broadcast build here is a serial
    # driver-side hash build of the whole corpus slice). Only presence
    # and warc_ts join here; the html/text columns join in
    # outputs_from_schedule() against the success subset alone.
    page_meta = pages.select(
        "url", F.lit(True).alias("_has_page"),
        (F.unix_timestamp("warc_ts") * 1000).cast("long")
        .alias("_page_ms")).hint("shuffle_merge")
    joined = fl.join(page_meta, "url", "left")

    code = F.coalesce(
        F.col("status_code"),
        F.when(F.col("_has_page").isNotNull(), F.lit(200))
         .otherwise(F.lit(404)))

    # status mapping (FetcherThread.java:309-401)
    pst = (F.when(~F.col("robots_allowed"), PST_ROBOTS_DENIED)
            .when(delay_over, PST_ROBOTS_DENIED_DELAY)
            .when(code == 200, PST_SUCCESS)
            .when(code == 301, PST_MOVED)
            .when(code.isin(302, 303, 307), PST_TEMP_MOVED)
            .when(code == 304, PST_NOTMODIFIED)
            .when(code == 403, PST_ACCESS_DENIED)
            .when(code >= 500, PST_EXCEPTION)
            .otherwise(PST_NOTFOUND))
    fetch_status = (
        F.when(pst.isin(PST_ROBOTS_DENIED, PST_ROBOTS_DENIED_DELAY,
                        PST_NOTFOUND, PST_ACCESS_DENIED), FETCH_GONE)
         .when(pst == PST_SUCCESS, FETCH_SUCCESS)
         .when(pst == PST_MOVED, FETCH_REDIR_PERM)
         .when(pst == PST_TEMP_MOVED, FETCH_REDIR_TEMP)
         .when(pst == PST_NOTMODIFIED, FETCH_NOTMODIFIED)
         .otherwise(FETCH_RETRY))

    return (joined
            .withColumn("_pst", pst)
            .withColumn("_fstatus", fetch_status)
            .withColumn("fetch_time",
                        F.when(F.col("_attempted"), F.col("virtual_time"))
                         .otherwise(F.lit(round_start_ms)).cast("long"))
            .select("url", "retries", "fetch_interval", "score",
                    "metadata", "queue_id", "virtual_time", "fetch_time",
                    "_attempted", "_pst", "_fstatus", "redirect_to",
                    "content_length", "_page_ms"))


def outputs_from_schedule(scheduled: DataFrame, pages: DataFrame,
                          cfg: CrawlConfig) -> dict[str, DataFrame]:
    """Phase 2: derive the three round outputs from the (ideally
    materialized) schedule. ``crawl_fetch`` and ``linked`` are pure
    projections; ``content`` is the single place page bytes are read —
    an url-equi join of the success subset against the pages table."""
    empty_map = F.create_map().cast("map<string,string>")

    crawl_fetch = scheduled.select(
        "url",
        F.col("_fstatus").alias("status"),
        F.col("fetch_time"),
        F.col("retries"),
        F.col("fetch_interval"),
        F.col("score"),
        F.lit(None).cast("string").alias("signature"),
        F.coalesce(F.when(F.col("_fstatus") == FETCH_SUCCESS,
                          F.col("_page_ms")), F.lit(0))
         .cast("long").alias("modified_time"),
        F.map_concat(F.coalesce(F.col("metadata"), empty_map),
                     F.create_map(F.lit(META_PROTOCOL_STATUS),
                                  F.col("_pst"))).alias("metadata"),
        F.col("queue_id"),
        F.col("virtual_time"),
    )

    # the html/text pass: success rows only, shuffle join pinned (the
    # pages side never broadcasts), one traversal of page bytes per
    # round
    # mime_type (the protocol Content-Type) rides through when the
    # pages table carries it — parse_segment then routes on it
    extra = [c for c in ("mime_type",) if c in pages.columns]
    page_body = pages.select("url", "html", "text", "lang", *extra) \
        .hint("shuffle_merge")
    content = (scheduled
               .where(F.col("_fstatus") == FETCH_SUCCESS)
               .join(page_body, "url", "left")
               .where(F.col("content_length").isNull()
                      | (F.col("content_length") <= F.length("html")))
               .select("url", "html", "text", "lang", *extra,
                       F.col("virtual_time").alias("fetch_time"),
                       "score", "fetch_interval", "metadata"))

    # --- redirects → linked rows (FetcherThread.java:425-509) -----------
    redirs = (scheduled
              .where(F.col("_fstatus").isin(FETCH_REDIR_PERM,
                                            FETCH_REDIR_TEMP)
                     & F.col("redirect_to").isNotNull())
              # scope=fetcher (FetcherThread.java:428)
              .withColumn("_new_url",
                          normalizer_udf(cfg, "fetcher")(
                              F.col("redirect_to"))))
    if cfg.ignore_external_links:
        redirs = redirs.where(
            host_col("url") == host_col("_new_url"))
    redirs = (redirs
              .where(F.col("_new_url").isNotNull()
                     & (F.col("_new_url") != F.col("url")))
              .transform(lambda d: filter_accepts_col(
                  d, cfg.url_filter_rules, "_new_url"))
              .where(F.col("accepted")))
    linked = redirs.select(
        F.col("_new_url").alias("url"),
        F.lit(STATUS_LINKED).alias("status"),
        F.col("virtual_time").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.col("fetch_interval"),
        F.col("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.create_map(
            F.lit(META_REPR_URL),
            _choose_repr_udf()(
                F.col("url"), F.col("_new_url"),
                (F.col("_fstatus") == FETCH_REDIR_TEMP).cast("boolean")))
        .alias("metadata"),
    )

    return {"crawl_fetch": crawl_fetch, "content": content,
            "linked": linked, "schedule": scheduled}


def fetch(fetchlist: DataFrame, pages: DataFrame, robots: DataFrame,
          http_status: DataFrame | None, cfg: CrawlConfig,
          round_start_ms: int) -> dict[str, DataFrame]:
    """Run one fetch round. Returns dict with:

    - ``crawl_fetch``: CRAWLDB-schema rows (fetch_* statuses,
      fetch_time = virtual completion time);
    - ``content``: fetched page bytes+text for parse (fetch_success);
    - ``linked``: redirect-discovered CRAWLDB rows (status=linked,
      ``_repr_`` metadata) — feed into updatedb;
    - ``schedule``: the shared phase-1 frame that the other three read
      (slim: ~14 small columns per fetchlist row, no page bytes).

    Composition of :func:`schedule_fetchlist` (politeness windows +
    status resolution) and :func:`outputs_from_schedule` (projections +
    the single page-bytes join). Only plans are built: a caller that
    writes more than one output persists ``schedule`` first, so it
    computes once per round.
    """
    scheduled = schedule_fetchlist(fetchlist, pages, robots, http_status,
                                   cfg, round_start_ms)
    return outputs_from_schedule(scheduled, pages, cfg)


def fetch_metrics(crawl_fetch: DataFrame) -> DataFrame:
    """Per-status counters (FetcherStatus group, Fetcher.java:135-154)."""
    pst = F.element_at("metadata", META_PROTOCOL_STATUS)
    return (crawl_fetch
            .groupBy(F.col("status"), pst.alias("protocol_status"))
            .agg(F.count("*").alias("n"),
                 F.max("virtual_time").alias("last_virtual_time")))
