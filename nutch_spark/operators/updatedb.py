"""CrawlDb update — the frontier state machine.

Reference: CrawlDbReducer.java:64-322 (the reduce), CrawlDbFilter.java:79-110
(the map), fed by crawldb ∪ crawl_fetch ∪ crawl_parse message rows.

Spark shape: one ``groupBy(url)`` whose aggregates reconstruct exactly
the reducer's working state —

  old       = latest db row by fetch_time      (CrawlDbReducer.java:82-97)
  fetch     = latest fetch row by fetch_time   (CrawlDbReducer.java:99-113)
  link_top  = highest-score linked row         (linkList.get(0), line 151)
  link_sum  = Σ scores of top-N linked rows    (OPICScoringFilter.java:95-105
                                                + cap at lines 57-58)
  signature = signature marker                 (line 126-127)
  parse_meta= parse_meta marker                (line 129-130)

— then a single ``select`` evaluates the status transition, schedule,
signature retention and score update as nested when/otherwise columns.
Everything is JVM-side; no Python in this operator at all.

Scale notes: one shuffle on url (plus one windowed shuffle only when
the inlink cap binds). The aggregation is partial+final hash agg
(map-side combine), and the db side never carries page bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import CrawlConfig
from ..schema import (
    DB_FETCHED, DB_GONE, DB_NOTMODIFIED, DB_REDIR_PERM, DB_REDIR_TEMP,
    DB_STATUSES, DB_UNFETCHED, FETCH_GONE, FETCH_NOTMODIFIED,
    FETCH_REDIR_PERM, FETCH_REDIR_TEMP, FETCH_RETRY, FETCH_STATUSES,
    FETCH_SUCCESS, META_GENERATE_TIME, STATUS_LINKED, STATUS_PARSE_META,
    STATUS_SIGNATURE,
)
from . import schedules

_VALUE_FIELDS = ("fetch_time", "status", "retries", "fetch_interval",
                 "score", "signature", "modified_time", "metadata")


def _struct(prefix: str = "") -> Column:
    return F.struct(*[F.col(prefix + f).alias(f) for f in _VALUE_FIELDS])


def _kind_capped(messages: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Message rows tagged with their ``_kind`` (db / fetch / marker
    status), linked rows capped to the top-N by score per url."""
    kind = (F.when(F.col("status").isin(*DB_STATUSES), "db")
             .when(F.col("status").isin(*FETCH_STATUSES), "fetch")
             .otherwise(F.col("status")))
    df = messages.withColumn("_kind", kind)
    if cfg.db_update_max_inlinks is None:
        return df

    # inlink cap: keep top-N linked rows per url by score
    # (InlinkPriorityQueue, CrawlDbReducer.java:57-58,326-339).
    # Only the linked subset pays the window sort — db/fetch/marker
    # rows bypass it entirely (they'd otherwise drag the full message
    # stream through an extra shuffle+sort before the groupBy).
    cap = cfg.db_update_max_inlinks
    linked = df.where(F.col("_kind") == STATUS_LINKED)
    others = df.where(F.col("_kind") != STATUS_LINKED)
    # deterministic tie-break: score desc, then newest fetch_time,
    # then signature/modified_time — the partition key itself is
    # constant within the window and cannot break ties
    w = Window.partitionBy("url").orderBy(
        F.desc("score"), F.desc("fetch_time"),
        F.asc("modified_time"), F.asc_nulls_last("signature"))
    linked = (linked.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= cap).drop("_rn"))
    return others.unionByName(linked)


def updatedb(crawldb: DataFrame | None, messages: DataFrame,
             cfg: CrawlConfig, now_ms: int,
             fresh: DataFrame | None = None) -> DataFrame:
    """Merge the existing crawldb with per-round message rows
    (fetch statuses, linked, signature, parse_meta) into the next
    crawldb snapshot. All inputs share the CRAWLDB schema.

    ``fresh``: message rows whose urls are known to be absent from
    ``crawldb`` (the URL-seen layer's definitely-new side). They are
    aggregated on their own, skip the frontier join, and feed the same
    single state-machine projection as the merged rows."""
    # join mode: when the db side is not being re-normalized/re-keyed
    # (both off by default), the crawldb has unique urls and the merge
    # is equivalently a full-outer join of (messages aggregated by url)
    # with the db. The win is at frontier scale: a url-bucketed crawldb
    # table (Iceberg bucket(url,N); see crawl.py) then joins with NO
    # exchange — the 10^10-row frontier never shuffles, only the
    # per-round messages do. The union+groupBy path remains for
    # normalize/filter mode, where db rows themselves re-key and may
    # collapse (CrawlDbFilter.java:91-108).
    db = None
    join_mode = (crawldb is not None and not cfg.db_update_normalize
                 and not cfg.db_update_filter)
    if fresh is not None and not join_mode:
        messages = messages.unionByName(fresh)
        fresh = None
    if crawldb is not None:
        db = crawldb
        # CrawlDbFilter 404-purge (CrawlDbFilter.java:87-89)
        if cfg.db_update_purge_404:
            db = db.where(F.col("status") != DB_GONE)
        if not join_mode:
            messages = db.unionByName(messages)

    # CrawlDbFilter normalize + filter + re-key (CrawlDbFilter.java:91-108,
    # crawldb.url.normalizers / crawldb.url.filters, both default off):
    # every row — existing db entries included — is re-normalized and
    # re-keyed before the merge, so rows whose urls collapse to the
    # same canonical form merge in the groupBy below exactly like the
    # reference's re-keyed map output merges in its reduce.
    if cfg.db_update_normalize:
        # scope=crawldb (CrawlDbFilter.java:69,92)
        from ..functions.normalizers import normalizer_udf
        messages = (messages
                    .withColumn("url",
                                normalizer_udf(cfg, "crawldb")(F.col("url")))
                    .where(F.col("url").isNotNull()))
    if cfg.db_update_filter:
        from ..functions.filters import filter_accepts_col
        messages = filter_accepts_col(messages, cfg.url_filter_rules,
                                      "url") \
            .where(F.col("accepted")).drop("accepted")

    df = _kind_capped(messages, cfg)

    is_db = F.col("_kind") == "db"
    is_fetch = F.col("_kind") == "fetch"
    is_link = F.col("_kind") == STATUS_LINKED

    # latest-by-fetch_time ordering key (maps aren't orderable, so the
    # value struct rides along via max_by); ties broken by the
    # remaining scalar fields for determinism
    time_key = F.struct("fetch_time", "status", "retries",
                        "fetch_interval", "score", "signature",
                        "modified_time")
    score_key = F.struct("score", "fetch_time", "retries",
                         "fetch_interval", "modified_time")
    old_agg = F.max_by(F.when(is_db, _struct()), F.when(is_db, time_key))
    msg_aggs = [
        F.max_by(F.when(is_fetch, _struct()),
                 F.when(is_fetch, time_key)).alias("fetch0"),
        F.max_by(F.when(is_link, F.struct(
            F.col("score"), F.col("fetch_time"), F.col("retries"),
            F.col("fetch_interval"), F.col("modified_time"),
            F.col("metadata"))),
            F.when(is_link, score_key)).alias("link_top"),
        F.sum(F.when(is_link, F.col("score"))).alias("link_sum"),
        F.count(F.when(is_link, F.lit(1))).alias("n_links"),
        F.max(F.when(F.col("_kind") == STATUS_SIGNATURE,
                     F.col("signature"))).alias("sig_msg"),
        F.first(F.when(F.col("_kind") == STATUS_PARSE_META,
                       F.col("metadata")), ignorenulls=True)
         .alias("parse_meta"),
    ]
    if join_mode:
        # messages may still carry db-status rows (callers that merge
        # snapshots through the message stream); honor them, preferring
        # the authoritative db-side row when both exist
        magg = df.groupBy("url").agg(old_agg.alias("_old_msg"), *msg_aggs)
        agg = (magg.join(db.select("url", _struct().alias("_old_db")),
                         "url", "full_outer")
               .withColumn("old", F.coalesce(F.col("_old_db"),
                                             F.col("_old_msg")))
               .drop("_old_db", "_old_msg"))
        if fresh is not None:
            agg = agg.unionByName(
                _kind_capped(fresh, cfg).groupBy("url")
                .agg(old_agg.alias("old"), *msg_aggs))
    else:
        agg = df.groupBy("url").agg(old_agg.alias("old"), *msg_aggs)

    old = F.col("old")
    has_old = old.isNotNull()
    has_real_fetch = F.col("fetch0").isNotNull()
    has_links = F.col("n_links") > 0

    # no fetch rows → the top link stands in (CrawlDbReducer.java:150-153)
    link_as_fetch = F.struct(
        F.col("link_top.fetch_time").alias("fetch_time"),
        F.lit(STATUS_LINKED).alias("status"),
        F.col("link_top.retries").alias("retries"),
        F.col("link_top.fetch_interval").alias("fetch_interval"),
        F.col("link_top.score").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.col("link_top.modified_time").alias("modified_time"),
        F.col("link_top.metadata").alias("metadata"),
    )
    agg = agg.withColumn(
        "fetch",
        F.when(has_real_fetch, F.col("fetch0"))
         .when(has_links, link_as_fetch))
    fetch = F.col("fetch")
    has_fetch = fetch.isNotNull()

    # rows with no new information: keep old unchanged
    # (CrawlDbReducer.java:156-165); drop unknown urls when additions
    # are disallowed (lines 146-147)
    keep = has_fetch | has_old
    if not cfg.db_update_additions_allowed:
        keep = has_old
    agg = agg.where(keep)

    # ---- working values (CrawlDbReducer.java:167-186) ----
    empty_map = F.create_map().cast("map<string,string>")
    old_meta = F.coalesce(old["metadata"], empty_map)
    fetch_meta = F.coalesce(fetch["metadata"], empty_map)
    signature = F.coalesce(F.col("sig_msg"), fetch["signature"])
    prev_modified = F.when(has_old, old["modified_time"]).otherwise(F.lit(0))
    prev_fetch_time = F.when(has_old, old["fetch_time"]).otherwise(F.lit(0))
    meta_base = F.when(has_old & (F.size(old_meta) > 0),
                       F.map_concat(old_meta, fetch_meta)) \
        .otherwise(fetch_meta)
    modified_base = F.when(
        has_old & (old["modified_time"] > 0) & (fetch["modified_time"] == 0),
        old["modified_time"]).otherwise(fetch["modified_time"])

    fs = fetch["status"]
    is_success_family = fs.isin(FETCH_SUCCESS, FETCH_REDIR_TEMP,
                                FETCH_REDIR_PERM, FETCH_NOTMODIFIED)

    # parse_meta overlay (NUTCH-1656, CrawlDbReducer.java:213-217)
    meta_success = F.when(F.col("parse_meta").isNotNull(),
                          F.map_concat(meta_base, F.col("parse_meta"))) \
        .otherwise(meta_base)

    # modification state (CrawlDbReducer.java:219-233)
    state = (F.when(fs == FETCH_NOTMODIFIED,
                    F.lit(schedules.STATE_NOTMODIFIED))
              .when((fs == FETCH_SUCCESS) & has_old
                    & old["signature"].isNotNull() & signature.isNotNull(),
                    F.when(old["signature"] != signature,
                           F.lit(schedules.STATE_MODIFIED))
                     .otherwise(F.lit(schedules.STATE_NOTMODIFIED)))
              .otherwise(F.lit(schedules.STATE_UNKNOWN)))

    sched = schedules.set_fetch_schedule(
        cfg, fetch_time=fetch["fetch_time"],
        fetch_interval=fetch["fetch_interval"],
        modified_time=fetch["modified_time"],
        prev_modified_time=prev_modified, state=state,
        metadata=meta_success)

    notmod = state == schedules.STATE_NOTMODIFIED
    success_status = (F.when(notmod, DB_NOTMODIFIED)
                       .when(fs == FETCH_SUCCESS, DB_FETCHED)
                       .when(fs == FETCH_REDIR_PERM, DB_REDIR_PERM)
                       .when(fs == FETCH_REDIR_TEMP, DB_REDIR_TEMP)
                       .otherwise(F.when(has_old, old["status"])
                                   .otherwise(DB_UNFETCHED)))
    success_signature = F.when(notmod & has_old, old["signature"]) \
        .when(notmod, fetch["signature"]).otherwise(signature)
    success_modified = F.when(notmod, prev_modified) \
        .otherwise(sched["modified_time"])

    # over-max-interval force refetch (CrawlDbReducer.java:274-275)
    over_max = sched["fetch_interval"] > cfg.db_fetch_interval_max

    # ---- retry branch (CrawlDbReducer.java:282-295) ----
    retry = schedules.set_page_retry_schedule(
        cfg, fetch_time=fetch["fetch_time"], retries=fetch["retries"])
    retry_exhausted = retry["retries"] >= cfg.db_fetch_retry_max
    gone_from_retry = schedules.set_page_gone_schedule(
        cfg, fetch_time=fetch["fetch_time"],
        fetch_interval=fetch["fetch_interval"])

    # ---- gone branch (CrawlDbReducer.java:297-303) ----
    gone = schedules.set_page_gone_schedule(
        cfg, fetch_time=fetch["fetch_time"],
        fetch_interval=fetch["fetch_interval"])

    # ---- assemble the transition as per-column when-chains ----
    link_only = fs == STATUS_LINKED
    link_new = link_only & ~has_old     # discovered url: init schedule
    link_keep_old = link_only & has_old  # unchanged (score bump only)
    no_fetch = ~has_fetch                # only possible when has_old

    init = schedules.initialize_schedule(cfg, now_ms)

    def branch(link_new_v, success_v, retry_v, gone_v, keep_old_v,
               no_fetch_v) -> Column:
        return (F.when(no_fetch, no_fetch_v)
                 .when(link_new, link_new_v)
                 .when(link_keep_old, keep_old_v)
                 .when(is_success_family, success_v)
                 .when(fs == FETCH_RETRY, retry_v)
                 .when(fs == FETCH_GONE, gone_v)
                 .otherwise(keep_old_v))

    status = branch(
        F.lit(DB_UNFETCHED),
        success_status,
        F.when(retry_exhausted, DB_GONE).otherwise(DB_UNFETCHED),
        F.lit(DB_GONE),
        old["status"], old["status"])

    # forceRefetch resets signature/modified/retries too
    # (AbstractFetchSchedule.java:214-225); it applies to the whole
    # success family including notmodified results
    force = is_success_family & over_max
    status = F.when(force, DB_UNFETCHED).otherwise(status)

    fetch_time = branch(
        init["fetch_time"], sched["fetch_time"],
        F.when(retry_exhausted, gone_from_retry["fetch_time"])
         .otherwise(retry["fetch_time"]),
        gone["fetch_time"], old["fetch_time"], old["fetch_time"])

    retries_col = branch(
        init["retries"], sched["retries"], retry["retries"],
        fetch["retries"], old["retries"], old["retries"])
    retries_col = F.when(force, F.lit(0).cast("int")).otherwise(retries_col)

    interval = branch(
        init["fetch_interval"], sched["fetch_interval"],
        F.when(retry_exhausted, gone_from_retry["fetch_interval"])
         .otherwise(fetch["fetch_interval"]),
        gone["fetch_interval"], old["fetch_interval"],
        old["fetch_interval"])
    interval = F.when(force,
                      schedules.force_refetch_interval(cfg, interval)) \
        .otherwise(interval)

    sig_col = branch(
        F.lit(None).cast("string"), success_signature,
        F.when(has_old, old["signature"]).otherwise(fetch["signature"]),
        F.when(has_old, old["signature"]).otherwise(fetch["signature"]),
        old["signature"], old["signature"])
    sig_col = F.when(force, F.lit(None).cast("string")).otherwise(sig_col)

    modified = branch(
        fetch["modified_time"], success_modified, modified_base,
        modified_base, old["modified_time"], old["modified_time"])
    modified = F.when(force, F.lit(0).cast("long")).otherwise(modified)

    # OPIC updateDbScore (OPICScoringFilter.java:95-105):
    # score = (old if set else result).score + Σ link scores.
    # scoring-link (LinkAnalysisScoringFilter.updateDbScore): no-op —
    # crawldb scores are owned by LinkRank via score_updater
    link_sum = F.lit(0.0) if cfg.scoring_filter == "link" \
        else F.coalesce(F.col("link_sum"), F.lit(0.0))
    base_score = (F.when(no_fetch | link_keep_old | has_old, old["score"])
                   .when(link_new, F.lit(0.0))     # initialScore
                   .otherwise(fetch["score"]))
    score = F.when(no_fetch, old["score"]) \
        .otherwise(base_score + link_sum)

    metadata = branch(
        fetch_meta, meta_success, meta_base, meta_base,
        old_meta, old_meta)
    # remove generation marker (CrawlDbReducer.java:318)
    metadata = F.map_filter(F.coalesce(metadata, empty_map),
                            lambda k, v: k != META_GENERATE_TIME)

    return agg.select(
        "url",
        status.alias("status"),
        fetch_time.cast("long").alias("fetch_time"),
        retries_col.cast("int").alias("retries"),
        interval.cast("int").alias("fetch_interval"),
        score.cast("double").alias("score"),
        sig_col.alias("signature"),
        modified.cast("long").alias("modified_time"),
        metadata.alias("metadata"),
    )
