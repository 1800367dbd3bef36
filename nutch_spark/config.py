"""Crawl configuration.

Default values mirror the reference's ``conf/nutch-default.xml`` so the
operator semantics line up without per-test tuning. Each field cites the
reference property it reproduces.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from .session import default_cores


SECONDS_PER_DAY = 60 * 60 * 24


@dataclass(frozen=True)
class CrawlConfig:
    # --- injector (Injector.java:95-268) ---
    db_fetch_interval_default: int = 2592000  # db.fetch.interval.default (30 d)
    db_fetch_interval_max: int = 7776000      # db.fetch.interval.max (90 d)
    db_score_injected: float = 1.0            # db.score.injected
    db_injector_overwrite: bool = False       # db.injector.overwrite
    db_injector_update: bool = False          # db.injector.update

    # --- generator (Generator.java:134-162) ---
    generate_top_n: int = -1                  # -topN; -1 = unlimited
    generate_max_count: int = -1              # generate.max.count
    generate_count_mode: str = "host"         # generate.count.mode: host|domain
    generate_min_score: float | None = None   # generate.min.score
    generate_min_interval: int = -1           # generate.min.interval
    generate_restrict_status: str | None = None
    generate_filter: bool = True              # apply URLFilters in generate
    generate_normalise: bool = True
    crawl_gen_delay_ms: int = 7 * SECONDS_PER_DAY * 1000  # crawl.gen.delay
    generate_max_num_segments: int = 1

    # --- fetcher (Fetcher.java / FetchItemQueue.java / nutch-default.xml) ---
    fetcher_server_delay_ms: int = 5000       # fetcher.server.delay (5.0 s)
    fetcher_max_crawl_delay_ms: int = 30000   # fetcher.max.crawl.delay (30 s)
    # fetcher.threads.per.queue (FetchItemQueue.java:95-138): up to this
    # many items of one queue in flight at once; when > 1 the spacing
    # between dispatch waves is fetcher.server.min.delay and BOTH the
    # queue delay and any robots crawl-delay are ignored
    # (FetchItemQueue.java:133-136 picks minCrawlDelay unconditionally
    # when maxThreads > 1)
    fetcher_threads_per_queue: int = 1
    fetcher_server_min_delay_ms: int = 0      # fetcher.server.min.delay
    fetcher_timelimit_ms: int = -1            # fetcher.timelimit.mins (off)
    fetcher_queue_mode: str = "byHost"        # byHost | byDomain
    # fetcher.max.exceptions.per.queue (-1 = unlimited): after this
    # many protocol exceptions in one queue, the queue's remaining
    # items are purged for the round (FetchItemQueues.java:181-201)
    fetcher_max_exceptions_per_queue: int = -1
    http_robots_403_allow: bool = True        # http.robots.403.allow
    http_agent_name: str = "nutch-spark"      # http.agent.name
    ignore_external_links: bool = False       # db.ignore.external.links

    # --- updatedb (CrawlDbReducer.java:51-58) ---
    db_fetch_retry_max: int = 3               # db.fetch.retry.max
    db_update_max_inlinks: int = 10000        # db.update.max.inlinks
    db_update_additions_allowed: bool = True  # db.update.additions.allowed
    db_update_purge_404: bool = False         # db.update.purge.404
    db_update_normalize: bool = False         # crawldb.url.normalizers
    db_update_filter: bool = False            # crawldb.url.filters
    fetch_schedule: str = "default"   # default | adaptive | mime_adaptive

    # --- adaptive schedule (AdaptiveFetchSchedule.java:81-93) ---
    adaptive_inc_rate: float = 0.2
    adaptive_dec_rate: float = 0.2
    adaptive_min_interval: float = 60.0
    adaptive_max_interval: float = float(SECONDS_PER_DAY) * 365
    adaptive_sync_delta: bool = True
    adaptive_sync_delta_rate: float = 0.2
    # mime_adaptive per-MIME (inc, dec) overrides, defaults mirroring
    # conf/adaptive-mimetypes.txt (MimeAdaptiveFetchSchedule.java)
    mime_rates: tuple[tuple[str, float, float], ...] = (
        ("text/html", 0.2, 0.2),
        ("application/xhtml+xml", 0.2, 0.2),
        ("application/pdf", 0.1, 0.4),
    )

    # --- parse (ParseOutputFormat.java / nutch-default.xml:619) ---
    db_max_outlinks_per_page: int = 100
    db_max_anchor_length: int = 100           # db.max.anchor.length
    db_max_inlinks: int = 10000               # db.max.inlinks (linkdb cap)
    db_ignore_internal_links: bool = True     # linkdb default
    linkdb_url_normalizers: bool = False      # linkdb.url.normalizers
    linkdb_url_filters: bool = False          # linkdb.url.filters
    db_score_link_internal: float = 1.0       # db.score.link.internal
    db_score_link_external: float = 1.0       # db.score.link.external
    db_parsemeta_to_crawldb: tuple[str, ...] = ()

    # --- indexer (IndexerMapReduce.java:60-77,195-268) ---
    indexer_delete: bool = False              # indexer.delete
    # indexer.delete.robots.noindex (NUTCH-1434)
    indexer_delete_robots_noindex: bool = False
    indexer_skip_notmodified: bool = False    # indexer.skip.notmodified
    # bin/crawl INDEXFLAG (bin/crawl:249-256): run the index + clean
    # steps inside every cycle round — docs/deletes land under
    # indexes/round=N as the engine's analog of the Solr/ES sink
    index_enabled: bool = False

    # --- indexing-filter plugins (IndexingFilters chain over the
    # indexer_docs frame; src/plugin/index-* — see
    # operators/indexing_filters.py). Order = indexingfilter.order. ---
    indexing_filters: tuple[str, ...] = ()
    indexer_max_title_length: int = 100   # indexer.max.title.length
    indexer_max_content_length: int = -1  # indexer.max.content.length
    anchor_deduplicate: bool = False      # anchorIndexingFilter.deduplicate
    more_index_mime_parts: bool = True    # moreIndexingFilter.indexMimeTypeParts
    index_parse_md: tuple[str, ...] = ()  # index.parse.md
    # index.static: ((field, value) | (field, (v1, v2, ...)), ...)
    index_static: tuple[tuple, ...] = ()
    mimetype_filter_mode: str = "accept"  # rule-file leading + / -
    mimetype_filter_prefixes: tuple[str, ...] = ()
    # ((name, (white substrings...), (black substrings...)), ...)
    subcollections: tuple[tuple, ...] = ()
    # index-geoip (GeoIPIndexingFilter.java): gated on store.ip.address
    store_ip_address: bool = False        # store.ip.address
    # synthetic cityDatabase fixture — ((start_ip, end_ip, city,
    # country_iso, country, lat, lon, time_zone, postal,
    # continent_code), ...); production swaps in a real GeoLite2
    # ranges table via indexing_filters.index_geoip_with
    geoip_ranges: tuple[tuple, ...] = ()

    # --- scoring plugin selection ---
    # "opic" (OPICScoringFilter): outlinks inherit parent/n score,
    # updatedb adds inlink scores, indexer boost = score^0.5.
    # "link" (scoring-link LinkAnalysisScoringFilter): outlink
    # distribution and updatedb accumulation are no-ops (scores come
    # from LinkRank via score_updater), indexer boost =
    # link.analyze.normalize.score × score.
    # "similarity" (scoring-similarity stacked on OPIC, the plugin's
    # shipped composition): distributeScoreToOutlinks OVERWRITES each
    # target's score with the parent page's cosine similarity to the
    # gold document (CosineSimilarityModel.java:146-155 — copied, not
    # divided); updatedb accumulation and generate ordering stay
    # OPIC's, so the frontier drifts toward on-topic neighborhoods
    # (focused crawling).
    scoring_filter: str = "opic"
    link_analyze_normalize_score: float = 1.0
    similarity_gold_text: str = ""             # cosine.goldstandard.file
    similarity_stopwords: tuple[str, ...] = () # cosine.stopword.file

    # --- scoring-depth plugin (DepthScoringFilter.java) ---
    scoring_depth_enabled: bool = False
    scoring_depth_max: int = 1000             # scoring.depth.max

    # --- urlmeta plugin (URLMetaScoringFilter.java) ---
    # metadata keys propagated from a parent's crawldb datum to its
    # outlinks' linked rows (urlmeta.tags; empty = plugin off)
    urlmeta_tags: tuple[str, ...] = ()

    # --- signatures (TextProfileSignature.java:72-75) ---
    signature_kind: str = "md5"               # md5 | text_md5 | text_profile
    text_profile_min_token_len: int = 2
    text_profile_quant_rate: float = 0.01

    # --- partitioning / scale knobs (ours) ---
    # politeness units per round: the session's task threads (the
    # CLI's crawl passes the --cores its session runs with)
    num_fetch_partitions: int = field(default_factory=default_cores)
    partition_seed: int = 0                   # salt for host partitioning

    # --- URL normalizer chains (URLNormalizers.java:96-170) ---
    # default chain (urlnormalizer.order, nutch-default.xml:1040) plus
    # optional per-scope overrides (urlnormalizer.order.<scope>) and
    # per-scope regex rule sets (RegexURLNormalizer.java:120-158).
    # Scopes: default partition generate_host_count fetcher crawldb
    # linkdb inject outlink indexer. All tuples so the frozen dataclass
    # stays cheap to copy; empty = the fast cached default chain.
    normalizer_order: tuple[str, ...] = ("basic", "regex")
    # (("outlink", ("basic", "regex", "querystring")), ...)
    normalizer_scope_orders: tuple[tuple[str, tuple[str, ...]], ...] = ()
    # (("outlink", (("pattern", "sub"), ...)), ...)
    normalizer_scope_regex_rules: tuple[
        tuple[str, tuple[tuple[str, str], ...]], ...] = ()
    # urlnormalizer-slash / -host plugin rule tables (global)
    normalizer_slash_rules: tuple[tuple[str, bool], ...] = ()
    normalizer_host_rules: tuple[tuple[str, str], ...] = ()

    # --- url filter rules: (sign, regex) first-match-wins;
    # defaults mirror conf/regex-urlfilter.txt.template:25-37 ---
    url_filter_rules: tuple[tuple[str, str], ...] = (
        ("-", r"^(file|ftp|mailto):"),
        ("-", r"\.(gif|GIF|jpg|JPG|png|PNG|ico|ICO|css|CSS|sit|SIT|eps|EPS"
              r"|wmf|WMF|zip|ZIP|ppt|PPT|mpg|MPG|xls|XLS|gz|GZ|rpm|RPM|tgz"
              r"|TGZ|mov|MOV|exe|EXE|jpeg|JPEG|bmp|BMP|js|JS)$"),
        ("-", r"[?*!@=]"),
        ("-", r".*(/[^/]+)/[^/]+\1/[^/]+\1/"),
        ("+", r"."),
    )

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)


DEFAULT = CrawlConfig()
