"""Driver contract: flagship entry + per-operator queries + DuckDB oracles.

Each ``queries()`` entry exercises one operator from SURVEY.md §2 over
the driver's parquet tables. Crawl operators run on a **derived
crawldb** built from ``documents`` with SQL-expressible column
derivations (urls `http://host{doc_id%40}.test/p{doc_id}`), so the
DuckDB oracle can reproduce the exact same input and the comparison
checks the *operator semantics*, not the fixture. The only rows-only
entries are the approximate-LSH operators (minhash/simhash/ngram/
ann/embedding blocking); each has an exact oracle-checked sibling
plus a pinned recall floor in tests/test_approx_recall.py.

Column names are aligned between Spark and SQL on every computed
column; floats are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from nutch_spark.config import CrawlConfig
from nutch_spark.operators import (
    ann, archive as archive_op, corpus, dedup, dedup_text,
    feed as feed_op,
    fetch as fetch_op, generate as gen_op, inject as inject_op,
    linkdb as linkdb_op, multimodal, parse as parse_op, readers,
    sources as sources_op, textops, updatedb as update_op,
)
from nutch_spark.operators.merge import merge_crawldbs

CUR_TIME_MS = 1_000_000_000_000
FETCH_TIME_MS = 2_000_000_000
INDEX_FETCH_MS = 3_000_000
INJECT_NOW_MS = 1000
LINK_NOW_MS = 5000

CFG = CrawlConfig()


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _url(idcol) -> F.Column:
    return F.concat(F.lit("http://host"), (idcol % 40).cast("string"),
                    F.lit(".test/p"), idcol.cast("string"))


def _crawldb(spark: SparkSession, sf: str) -> DataFrame:
    """Derived frontier: SQL-mirrorable columns from documents."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    return d.select(
        _url(i).alias("url"),
        F.when(i % 5 == 0, "db_fetched").otherwise("db_unfetched")
         .alias("status"),
        ((i % 100) * 1000).cast("long").alias("fetch_time"),
        (i % 4).cast("int").alias("retries"),
        (F.lit(3600) + (i % 100)).cast("int").alias("fetch_interval"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )


# the same derivation as a DuckDB CTE (keeps doc_id + host for oracles)
CRAWLDB_CTE = """
WITH crawldb AS (
  SELECT doc_id,
         'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         'host' || CAST(doc_id % 40 AS VARCHAR) || '.test' AS host,
         CASE WHEN doc_id % 5 = 0 THEN 'db_fetched'
              ELSE 'db_unfetched' END AS status,
         (doc_id % 100) * 1000 AS fetch_time,
         CAST(doc_id % 4 AS INTEGER) AS retries,
         CAST(3600 + (doc_id % 100) AS INTEGER) AS fetch_interval,
         CAST(doc_id % 97 AS DOUBLE) / 10.0 AS score,
         md5(text) AS signature,
         CAST(0 AS BIGINT) AS modified_time,
         text
  FROM documents
)
"""

EDGE_SQL = """
edges AS (
  SELECT DISTINCT
         'http://host' || CAST(l_orderkey % 40 AS VARCHAR) || '.test/p'
           || CAST(l_orderkey AS VARCHAR) AS from_url,
         'http://host' || CAST(l_partkey % 40 AS VARCHAR) || '.test/p'
           || CAST(l_partkey AS VARCHAR) AS to_url,
         'a' || CAST(l_linenumber AS VARCHAR) AS anchor,
         l_orderkey % 40 AS from_host, l_partkey % 40 AS to_host
  FROM lineitem
)
"""

# bounded-depth route propagation (Loops.java) over the symmetrized
# edge set, shared by the loops_detect / loop_reader oracles: pass 1
# finds reciprocal links, pass 2 (last) finds 3-cycles; routes keep
# their original first hop. `f` = all (looking_for, first_hop) pairs.
LOOPS_CTE = "WITH " + EDGE_SQL.replace("edges AS (", """
base_edges AS (""") + """,
edges2 AS (
  SELECT from_url, to_url FROM base_edges
  UNION
  SELECT to_url AS from_url, from_url AS to_url
  FROM base_edges WHERE from_host = 0
),
ind AS (SELECT DISTINCT to_url AS u FROM edges2),
r0 AS (
  SELECT e.to_url AS at, e.from_url AS lf, e.to_url AS fh
  FROM edges2 e JOIN ind ON e.from_url = ind.u
),
f1 AS (
  SELECT DISTINCT r0.lf, r0.fh FROM r0
  JOIN edges2 e ON e.from_url = r0.at AND e.to_url = r0.lf
),
r1 AS (
  SELECT DISTINCT e2.to_url AS at, r0.lf, r0.fh
  FROM r0 JOIN edges2 e2 ON e2.from_url = r0.at
  WHERE NOT EXISTS (
    SELECT 1 FROM edges2 ex
    WHERE ex.from_url = r0.at AND ex.to_url = r0.lf)
),
f2 AS (
  SELECT DISTINCT r1.lf, r1.fh FROM r1
  JOIN edges2 e ON e.from_url = r1.at AND e.to_url = r1.lf
),
f AS (SELECT * FROM f1 UNION SELECT * FROM f2)
"""


def _edges(spark: SparkSession, sf: str, dedup: bool = True) -> DataFrame:
    """``dedup=False`` skips the fixture-level 3-column distinct for
    consumers that deduplicate internally anyway (invert_links'
    dropDuplicates, webgraph's distinct) — identical result set, one
    less full-width exchange."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    out = li.select(
        _url(F.col("l_orderkey")).alias("from_url"),
        _url(F.col("l_partkey")).alias("to_url"),
        F.concat(F.lit("a"), F.col("l_linenumber").cast("string"))
         .alias("anchor"))
    return out.distinct() if dedup else out


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_generate_topn(spark, sf):
    cfg = CFG.with_(generate_top_n=50, generate_max_count=-1,
                    generate_filter=False)
    fl = gen_op.generate(_crawldb(spark, sf), cfg,
                         cur_time_ms=CUR_TIME_MS, gen_time_ms=CUR_TIME_MS)
    return fl.select("url", F.round("score", 4).alias("score"))


def q_generate_hostcap(spark, sf):
    cfg = CFG.with_(generate_top_n=-1, generate_max_count=3,
                    generate_filter=False)
    fl = gen_op.generate(_crawldb(spark, sf), cfg,
                         cur_time_ms=CUR_TIME_MS, gen_time_ms=CUR_TIME_MS)
    return fl.select("url")


def _seed_lines(spark, sf):
    d = _docs(spark, sf)
    return d.where(F.col("doc_id") % 3 == 0) \
        .select(_url(F.col("doc_id")).alias("line"))


def q_inject_new(spark, sf):
    db = inject_op.inject(None, _seed_lines(spark, sf), CFG,
                          INJECT_NOW_MS)
    return db.select("url", "status", "fetch_time",
                     F.round("score", 4).alias("score"), "fetch_interval")


def q_inject_merge(spark, sf):
    old = _crawldb(spark, sf).where(
        F.xxhash64(F.lit(0)).isNotNull()  # no-op, keeps lineage simple
    ).where((F.regexp_extract("url", r"p(\d+)$", 1).cast("long") % 2) == 0)
    db = inject_op.inject(old, _seed_lines(spark, sf), CFG, INJECT_NOW_MS)
    return db.select("url", "status", "fetch_time", "retries",
                     "fetch_interval", F.round("score", 4).alias("score"))


def q_updatedb_fetch(spark, sf):
    d = _docs(spark, sf)
    i = F.col("doc_id")
    msgs = d.where(i % 3 == 0).select(
        _url(i).alias("url"),
        F.lit("fetch_success").alias("status"),
        F.lit(FETCH_TIME_MS).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        (F.lit(3600) + (i % 100)).cast("int").alias("fetch_interval"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.md5(F.encode(F.concat(F.col("text"), F.lit("v2")), "UTF-8"))
         .alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    out = update_op.updatedb(_crawldb(spark, sf), msgs, CFG, CUR_TIME_MS)
    return out.select("url", "status", "fetch_time", "retries",
                      "fetch_interval", F.round("score", 4).alias("score"),
                      "signature")


def q_updatedb_linked(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    msgs = li.select(
        _url(F.col("l_partkey")).alias("url"),
        F.lit("linked").alias("status"),
        F.lit(1000).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(CFG.db_fetch_interval_default).cast("int")
         .alias("fetch_interval"),
        (F.col("l_quantity") / 100.0).cast("double").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    out = update_op.updatedb(None, msgs, CFG, LINK_NOW_MS)
    return out.select("url", "status", "fetch_time", "retries",
                      "fetch_interval", F.round("score", 4).alias("score"))


def q_dedup_mark(spark, sf):
    d = _docs(spark, sf)
    i = F.col("doc_id")
    db = d.select(
        _url(i).alias("url"),
        F.lit("db_fetched").alias("status"),
        ((i % 7) * 1000).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        ((i % 13) / 2.0).cast("double").alias("score"),
        F.md5((F.col("n_chars") % 25).cast("string")).alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    return dedup.find_duplicates(db).select("url")


def q_crawldb_stats(spark, sf):
    s = readers.crawldb_stats(_crawldb(spark, sf))
    return s.select("status", "n",
                    F.round("score_min", 4).alias("score_min"),
                    F.round("score_max", 4).alias("score_max"),
                    F.round("score_avg", 4).alias("score_avg"),
                    "max_retries")


def q_crawldb_topn(spark, sf):
    return readers.crawldb_top_n(_crawldb(spark, sf), 25) \
        .select("url", F.round("score", 4).alias("score"))


def q_domain_stats(spark, sf):
    return readers.domain_statistics(_crawldb(spark, sf), "host")


def q_linkdb_invert(spark, sf):
    ldb = linkdb_op.invert_links(_edges(spark, sf, dedup=False), CFG)
    return ldb.select("url", F.size("inlinks").alias("n_inlinks"))


def q_generate_segments(spark, sf):
    """Multi-segment fetchlist spill (Generator.java:242-347,
    maxNumSegments=3, maxCount=3): overflow beyond the per-host cap
    lands in later segments instead of being dropped."""
    cfg = CFG.with_(generate_top_n=-1, generate_max_count=3,
                    generate_max_num_segments=3, generate_filter=False)
    fl = gen_op.generate(_crawldb(spark, sf), cfg,
                         cur_time_ms=CUR_TIME_MS, gen_time_ms=CUR_TIME_MS)
    return fl.select("url", "segnum")


def _loop_edges(spark, sf):
    """Edges symmetrized on host0 sources so the graph provably
    contains reciprocal cycles for the Loops detector.

    Built straight from the numeric keys: the host test is
    ``l_orderkey % 40 == 0`` (what the url embeds), evaluated before
    the url strings exist — no regexp over built urls and no
    3-column pre-distinct (every consumer distincts the 2-column
    edge set itself; same result set, one less exchange)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    pairs = li.select(F.col("l_orderkey").alias("a"),
                      F.col("l_partkey").alias("b"))
    fwd = pairs
    rev = (pairs.where(F.col("a") % 40 == 0)
           .select(F.col("b").alias("a"), F.col("a").alias("b")))
    return fwd.unionByName(rev).select(
        _url(F.col("a")).alias("from_url"),
        _url(F.col("b")).alias("to_url"))


def q_loops_detect(spark, sf):
    """Loops job (Loops.java): per start url, the number of distinct
    first hops that lead back within link.loops.depth=2."""
    loops = linkdb_op.find_loops(_loop_edges(spark, sf), depth=2)
    return loops.select("url", F.size("loop_set").alias("n_loops"))


def q_linkrank(spark, sf):
    """LinkRank with loop exclusion + per-page/domain contribution
    dedup (LinkRank.java:437-553). Oracle-checked: the synthetic hosts
    all register domain 'test', so the per-domain dedup collapses each
    target to its single MAX contribution — every iteration becomes
    rank = (1-d) + d·MAX(score/deg), which a chained-CTE DuckDB oracle
    reproduces bit-for-bit (max has no summation-order dependence)."""
    e = _loop_edges(spark, sf)
    loops = linkdb_op.find_loops(e, depth=2)
    r = linkdb_op.linkrank(e, iterations=3, loops=loops)
    # floor(x*1e4+0.5)/1e4 instead of ROUND: raw scores are
    # bit-identical across engines (max-aggregated, no sum order), but
    # ROUND implementations disagree exactly at .xxxx5 boundaries —
    # this quantization is the same double arithmetic on both sides
    return r.select(
        "url",
        (F.floor(F.col("score") * 10000 + 0.5) / 10000).alias("score"))


def q_domain_stats_domain(spark, sf):
    """DomainStatistics in registered-domain mode: all synthetic hosts
    are hostN.test and 'test' is not an IANA TLD, so the reference
    suffix walk collapses them to domain 'test' — byDomain parity."""
    return readers.domain_statistics(_crawldb(spark, sf), "domain")


def q_webgraph_degrees(spark, sf):
    wg = linkdb_op.webgraph(_edges(spark, sf, dedup=False), None, CFG)
    return wg["nodedb"].select("url", "in_degree", "out_degree")


def q_crawldb_merge(spark, sf):
    a = _crawldb(spark, sf)
    key = F.regexp_extract("url", r"p(\d+)$", 1).cast("long")
    b = (a.where(key % 2 == 0)
         .withColumn("fetch_time", F.col("fetch_time") + 500_000_000)
         .withColumn("score", F.col("score") + 1.0))
    out = merge_crawldbs([a, b])
    return out.select("url", "status", "fetch_time",
                      F.round("score", 4).alias("score"))


def q_indexer_docs(spark, sf):
    d = _docs(spark, sf)
    i = F.col("doc_id")
    db = _crawldb(spark, sf)
    cf = d.where(i % 2 == 0).select(
        _url(i).alias("url"), F.lit("fetch_success").alias("status"),
        F.lit(INDEX_FETCH_MS).cast("long").alias("fetch_time"))
    pt = d.select(_url(i).alias("url"), "text")
    pd_ = d.select(_url(i).alias("url"),
                   F.concat(F.lit("T"), i.cast("string")).alias("title"),
                   F.lit(None).cast(
                       "array<struct<to_url:string,anchor:string>>")
                   .alias("outlinks"))
    doc = readers.indexer_docs(db, None, pt, pd_, cf, CFG)
    return doc.select("url", "host", "title", "digest",
                      F.round("boost", 6).alias("boost"), "fetched_at")


def q_indexer_deletes(spark, sf):
    """Indexer delete actions (IndexerMapReduce.java:195-268) over a
    derived segment: db statuses cycle through gone/redirect/duplicate
    by doc_id%7, fetch rows exist for doc_id%3!=0 with statuses by
    doc_id%11, parse rows for doc_id%2==0 with robots-noindex at
    doc_id%26==0."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    db = d.select(
        _url(i).alias("url"),
        F.when(i % 7 == 0, "db_gone")
         .when(i % 7 == 1, "db_redir_temp")
         .when(i % 7 == 2, "db_redir_perm")
         .when(i % 7 == 3, "db_duplicate")
         .otherwise("db_fetched").alias("status"))
    cf = d.where(i % 3 != 0).select(
        _url(i).alias("url"),
        F.when(i % 11 == 0, "fetch_gone")
         .when(i % 11 == 1, "fetch_redir_temp")
         .otherwise("fetch_success").alias("status"))
    pd_ = d.where(i % 2 == 0).select(
        _url(i).alias("url"),
        F.when(i % 13 == 0, F.lit("noindex,follow"))
         .otherwise(F.lit("index,follow")).alias("meta_robots"))
    cfg = CFG.with_(indexer_delete=True,
                    indexer_delete_robots_noindex=True)
    return readers.indexer_deletes(db, pd_, cf, cfg)


def q_indexer_filters(spark, sf):
    """Indexing-filter plugin chain (src/plugin/index-*) over
    indexer_docs output: basic truncation, anchor dedup, index-more
    header fields, index-metadata, index-static, tld (public-suffix
    walk incl. multi-label co.uk), mimetype accept-filter,
    subcollection. Headers are deterministic functions of doc_id so
    DuckDB reproduces the full chain."""
    from nutch_spark.operators.indexing_filters import (
        apply_indexing_filters)
    d = _docs(spark, sf)
    i = F.col("doc_id")
    tld = (F.when(i % 4 == 0, "com").when(i % 4 == 1, "org")
            .when(i % 4 == 2, "net").otherwise("co.uk"))
    url = F.concat(F.lit("http://host"), (i % 40).cast("string"),
                   F.lit("."), tld, F.lit("/p"), i.cast("string"))
    meta = F.map_filter(F.map_from_arrays(
        F.array(F.lit("Content-Type"), F.lit("Content-Length"),
                F.lit("Last-Modified"), F.lit("Content-Disposition")),
        F.array(
            F.when(i % 3 == 0, "Text/HTML; charset=utf-8")
             .when(i % 3 == 1, F.lit("application/pdf")),
            F.concat(F.lit(" "), (1000 + i % 500).cast("string"),
                     F.lit(" ")),
            F.when(i % 2 == 0,
                   (F.lit(1_600_000_000_000) + i).cast("string")),
            F.when(i % 5 == 0,
                   F.concat(F.lit('inline; filename="f'),
                            i.cast("string"), F.lit('.pdf"'))))),
        lambda k, v: v.isNotNull())
    db = d.select(
        url.alias("url"), F.lit("db_fetched").alias("status"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("signature"))
    cf = d.select(url.alias("url"),
                  F.lit("fetch_success").alias("status"),
                  F.lit(INDEX_FETCH_MS).cast("long").alias("fetch_time"),
                  meta.alias("metadata"))
    pt = d.select(url.alias("url"), "text")
    pd_ = d.select(
        url.alias("url"),
        F.when(i % 10 != 0,
               F.repeat(F.lit("t"), (1 + i % 149).cast("int")))
         .alias("title"),
        F.lit(None).cast("array<struct<to_url:string,anchor:string>>")
         .alias("outlinks"))
    linkdb = d.select(
        url.alias("url"),
        F.array(
            F.struct(F.lit("u").alias("from_url"),
                     F.concat(F.lit("A"), (i % 3).cast("string"))
                      .alias("anchor")),
            F.struct(F.lit("u").alias("from_url"),
                     F.concat(F.lit("a"), (i % 3).cast("string"))
                      .alias("anchor")),
            F.struct(F.lit("u").alias("from_url"),
                     F.lit("B").alias("anchor"))).alias("inlinks"))
    cfg = CFG.with_(
        indexing_filters=("basic", "anchor", "more", "metadata",
                          "static", "tld", "mimetype", "subcollection"),
        anchor_deduplicate=True,
        indexer_max_content_length=40,
        index_parse_md=("Content-Type",),
        index_static=(("source", "webcrawl"), ("tags", ("t1", "t2"))),
        mimetype_filter_prefixes=("text/", "application/"),
        subcollections=(("p1s", ("/p1",), ("host1.",)),
                        ("coms", (".com/",), ())))
    doc = readers.indexer_docs(db, linkdb, pt, pd_, cf, cfg)
    out = apply_indexing_filters(doc, cfg)
    # Array columns are pipe-joined: the driver's comparison harness
    # canonicalizes via pandas sort, which cannot hash Python lists.
    return out.select(
        "url", "host", "tld", "title",
        F.array_join("anchors", "|").alias("anchors"),
        "text", "type",
        "primary_type", "sub_type", "content_length",
        F.unix_millis("last_modified").alias("last_modified_ms"),
        F.unix_millis("date").alias("date_ms"),
        F.col("content-type").alias("raw_content_type"),
        "source",
        F.array_join("tags", "|").alias("tags"),
        F.array_join("subcollection", "|").alias("subcollection"),
        F.round("boost", 6).alias("boost"))


GEOIP_RANGES = (
    # three /11-ish blocks over 10.x; second octets 60-79 uncovered
    ("10.0.0.0", "10.19.255.255", "Alpha", "AA", "Alphaland",
     1.5, -2.25, "UTC", "11111", "EU"),
    ("10.20.0.0", "10.39.255.255", "Beta", "BB", "Betania",
     -33.0, 151.25, "Australia/Beta", "22222", "OC"),
    ("10.40.0.0", "10.59.255.255", "Gamma", "CC", "Gammia",
     None, None, "America/Gamma", None, "NA"),
)


def q_indexer_geoip(spark, sf):
    """index-geoip cityDatabase analog
    (GeoIPIndexingFilter.java:204-233): server IP from content-meta
    ``_ip_`` -> /16-bucketed broadcast range join against a synthetic
    city DB. IPs are a closed-form function of doc_id so DuckDB
    reproduces the range arithmetic."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    ip = F.concat_ws(".", F.lit("10"), (i % 80).cast("string"),
                     (i % 256).cast("string"), (i % 250).cast("string"))
    doc = d.select(
        _url(i).alias("url"),
        F.map_from_arrays(F.array(F.lit("_ip_")), F.array(ip))
         .alias("metadata"))
    from nutch_spark.operators.indexing_filters import (
        apply_indexing_filters)
    cfg = CFG.with_(indexing_filters=("geoip",), store_ip_address=True,
                    geoip_ranges=GEOIP_RANGES)
    out = apply_indexing_filters(doc, cfg)
    return out.select("url", "ip", "city_name", "country_iso",
                      "country_name", "lat_lon", "time_zone",
                      "postal_code", "continent_code")


def q_parse_extract(spark, sf):
    d = _docs(spark, sf)
    i = F.col("doc_id")
    content = d.select(
        _url(i).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"), F.col("lang"),
        F.lit(FETCH_TIME_MS).cast("long").alias("fetch_time"),
        F.lit(1.0).alias("score"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    pr = parse_op.parse_segment(content, CFG, CUR_TIME_MS)
    parsed = pr["parse_text"].join(
        pr["parse_data"].select("url", "signature"), "url")
    return parsed.select("url", "text", "signature")


def q_doc_tokens(spark, sf):
    d = _docs(spark, sf)
    t = F.col("text")
    return d.select("doc_id",
                    textops.token_count_ws(t).alias("tokens_ws"),
                    textops.token_count_bpe(t).alias("tokens_bpe"))


def q_doc_quality(spark, sf):
    d = _docs(spark, sf)
    t = F.col("text")
    ft = textops.quality_features(t)
    return d.select(
        "doc_id",
        F.round(ft["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(ft["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(textops.quality_score(t), 6).alias("quality"))


def q_doc_langid(spark, sf):
    d = _docs(spark, sf)
    return d.select("doc_id",
                    textops.lang_id(F.col("text")).alias("lang_pred"))


def q_doc_fingerprint(spark, sf):
    d = _docs(spark, sf)
    return d.select("doc_id",
                    textops.fingerprint(F.col("text")).alias("fingerprint"))


def q_exact_dedup(spark, sf):
    d = _docs(spark, sf).withColumn(
        "text", F.substring(F.col("text"), 1, 25))
    return dedup_text.exact_dedup(d)


def q_dedup_clusters(spark, sf):
    """Connected-components dedup clustering (large-star/small-star)
    + canonical-doc selection over a deterministic multi-hop edge set:
    5-blocks starred to their base, odd blocks chained to the previous
    block, and 50-boundaries chained back one 10-block — components
    need 3-4 propagation hops, so the oracle's recursive CTE checks
    real transitive closure, not one-hop grouping."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    e1 = d.where(i % 5 != 0).select(
        i.alias("id_a"), (i - i % 5).alias("id_b"))
    e2 = d.where(i % 10 == 5).select(i.alias("id_a"), (i - 5).alias("id_b"))
    e3 = d.where((i % 50 == 0) & (i >= 50)).select(
        i.alias("id_a"), (i - 10).alias("id_b"))
    edges = e1.unionByName(e2).unionByName(e3)
    out = dedup_text.dedup_clusters(d, edges)
    return out.select(F.col("id").alias("doc_id"), "cluster_id", "keep")


def q_doc_repetition(spark, sf):
    """Gopher repetition signals: line-dup fractions over a derived
    3-line text (line 3 repeats line 1) + top word-2-gram coverage
    over the raw text."""
    d = _docs(spark, sf)
    t = F.col("text")
    lined = F.concat_ws("\n", F.substring(t, 1, 40),
                        F.substring(t, 21, 40), F.substring(t, 1, 40))
    # project the line arrays once — inlined they re-split per use
    staged = (d.select("doc_id", textops.lines_col(lined).alias("_l"))
              .select("doc_id", "_l",
                      F.array_distinct("_l").alias("_dl")))
    ft = textops.line_repetition_from(F.col("_l"), F.col("_dl"))
    lines_df = staged.select(
        "doc_id",
        F.round(ft["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(ft["dup_line_char_frac"], 6).alias("dup_line_char_frac"))
    top = textops.top_ngram_char_fraction(d)
    return lines_df.join(
        top.select(F.col("id").alias("doc_id"), "top_ngram", "top_count",
                   F.round("top_ngram_char_frac", 6)
                   .alias("top_ngram_char_frac")),
        "doc_id")


def q_paragraph_dedup(spark, sf):
    """Corpus paragraph dedup over the same derived 3-line text:
    in-doc dup (line 3 == line 1) always removed; cross-doc dups
    resolve to the globally first (doc_id, pos) occurrence."""
    d = _docs(spark, sf)
    t = F.col("text")
    lined = d.select(
        "doc_id",
        F.concat_ws("\n", F.substring(t, 1, 40), F.substring(t, 21, 40),
                    F.substring(t, 1, 40)).alias("text"))
    out = dedup_text.paragraph_dedup(lined)
    return out.select(F.col("id").alias("doc_id"), "text",
                      "n_paragraphs", "n_removed")


def q_pii_scrub(spark, sf):
    """PII redaction over text with synthetic email/IP/phone spans
    appended as closed-form functions of doc_id (pure JVM regexp
    chain; the oracle runs the identical RE2-compatible patterns)."""
    d = _docs(spark, sf)
    pii_text = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    s = corpus.pii_scrub(pii_text)
    return d.select("doc_id", s["text"].alias("text"),
                    s["n_email"].alias("n_email"),
                    s["n_ipv4"].alias("n_ipv4"),
                    s["n_phone"].alias("n_phone"))


def q_stratified_sample(spark, sf):
    """Deterministic per-language downsampling — a pure filter whose
    keep set is identical at any parallelism (reproducible sampling
    for resumable pipelines)."""
    d = _docs(spark, sf)
    out = corpus.stratified_sample(
        d, {"en": 0.5, "de": 0.25, "fr": 0.75, "es": 0.1, "zh": 1.0})
    return out.select("doc_id", "lang")


def q_decontaminate(spark, sf):
    """Benchmark decontamination: docs sharing ≥2 distinct word
    8-grams with the benchmark set (every 97th doc) are flagged;
    benchmark n-grams broadcast, corpus side never shuffles."""
    d = _docs(spark, sf)
    bench = d.where(F.col("doc_id") % 97 == 0).select("text")
    out = corpus.decontaminate(d, bench, n=8, min_hits=2)
    return out.select(F.col("id").alias("doc_id"), "n_matched",
                      "contaminated")


def _subdup_text() -> F.Column:
    """Derived 11-word text: a unique head word + a 10-word tail
    shared by each group of 5 docs — every doc_id's expected spans
    are closed-form."""
    grp = F.floor(F.col("doc_id") / 5).cast("long").cast("string")
    shared = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda j: F.concat(F.lit("g"), grp, F.lit("w"),
                           j.cast("string"))))
    return F.concat_ws(
        " ", F.concat(F.lit("u"), F.col("doc_id").cast("string")),
        shared)


def q_duplicate_spans(spark, sf):
    """Exact substring-duplication detection over the derived
    group-shared-tail text: the 10-word window at pos 1 is duplicated
    across each 5-doc group, canonical at the group's first doc."""
    d = _docs(spark, sf).select("doc_id", _subdup_text().alias("text"))
    out = corpus.duplicate_spans(d, k=10)
    return out.select(F.col("id").alias("doc_id"), "pos", "canonical")


def q_dedup_substrings(spark, sf):
    """Substring removal over the same fixture: non-canonical group
    members lose the shared 10-word tail."""
    d = _docs(spark, sf).select("doc_id", _subdup_text().alias("text"))
    out = corpus.dedup_substrings(d, k=10)
    return out.select(F.col("id").alias("doc_id"), "text", "n_words",
                      "n_removed_words")


def q_warc_ingest(spark, sf):
    """REAL WARC parsing: docs → .warc/.warc.gz blobs (closed-form
    records) → record walk → (url, date, status, body bytes); the
    oracle recomputes every field from doc_id arithmetic."""
    d = _docs(spark, sf).select("doc_id", "text")
    pages = sources_op.warc_to_pages(sources_op.make_warc_blobs(d))
    return pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
        .alias("warc_time"),
        "http_status",
        F.length("html").cast("long").alias("n_bytes"))


def q_zip_parse(spark, sf):
    """REAL ZIP container parsing (parse-zip plugin, ZipParser.java /
    ZipTextExtractor.java): docs -> deterministic ZIP archives (8 docs
    per archive, txt + html entry per doc, plus no-extension /
    unparseable / directory entries that the walk must skip) ->
    parse_zips -> one row per archive. Archives with g % 13 == 0 are
    truncated against their declared Content-Length and must fail as
    failed_truncated with no entry read. The oracle recomputes text
    (the reference's name-space-text-space concatenation in entry
    order), the outlink list, and the truncation gate from doc_id
    arithmetic."""
    d = _docs(spark, sf).select("doc_id", "text")
    parsed = archive_op.parse_zips(archive_op.make_zip_blobs(d), CFG)
    return parsed.select(
        "url", "status", "title", "text",
        F.array_join(F.transform("outlinks", lambda o: o["to_url"]),
                     "|").alias("links"),
        F.array_join(F.transform("outlinks", lambda o: o["anchor"]),
                     "|").alias("anchors"),
        F.size("outlinks").alias("n_links"))


def q_feed_parse(spark, sf):
    """REAL RSS/Atom parsing (parse-feed plugin, FeedParser.java):
    docs → feed XML blobs (closed-form per make_feed_blobs, RSS/Atom
    alternating by group) → parse_feeds → one row per entry plus one
    per feed. The oracle recomputes every field from doc_id
    arithmetic: mailto links (i%11==0) are url-filter drops, PHPSESSID
    / #frag links normalize back to the base url, RSS groups (even g)
    carry no item updated date."""
    d = _docs(spark, sf).select("doc_id", "text")
    parsed = feed_op.parse_feeds(feed_op.make_feed_blobs(d), CFG)
    return parsed.select(
        "url", "kind", "feed", "title", "text",
        F.array_join("authors", "|").alias("author"),
        F.array_join("tags", "|").alias("tags"),
        "published", "updated")


def q_ann_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    return ann.cosine_topk(emb, queries, k=5)


def q_events_hourly(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (ev.groupBy(
                F.col("event_type"),
                F.date_format("ts", "yyyy-MM-dd HH").alias("hour"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_simhash_hamming(spark, sf):
    """Exact-recall SimHash near-dup with the cross-engine md5-60
    token-hash family — every pair within Hamming ≤ 3 of the 60-bit
    simhash, oracle-reproducible in any engine with md5 + bit ops."""
    d = _docs(spark, sf)
    return dedup_text.simhash_neardup(d, max_hamming=3, n_bits=60,
                                      token_hash="md5")


def q_ngram_jaccard_exact(spark, sf):
    """Prefix-filtered exact n-gram Jaccard self-join (AllPairs/PPJoin
    principle): exact recall at threshold 0.3, no LSH."""
    d = _docs(spark, sf).withColumn(
        "text", F.substring(F.col("text"), 1, 120))
    return dedup_text.ngram_jaccard_exact(d, threshold=0.3)


def q_embedding_neardup_exact(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann.cosine_neardup_exact(emb, threshold=0.4)


def q_fetch_politeness(spark, sf):
    """Virtual-time politeness schedule over the full derived frontier:
    generate top-500, byHost queues, empty robots (all allowed,
    default 5 s delay) — the k-th attempted URL of a queue (FIFO in
    url-hash order) completes at round_start + k × delay. Every column
    is SQL-derivable, so this carries a full DuckDB oracle."""
    db = _crawldb(spark, sf)
    cfg = CFG.with_(generate_top_n=500, generate_filter=False,
                    num_fetch_partitions=8)
    fl = gen_op.generate(db, cfg, cur_time_ms=CUR_TIME_MS,
                         gen_time_ms=CUR_TIME_MS)
    d = _docs(spark, sf)
    pages = d.select(
        _url(F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        "text", "lang")
    robots = spark.createDataFrame(
        [], "authority string, robots_txt string, fetch_code int")
    fr = fetch_op.fetch(fl, pages, robots, None, cfg, CUR_TIME_MS)
    return fr["crawl_fetch"].select("url", "status", "queue_id",
                                    "virtual_time")


def q_fetch_politeness_threads(spark, sf):
    """fetcher.threads.per.queue=3 politeness
    (FetchItemQueue.java:95-138): waves of 3 items per queue spaced by
    fetcher.server.min.delay=1s — the k-th attempted URL completes at
    round_start + floor(k/3) × 1000 ms. Fully SQL-derivable."""
    db = _crawldb(spark, sf)
    cfg = CFG.with_(generate_top_n=500, generate_filter=False,
                    num_fetch_partitions=8,
                    fetcher_threads_per_queue=3,
                    fetcher_server_min_delay_ms=1000)
    fl = gen_op.generate(db, cfg, cur_time_ms=CUR_TIME_MS,
                         gen_time_ms=CUR_TIME_MS)
    d = _docs(spark, sf)
    pages = d.select(
        _url(F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        "text", "lang")
    robots = spark.createDataFrame(
        [], "authority string, robots_txt string, fetch_code int")
    fr = fetch_op.fetch(fl, pages, robots, None, cfg, CUR_TIME_MS)
    return fr["crawl_fetch"].select("url", "status", "queue_id",
                                    "virtual_time")


def q_crawldb_dump(spark, sf):
    """readdb -dump with regex + status + retry + JEXL-style expression
    filters (CrawlDbReader.java, CrawlDatum.java:528-589)."""
    db = _crawldb(spark, sf)
    out = readers.crawldb_dump(db, regex=r"[02468]$",
                               status="db_unfetched",
                               retry_min=1, expr="score > 2.0")
    return out.select("url", "status", "retries",
                      F.round("score", 4).alias("score"))


def _checker_urls(spark, sf):
    """Deterministic url mix exercising each default regex-urlfilter
    rule (doc_id % 5: 0 accepted, 1 proto, 2 image ext, 3 query char,
    4 repeated path segments)."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    h = F.concat(F.lit("host"), (i % 40).cast("string"), F.lit(".test"))
    p = i.cast("string")
    return d.select(
        F.when(i % 5 == 0,
               F.concat(F.lit("http://"), h, F.lit("/p"), p))
         .when(i % 5 == 1,
               F.concat(F.lit("ftp://"), h, F.lit("/p"), p))
         .when(i % 5 == 2,
               F.concat(F.lit("http://"), h, F.lit("/img"), p,
                        F.lit(".png")))
         .when(i % 5 == 3,
               F.concat(F.lit("http://"), h, F.lit("/p"), p,
                        F.lit("?q=1")))
         .otherwise(
               F.concat(F.lit("http://"), h, F.lit("/x/y"), p,
                        F.lit("/x/y"), p, F.lit("/x/")))
         .alias("url"))


def q_filter_checker(spark, sf):
    """URLFilterChecker (URLFilterChecker.java:50-71): the default
    regex-urlfilter chain's +/- verdict per url. The oracle knows each
    fixture url's verdict closed-form (DuckDB's RE2 cannot evaluate
    the backreference rule, but it doesn't have to — the inputs are
    constructed per rule)."""
    from nutch_spark.operators import checkers
    return checkers.filter_checker(_checker_urls(spark, sf), CFG)


def q_automaton_filter(spark, sf):
    """urlfilter-automaton analog (AutomatonURLFilter.java:80-105):
    ±rules with FULL-string DFA acceptance — all rules in one product
    automaton, one vectorized table walk per url. The rule set is the
    reference's WholeWebCrawling.rules plus a brics numeric-interval
    rule ``<0-99>`` (RegExp.ALL extension) so the interval construction
    is oracle-checked: only img0..img99 pngs are rejected by it, and
    png is NOT in the whole-web extension list, so img100+ pngs fall
    through to ``+.*``. The oracle knows each fixture url's verdict
    closed-form (full-match semantics make them decidable per family)."""
    from nutch_spark.operators import checkers
    rules = [
        ("-", ".*img<0-99>\\.png"),
        ("-", "(file|ftp|mailto):.*"),
        ("-", ".*\\.(gif|GIF|jpg|JPG|ico|ICO|css|sit|eps|wmf|zip|ppt|mpg"
              "|xls|gz|rpm|tgz|mov|MOV|exe)"),
        ("-", ".*[?*!@=].*"),
        ("+", ".*"),
    ]
    return checkers.automaton_filter_checker(_checker_urls(spark, sf), rules)


def q_normalizer_checker(spark, sf):
    """URLNormalizerChecker (URLNormalizerChecker.java:49-68):
    scope=default chain over urls with denormalized scheme/host case,
    an explicit default port, and a dot-segment path — the expected
    canonical form is closed-form for the oracle."""
    from nutch_spark.operators import checkers
    d = _docs(spark, sf)
    i = F.col("doc_id")
    urls = d.select(
        F.concat(F.lit("HTTP://HOST"), (i % 40).cast("string"),
                 F.lit(".TEST:80/a/../p"), i.cast("string")).alias("url"))
    return checkers.normalizer_checker(urls, CFG, scope="default")


def q_dmoz_parse(spark, sf):
    """REAL DMOZ RDF parsing (tools/DmozParser.java): docs →
    RDF blobs (closed-form Topic/ExternalPage elements) → element walk
    with the reference's adult + subset gates (subset_denom=3, Hadoop
    MD5Hash.hashCode parity — DuckDB reproduces the hash from
    md5()'s first 8 hex chars)."""
    d = _docs(spark, sf).select("doc_id", "text")
    seeds = sources_op.dmoz_to_seeds(
        sources_op.make_dmoz_blobs(d), subset_denom=3)
    return seeds


def q_file_dumper(spark, sf):
    """FileDumper (tools/FileDumper.java:134-240): md5-scheme dump
    paths + magic-byte mime detection, filtered to a mime list. The
    fixture keys the content type off doc_id (PNG magic / html tag /
    plain text) so the oracle recomputes mime, path (DuckDB md5 ==
    Spark md5), and byte counts closed-form."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    url = F.when(
        i % 5 == 0,
        F.concat(F.lit("http://host"), (i % 40).cast("string"),
                 F.lit(".test/img"), i.cast("string"), F.lit(".png"))) \
        .otherwise(
        F.concat(F.lit("http://host"), (i % 40).cast("string"),
                 F.lit(".test/p"), i.cast("string")))
    body = F.encode("text", "UTF-8")
    html = F.when(i % 5 == 0,
                  F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), body)) \
        .when(i % 2 == 0, F.concat(F.lit(b"<html>"), body)) \
        .otherwise(body)
    content = d.select(url.alias("url"), html.alias("html"))
    return sources_op.file_dumper(
        content, mime_types=["text/html", "image/png"])


def q_parse_dispatch(spark, sf):
    """ParseUtil mimetype dispatch (parse-plugins.xml,
    ParseUtil.java:74-110): html / plain / unknown routes — the html
    route runs the byte-parity extractor (collapsed text, like
    parse_extract), plain decodes verbatim, unknown mimes fail as
    parser-not-found. Feed/zip routes are pytest-covered (their blob
    fixtures live with feed_parse / zip_parse)."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    mime = F.when(i % 3 == 0, "text/html") \
        .when(i % 3 == 1, "text/plain") \
        .otherwise("application/octet-stream")
    content = d.select(
        _url(i).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        mime.alias("mime_type"))
    out = parse_op.parse_dispatch(content, CFG, CUR_TIME_MS)
    return out.select("url", "parser", "status",
                      F.coalesce("title", F.lit("")).alias("title"),
                      "text", "n_outlinks")


def q_parse_dispatch_segment(spark, sf):
    """parse_segment over content with a mime_type column — the
    mime-routed parse the SHIPPED cycle runs whenever the pages carry
    their Content-Type (ParseUtil.java:74-110, bin/crawl:232-236),
    with the full 3-way sink contract: the html family's parse_text
    collapses whitespace (DOMContentUtils), the text/plain family
    decodes verbatim, and unknown mimes reach NO output
    (ParseSegment.java:100-108 — ParserNotFound → return).
    Signatures are the raw-byte md5 of the content for both parsed
    families. Feed/zip families are cycle-tested
    (tests/test_parse_dispatch_cycle.py)."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    mime = F.when(i % 3 == 0, "text/html") \
        .when(i % 3 == 1, "text/plain") \
        .otherwise("application/octet-stream")
    content = d.select(
        _url(i).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text").alias("text"), F.lit("en").alias("lang"),
        mime.alias("mime_type"),
        F.lit(FETCH_TIME_MS).cast("long").alias("fetch_time"),
        F.lit(1.0).alias("score"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    pr = parse_op.parse_segment(content, CFG, CUR_TIME_MS)
    out = pr["parse_text"].join(
        pr["parse_data"].select("url", "signature"), "url")
    return out.select("url", "text", "signature")


def _metatag_content(spark, sf):
    """HTML with closed-form meta tags + headings per doc_id."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    s = i.cast("string")
    html = F.concat(
        F.lit('<html><head><title>T</title>'
              '<meta name="keywords" content="k'), s,
        F.lit('"><meta name="Description" content="d'), s,
        F.lit('"><meta http-equiv="refresh" content="5">'
              '</head><body><h1> H1a  '), s,
        F.lit(' </h1><h2>H2 '), s,
        F.lit('</h2><h1>H1b</h1>'), F.col("text"),
        F.lit('</body></html>'))
    return d.select(_url(i).alias("url"),
                    F.encode(html, "UTF-8").alias("html"))


def q_parse_metatags(spark, sf):
    """parse-metatags (MetaTagsParser.java:39-96): name-filtered
    multimap with lowercased metatag. keys — Description keeps its
    content under metatag.description; the unlisted http-equiv row is
    dropped by the metatags.names filter."""
    out = parse_op.parse_metatags(
        _metatag_content(spark, sf), names=("keywords", "description"))
    return out


def q_parse_headings(spark, sf):
    """headings plugin (HeadingsParseFilter.java:43-103): first
    non-empty heading per configured tag, whitespace collapsed; the
    second h1 is dropped (multivalued=false default)."""
    return parse_op.parse_headings(
        _metatag_content(spark, sf), tags=("h1", "h2"))


def q_similarity_score(spark, sf):
    """scoring-similarity (CosineSimilarityModel.java:48-143): cosine
    of each doc's TF vector against the gold standard, stopworded.
    TF sums are integers (exact in doubles, order-independent), so the
    quantized cosine hash-matches DuckDB."""
    from nutch_spark.operators.similarity import similarity_scores
    d = _docs(spark, sf)
    docs = d.select(_url(F.col("doc_id")).alias("url"), "text")
    out = similarity_scores(
        docs, gold_text="spark table row filter data",
        stopwords=("the", "a"))
    return out.select(
        "url",
        (F.floor(F.col("score") * 1000000 + 0.5) / 1000000)
        .alias("score"))


def q_parse_reltags(spark, sf):
    """microformats-reltag (RelTagParser.java:61-135): rel-tag hrefs'
    URL-decoded last path segments, TreeSet semantics; the relative
    href (parseTag's `new URL` throws), the plain link and the
    rel="nofollow" link contribute nothing."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a rel="tag" href="http://t.ex/tags/Cat'),
        (i % 7).cast("string"),
        F.lit('">c</a><a rel="tag" href="/t/Topic%20'),
        (i % 3).cast("string"),
        F.lit('">t</a><a href="http://x.ex/">x</a>'
              '<a rel="nofollow" href="http://y.ex/tags/No">n</a>'
              '</body></html>'))
    content = d.select(_url(i).alias("url"),
                       F.encode(html, "UTF-8").alias("html"))
    return parse_op.parse_reltags(content)


def q_index_replace(spark, sf):
    """index-replace (ReplaceIndexer.java:41-200): ordered, scoped
    regex replacements on doc fields — urlmatch-scoped rule first,
    then an unscoped one; Java replaceAll = all occurrences."""
    from nutch_spark.operators.indexing_filters import index_replace
    db = _crawldb(spark, sf)
    docs = db.select("url", F.concat(F.lit("T"),
                     F.regexp_extract("url", r"p(\d+)$", 1))
             .alias("title"), "status")
    out = index_replace(docs, [
        ("urlmatch", r"[02468]$", [("title", "^T", "X")]),
        (None, None, [("title", "1", "one")]),
    ])
    return out.select("url", "title", "status")


def q_parse_replace(spark, sf):
    """parse-replace (ReplaceParser.java:35-74 documented intent; the
    reference ships the filter as an inert skeleton — see the operator
    docstring): hostmatch-scoped + unscoped regex replacements on
    parse-stage title/text, before indexing sees them. replaceAll =
    all occurrences."""
    from nutch_spark.operators.parse import parse_replace
    d = _docs(spark, sf)
    i = F.col("doc_id")
    fields = d.select(
        _url(i).alias("url"),
        F.concat(F.lit("Title "), i.cast("string")).alias("title"),
        F.substring(F.col("text"), 1, 80).alias("text"))
    out = parse_replace(fields, [
        ("hostmatch", r"^host[0-9]\.test$", [("title", "^Title", "H")]),
        (None, None, [("text", r"\d", "#")]),
    ])
    return out.select("url", "title", "text")


def q_parse_swf(spark, sf):
    """REAL SWF (Flash) parsing (parse-swf plugin, SWFParser.java:
    63-125): docs → deterministic movies (two DefineEditText fields,
    a DoAction ConstantPool of surviving free strings, literal GetURL
    actions; even ids zlib-compressed CWS) → parse_swfs → one row per
    movie. The codec itself is golden-verified against the
    reference's three sample movies (tests/test_swfparse.py); here
    the oracle recomputes the text (edit texts space-joined, then the
    ``--------`` divider and the sorted free strings), the outlink
    list (getURL order, then the free-text URL sweep re-finding the
    in-text url) and the truncation gate from doc_id arithmetic."""
    from nutch_spark.operators import swf as swf_op
    d = _docs(spark, sf).select("doc_id")
    parsed = swf_op.parse_swfs(swf_op.make_swf_blobs(d), CFG)
    return parsed.select(
        "url", "status", "title", "text",
        F.array_join(F.transform("outlinks", lambda o: o["to_url"]),
                     "|").alias("links"),
        F.size("outlinks").alias("n_links"))


def q_parse_ext(spark, sf):
    """parse-ext plugin (ExtParser.java:60-150): per-content-type
    external commands over document blobs — even ids uppercase via
    ``tr``, odd ids pass through ``cat``; ids %17 have no registered
    command (lookup precedes the truncation gate, :74-77), ids %13
    declare a wrong Content-Length (failed_truncated, :94-101). The
    in-text url survives the command and is re-found by the free-text
    URL sweep (:135-138), uppercased on the tr path."""
    from nutch_spark.operators.extparse import parse_ext
    d = _docs(spark, sf).select("doc_id", "text")
    i = F.col("doc_id")
    content = F.encode(
        F.concat(F.col("text"), F.lit(" ref http://e.test/d"),
                 i.cast("string")), "UTF-8")
    blobs = d.select(
        F.concat(F.lit("http://ext.test/p"), i.cast("string"))
         .alias("url"),
        content.alias("content"),
        F.when(i % 17 == 0, F.lit("application/unknown"))
         .when(i % 2 == 0, F.lit("text/x-upper"))
         .otherwise(F.lit("text/x-cat")).alias("mime_type"),
        (F.length(content)
         + F.when(i % 13 == 0, 7).otherwise(0)).cast("long")
         .alias("content_length"))
    cmds = {"text/x-upper": (["sh", "-c", "tr a-z A-Z"], 30, "utf-8"),
            "text/x-cat": (["sh", "-c", "cat"], 30, "utf-8")}
    parsed = parse_ext(blobs, CFG, cmds)
    return parsed.select(
        "url", "status", "title", "text",
        F.array_join(F.transform("outlinks", lambda o: o["to_url"]),
                     "|").alias("links"),
        F.size("outlinks").alias("n_links"))


def q_parse_pdf(spark, sf):
    """REAL PDF parsing (the parse-tika PDF path, TikaParser.java:
    71-120): docs → deterministic one-page PDFs (two text lines; even
    ids FlateDecode, odd ids raw streams) → parse_pdfs → one row per
    document. The codec is golden-verified against the reference's
    pdftest.pdf AND RC4-encrypted encrypted.pdf samples
    (tests/test_pdfparse.py); here the oracle recomputes the text and
    the truncation gate from doc_id arithmetic (ASCII corpus, the
    builder/extractor escape round-trip is identity)."""
    from nutch_spark.operators import pdf as pdf_op
    d = _docs(spark, sf).select("doc_id", "text")
    return pdf_op.parse_pdfs(pdf_op.make_pdf_blobs(d), CFG)


def q_parse_oo(spark, sf):
    """REAL OpenDocument parsing (the parse-tika OO path,
    TestOOParser.java:61-85): docs → deterministic ODT/SXW containers
    (even ids ODF namespace, odd ids OpenOffice-1.0) → parse_oo → one
    row per document. The codec is golden-verified against the
    reference's ootest.odt AND ootest.sxw samples
    (tests/test_msoffice.py); the oracle recomputes text / title /
    truncation gate from doc_id arithmetic (ASCII-sanitized corpus,
    builder/extractor XML round-trip is identity)."""
    from nutch_spark.operators import msoffice as ms_op
    d = _docs(spark, sf).select("doc_id", "text")
    return ms_op.parse_oo(ms_op.make_oo_blobs(d), CFG)


def q_parse_rtf(spark, sf):
    """REAL RTF parsing (the parse-tika RTF path,
    TestRTFParser.java:58-80 — title/subject from the info block):
    docs → deterministic RTF documents → parse_rtf. Codec
    golden-verified against the reference's test.rtf sample."""
    from nutch_spark.operators import msoffice as ms_op
    d = _docs(spark, sf).select("doc_id", "text")
    return ms_op.parse_rtf(ms_op.make_rtf_blobs(d), CFG)


def q_parse_msword(spark, sf):
    """REAL Word-97 parsing (the parse-tika MSWord path,
    TestMSWordParser.java:73-89): docs → real compound files (CFB
    mini stream + FIB + piece table) → parse_msword. Codec
    golden-verified against the reference's word97.doc sample."""
    from nutch_spark.operators import msoffice as ms_op
    d = _docs(spark, sf).select("doc_id", "text")
    return ms_op.parse_msword(ms_op.make_doc_blobs(d), CFG)


def q_image_meta(spark, sf):
    """Image metadata extraction (the parse-tika image path,
    TestImageMetadata.java:53-66 — width/height as parse metadata,
    no text): docs → real GIF/PNG/BMP headers → parse_images.
    Dimension reader golden-verified against the reference's
    nutch_logo_tm.gif (121×48)."""
    from nutch_spark.operators import msoffice as ms_op
    d = _docs(spark, sf).select("doc_id")
    return ms_op.parse_images(ms_op.make_image_blobs(d), CFG)


def q_html_lang(spark, sf):
    """language-identifier plugin (HTMLLanguageParser.java:88-136)
    under the default detect,identify policy: docs cycle through the
    declared-language signals — lang attribute (sv-SE → sv),
    dc.language meta (English → en), http-equiv content-language
    (SWE → sv), header-only (fi-FI kept RAW, the reference quirk),
    and none-declared (falls to the statistical identify stage, the
    repo's stopword-hit lang_id). The oracle reproduces all five
    classes plus the identify heuristic from doc_id arithmetic and
    the same stopword counts as doc_langid."""
    d = _docs(spark, sf).select("doc_id", "text")
    i = F.col("doc_id")
    html = (
        F.when(i % 5 == 0,
               F.lit('<html lang="sv-SE"><body>x</body></html>'))
        .when(i % 5 == 1,
              F.lit('<html><meta name="dc.language" content="English">'
                    '<body>x</body></html>'))
        .when(i % 5 == 2,
              F.lit('<html><meta http-equiv="content-language" '
                    'content="SWE"><body>x</body></html>'))
        .otherwise(F.lit('<html><body>x</body></html>')))
    content = d.select(
        _url(i).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.when(i % 5 == 3, F.lit("fi-FI")).alias("content_language"),
        "text")
    return parse_op.html_language(content)


def q_urlmeta_outlinks(spark, sf):
    """urlmeta plugin (URLMetaScoringFilter.java:60-83,
    distributeScoreToOutlinks): the configured parent metadata keys
    ride to every outlink's linked row; unlisted keys are dropped.
    One absolute external outlink per doc so the linked url and its
    inherited campaign tag are closed-form."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="http://t.ex/c'),
        i.cast("string"), F.lit('">go</a></body></html>'))
    content = d.select(
        _url(i).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("x").alias("text"), F.lit("en").alias("lang"),
        F.lit(FETCH_TIME_MS).cast("long").alias("fetch_time"),
        F.lit(1.0).alias("score"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        F.map_from_arrays(
            F.array(F.lit("campaign"), F.lit("other")),
            F.array(F.concat(F.lit("c"), (i % 5).cast("string")),
                    F.lit("zzz"))).alias("metadata"))
    cfg = CrawlConfig(urlmeta_tags=("campaign",))
    pr = parse_op.parse_segment(content, cfg, CUR_TIME_MS)
    linked = pr["crawl_parse"].where(F.col("status") == "linked")
    return linked.select(
        "url",
        F.element_at("metadata", "campaign").alias("campaign"),
        F.element_at("metadata", "other").alias("other"))


def q_nb_outlink_filter(spark, sf):
    """parsefilter-naivebayes (NaiveBayesParseFilter.java:40-190):
    NB-classified pages; irrelevant ones keep only wordlist-matching
    outlinks. Page text alternates two constant vocabularies by
    doc_id so the classification — and therefore the surviving
    outlink count — is closed-form for the oracle; the NB math itself
    is pytest-verified (tests/test_nbfilter.py)."""
    from nutch_spark.operators.nbfilter import (
        naive_bayes_outlink_filter, train_naive_bayes)
    train = spark.createDataFrame(
        [("1", "spark table data shuffle partition"),
         ("1", "spark data join agg"),
         ("0", "football game score goal"),
         ("0", "game referee goal match")],
        "label string, text string")
    model = train_naive_bayes(train)
    d = _docs(spark, sf)
    i = F.col("doc_id")
    links = F.array(
        F.struct(F.lit("http://x.ex/topic-hub").alias("to_url"),
                 F.lit("a").alias("anchor")),
        F.struct(F.lit("http://y.ex/misc").alias("to_url"),
                 F.lit("b").alias("anchor")))
    pd_ = d.select(_url(i).alias("url"), links.alias("outlinks"))
    pt = d.select(
        _url(i).alias("url"),
        F.when(i % 2 == 0, "spark shuffle data table")
         .otherwise("football goal game").alias("text"))
    out = naive_bayes_outlink_filter(pd_, pt, model,
                                     wordlist=("topic",))
    return out.select(
        "url", F.size("outlinks").alias("n_outlinks"),
        F.array_join(F.transform("outlinks", lambda o: o["to_url"]),
                     "|").alias("links"))


def q_cc_license(spark, sf):
    """creativecommons plugin (CCParseFilter.java:56-150): license
    detection precedence keyed by doc_id — rdf comment (id%4==0),
    rel=license anchor (1), plain CC anchor (2), none (3, no row)."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    lic = F.concat(F.lit("http://creativecommons.org/licenses/by/"),
                   (i % 3).cast("string"), F.lit(".0/"))
    html = F.when(i % 4 == 0, F.concat(
        F.lit('<html><head><!-- <rdf:RDF xmlns:cc="x"><cc:Work>'
              '<cc:license rdf:resource="'), lic,
        F.lit('"/></cc:Work></rdf:RDF> --></head><body>b</body></html>'))) \
        .when(i % 4 == 1, F.concat(
            F.lit('<html><body><a rel="license" href="'), lic,
            F.lit('">cc</a></body></html>'))) \
        .when(i % 4 == 2, F.concat(
            F.lit('<html><body><a href="'), lic,
            F.lit('">cc</a></body></html>'))) \
        .otherwise(F.lit('<html><body><a href="http://x.ex/">n</a>'
                         '</body></html>'))
    content = d.select(_url(i).alias("url"),
                       F.encode(html, "UTF-8").alias("html"))
    return parse_op.parse_cc_license(content)


def q_js_links(spark, sf):
    """parse-js (JSParseFilter.java:150-260): three closed-form
    candidates per doc — an absolute url with &amp; to unescape, a
    www.-prefixed host, and a relative path that resolves against the
    page url; the no-dot-no-slash string yields nothing."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    s = i.cast("string")
    js = F.concat(
        F.lit('var a = "http://x.ex/p?a='), s,
        F.lit('&amp;b=2"; var b = \'www.ex'), (i % 5).cast("string"),
        F.lit('.com/path\'; var c = "doc'), s,
        F.lit('.html"; var d = "justaword";'))
    content = d.select(_url(i).alias("url"), js.alias("script"))
    return parse_op.parse_js_links(content)


def q_cleaning_job(spark, sf):
    """CleaningJob (CleaningJob.java:66-88): delete requests for
    db_gone / db_duplicate crawldb rows. The fixture remaps statuses
    deterministically (doc_id % 10: 3 → gone, 7 → duplicate) since the
    base crawldb carries neither."""
    db = _crawldb(spark, sf)
    key = F.regexp_extract("url", r"p(\d+)$", 1).cast("long")
    db = db.withColumn(
        "status",
        F.when(key % 10 == 3, "db_gone")
         .when(key % 10 == 7, "db_duplicate")
         .otherwise(F.col("status")))
    return readers.cleaning_job(db)


def q_crawldb_url(spark, sf):
    """readdb -url point lookup (CrawlDbReader.java:458-476)."""
    out = readers.crawldb_get(_crawldb(spark, sf),
                              "http://host1.test/p41")
    return out.select("url", "status", "fetch_time", "retries",
                      "fetch_interval", F.round("score", 4).alias("score"))


def q_readlinkdb(spark, sf):
    """readlinkdb -url lookups (LinkDbReader.java) over a small url
    set, inlinks exploded to rows for order-insensitive comparison."""
    ldb = linkdb_op.invert_links(_edges(spark, sf, dedup=False), CFG)
    targets = [f"http://host{k % 40}.test/p{k}" for k in range(1, 6)]
    return (ldb.where(F.col("url").isin(targets))
            .select("url", F.explode("inlinks").alias("il"))
            .select("url", F.col("il.from_url").alias("from_url"),
                    F.col("il.anchor").alias("anchor")))


def q_nodedumper(spark, sf):
    """NodeDumper top-N by inlink degree (NodeDumper.java)."""
    wg = linkdb_op.webgraph(_edges(spark, sf, dedup=False), None, CFG)
    return linkdb_op.node_dumper(wg["nodedb"], by="inlinks", n=20)


def q_cuckoo_seen(spark, sf):
    """Cuckoo URL-seen layer (north rule: "partitioned bloom/cuckoo
    filters keyed by canonicalized-URL hash"; deletion sibling of the
    bloom layer, Fan et al. CoNEXT'14): discovered outlink targets
    not yet in the frontier, via cuckoo pre-prune + exact anti-join
    (operators/cuckoo.py kernels in the shared operators/urlseen.py
    pipeline). The layer only prunes — the oracle's plain anti-join is
    the exact same set."""
    from nutch_spark.operators import cuckoo as ck, urlseen
    db = _crawldb(spark, sf)
    discovered = _edges(spark, sf, dedup=False).select(
        F.col("to_url").alias("url")).distinct()
    layer = ck.build_cuckoo(db.select("url"), n_buckets=16)
    return urlseen.filter_unseen(discovered, db.select("url"), layer) \
        .select("url")


def q_link_dumper(spark, sf):
    """LinkDumper (LinkDumper.java:216-330): webgraph inlinks with the
    source node's score attached, capped and sorted by from_url. The
    oracle recomputes the inversion + crawldb-score join (urls absent
    from the crawldb carry webgraph's 0.0 default)."""
    db = _crawldb(spark, sf)
    wg = linkdb_op.webgraph(_edges(spark, sf, dedup=False),
                            db.select("url", "score"), CFG)
    out = linkdb_op.link_dumper(wg["outlinkdb"], wg["nodedb"])
    return out.select(
        "url",
        F.size("inlinks").alias("n_inlinks"),
        F.array_join(F.transform("inlinks", lambda x: x["from_url"]),
                     "|").alias("inlinks"),
        F.round(F.aggregate("inlinks", F.lit(0.0),
                            lambda acc, x: acc + x["score"]),
                4).alias("score_sum"))


def q_node_reader(spark, sf):
    """NodeReader point lookup (NodeReader.java:67-85): one node's
    degrees plus inlink score (crawldb-joined; absent urls carry
    webgraph's 0.0 default) and the derived outlink score
    (Node.java:68). floor-quantized like linkrank so both engines run
    the identical double arithmetic."""
    db = _crawldb(spark, sf)
    wg = linkdb_op.webgraph(_edges(spark, sf, dedup=False),
                            db.select("url", "score"), CFG)
    out = linkdb_op.node_reader(wg["nodedb"], "http://host1.test/p1")
    q = lambda c: (F.floor(F.col(c) * 10000 + 0.5) / 10000).alias(c)
    return out.select("url", "num_inlinks", "num_outlinks",
                      q("inlink_score"), q("outlink_score"))


def q_loop_reader(spark, sf):
    """LoopReader point lookup (LoopReader.java:68-90): the loop set
    of a single url, one row per cycle-forming outlink. The fixture
    pins the url to the lexicographically-smallest looping url so the
    choice is deterministic at every SF (the driver-side first() reads
    one aggregated value — the lookup itself stays distributed)."""
    loops = linkdb_op.find_loops(_loop_edges(spark, sf), depth=2).cache()
    url = loops.agg(F.min("url")).first()[0]
    return linkdb_op.loop_reader(loops, url)


def q_score_updater(spark, sf):
    """ScoreUpdater.java:59-63: nodedb scores copied into the crawldb;
    urls absent from the webgraph get score cleared to 0."""
    db = _crawldb(spark, sf)
    scores = db.select("url", "score")
    wg = linkdb_op.webgraph(_edges(spark, sf, dedup=False), scores, CFG)
    out = linkdb_op.score_updater(db, wg["nodedb"])
    return out.select("url", "status",
                      F.round("score", 4).alias("score"))


def q_segment_merge(spark, sf):
    """SegmentMerger latest-per-url with fetch-status precedence ties
    (SegmentMerger.java:556-620): segment B re-fetches every third url
    at a later time; same-time collisions resolve success > retry."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    seg_a = d.select(
        _url(i).alias("url"),
        F.when(i % 4 == 0, "fetch_retry").otherwise("fetch_success")
         .alias("status"),
        F.lit(1000).cast("long").alias("fetch_time"))
    seg_b = d.where(i % 3 == 0).select(
        _url(i).alias("url"),
        F.lit("fetch_success").alias("status"),
        (F.when(i % 2 == 0, 2000).otherwise(1000))
        .cast("long").alias("fetch_time"))
    from nutch_spark.operators.merge import merge_segments
    out = merge_segments([seg_a, seg_b], status_col="status")
    return out.select("url", "status", "fetch_time")


def q_updatedb_adaptive(spark, sf):
    """updatedb under AdaptiveFetchSchedule
    (AdaptiveFetchSchedule.java:95-144): successes with a changed
    signature shrink the interval by dec_rate (×0.8); untouched rows
    keep the default-schedule no-op."""
    cfg = CFG.with_(fetch_schedule="adaptive")
    d = _docs(spark, sf)
    i = F.col("doc_id")
    msgs = d.where(i % 3 == 0).select(
        _url(i).alias("url"),
        F.lit("fetch_success").alias("status"),
        F.lit(FETCH_TIME_MS).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        (F.lit(3600) + (i % 100)).cast("int").alias("fetch_interval"),
        ((i % 97) / 10.0).cast("double").alias("score"),
        F.md5(F.encode(F.concat(F.col("text"), F.lit("v2")), "UTF-8"))
         .alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))
    out = update_op.updatedb(_crawldb(spark, sf), msgs, cfg, CUR_TIME_MS)
    return out.select("url", "status", "fetch_time", "retries",
                      "fetch_interval", F.round("score", 4).alias("score"))


def q_free_generate(spark, sf):
    """FreeGenerator (tools/FreeGenerator.java): fetchlist straight
    from a url list, bypassing the crawldb."""
    fl = gen_op.free_generate(_seed_lines(spark, sf), CFG, INJECT_NOW_MS)
    return fl.select("url", "status", "fetch_time", "fetch_interval",
                     F.round("score", 4).alias("score"))


def q_minhash_lsh(spark, sf):
    d = _docs(spark, sf).withColumn(
        "text", F.substring(F.col("text"), 1, 120))
    return dedup_text.minhash_lsh(
        d, num_hashes=32, bands=8, verify_threshold=0.5,
        n_partitions=spark.sparkContext.defaultParallelism)


def q_simhash_neardup(spark, sf):
    d = _docs(spark, sf)
    return dedup_text.simhash_neardup(d, max_hamming=8)


def q_ngram_jaccard(spark, sf):
    d = _docs(spark, sf).withColumn(
        "text", F.substring(F.col("text"), 1, 120))
    return dedup_text.ngram_jaccard_pairs(
        d, threshold=0.3,
        n_partitions=spark.sparkContext.defaultParallelism)


def q_ann_lsh(spark, sf):
    """Hyperplane-LSH top-k. The fixture's true top-5 neighbors sit at
    cosine 0.26-0.39, so the probe budget is sized for low similarity
    (auto_lsh_params territory: 4-plane tables, many of them) —
    measured recall@5 ≈ 0.9 vs ann_topk on the fixture
    (tests/test_approx_recall.py)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    return ann.lsh_topk(emb, queries, k=5, n_planes=4, n_tables=24)


def q_ann_ivf(spark, sf):
    """IVF top-k: deterministic hash-seeded codebook + 2 Lloyd steps,
    n_probe-cell probing, exact cosine rerank — the ANN scale path
    beside the hyperplane-LSH one (recall pinned vs ann_topk in
    tests/test_approx_recall.py)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    return ann.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=6)


def q_embedding_neardup(spark, sf):
    """LSH-blocked cosine near-dup with self-tuned (planes, tables)
    from auto_lsh_params — recall-targeted instead of hand-guessed
    (the old (6, 6) delivered near-zero recall at threshold 0.5)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann.embedding_neardup(emb, threshold=0.5)


def q_image_features(spark, sf):
    """REAL image decode: solid-gray BMPs derived from doc_id →
    decode_bmp → width/height + 8-bin gray-histogram embedding; every
    output value is a closed-form function of doc_id the oracle
    recomputes."""
    d = _docs(spark, sf).select("doc_id")
    media = multimodal.make_real_media(d, "image")
    feats = multimodal.image_features(media, dims=8,
                                      deterministic=False)
    bins = [F.round(F.element_at("embedding", i + 1).cast("double"), 6)
            .alias(f"e{i}") for i in range(8)]
    return feats.select("media_id", "width", "height", *bins)


def q_audio_features(spark, sf):
    """REAL WAV decode: constant-amplitude PCM clips derived from
    doc_id → stdlib wave parse → duration/rate + RMS-envelope
    embedding (exact k/8 values)."""
    d = _docs(spark, sf).select("doc_id")
    media = multimodal.make_real_media(d, "audio")
    feats = multimodal.audio_features(media, dims=8,
                                      deterministic=False)
    bins = [F.round(F.element_at("embedding", i + 1).cast("double"), 6)
            .alias(f"e{i}") for i in range(8)]
    return feats.select("media_id", "duration_ms", "sample_rate",
                        *bins)


def q_video_frames(spark, sf):
    """REAL Y4M frame sampling: multi-frame solid-luma videos derived
    from doc_id → every-2nd frame up to 3 → per-frame PGM decode →
    mean luma (two composed Arrow stages, bytes never leave
    workers)."""
    d = _docs(spark, sf).select("doc_id")
    media = multimodal.make_real_media(d, "video")
    fr = multimodal.sample_frames(media, every_n=2, max_frames=3,
                                  deterministic=False)
    ff = multimodal.frame_features(fr)
    return ff.select(
        "media_id", "frame_idx", "width", "height",
        F.round(F.col("mean_luma").cast("double"), 6)
        .alias("mean_luma"))


# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: generate round over the derived frontier at sf0.001."""
    return q_generate_topn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ordering IS the verification budget: the driver's
    correctness gate checks only the FIRST 50 entries, so queries that
    have never had a driver-green row — plus any whose module changed
    this round — go in FRONT, and multi-round-stable greens rotate to
    the back. (Round-4 lesson: appending new queries past slot 50
    left 12 oracle-backed operators driver-unverified.)"""
    return {
        # -- never driver-checked before round 5 (r04 slots 51+) -----
        "cuckoo_seen": q_cuckoo_seen,
        "similarity_score": q_similarity_score,
        "parse_reltags": q_parse_reltags,
        "index_replace": q_index_replace,
        "nb_outlink_filter": q_nb_outlink_filter,
        "cc_license": q_cc_license,
        "js_links": q_js_links,
        "link_dumper": q_link_dumper,
        "node_reader": q_node_reader,
        "loop_reader": q_loop_reader,
        # real decode kernels (BMP/WAV/Y4M) over derived fixtures —
        # oracle-checked end-to-end (encode → decode → features)
        "media_image_decode": q_image_features,
        "media_audio_decode": q_audio_features,
        "media_video_frames": q_video_frames,
        # -- new in round 5 -------------------------------------------
        "parse_swf": q_parse_swf,
        "parse_ext": q_parse_ext,
        "html_lang": q_html_lang,
        "parse_replace": q_parse_replace,
        "urlmeta_outlinks": q_urlmeta_outlinks,
        "parse_dispatch_segment": q_parse_dispatch_segment,
        "automaton_filter": q_automaton_filter,
        "parse_pdf": q_parse_pdf,
        "parse_oo": q_parse_oo,
        "parse_rtf": q_parse_rtf,
        "parse_msword": q_parse_msword,
        "image_meta": q_image_meta,
        # -- module changed since last driver-green row ---------------
        "linkrank": q_linkrank,
        "loops_detect": q_loops_detect,
        "linkdb_invert": q_linkdb_invert,
        "webgraph_degrees": q_webgraph_degrees,
        # -- r03 greens that rotated out of the r04 window ------------
        "crawldb_url": q_crawldb_url,
        "readlinkdb": q_readlinkdb,
        "nodedumper": q_nodedumper,
        "score_updater": q_score_updater,
        "segment_merge": q_segment_merge,
        "updatedb_adaptive": q_updatedb_adaptive,
        "free_generate": q_free_generate,
        "simhash_hamming": q_simhash_hamming,
        "ngram_jaccard_exact": q_ngram_jaccard_exact,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        # -- single-round greens (r04 first-timers) + touched modules -
        "updatedb_fetch": q_updatedb_fetch,
        "updatedb_linked": q_updatedb_linked,
        "parse_dispatch": q_parse_dispatch,
        "parse_metatags": q_parse_metatags,
        "parse_headings": q_parse_headings,
        "feed_parse": q_feed_parse,
        "zip_parse": q_zip_parse,
        "cleaning_job": q_cleaning_job,
        "filter_checker": q_filter_checker,
        "normalizer_checker": q_normalizer_checker,
        "indexer_filters": q_indexer_filters,
        # ==== driver slot 50 boundary: indexer_filters is slot 49
        # (0-indexed; cuckoo_seen's slot-0 insert pushed indexer_geoip
        # out — it holds an r04 green row) ============================
        "indexer_geoip": q_indexer_geoip,
        # -- multi-round-stable greens (r03+r04), rotated out ---------
        "warc_ingest": q_warc_ingest,
        "fetch_politeness": q_fetch_politeness,
        "fetch_politeness_threads": q_fetch_politeness_threads,
        "generate_hostcap": q_generate_hostcap,
        "generate_segments": q_generate_segments,
        "dedup_clusters": q_dedup_clusters,
        "dmoz_parse": q_dmoz_parse,
        "file_dumper": q_file_dumper,
        "crawldb_dump": q_crawldb_dump,
        "dedup_substrings": q_dedup_substrings,
        "generate_topn": q_generate_topn,
        "inject_new": q_inject_new,
        "inject_merge": q_inject_merge,
        "dedup_mark": q_dedup_mark,
        "crawldb_stats": q_crawldb_stats,
        "crawldb_topn": q_crawldb_topn,
        "domain_stats": q_domain_stats,
        "domain_stats_domain": q_domain_stats_domain,
        "crawldb_merge": q_crawldb_merge,
        "indexer_docs": q_indexer_docs,
        "indexer_deletes": q_indexer_deletes,
        "parse_extract": q_parse_extract,
        "doc_tokens": q_doc_tokens,
        "doc_quality": q_doc_quality,
        "doc_langid": q_doc_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dedup": q_exact_dedup,
        "doc_repetition": q_doc_repetition,
        "paragraph_dedup": q_paragraph_dedup,
        "pii_scrub": q_pii_scrub,
        "stratified_sample": q_stratified_sample,
        "decontaminate": q_decontaminate,
        "duplicate_spans": q_duplicate_spans,
        "ann_topk": q_ann_topk,
        "events_hourly": q_events_hourly,
        # rows-only (non-SQL-expressible LSH recall); each has an
        # exact oracle-checked sibling or a recall test
        # (tests/test_approx_recall.py) pinning its quality
        "minhash_lsh": q_minhash_lsh,
        "simhash_neardup": q_simhash_neardup,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_neardup": q_embedding_neardup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "generate_topn": CRAWLDB_CTE + """
SELECT url, ROUND(score, 4) AS score
FROM crawldb
WHERE fetch_time <= 1000000000000
ORDER BY score DESC, url ASC
LIMIT 50""",

        "generate_hostcap": CRAWLDB_CTE + """
SELECT url FROM (
  SELECT url, ROW_NUMBER() OVER (
      PARTITION BY host ORDER BY score DESC, url ASC) AS rn
  FROM crawldb WHERE fetch_time <= 1000000000000)
WHERE rn <= 2""",

        # maxCount=3, maxNumSegments=3: seg1 holds maxCount-1=2 rows
        # per host (pre-increment quirk), seg2/3 hold 3 each, capacity
        # 2+3+3=8 (Generator.java:293-327)
        "generate_segments": CRAWLDB_CTE + """
SELECT url,
       CASE WHEN rn < 3 THEN 1
            ELSE 2 + CAST(FLOOR((rn - 3) / 3.0) AS INTEGER)
       END AS segnum
FROM (
  SELECT url, ROW_NUMBER() OVER (
      PARTITION BY host ORDER BY score DESC, url ASC) AS rn
  FROM crawldb WHERE fetch_time <= 1000000000000)
WHERE rn <= 8""",

        "loops_detect": LOOPS_CTE + """
SELECT lf AS url, CAST(COUNT(*) AS INTEGER) AS n_loops
FROM f GROUP BY lf""",

        # point lookup of one loop set; the fixture pins the url to
        # the lexicographically-smallest looping url on both sides
        "loop_reader": LOOPS_CTE + """
SELECT lf AS url, fh AS loop_url FROM f
WHERE lf = (SELECT MIN(lf) FROM f)""",

        # every synthetic host is hostN.test; 'test' is absent from
        # the IANA suffix table, so the reference walk yields domain
        # 'test' for all rows (URLUtil.getDomainName fall-out)
        "domain_stats_domain": CRAWLDB_CTE + """
SELECT 'test' AS domain, COUNT(*) AS n,
       CAST(SUM(CASE WHEN status IN ('db_fetched', 'db_notmodified')
                     THEN 1 ELSE 0 END) AS BIGINT) AS fetched
FROM crawldb""",

        "inject_new": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'db_unfetched' AS status,
       CAST(1000 AS BIGINT) AS fetch_time,
       CAST(1.0 AS DOUBLE) AS score,
       CAST(2592000 AS INTEGER) AS fetch_interval
FROM documents WHERE doc_id % 3 = 0""",

        "inject_merge": CRAWLDB_CTE + """
SELECT url, status, fetch_time, retries, fetch_interval,
       ROUND(score, 4) AS score
FROM crawldb WHERE doc_id % 2 = 0
UNION ALL
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'db_unfetched' AS status,
       CAST(1000 AS BIGINT) AS fetch_time,
       CAST(0 AS INTEGER) AS retries,
       CAST(2592000 AS INTEGER) AS fetch_interval,
       ROUND(1.0, 4) AS score
FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0""",

        "updatedb_fetch": CRAWLDB_CTE + """
SELECT url,
       CASE WHEN doc_id % 3 = 0 THEN 'db_fetched' ELSE status END
         AS status,
       CASE WHEN doc_id % 3 = 0
            THEN 2000000000 + CAST(fetch_interval AS BIGINT) * 1000
            ELSE fetch_time END AS fetch_time,
       CASE WHEN doc_id % 3 = 0 THEN 0 ELSE retries END AS retries,
       fetch_interval,
       ROUND(score, 4) AS score,
       CASE WHEN doc_id % 3 = 0 THEN md5(text || 'v2')
            ELSE signature END AS signature
FROM crawldb""",

        "updatedb_linked": """
SELECT 'http://host' || CAST(l_partkey % 40 AS VARCHAR) || '.test/p'
         || CAST(l_partkey AS VARCHAR) AS url,
       'db_unfetched' AS status,
       CAST(5000 AS BIGINT) AS fetch_time,
       CAST(0 AS INTEGER) AS retries,
       CAST(2592000 AS INTEGER) AS fetch_interval,
       ROUND(SUM(l_quantity / 100.0), 4) AS score
FROM lineitem
GROUP BY l_partkey""",

        "dedup_mark": """
WITH db AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         (doc_id % 7) * 1000 AS fetch_time,
         CAST(doc_id % 13 AS DOUBLE) / 2.0 AS score,
         md5(CAST(n_chars % 25 AS VARCHAR)) AS signature
  FROM documents)
SELECT url FROM (
  SELECT url, ROW_NUMBER() OVER (
      PARTITION BY signature
      ORDER BY score DESC, fetch_time DESC, LENGTH(url) ASC, url ASC)
    AS rn
  FROM db)
WHERE rn > 1""",

        "crawldb_stats": CRAWLDB_CTE + """
SELECT status, COUNT(*) AS n,
       ROUND(MIN(CAST(FLOOR(score * 1000) AS BIGINT)) / 1000.0, 4)
         AS score_min,
       ROUND(MAX(CAST(FLOOR(score * 1000) AS BIGINT)) / 1000.0, 4)
         AS score_max,
       ROUND(SUM(CAST(FLOOR(score * 1000) AS BIGINT)) / 1000.0
             / COUNT(*), 4) AS score_avg,
       MAX(retries) AS max_retries
FROM crawldb GROUP BY status""",

        "crawldb_topn": CRAWLDB_CTE + """
SELECT url, ROUND(score, 4) AS score
FROM crawldb ORDER BY score DESC, url ASC LIMIT 25""",

        "domain_stats": CRAWLDB_CTE + """
SELECT host, COUNT(*) AS n,
       CAST(SUM(CASE WHEN status IN ('db_fetched', 'db_notmodified')
                     THEN 1 ELSE 0 END) AS BIGINT) AS fetched
FROM crawldb GROUP BY host""",

        "linkdb_invert": "WITH " + EDGE_SQL + """
SELECT to_url AS url, COUNT(*) AS n_inlinks
FROM (SELECT DISTINCT to_url, from_url, anchor FROM edges
      WHERE from_host <> to_host)
GROUP BY to_url""",

        "webgraph_degrees": "WITH " + EDGE_SQL + """,
e AS (SELECT DISTINCT from_url, to_url FROM edges),
o AS (SELECT from_url AS url, COUNT(*) AS out_degree FROM e GROUP BY 1),
i AS (SELECT to_url AS url, COUNT(*) AS in_degree FROM e GROUP BY 1)
SELECT COALESCE(o.url, i.url) AS url,
       COALESCE(in_degree, 0) AS in_degree,
       COALESCE(out_degree, 0) AS out_degree
FROM o FULL OUTER JOIN i ON o.url = i.url""",

        "crawldb_merge": CRAWLDB_CTE + """
SELECT url, status,
       CASE WHEN doc_id % 2 = 0 THEN fetch_time + 500000000
            ELSE fetch_time END AS fetch_time,
       CASE WHEN doc_id % 2 = 0 THEN ROUND(score + 1.0, 4)
            ELSE ROUND(score, 4) END AS score
FROM crawldb""",

        "indexer_docs": CRAWLDB_CTE + """
SELECT url, host, 'T' || CAST(doc_id AS VARCHAR) AS title,
       signature AS digest,
       ROUND(SQRT(score), 6) AS boost,
       CAST(3000000 AS BIGINT) AS fetched_at
FROM crawldb WHERE doc_id % 2 = 0""",

        # delete-rule precedence: robots_noindex > gone > redirect >
        # duplicate; gone/redirect/duplicate require BOTH db and fetch
        # rows; duplicate additionally requires the parse row
        "indexer_deletes": """
WITH db AS (
  SELECT doc_id,
         'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 7 = 0 THEN 'db_gone'
              WHEN doc_id % 7 = 1 THEN 'db_redir_temp'
              WHEN doc_id % 7 = 2 THEN 'db_redir_perm'
              WHEN doc_id % 7 = 3 THEN 'db_duplicate'
              ELSE 'db_fetched' END AS db_status
  FROM documents),
cf AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 11 = 0 THEN 'fetch_gone'
              WHEN doc_id % 11 = 1 THEN 'fetch_redir_temp'
              ELSE 'fetch_success' END AS fetch_status
  FROM documents WHERE doc_id % 3 <> 0),
pd AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 13 = 0 THEN 'noindex,follow'
              ELSE 'index,follow' END AS robots
  FROM documents WHERE doc_id % 2 = 0),
j AS (
  SELECT db.url AS url, db_status, fetch_status, robots,
         pd.url IS NOT NULL AS has_pd
  FROM db LEFT JOIN cf ON db.url = cf.url
          LEFT JOIN pd ON db.url = pd.url),
r AS (
  SELECT url,
         CASE WHEN has_pd AND robots LIKE '%noindex%'
                THEN 'robots_noindex'
              WHEN fetch_status IS NOT NULL
                   AND (fetch_status = 'fetch_gone'
                        OR db_status = 'db_gone') THEN 'gone'
              WHEN fetch_status IS NOT NULL
                   AND (fetch_status IN ('fetch_redir_temp',
                                         'fetch_redir_perm')
                        OR db_status IN ('db_redir_temp',
                                         'db_redir_perm'))
                THEN 'redirect'
              WHEN fetch_status IS NOT NULL AND has_pd
                   AND db_status = 'db_duplicate' THEN 'duplicate'
         END AS reason
  FROM j)
SELECT url, reason FROM r WHERE reason IS NOT NULL""",

        # full indexing-filter chain: basic truncation -> anchor dedup
        # -> index-more header fields -> index-metadata -> index-static
        # -> tld -> mimetype accept (drops null-type) -> subcollection
        # ip = 10.(doc_id%80).x.y; blocks of 20 in the 2nd octet map
        # to the three synthetic city-db ranges, 60-79 uncovered
        "indexer_geoip": """
WITH base AS (
  SELECT doc_id,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
      || CAST(doc_id AS VARCHAR) AS url,
    '10.' || CAST(doc_id % 80 AS VARCHAR) || '.'
      || CAST(doc_id % 256 AS VARCHAR) || '.'
      || CAST(doc_id % 250 AS VARCHAR) AS ip,
    CAST((doc_id % 80) // 20 AS INTEGER) AS blk
  FROM documents)
SELECT url, ip,
  CASE blk WHEN 0 THEN 'Alpha' WHEN 1 THEN 'Beta'
           WHEN 2 THEN 'Gamma' END AS city_name,
  CASE blk WHEN 0 THEN 'AA' WHEN 1 THEN 'BB'
           WHEN 2 THEN 'CC' END AS country_iso,
  CASE blk WHEN 0 THEN 'Alphaland' WHEN 1 THEN 'Betania'
           WHEN 2 THEN 'Gammia' END AS country_name,
  CASE blk WHEN 0 THEN '1.5,-2.25'
           WHEN 1 THEN '-33.0,151.25' END AS lat_lon,
  CASE blk WHEN 0 THEN 'UTC' WHEN 1 THEN 'Australia/Beta'
           WHEN 2 THEN 'America/Gamma' END AS time_zone,
  CASE blk WHEN 0 THEN '11111' WHEN 1 THEN '22222' END AS postal_code,
  CASE blk WHEN 0 THEN 'EU' WHEN 1 THEN 'OC'
           WHEN 2 THEN 'NA' END AS continent_code
FROM base""",

        "indexer_filters": """
WITH base AS (
  SELECT doc_id, text,
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      WHEN 2 THEN 'net' ELSE 'co.uk' END AS tld,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN 'text/html'
      WHEN 1 THEN 'application/pdf' END AS type,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN 'Text/HTML; charset=utf-8'
      WHEN 1 THEN 'application/pdf' END AS raw_content_type,
    CAST(doc_id % 97 AS DOUBLE) / 10.0 AS score,
    CASE WHEN doc_id % 10 <> 0
         THEN repeat('t', CAST(LEAST(1 + doc_id % 149, 100) AS INTEGER))
         ELSE 'f' || CAST(doc_id AS VARCHAR) || '.pdf' END AS title,
    CAST(1000 + doc_id % 500 AS BIGINT) AS content_length,
    CASE WHEN doc_id % 2 = 0
         THEN 1600000000000 + doc_id END AS lm
  FROM documents),
b2 AS (
  SELECT *,
    'host' || CAST(doc_id % 40 AS VARCHAR) || '.' || tld AS host,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.' || tld
      || '/p' || CAST(doc_id AS VARCHAR) AS url
  FROM base)
SELECT url, host, tld, title,
  array_to_string(['A' || CAST(doc_id % 3 AS VARCHAR), 'B'], '|')
    AS anchors,
  SUBSTR(text, 1, 40) AS text,
  type,
  split_part(type, '/', 1) AS primary_type,
  split_part(type, '/', 2) AS sub_type,
  content_length,
  lm AS last_modified_ms,
  COALESCE(lm, 3000000) AS date_ms,
  raw_content_type,
  'webcrawl' AS source,
  't1|t2' AS tags,
  COALESCE(array_to_string(list_filter([
    CASE WHEN url LIKE '%/p1%' AND url NOT LIKE '%host1.%'
         THEN 'p1s' END,
    CASE WHEN url LIKE '%.com/%' THEN 'coms' END],
    x -> x IS NOT NULL), '|'), '') AS subcollection,
  ROUND(SQRT(score), 6) AS boost
FROM b2 WHERE type IS NOT NULL""",

        "parse_extract": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g') AS text,
       md5(text) AS signature
FROM documents""",

        "doc_tokens": r"""
SELECT doc_id,
       CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END
         AS tokens_ws,
       LEN(REGEXP_EXTRACT_ALL(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens_bpe
FROM documents""",

        "doc_quality": r"""
WITH ft AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END
           AS n_tokens,
         LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '', 'g')) AS n_upper,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(the|and|of|to|is|in|that|with)\b')) AS n_stop
  FROM documents)
SELECT doc_id,
       ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1), 6)
         AS alpha_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1), 6)
         AS stopword_ratio,
       ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
              + LEAST(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1)
                      / 0.6, 1.0)
              + (1.0 - LEAST(CAST(n_upper AS DOUBLE)
                             / GREATEST(n_chars, 1) * 4.0, 1.0))
              + LEAST(CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1)
                      * 5.0, 1.0)) / 4.0, 6) AS quality
FROM ft""",

        # language-identifier detect/identify policy (see q_html_lang);
        # class 4's identify stage is the same stopword argmax as
        # doc_langid, with its ascending-code tie-break
        "html_lang": r"""
WITH c AS (
  SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(the|and|of|to|is|in|that|with)\b')) AS c_en,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(der|die|und|das|ist|nicht|mit|ein)\b')) AS c_de,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(le|la|les|et|est|une|dans|pour)\b')) AS c_fr,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(el|los|que|es|una|por|con|para)\b')) AS c_es
  FROM documents)
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 5 = 0 THEN 'sv'
            WHEN doc_id % 5 = 1 THEN 'en'
            WHEN doc_id % 5 = 2 THEN 'sv'
            WHEN doc_id % 5 = 3 THEN 'fi-FI'
            WHEN GREATEST(c_en, c_de, c_fr, c_es) <= 0 THEN 'und'
            WHEN c_de = GREATEST(c_en, c_de, c_fr, c_es) THEN 'de'
            WHEN c_en = GREATEST(c_en, c_de, c_fr, c_es) THEN 'en'
            WHEN c_es = GREATEST(c_en, c_de, c_fr, c_es) THEN 'es'
            ELSE 'fr' END AS lang
FROM c""",

        "doc_langid": r"""
WITH c AS (
  SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(the|and|of|to|is|in|that|with)\b')) AS c_en,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(der|die|und|das|ist|nicht|mit|ein)\b')) AS c_de,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(le|la|les|et|est|une|dans|pour)\b')) AS c_fr,
         LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '\b(el|los|que|es|una|por|con|para)\b')) AS c_es
  FROM documents)
SELECT doc_id,
       CASE WHEN GREATEST(c_en, c_de, c_fr, c_es) <= 0 THEN 'und'
            WHEN c_de = GREATEST(c_en, c_de, c_fr, c_es) THEN 'de'
            WHEN c_en = GREATEST(c_en, c_de, c_fr, c_es) THEN 'en'
            WHEN c_es = GREATEST(c_en, c_de, c_fr, c_es) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM c""",

        "doc_fingerprint": r"""
SELECT doc_id,
       md5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'))
         AS fingerprint
FROM documents""",

        "exact_dedup": r"""
WITH fp AS (
  SELECT doc_id,
         md5(REGEXP_REPLACE(LOWER(TRIM(SUBSTRING(text, 1, 25))),
             '\s+', ' ', 'g')) AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint,
       MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep_id
FROM fp
QUALIFY COUNT(*) OVER (PARTITION BY fingerprint) > 1""",

        # transitive closure by recursive CTE: every node accumulates
        # every label reachable through the undirected edge set; MIN =
        # the component's smallest id (what large/small-star converges
        # to); keep = longest text then smallest id per cluster
        "dedup_clusters": """
WITH RECURSIVE
e AS (
  SELECT doc_id AS u, doc_id - (doc_id % 5) AS v
  FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, doc_id - 5 FROM documents WHERE doc_id % 10 = 5
  UNION ALL
  SELECT doc_id, doc_id - 10 FROM documents
  WHERE doc_id % 50 = 0 AND doc_id >= 50),
und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
walk(u, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT und.u, walk.lbl FROM und JOIN walk ON und.v = walk.u),
comp AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u)
SELECT c.doc_id, c.cluster_id,
       ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                          ORDER BY LENGTH(d.text) DESC, c.doc_id) = 1
         AS keep
FROM comp c JOIN documents d ON c.doc_id = d.doc_id""",

        # Gopher repetition signals over the derived 3-line text
        # (line 3 repeats line 1) + top word-2-gram coverage
        "doc_repetition": r"""
WITH lined AS (
  SELECT doc_id,
         SUBSTRING(text, 1, 40) || CHR(10) || SUBSTRING(text, 21, 40)
           || CHR(10) || SUBSTRING(text, 1, 40) AS ltext,
         LOWER(TRIM(text)) AS nt
  FROM documents),
rep AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(ltext, '\n+'),
                     x -> LENGTH(TRIM(x)) > 0) AS l
  FROM lined),
repf AS (
  SELECT doc_id,
         ROUND((LEN(l) - LEN(LIST_DISTINCT(l)))
               / CAST(LEN(l) AS DOUBLE), 6) AS dup_line_frac,
         ROUND((LIST_SUM(LIST_TRANSFORM(l, x -> LENGTH(x)))
                - LIST_SUM(LIST_TRANSFORM(LIST_DISTINCT(l),
                                          x -> LENGTH(x))))
               / CAST(LIST_SUM(LIST_TRANSFORM(l, x -> LENGTH(x)))
                      AS DOUBLE), 6) AS dup_line_char_frac
  FROM rep WHERE LEN(l) > 0),
w AS (
  SELECT doc_id, STRING_SPLIT_REGEX(nt, '\s+') AS words
  FROM lined WHERE LENGTH(nt) > 0),
wc AS (
  SELECT doc_id, words,
         LENGTH(ARRAY_TO_STRING(words, ' ')) AS chars
  FROM w WHERE LEN(words) >= 2),
g AS (
  SELECT doc_id, chars, words[i] || ' ' || words[i + 1] AS g
  FROM wc, UNNEST(GENERATE_SERIES(1, LEN(words) - 1)) AS t(i)),
cnt AS (
  SELECT doc_id, chars, g, COUNT(*) AS cnt FROM g GROUP BY ALL),
top AS (
  SELECT doc_id, g AS top_ngram, cnt AS top_count,
         ROUND(cnt * LENGTH(g) / CAST(chars AS DOUBLE), 6)
           AS top_ngram_char_frac
  FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY cnt DESC, LENGTH(g) DESC, g ASC) AS rn
        FROM cnt)
  WHERE rn = 1)
SELECT r.doc_id, r.dup_line_frac, r.dup_line_char_frac,
       t.top_ngram, t.top_count, t.top_ngram_char_frac
FROM repf r JOIN top t USING (doc_id)""",

        # corpus paragraph dedup: first (doc_id, pos) occurrence of
        # each lowercased/trimmed paragraph wins; survivors rebuilt
        # in original order
        "paragraph_dedup": r"""
WITH lined AS (
  SELECT doc_id,
         SUBSTRING(text, 1, 40) || CHR(10) || SUBSTRING(text, 21, 40)
           || CHR(10) || SUBSTRING(text, 1, 40) AS text
  FROM documents),
lsplit AS (
  SELECT doc_id, STRING_SPLIT_REGEX(text, '\n+') AS l FROM lined),
paras0 AS (
  SELECT doc_id, UNNEST(l) AS para,
         UNNEST(GENERATE_SERIES(1, LEN(l))) AS pos
  FROM lsplit),
paras AS (
  SELECT doc_id, pos, para, LOWER(TRIM(para)) AS fp
  FROM paras0 WHERE LENGTH(TRIM(para)) > 0),
marked AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1
           AS keep
  FROM paras),
agg AS (
  SELECT doc_id, COUNT(*) AS n_paragraphs,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           AS n_removed,
         COALESCE(STRING_AGG(CASE WHEN keep THEN para END, CHR(10)
                             ORDER BY pos), '') AS text
  FROM marked GROUP BY doc_id)
SELECT d.doc_id, COALESCE(a.text, '') AS text,
       COALESCE(a.n_paragraphs, 0) AS n_paragraphs,
       COALESCE(a.n_removed, 0) AS n_removed
FROM documents d LEFT JOIN agg a USING (doc_id)""",

        # same regexp chain (RE2-compatible patterns), same order:
        # count-then-replace email, then ipv4, then phone
        "pii_scrub": r"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com at 10.0.'
           || CAST(doc_id % 256 AS VARCHAR)
           || '.1 or +1 (555) 010-'
           || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(LEN(REGEXP_EXTRACT_ALL(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           AS BIGINT) AS n_email,
         REGEXP_REPLACE(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM pii),
s2 AS (
  SELECT doc_id, n_email,
         CAST(LEN(REGEXP_EXTRACT_ALL(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
           AS n_ipv4,
         REGEXP_REPLACE(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
             '<IP>', 'g') AS t2
  FROM s1)
SELECT doc_id,
       REGEXP_REPLACE(t2, '\+\d[\d() -]{7,14}\d', '<PHONE>', 'g')
         AS text,
       n_email, n_ipv4,
       CAST(LEN(REGEXP_EXTRACT_ALL(t2, '\+\d[\d() -]{7,14}\d'))
         AS BIGINT) AS n_phone
FROM s2""",

        # Knuth multiplicative sample key, plain BIGINT arithmetic;
        # input reduced mod 2^31 first so the product never overflows
        # int64 (mirrors corpus.sample_key's overflow-safe form)
        "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE ((((doc_id % 2147483648 + 2147483648) % 2147483648)
        * 2654435761) % 4294967296) / 4294967296.0 <
      CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                WHEN 'de' THEN CAST(0.25 AS DOUBLE)
                WHEN 'fr' THEN CAST(0.75 AS DOUBLE)
                WHEN 'es' THEN CAST(0.1 AS DOUBLE)
                WHEN 'zh' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END""",

        # group-shared-tail fixture: the 10-word window at pos 1 is
        # duplicated across each 5-doc group (singleton groups yield
        # nothing)
        "duplicate_spans": """
WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
c AS (SELECT grp, COUNT(*) AS n, MIN(doc_id) AS first
      FROM g GROUP BY grp)
SELECT doc_id, CAST(1 AS INTEGER) AS pos,
       doc_id = first AS canonical
FROM g JOIN c USING (grp) WHERE n > 1""",

        "dedup_substrings": """
WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
c AS (SELECT grp, COUNT(*) AS n, MIN(doc_id) AS first
      FROM g GROUP BY grp)
SELECT doc_id,
       CASE WHEN n > 1 AND doc_id <> first
            THEN 'u' || CAST(doc_id AS VARCHAR)
            ELSE 'u' || CAST(doc_id AS VARCHAR) || ' '
                 || ARRAY_TO_STRING(LIST_TRANSFORM(
                        GENERATE_SERIES(0, 9),
                        j -> 'g' || CAST(grp AS VARCHAR) || 'w'
                             || CAST(j AS VARCHAR)), ' ')
       END AS text,
       CAST(11 AS BIGINT) AS n_words,
       CAST(CASE WHEN n > 1 AND doc_id <> first THEN 10 ELSE 0 END
            AS BIGINT) AS n_removed_words
FROM g JOIN c USING (grp)""",

        # real WARC record walk: every field is doc_id arithmetic;
        # n_bytes counts UTF-8 octets (STRLEN) matching the binary
        # body length
        "warc_ingest": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       STRFTIME(TIMESTAMP '2024-01-01 00:00:00'
                + (doc_id % 86400) * INTERVAL 1 SECOND,
                '%Y-%m-%d %H:%M:%S') AS warc_time,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
            AS INTEGER) AS http_status,
       CAST(STRLEN(text) AS BIGINT) AS n_bytes
FROM documents""",

        # parse-zip round trip: text / outlinks / truncation gate all
        # from doc_id arithmetic (see q_zip_parse)
        "zip_parse": """
WITH d AS (SELECT doc_id AS i, text, doc_id // 8 AS g FROM documents),
a AS (
  SELECT g,
         string_agg('p' || CAST(i AS VARCHAR) || '.txt ' || text
                    || ' p' || CAST(i AS VARCHAR) || '.html w'
                    || CAST(i AS VARCHAR) || ' ', '' ORDER BY i) AS text,
         string_agg('http://l.test/' || CAST(i AS VARCHAR), '|'
                    ORDER BY i) AS links,
         string_agg('w' || CAST(i AS VARCHAR), '|' ORDER BY i) AS anchors,
         COUNT(*) AS n
  FROM d GROUP BY g)
SELECT 'http://zips.test/z' || CAST(g AS VARCHAR) || '.zip' AS url,
       CASE WHEN g % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       '' AS title,
       CASE WHEN g % 13 = 0 THEN NULL ELSE text END AS text,
       CASE WHEN g % 13 = 0 THEN '' ELSE links END AS links,
       CASE WHEN g % 13 = 0 THEN '' ELSE anchors END AS anchors,
       CAST(CASE WHEN g % 13 = 0 THEN 0 ELSE n END AS INT) AS n_links
FROM a""",

        # parse-swf round trip: text / outlinks / truncation gate all
        # from doc_id arithmetic (see q_parse_swf); the codec is
        # golden-verified separately against the reference samples
        "parse_swf": """
SELECT 'http://swf.test/m' || CAST(doc_id AS VARCHAR) || '.swf' AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       '' AS title,
       CASE WHEN doc_id % 13 = 0 THEN ''
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR)
                 || ' see http://t.test/d' || CAST(doc_id AS VARCHAR)
                 || ' body ' || CAST(doc_id % 3 AS VARCHAR)
                 || chr(10) || '--------'
                 || chr(10) || 'kw' || CAST(doc_id % 5 AS VARCHAR)
                 || chr(10) || 'tag' || CAST(doc_id % 7 AS VARCHAR)
       END AS text,
       CASE WHEN doc_id % 13 = 0 THEN ''
            ELSE 'http://l.test/' || CAST(doc_id AS VARCHAR)
                 || CASE WHEN doc_id % 11 = 0
                         THEN '|mailto:x@y.test' ELSE '' END
                 || '|http://t.test/d' || CAST(doc_id AS VARCHAR)
       END AS links,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                 WHEN doc_id % 11 = 0 THEN 3 ELSE 2 END AS INT)
         AS n_links
FROM documents""",

        # parse-pdf round trip: text / truncation gate from doc_id
        # arithmetic (see q_parse_pdf); the codec is golden-verified
        # separately against the reference's pdftest.pdf/encrypted.pdf
        "parse_pdf": """
SELECT 'http://pdfs.test/d' || CAST(doc_id AS VARCHAR) || '.pdf' AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       '' AS title,
       CASE WHEN doc_id % 13 = 0 THEN ''
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || ' alpha'
                 || chr(10) || text
       END AS text
FROM documents""",
        # parse-oo / parse-rtf / parse-msword / image-meta round
        # trips: text / metadata / gate from doc_id arithmetic (the
        # builders ASCII-sanitize their input; the corpus is ASCII,
        # the sanitize is mirrored here exactly)
        "parse_oo": """
SELECT 'http://oo.test/d' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '.odt' ELSE '.sxw' END AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'Title ' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'en-US' END AS lang,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'OO doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                 || regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')
       END AS text
FROM documents""",
        "parse_rtf": """
SELECT 'http://rtf.test/d' || CAST(doc_id AS VARCHAR) || '.rtf' AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'Title ' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'subj' || CAST(doc_id % 7 AS VARCHAR) END AS subject,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'RTF doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                 || regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')
                 || chr(10)
       END AS text
FROM documents""",
        "parse_msword": """
SELECT 'http://docs.test/d' || CAST(doc_id AS VARCHAR) || '.doc' AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE 'Word doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                 || regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')
                 || chr(10)
       END AS text
FROM documents""",
        "image_meta": """
SELECT 'http://img.test/d' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 11 = 0 THEN 'failed'
            ELSE 'success' END AS status,
       CASE WHEN doc_id % 11 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 'image/gif'
            WHEN doc_id % 3 = 1 THEN 'image/png'
            ELSE 'image/bmp' END AS mime,
       CASE WHEN doc_id % 11 = 0 THEN NULL
            ELSE CAST(doc_id % 200 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 11 = 0 THEN NULL
            ELSE CAST(doc_id % 100 + 1 AS INT) END AS height
FROM documents""",

        # parse-ext round trip: tr/cat external commands, gates and
        # the URL sweep all from doc_id arithmetic (see q_parse_ext)
        "parse_ext": """
SELECT 'http://ext.test/p' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 17 = 0 THEN 'failed_no_command'
            WHEN doc_id % 13 = 0 THEN 'failed_truncated'
            ELSE 'success' END AS status,
       '' AS title,
       CASE WHEN doc_id % 17 = 0 OR doc_id % 13 = 0 THEN ''
            WHEN doc_id % 2 = 0
              THEN upper(text || ' ref http://e.test/d'
                         || CAST(doc_id AS VARCHAR))
            ELSE text || ' ref http://e.test/d'
                 || CAST(doc_id AS VARCHAR)
       END AS text,
       CASE WHEN doc_id % 17 = 0 OR doc_id % 13 = 0 THEN ''
            WHEN doc_id % 2 = 0
              THEN 'HTTP://E.TEST/D' || CAST(doc_id AS VARCHAR)
            ELSE 'http://e.test/d' || CAST(doc_id AS VARCHAR)
       END AS links,
       CAST(CASE WHEN doc_id % 17 = 0 OR doc_id % 13 = 0 THEN 0
                 ELSE 1 END AS INT) AS n_links
FROM documents""",

        # parse-feed round trip: every output field is doc_id
        # arithmetic (see q_feed_parse)
        "feed_parse": """
WITH d AS (SELECT doc_id AS i, text, doc_id // 16 AS g FROM documents)
SELECT 'http://host' || CAST(i % 40 AS VARCHAR) || '.test/p'
         || CAST(i AS VARCHAR) AS url,
       'entry' AS kind,
       'http://host' || CAST(g % 40 AS VARCHAR) || '.test/' AS feed,
       'Entry ' || CAST(i AS VARCHAR) AS title,
       text,
       'author' || CAST(i % 7 AS VARCHAR) AS author,
       't' || CAST(i % 5 AS VARCHAR) || '|' || 's'
         || CAST(i % 3 AS VARCHAR) AS tags,
       CAST(1704067200000 + (i % 86400) * 1000 AS BIGINT) AS published,
       CAST(CASE WHEN g % 2 = 1 THEN
            1704067200000 + (i % 86400) * 1000 + 3600000
            END AS BIGINT) AS updated
FROM d WHERE i % 11 <> 0
UNION ALL
SELECT 'http://feeds.test/feed' || CAST(g AS VARCHAR) AS url,
       'feed' AS kind, NULL AS feed,
       'Feed ' || CAST(g AS VARCHAR) AS title,
       'Syndication feed ' || CAST(g AS VARCHAR) AS text,
       '' AS author, '' AS tags,
       CAST(NULL AS BIGINT) AS published, CAST(NULL AS BIGINT) AS updated
FROM (SELECT DISTINCT doc_id // 16 AS g FROM documents)""",

        # distinct word-8-gram overlap vs the every-97th-doc benchmark
        "decontaminate": r"""
WITH w AS (
  SELECT doc_id,
         STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
  FROM documents WHERE LENGTH(LOWER(TRIM(text))) > 0),
g AS (
  SELECT DISTINCT doc_id, ARRAY_TO_STRING(words[i:i+7], ' ') AS ngram
  FROM w, UNNEST(GENERATE_SERIES(1, LEN(words) - 7)) AS t(i)
  WHERE LEN(words) >= 8),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, COUNT(*) AS n FROM g JOIN bench USING (ngram)
  GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
       COALESCE(h.n, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)""",

        # real BMP decode round-trip: solid gray v = doc_id % 256 puts
        # all histogram mass in bin v * 8 // 256
        "media_image_decode": """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 9 AS INTEGER) AS width,
       CAST(8 + (doc_id * 3) % 7 AS INTEGER) AS height,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 0
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e0,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 1
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e1,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 2
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e2,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 3
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e3,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 4
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e4,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 5
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e5,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 6
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e6,
       CAST(CASE WHEN (doc_id % 256) * 8 // 256 = 7
                 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS e7
FROM documents""",

        # real WAV decode round-trip: constant amplitude (doc_id % 8)
        # * 4096 / 32768 = (doc_id % 8) / 8 is every segment's RMS
        "media_audio_decode": """
SELECT doc_id AS media_id,
       CAST((doc_id % 5 + 1) * 100 AS INTEGER) AS duration_ms,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            ELSE 44100 END AS INTEGER) AS sample_rate,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e0,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e1,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e2,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e3,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e4,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e5,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e6,
       CAST(doc_id % 8 AS DOUBLE) / 8 AS e7
FROM documents""",

        # real Y4M sampling: frames 0/2/4 where < frame count
        # (2 + doc_id % 6), frame i solid luma (doc_id + 17 i) % 256
        "media_video_frames": """
WITH idx AS (
  SELECT doc_id, 2 + doc_id % 6 AS nf, UNNEST([0, 2, 4]) AS fi
  FROM documents)
SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST((doc_id + 17 * fi) % 256 AS DOUBLE) AS mean_luma
FROM idx WHERE fi < nf""",

        "ann_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
sims AS (
  SELECT query_id, neighbor_id,
         LIST_SUM(LIST_TRANSFORM(LIST_ZIP(cv, qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (SQRT(LIST_SUM(LIST_TRANSFORM(cv,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * SQRT(LIST_SUM(LIST_TRANSFORM(qv,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS sim
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim, rank FROM (
  SELECT query_id, neighbor_id, sim, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims)
WHERE rank <= 5""",

        "events_hourly": """
SELECT event_type, STRFTIME(ts, '%Y-%m-%d %H') AS hour,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type, hour""",

        # virtual-time politeness: top-500 by (score desc, url asc),
        # queue = proto://host, FIFO in url_hash31 order (h=1; bytes
        # last-to-first; h=31h+b mod 2^32, signed), k-th attempted item
        # completes at start + k*5000 ms; all urls resolve to pages
        # (200) -> fetch_success
        "fetch_politeness": CRAWLDB_CTE + """
, fl AS (
  SELECT url, 'http://' || host AS queue_id FROM crawldb
  WHERE fetch_time <= 1000000000000
  ORDER BY score DESC, url ASC LIMIT 500),
h AS (
  SELECT url, queue_id,
         list_reduce(
           list_prepend(CAST(1 AS BIGINT),
             [CAST(ascii(x) AS BIGINT)
              FOR x IN regexp_extract_all(reverse(url), '.')]),
           (a, b) -> (a * 31 + b) % 4294967296) AS uh
  FROM fl)
SELECT url, 'fetch_success' AS status, queue_id,
       CAST(1000000000000 + (ROW_NUMBER() OVER (
           PARTITION BY queue_id
           ORDER BY CASE WHEN uh >= 2147483648 THEN uh - 4294967296
                         ELSE uh END ASC, url ASC) - 1) * 5000
            AS BIGINT) AS virtual_time
FROM h""",

        # threads.per.queue=3: same politeness schedule, virtual time
        # = start + floor(k/3) * min_delay(1000 ms) — wave dispatch
        # (FetchItemQueue.java:95-138, maxThreads>1 -> minCrawlDelay)
        "fetch_politeness_threads": CRAWLDB_CTE + """
, fl AS (
  SELECT url, 'http://' || host AS queue_id FROM crawldb
  WHERE fetch_time <= 1000000000000
  ORDER BY score DESC, url ASC LIMIT 500),
h AS (
  SELECT url, queue_id,
         list_reduce(
           list_prepend(CAST(1 AS BIGINT),
             [CAST(ascii(x) AS BIGINT)
              FOR x IN regexp_extract_all(reverse(url), '.')]),
           (a, b) -> (a * 31 + b) % 4294967296) AS uh
  FROM fl)
SELECT url, 'fetch_success' AS status, queue_id,
       CAST(1000000000000 + FLOOR((ROW_NUMBER() OVER (
           PARTITION BY queue_id
           ORDER BY CASE WHEN uh >= 2147483648 THEN uh - 4294967296
                         ELSE uh END ASC, url ASC) - 1) / 3.0) * 1000
            AS BIGINT) AS virtual_time
FROM h""",

        # three rows per doc: &amp; unescape, www. prefix, relative
        # resolve (the base path's last segment is replaced)
        "js_links": """
WITH d AS (SELECT doc_id,
                  'http://host' || CAST(doc_id % 40 AS VARCHAR)
                    || '.test/p' || CAST(doc_id AS VARCHAR) AS url
           FROM documents)
SELECT url, 'http://x.ex/p?a=' || CAST(doc_id AS VARCHAR) || '&b=2'
         AS to_url FROM d
UNION ALL
SELECT url, 'http://www.ex' || CAST(doc_id % 5 AS VARCHAR)
         || '.com/path' AS to_url FROM d
UNION ALL
SELECT url, 'http://host' || CAST(doc_id % 40 AS VARCHAR)
         || '.test/doc' || CAST(doc_id AS VARCHAR) || '.html'
         AS to_url FROM d""",

        # detection location by doc_id%4; %4==3 pages emit no row
        "cc_license": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'http://creativecommons.org/licenses/by/'
         || CAST(doc_id % 3 AS VARCHAR) || '.0/' AS license_url,
       CASE doc_id % 4 WHEN 0 THEN 'rdf' WHEN 1 THEN 'rel'
                       ELSE 'a' END AS license_location
FROM documents WHERE doc_id % 4 <> 3""",

        # even docs classify relevant (keep both links), odd classify
        # irrelevant (keep only the wordlist match)
        "nb_outlink_filter": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_outlinks,
       CASE WHEN doc_id % 2 = 0
            THEN 'http://x.ex/topic-hub|http://y.ex/misc'
            ELSE 'http://x.ex/topic-hub' END AS links
FROM documents""",

        # one tag per doc: last path segment of the absolute rel-tag
        # href, URL-decoded; the relative '/t/Topic%20N' href is
        # skipped (reference parseTag's `new URL` throws on it), and
        # the plain and nofollow links contribute nothing
        "parse_reltags": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'Cat' || CAST(doc_id % 7 AS VARCHAR) AS tag
FROM documents""",

        # rule 1 only on even-digit-final urls; rule 2 everywhere;
        # replaceAll semantics -> 'g'
        "index_replace": CRAWLDB_CTE + """
SELECT url,
       regexp_replace(
         CASE WHEN url SIMILAR TO '.*[02468]'
              THEN regexp_replace('T' || CAST(doc_id AS VARCHAR),
                                  '^T', 'X', 'g')
              ELSE 'T' || CAST(doc_id AS VARCHAR) END,
         '1', 'one', 'g') AS title,
       status
FROM crawldb""",

        # rule 1 (title) only on single-digit hosts host0..host9;
        # rule 2 (text digits -> '#') everywhere, all occurrences
        "parse_replace": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 40 < 10
            THEN 'H ' || CAST(doc_id AS VARCHAR)
            ELSE 'Title ' || CAST(doc_id AS VARCHAR) END AS title,
       regexp_replace(substring(text, 1, 80), '\\d', '#', 'g') AS text
FROM documents""",

        # one linked row per doc at the outlink target; campaign rides
        # along (urlmeta), 'other' is not configured so it is dropped
        "urlmeta_outlinks": """
SELECT 'http://t.ex/c' || CAST(doc_id AS VARCHAR) AS url,
       'c' || CAST(doc_id % 5 AS VARCHAR) AS campaign,
       CAST(NULL AS VARCHAR) AS other
FROM documents""",

        # gold = 'spark table row filter data' (5 terms, tf 1 each,
        # norm sqrt(5)); same tokenization, stopwords ('the','a'),
        # integer TF sums so the cosine is engine-independent
        "similarity_score": """
WITH d AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url, text
  FROM documents),
tok AS (
  SELECT url, t AS term FROM (
    SELECT url, unnest(string_split_regex(
        lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
        '\\s+')) AS t
    FROM d)
  WHERE t <> '' AND t NOT IN ('the', 'a')),
tf AS (SELECT url, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
gold AS (SELECT * FROM (VALUES ('spark', 1), ('table', 1), ('row', 1),
                               ('filter', 1), ('data', 1)) g(term, gtf)),
agg AS (
  SELECT url,
         SUM(tf * COALESCE(gtf, 0)) AS dot,
         SQRT(SUM(tf * tf)) AS norm
  FROM tf LEFT JOIN gold USING (term) GROUP BY url)
SELECT d.url,
       FLOOR(CASE WHEN COALESCE(agg.norm, 0) * SQRT(5) = 0 THEN 0.0
                  ELSE agg.dot / (agg.norm * SQRT(5)) END
             * 1000000 + 0.5) / 1000000 AS score
FROM d LEFT JOIN agg ON d.url = agg.url""",

        # two rows per doc: the name-filtered, lowercased multimap
        "parse_metatags": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'metatag.keywords' AS key, 0 AS pos,
       'k' || CAST(doc_id AS VARCHAR) AS value
FROM documents
UNION ALL
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'metatag.description' AS key, 0 AS pos,
       'd' || CAST(doc_id AS VARCHAR) AS value
FROM documents""",

        # first heading per tag, whitespace collapsed; second h1 dropped
        "parse_headings": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'h1' AS tag, 0 AS pos,
       'H1a ' || CAST(doc_id AS VARCHAR) AS heading
FROM documents
UNION ALL
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'h2' AS tag, 0 AS pos,
       'H2 ' || CAST(doc_id AS VARCHAR) AS heading
FROM documents""",

        # routes are closed-form from doc_id; the html route's text is
        # the same whitespace-collapse as parse_extract, plain is
        # verbatim, unknown mimes carry the ParserNotFound row
        "parse_dispatch": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN 'parse-html'
            WHEN doc_id % 3 = 1 THEN 'text-plain'
       END AS parser,
       CASE WHEN doc_id % 3 = 2 THEN 'failed_parser_not_found'
            ELSE 'success' END AS status,
       '' AS title,
       CASE WHEN doc_id % 3 = 0
              THEN REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')
            WHEN doc_id % 3 = 1 THEN text
       END AS text,
       0 AS n_outlinks
FROM documents""",

        # 3-way-sink dispatch: html text collapses whitespace, plain
        # decodes verbatim, unknown (pdf) rows reach NO output;
        # signature = raw-byte md5 of the content for both families
        "parse_dispatch_segment": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0
              THEN REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')
            ELSE text END AS text,
       md5(text) AS signature
FROM documents
WHERE doc_id % 3 < 2""",

        # mime is closed-form from doc_id (png magic / html tag /
        # plain); path = DumpFileUtil's md5 scheme — dir1=md5[0]+[8],
        # dir2=md5[16]+[24], {md5}_{base<=32}.{ext<=5}; text/plain
        # rows fall out of the mime filter
        "file_dumper": """
WITH c AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 5 = 0
              THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                   || '.test/img' || CAST(doc_id AS VARCHAR) || '.png'
              ELSE 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                   || '.test/p' || CAST(doc_id AS VARCHAR)
         END AS url,
         CASE WHEN doc_id % 5 = 0 THEN 'image/png'
              WHEN doc_id % 2 = 0 THEN 'text/html'
              ELSE 'text/plain' END AS mime_type,
         CASE WHEN doc_id % 5 = 0 THEN strlen(text) + 8
              WHEN doc_id % 2 = 0 THEN strlen(text) + 6
              ELSE strlen(text) END AS n_bytes,
         CASE WHEN doc_id % 5 = 0
              THEN 'img' || CAST(doc_id AS VARCHAR)
              ELSE 'p' || CAST(doc_id AS VARCHAR) END AS base,
         CASE WHEN doc_id % 5 = 0 THEN 'png' ELSE 'html' END AS ext
  FROM documents),
m AS (SELECT *, md5(url) AS h FROM c)
SELECT url, mime_type,
       substr(h, 1, 1) || substr(h, 9, 1) || '/'
         || substr(h, 17, 1) || substr(h, 25, 1) || '/'
         || h || '_' || substr(base, 1, 32) || '.' || substr(ext, 1, 5)
         AS path,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM m WHERE mime_type IN ('text/html', 'image/png')""",

        # the adult gate drops doc_id % 11 == 0; the subset gate is
        # Hadoop MD5Hash.hashCode parity: first 8 md5 hex chars as a
        # signed int32, abs, % 3 (q_dmoz_parse uses skew=0 so the xor
        # is a no-op); description = first 5 space-separated words
        "dmoz_parse": """
WITH base AS (
  SELECT doc_id,
         'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         'Top/Cat' || CAST(doc_id % 7 AS VARCHAR) AS topic,
         'T' || CAST(doc_id AS VARCHAR) AS title,
         array_to_string(string_split(text, ' ')[1:5], ' ')
           AS description
  FROM documents WHERE doc_id % 11 <> 0),
hashed AS (
  SELECT *, CASE WHEN v >= 2147483648 THEN v - 4294967296 ELSE v END
              AS h
  FROM (SELECT *, CAST(concat('0x', substr(md5(url), 1, 8)) AS BIGINT)
                    AS v
        FROM base))
SELECT url, topic, title, description
FROM hashed WHERE abs(h) % 3 = 0""",

        # verdicts are closed-form per the fixture's rule-keyed url mix
        "automaton_filter": """
SELECT url,
       CASE WHEN doc_id % 5 IN (1, 3) THEN '-'
            WHEN doc_id % 5 = 2 AND doc_id <= 99 THEN '-'
            ELSE '+' END AS verdict
FROM (SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                           || '.test/p' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN 'ftp://host' || CAST(doc_id % 40 AS VARCHAR)
                           || '.test/p' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                           || '.test/img' || CAST(doc_id AS VARCHAR)
                           || '.png'
               WHEN 3 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                           || '.test/p' || CAST(doc_id AS VARCHAR)
                           || '?q=1'
               ELSE 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                    || '.test/x/y' || CAST(doc_id AS VARCHAR)
                    || '/x/y' || CAST(doc_id AS VARCHAR) || '/x/'
             END AS url
      FROM documents)""",
        "filter_checker": """
SELECT CASE doc_id % 5
         WHEN 0 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                     || '.test/p' || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN 'ftp://host' || CAST(doc_id % 40 AS VARCHAR)
                     || '.test/p' || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                     || '.test/img' || CAST(doc_id AS VARCHAR) || '.png'
         WHEN 3 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                     || '.test/p' || CAST(doc_id AS VARCHAR) || '?q=1'
         ELSE 'http://host' || CAST(doc_id % 40 AS VARCHAR)
              || '.test/x/y' || CAST(doc_id AS VARCHAR)
              || '/x/y' || CAST(doc_id AS VARCHAR) || '/x/'
       END AS url,
       CASE WHEN doc_id % 5 = 0 THEN '+' ELSE '-' END AS verdict
FROM documents""",

        # the canonical form of the fixture's denormalized urls
        "normalizer_checker": """
SELECT 'HTTP://HOST' || CAST(doc_id % 40 AS VARCHAR)
         || '.TEST:80/a/../p' || CAST(doc_id AS VARCHAR) AS url,
       'http://host' || CAST(doc_id % 40 AS VARCHAR)
         || '.test/p' || CAST(doc_id AS VARCHAR) AS normalized
FROM documents""",

        # status remap mirrors q_cleaning_job's fixture
        "cleaning_job": CRAWLDB_CTE + """
SELECT url,
       CASE WHEN doc_id % 10 = 3 THEN 'gone'
            ELSE 'duplicate' END AS reason
FROM crawldb WHERE doc_id % 10 IN (3, 7)""",

        "crawldb_dump": CRAWLDB_CTE + """
SELECT url, status, retries, ROUND(score, 4) AS score
FROM crawldb
WHERE regexp_matches(url, '[02468]$')
  AND status = 'db_unfetched' AND retries >= 1 AND score > 2.0""",

        "crawldb_url": CRAWLDB_CTE + """
SELECT url, status, fetch_time, retries, fetch_interval,
       ROUND(score, 4) AS score
FROM crawldb WHERE url = 'http://host1.test/p41'""",

        "readlinkdb": "WITH " + EDGE_SQL + """
SELECT to_url AS url, from_url, anchor
FROM (SELECT DISTINCT to_url, from_url, anchor FROM edges
      WHERE from_host <> to_host)
WHERE to_url IN ('http://host1.test/p1', 'http://host2.test/p2',
                 'http://host3.test/p3', 'http://host4.test/p4',
                 'http://host5.test/p5')""",

        "nodedumper": "WITH " + EDGE_SQL + """,
e AS (SELECT DISTINCT from_url, to_url FROM edges),
o AS (SELECT from_url AS url, COUNT(*) AS out_degree FROM e GROUP BY 1),
i AS (SELECT to_url AS url, COUNT(*) AS in_degree FROM e GROUP BY 1),
n AS (SELECT COALESCE(o.url, i.url) AS url,
             COALESCE(in_degree, 0) AS in_degree
      FROM o FULL OUTER JOIN i ON o.url = i.url)
SELECT url, in_degree AS inlinks FROM n
ORDER BY in_degree DESC, url ASC LIMIT 20""",

        "cuckoo_seen": CRAWLDB_CTE + ", " + EDGE_SQL + """
            SELECT DISTINCT e.to_url AS url
            FROM edges e
            WHERE e.to_url NOT IN (SELECT url FROM crawldb)
        """,
        "link_dumper": CRAWLDB_CTE + ", " + EDGE_SQL + """,
e AS (SELECT DISTINCT from_url, to_url FROM edges),
s AS (SELECT e.from_url, e.to_url, COALESCE(c.score, 0.0) AS score
      FROM e LEFT JOIN crawldb c ON e.from_url = c.url)
SELECT to_url AS url,
       CAST(COUNT(*) AS INT) AS n_inlinks,
       string_agg(from_url, '|' ORDER BY from_url) AS inlinks,
       ROUND(SUM(score), 4) AS score_sum
FROM s GROUP BY to_url""",

        # NodeReader point lookup: degrees + crawldb-joined score and
        # the derived outlink score (Node.java:68); same floor
        # quantization as linkrank (identical double arithmetic on
        # both engines, no ROUND boundary dependence)
        "node_reader": CRAWLDB_CTE + ", " + EDGE_SQL + """,
e AS (SELECT DISTINCT from_url, to_url FROM edges),
o AS (SELECT from_url AS url, COUNT(*) AS out_degree FROM e GROUP BY 1),
i AS (SELECT to_url AS url, COUNT(*) AS in_degree FROM e GROUP BY 1),
n AS (SELECT COALESCE(o.url, i.url) AS url,
             COALESCE(in_degree, 0) AS in_degree,
             COALESCE(out_degree, 0) AS out_degree
      FROM o FULL OUTER JOIN i ON o.url = i.url),
ns AS (SELECT n.url, in_degree, out_degree,
              COALESCE(c.score, 0.0) AS score
       FROM n LEFT JOIN crawldb c ON n.url = c.url)
SELECT url,
       in_degree AS num_inlinks,
       out_degree AS num_outlinks,
       FLOOR(score * 10000 + 0.5) / 10000 AS inlink_score,
       FLOOR((CASE WHEN out_degree > 0 THEN score / out_degree
                   ELSE score END) * 10000 + 0.5) / 10000
         AS outlink_score
FROM ns WHERE url = 'http://host1.test/p1'""",

        "score_updater": CRAWLDB_CTE + ", " + EDGE_SQL + """,
nodes AS (SELECT from_url AS u FROM edges
          UNION SELECT to_url FROM edges)
SELECT url, status,
       ROUND(CASE WHEN url IN (SELECT u FROM nodes) THEN score
                  ELSE 0.0 END, 4) AS score
FROM crawldb""",

        # latest-per-url across segments, ties by status precedence
        "segment_merge": """
WITH seg AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 4 = 0 THEN 'fetch_retry'
              ELSE 'fetch_success' END AS status,
         CAST(1000 AS BIGINT) AS fetch_time
  FROM documents
  UNION ALL
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
           || CAST(doc_id AS VARCHAR) AS url,
         'fetch_success' AS status,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 2000 ELSE 1000 END
              AS BIGINT) AS fetch_time
  FROM documents WHERE doc_id % 3 = 0),
r AS (
  SELECT url, status, fetch_time, ROW_NUMBER() OVER (
      PARTITION BY url
      ORDER BY fetch_time DESC,
               CASE status WHEN 'fetch_success' THEN 6
                           WHEN 'fetch_notmodified' THEN 5
                           WHEN 'fetch_redir_perm' THEN 4
                           WHEN 'fetch_redir_temp' THEN 3
                           WHEN 'fetch_retry' THEN 2
                           ELSE 1 END DESC) AS rn
  FROM seg)
SELECT url, status, fetch_time FROM r WHERE rn = 1""",

        # AdaptiveFetchSchedule: signature changed -> MODIFIED ->
        # interval * (1 - dec_rate); sync_delta no-op (modified_time=0
        # -> mtime = fetch_time -> delta 0); int cast truncates
        "updatedb_adaptive": CRAWLDB_CTE + """
SELECT url,
       CASE WHEN doc_id % 3 = 0 THEN 'db_fetched' ELSE status END
         AS status,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(2000000000
                      + ROUND((3600 + doc_id % 100) * (1.0 - 0.2)
                              * 1000.0) AS BIGINT)
            ELSE fetch_time END AS fetch_time,
       CASE WHEN doc_id % 3 = 0 THEN 0 ELSE retries END AS retries,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(FLOOR((3600 + doc_id % 100) * (1.0 - 0.2))
                      AS INTEGER)
            ELSE fetch_interval END AS fetch_interval,
       ROUND(score, 4) AS score
FROM crawldb""",

        "free_generate": """
SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
         || CAST(doc_id AS VARCHAR) AS url,
       'db_unfetched' AS status,
       CAST(1000 AS BIGINT) AS fetch_time,
       CAST(2592000 AS INTEGER) AS fetch_interval,
       CAST(1.0 AS DOUBLE) AS score
FROM documents WHERE doc_id % 3 = 0""",

        # LinkRank, 3 iterations, loop exclusion + page/domain
        # contribution dedup (LinkRank.java:437-553). Every synthetic
        # host registers domain 'test', so the per-domain dedup keeps
        # exactly ONE (the max) contribution per target — each
        # iteration is rank = (1-d) + d * MAX(score(from)/deg(from)),
        # which is MAX- not SUM-aggregated and therefore bit-stable
        # across engines. Loop set = the loops_detect oracle's pairs.
        "linkrank": "WITH " + EDGE_SQL.replace("edges AS (", """
base_edges AS (""") + """,
edges2 AS (
  SELECT DISTINCT from_url, to_url FROM (
    SELECT from_url, to_url FROM base_edges
    UNION ALL
    SELECT to_url AS from_url, from_url AS to_url
    FROM base_edges WHERE from_host = 0)
),
ind AS (SELECT DISTINCT to_url AS u FROM edges2),
r0x AS (
  SELECT e.to_url AS at, e.from_url AS lf, e.to_url AS fh
  FROM edges2 e JOIN ind ON e.from_url = ind.u
),
f1 AS (
  SELECT DISTINCT r0x.lf, r0x.fh FROM r0x
  JOIN edges2 e ON e.from_url = r0x.at AND e.to_url = r0x.lf
),
r1x AS (
  SELECT DISTINCT e2.to_url AS at, r0x.lf, r0x.fh
  FROM r0x JOIN edges2 e2 ON e2.from_url = r0x.at
  WHERE NOT EXISTS (
    SELECT 1 FROM edges2 ex
    WHERE ex.from_url = r0x.at AND ex.to_url = r0x.lf)
),
f2 AS (
  SELECT DISTINCT r1x.lf, r1x.fh FROM r1x
  JOIN edges2 e ON e.from_url = r1x.at AND e.to_url = r1x.lf
),
loopset AS (SELECT * FROM f1 UNION SELECT * FROM f2),
e AS (
  SELECT from_url, to_url FROM edges2
  WHERE NOT EXISTS (SELECT 1 FROM loopset
                    WHERE lf = from_url AND fh = to_url)
),
nodes AS (SELECT from_url AS url FROM edges2
          UNION SELECT to_url FROM edges2),
deg AS (SELECT from_url, COUNT(*) AS dg FROM e GROUP BY 1),
r0 AS (SELECT url, CAST(1.0 AS DOUBLE) AS score FROM nodes),
c1 AS (SELECT e.to_url AS url, MAX(r0.score / deg.dg) AS c
       FROM e JOIN r0 ON r0.url = e.from_url
              JOIN deg ON deg.from_url = e.from_url GROUP BY 1),
r1 AS (SELECT n.url, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
              + CAST(0.85 AS DOUBLE) * COALESCE(c1.c, CAST(0.0 AS DOUBLE)) AS score
       FROM nodes n LEFT JOIN c1 ON c1.url = n.url),
c2 AS (SELECT e.to_url AS url, MAX(r1.score / deg.dg) AS c
       FROM e JOIN r1 ON r1.url = e.from_url
              JOIN deg ON deg.from_url = e.from_url GROUP BY 1),
r2 AS (SELECT n.url, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
              + CAST(0.85 AS DOUBLE) * COALESCE(c2.c, CAST(0.0 AS DOUBLE)) AS score
       FROM nodes n LEFT JOIN c2 ON c2.url = n.url),
c3 AS (SELECT e.to_url AS url, MAX(r2.score / deg.dg) AS c
       FROM e JOIN r2 ON r2.url = e.from_url
              JOIN deg ON deg.from_url = e.from_url GROUP BY 1),
r3 AS (SELECT n.url, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
              + CAST(0.85 AS DOUBLE) * COALESCE(c3.c, CAST(0.0 AS DOUBLE)) AS score
       FROM nodes n LEFT JOIN c3 ON c3.url = n.url)
SELECT url, FLOOR(score * 10000 + 0.5) / 10000 AS score FROM r3""",

        # 60-bit simhash, md5-60 token hashes, all pairs Hamming <= 3
        # (the Spark side's multi-index blocking has exact recall, so
        # brute-force pairing is a faithful oracle)
        "simhash_hamming": r"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, t FROM (
    SELECT doc_id,
           UNNEST(string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' '))
             AS t
    FROM documents)),
th AS (
  SELECT id, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
  FROM tok),
charges AS (
  SELECT id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM th CROSS JOIN (SELECT UNNEST(range(60)) AS b)
  GROUP BY id, b),
sh AS (
  SELECT id,
         SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << b)
                  ELSE 0 END) AS sh
  FROM charges GROUP BY id)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.id < b.id
WHERE bit_count(xor(a.sh, b.sh)) <= 3""",

        # exact word-3-gram Jaccard >= 0.3 over 120-char prefixes;
        # brute-force pair aggregation (the Spark side's prefix filter
        # has exact recall, so this is a faithful oracle)
        "ngram_jaccard_exact": r"""
WITH d AS (
  SELECT doc_id AS id,
         regexp_replace(lower(trim(substring(text, 1, 120))),
                        '\s+', ' ', 'g') AS nt
  FROM documents),
w AS (SELECT id, nt, string_split(nt, ' ') AS ws FROM d),
s AS (
  SELECT id,
         CASE WHEN len(ws) >= 3
              THEN list_distinct(list_transform(range(len(ws) - 2),
                     i -> array_to_string(list_slice(ws, i + 1, i + 3),
                                          ' ')))
              ELSE [nt] END AS sh
  FROM w),
ex AS (SELECT id, UNNEST(sh) AS g FROM s),
sz AS (SELECT id, COUNT(*) AS n FROM ex GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ni
  FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.id = id_a
JOIN sz sb ON sb.id = id_b
WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.3""",

        # exact cosine near-dup pairs; double-precision end to end so
        # the values match the Spark side bit-for-bit before rounding
        "embedding_neardup_exact": """
WITH e AS (
  SELECT vec_id, embedding,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (a.nrm * b.nrm) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(sim, 6) AS cos_sim
FROM p WHERE sim >= 0.4""",
    }
