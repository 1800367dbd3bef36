"""ParseSegment — HTML parse + crawl_parse emissions.

Reference: ParseSegment.java:78-193 (map: only fetch_success, skip
truncated, parse, signature), ParseOutputFormat.java:90-352 (emit
parse_text / parse_data / crawl_parse: signature datum, parse_meta
datum, outlink ``linked`` datums with OPIC score distribution, meta-
refresh redirect with ``_repr_``), HtmlParser.java + DOMContentUtils
(the text/title/outlink algorithms — functions/htmlparse.py).

Spark shape: one Arrow-batched pandas UDF does the DOM work
(``html binary → struct(text, title, outlinks, redirect)``), everything
downstream is column ops: ``explode(outlinks)`` + per-link score =
``parent_score / n_outlinks × factor`` (OPICScoringFilter.java:122-165),
outlink cap via ``slice`` (db.max.outlinks.per.page=100), anchor
truncation, self-link drop (ParseOutputFormat.java:320-323), then the
canonicalize/filter chain (scope=outlink).

Scale notes: the UDF is the only Python in the hot path and is
Arrow-batched; the html column is projected only into the UDF input and
never shuffled (parse emissions carry urls + small strings). The
explode multiplies rows ~outlink-degree ×; the cap bounds it at 100 per
page before the shuffle to updatedb.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, StringType, StructField, StructType,
)

from ..config import CrawlConfig
from ..functions.filters import filter_accepts_col
from ..functions.htmlparse import parse_html
from ..functions.normalizers import normalizer_udf
from ..functions.signatures import signature_col
from ..functions.urls import host_col
from ..schema import (
    FETCH_SUCCESS, META_REPR_URL, OUTLINK, STATUS_LINKED,
    STATUS_PARSE_META, STATUS_SIGNATURE,
)

PARSE_UDF_SCHEMA = StructType([
    StructField("text", StringType(), True),
    StructField("title", StringType(), True),
    StructField("outlinks", ArrayType(OUTLINK), True),
    StructField("redirect", StringType(), True),
])


def parse_udf():
    @pandas_udf(PARSE_UDF_SCHEMA)
    def _parse(htmls: pd.Series, urls: pd.Series) -> pd.DataFrame:
        texts, titles, links, redirs = [], [], [], []
        for html, url in zip(htmls, urls):
            r = parse_html(html if html is not None else None, url or "")
            texts.append(r.text)
            titles.append(r.title)
            links.append([{"to_url": t, "anchor": a}
                          for t, a in r.outlinks])
            redirs.append(r.redirect)
        return pd.DataFrame({"text": texts, "title": titles,
                             "outlinks": links, "redirect": redirs})
    return _parse


def parse_segment(content: DataFrame, cfg: CrawlConfig,
                  now_ms: int) -> dict[str, DataFrame]:
    """Parse fetched content. Input = fetch()'s ``content`` frame
    (url, html, text, lang, fetch_time, score, fetch_interval,
    metadata). Returns:

    - ``parse_text``: url, text  (byte-identity target);
    - ``parse_data``: url, title, outlinks, signature;
    - ``crawl_parse``: CRAWLDB-schema message rows (signature +
      linked outlinks + meta-refresh redirects [+ parse_meta]).
    """
    parsed = (content
              .withColumn("_p", parse_udf()(F.col("html"), F.col("url")))
              .withColumn(
                  "signature",
                  signature_col(cfg.signature_kind, F.col("html"),
                                F.col("_p.text"),
                                F.col("url"),
                                min_token_len=cfg.text_profile_min_token_len,
                                quant_rate=cfg.text_profile_quant_rate))
              # slim projection BEFORE the caller's persist of
              # ``parsed``: html/text/lang are consumed entirely by the
              # UDF + signature above, so the round cache holds only
              # parse output — page bytes never sit in executor memory
              # past this point. On a memory-bandwidth-bound host this
              # is the difference between the parse stage scaling with
              # cores and hitting the bus ceiling (BENCH.md hardware
              # canaries).
              .select("url", "fetch_time", "score", "fetch_interval",
                      "metadata", "_p", "signature"))
    return _parse_outputs(parsed, cfg, now_ms)


def _parse_outputs(parsed: DataFrame, cfg: CrawlConfig,
                   now_ms: int) -> dict[str, DataFrame]:
    """ParseOutputFormat half, shared by :func:`parse_segment` (html
    only) and :func:`parse_segment_dispatch` (mime-routed). Input is
    the slim parsed frame ``(url, fetch_time, score, fetch_interval,
    metadata, _p, signature)`` — page bytes already dropped."""
    parse_text = parsed.select("url", F.col("_p.text").alias("text"))
    parse_data = parsed.select(
        "url", F.col("_p.title").alias("title"),
        F.col("_p.outlinks").alias("outlinks"), "signature",
        F.col("fetch_time"))

    empty_map = F.create_map().cast("map<string,string>")

    # signature datum (ParseOutputFormat.java:158-167)
    sig_rows = parsed.select(
        "url", F.lit(STATUS_SIGNATURE).alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.col("fetch_interval"),
        F.lit(0.0).alias("score"),
        F.col("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        empty_map.alias("metadata"))

    # parse_meta datum (db.parsemeta.to.crawldb, :169-183)
    crawl_parse = sig_rows
    if cfg.db_parsemeta_to_crawldb:
        keys = list(cfg.db_parsemeta_to_crawldb)
        pm = parsed.select(
            "url", F.lit(STATUS_PARSE_META).alias("status"),
            F.col("fetch_time").cast("long").alias("fetch_time"),
            F.lit(0).cast("int").alias("retries"),
            F.col("fetch_interval"),
            F.lit(0.0).alias("score"),
            F.lit(None).cast("string").alias("signature"),
            F.lit(0).cast("long").alias("modified_time"),
            F.map_filter(F.coalesce(F.col("metadata"), empty_map),
                         lambda k, v: k.isin(*keys)).alias("metadata"))
        crawl_parse = crawl_parse.unionByName(pm)

    # outlink linked datums with OPIC distribution
    # (ParseOutputFormat.java:227-297, OPICScoringFilter.java:122-165)
    ol = (parsed
          .select("url", "score", "fetch_interval", "metadata",
                  F.slice(F.coalesce(F.col("_p.outlinks"),
                                     F.array().cast(f"array<struct<"
                                                    f"to_url:string,"
                                                    f"anchor:string>>")),
                          1, cfg.db_max_outlinks_per_page).alias("links"))
          .withColumn("_n", F.greatest(F.size("links"), F.lit(1)))
          .withColumn("link", F.explode("links"))
          # scope=outlink (ParseOutputFormat.java:98,314)
          .withColumn("to_url",
                      normalizer_udf(cfg, "outlink")(F.col("link.to_url")))
          .where(F.col("to_url").isNotNull()
                 & (F.col("to_url") != F.col("url"))))  # self-link drop
    if cfg.ignore_external_links:
        ol = ol.where(host_col("url") == host_col("to_url"))
    ol = (ol.transform(lambda d: filter_accepts_col(
              d, cfg.url_filter_rules, "to_url"))
            .where(F.col("accepted")))
    same_host = host_col("url") == host_col("to_url")
    factor = F.when(same_host, F.lit(cfg.db_score_link_internal)) \
        .otherwise(F.lit(cfg.db_score_link_external))
    # OPIC distributes parent_score/n×factor to targets; scoring-link
    # leaves targets at initialScore 0.0
    # (LinkAnalysisScoringFilter.distributeScoreToOutlinks /
    # initialScore); scoring-similarity copies the parent's cosine to
    # EVERY outlink verbatim (CosineSimilarityModel.java:146-155)
    if cfg.scoring_filter == "link":
        linked_score = F.lit(0.0)
    elif cfg.scoring_filter == "similarity":
        from .similarity import similarity_scores
        sim = similarity_scores(
            parsed.select("url", F.col("_p.text").alias("text")),
            cfg.similarity_gold_text, cfg.similarity_stopwords)
        # per-parent scalar joined onto the exploded outlink rows: the
        # cosine agg runs over slim parse rows (broadcast gold TF),
        # never over page bytes
        ol = ol.join(sim.withColumnRenamed("score", "_sim_score"),
                     "url", "left")
        linked_score = F.coalesce(F.col("_sim_score"), F.lit(0.0))
    else:
        linked_score = F.col("score") / F.col("_n") * factor
    # scoring-depth: child depth = parent depth + 1, hops past
    # scoring.depth.max are dropped (DepthScoringFilter.java)
    link_meta = F.create_map(
        F.lit("_anchor_"),
        F.substring(F.coalesce(F.col("link.anchor"), F.lit("")),
                    1, cfg.db_max_anchor_length))
    if cfg.urlmeta_tags:
        # urlmeta plugin (URLMetaScoringFilter.java:60-83,
        # distributeScoreToOutlinks): the listed parent metadata keys
        # ride along to every outlink's linked row
        link_meta = F.map_concat(
            link_meta,
            F.map_filter(F.coalesce(F.col("metadata"), empty_map),
                         lambda k, v: k.isin(*cfg.urlmeta_tags)))
    if cfg.scoring_depth_enabled:
        depth = F.coalesce(
            F.element_at(F.coalesce(F.col("metadata"), empty_map),
                         "_depth_").cast("int"), F.lit(0)) + 1
        ol = ol.withColumn("_depth", depth) \
            .where(F.col("_depth") <= cfg.scoring_depth_max)
        link_meta = F.map_concat(
            link_meta,
            F.create_map(F.lit("_depth_"),
                         F.col("_depth").cast("string")))
    linked = ol.select(
        F.col("to_url").alias("url"),
        F.lit(STATUS_LINKED).alias("status"),
        F.lit(now_ms).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(cfg.db_fetch_interval_default).cast("int")
         .alias("fetch_interval"),
        linked_score.cast("double").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        link_meta.alias("metadata"))
    crawl_parse = crawl_parse.unionByName(linked)

    # meta-refresh redirect → linked datum with _repr_
    # (ParseOutputFormat.java:196-216, HtmlParser.java:225-229);
    # representative chosen via URLUtil.chooseRepr with temp=false —
    # meta-refresh is a permanent move, same as the fetch redirect path
    from .fetch import _choose_repr_udf
    redir = (parsed
             .where(F.col("_p.redirect").isNotNull())
             # meta-refresh target normalizes with scope=fetcher
             # (ParseOutputFormat.java:203)
             .withColumn("_new",
                         normalizer_udf(cfg, "fetcher")(
                             F.col("_p.redirect")))
             .where(F.col("_new").isNotNull()
                    & (F.col("_new") != F.col("url"))))
    redir_rows = redir.select(
        F.col("_new").alias("url"),
        F.lit(STATUS_LINKED).alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.col("fetch_interval"),
        F.col("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.create_map(
            F.lit(META_REPR_URL),
            _choose_repr_udf()(F.col("url"), F.col("_new"),
                               F.lit(False).cast("boolean")))
        .alias("metadata"))
    crawl_parse = crawl_parse.unionByName(redir_rows)

    return {"parse_text": parse_text, "parse_data": parse_data,
            "crawl_parse": crawl_parse,
            # the frame every output reads: a caller that writes more
            # than one output persists it first, or each output re-runs
            # the parse UDF
            "parsed": parsed}


def outlink_edges(parse_data: DataFrame,
                  cfg: CrawlConfig | None = None) -> DataFrame:
    """Flatten parse_data to (from_url, to_url, anchor) edges — the
    input to LinkDb / WebGraph inversion (LinkDb.java:85-155)."""
    df = (parse_data
          .select(F.col("url").alias("from_url"),
                  F.explode("outlinks").alias("l"))
          .select("from_url", F.col("l.to_url").alias("to_url"),
                  F.col("l.anchor").alias("anchor"))
          .where(F.col("to_url") != F.col("from_url")))
    return df


# parse-plugins.xml mimetype -> parser routing (conf/parse-plugins.xml;
# the reference's ParserFactory resolves the ordered plugin list per
# content-type, ParseUtil.java:74-110 tries them until one succeeds).
# Parsers implemented here: parse-html, feed, parse-zip, text-plain
# (parse-tika's text extraction for text/* is the trivial decode).
PARSE_ROUTES = {
    "html": ("text/html", "application/xhtml+xml"),
    "feed": ("application/rss+xml", "application/atom+xml"),
    "zip": ("application/zip",),
    "swf": ("application/x-shockwave-flash",),
    "pdf": ("application/pdf",),
    "oo": ("application/vnd.oasis.opendocument.text",
           "application/vnd.sun.xml.writer"),
    "rtf": ("application/rtf", "text/rtf"),
    "msword": ("application/msword",),
    "image": ("image/gif", "image/png", "image/jpeg", "image/bmp"),
    "text": ("text/plain",),
}


def parse_dispatch(content: DataFrame, cfg: CrawlConfig, now_ms: int,
                   mime_col: str = "mime_type") -> DataFrame:
    """ParseUtil/ParserFactory analog: route content rows to the
    parser registered for their mimetype (conf/parse-plugins.xml,
    ParseUtil.java:74-110) and union the results on a common summary
    schema ``(url, parser, status, title, text, n_outlinks)``.

    - text/html, application/xhtml+xml → the HtmlParser path
      (byte-parity DOMContentUtils extraction);
    - application/rss+xml, application/atom+xml → the feed plugin
      (one row per entry + one per feed, like its ParseResult);
    - application/zip → the parse-zip container walk;
    - application/x-shockwave-flash → the parse-swf tag walk
      (golden-verified SWF codec);
    - text/plain → trivial decode (title '', no outlinks);
    - anything else → one ``failed_parser_not_found`` row
      (ParserNotFound, ParseUtil.java:80-86).

    Spark shape: one filtered scan per registered parser family (the
    mime predicate pushes to the scan; each family's parser is a
    different kernel — html UDF, feed/zip/swf mapInPandas — so a
    single-pass dispatch is not expressible). Unknown-mime rows cost a
    final slim scan that never touches the page bytes."""
    mime = F.lower(F.coalesce(F.col(mime_col), F.lit("")))

    outs = []
    html = content.where(mime.isin(*PARSE_ROUTES["html"]))
    p = html.withColumn("_p", parse_udf()(F.col("html"), F.col("url")))
    outs.append(p.select(
        "url", F.lit("parse-html").alias("parser"),
        F.lit("success").alias("status"),
        F.col("_p.title").alias("title"),
        F.col("_p.text").alias("text"),
        F.size(F.coalesce(F.col("_p.outlinks"), F.array()))
         .alias("n_outlinks")))

    from . import feed as feed_op
    feeds = (content.where(mime.isin(*PARSE_ROUTES["feed"]))
             .select(F.col("url").alias("feed_url"),
                     F.col("html").alias("content")))
    fp = feed_op.parse_feeds(feeds, cfg)
    outs.append(fp.select(
        F.col("url"), F.lit("feed").alias("parser"),
        F.lit("success").alias("status"),
        "title", "text",
        F.lit(0).cast("int").alias("n_outlinks")))

    from . import archive as archive_op
    zips = (content.where(mime.isin(*PARSE_ROUTES["zip"]))
            .select("url", F.col("html").alias("content")))
    zp = archive_op.parse_zips(zips, cfg, length_col=None)
    outs.append(zp.select(
        "url", F.lit("parse-zip").alias("parser"), "status", "title",
        "text",
        F.size(F.coalesce(F.col("outlinks"), F.array()))
         .alias("n_outlinks")))

    from . import swf as swf_op
    swfs = (content.where(mime.isin(*PARSE_ROUTES["swf"]))
            .select("url", F.col("html").alias("content")))
    sp = swf_op.parse_swfs(swfs, cfg, length_col=None)
    outs.append(sp.select(
        "url", F.lit("parse-swf").alias("parser"), "status", "title",
        "text",
        F.size(F.coalesce(F.col("outlinks"), F.array()))
         .alias("n_outlinks")))

    from . import pdf as pdf_op
    pdfs = (content.where(mime.isin(*PARSE_ROUTES["pdf"]))
            .select("url", F.col("html").alias("content")))
    pp = pdf_op.parse_pdfs(pdfs, cfg, length_col=None)
    outs.append(pp.select(
        "url", F.lit("parse-pdf").alias("parser"), "status", "title",
        "text", F.lit(0).cast("int").alias("n_outlinks")))

    # parse-tika document/image paths: OO, RTF, Word-97, image
    # metadata (each codec golden-verified against the plugin's own
    # sample files; none yields outlinks on the Tika path)
    from . import msoffice as ms_op
    oos = (content.where(mime.isin(*PARSE_ROUTES["oo"]))
           .select("url", F.col("html").alias("content")))
    op = ms_op.parse_oo(oos, cfg, length_col=None)
    outs.append(op.select(
        "url", F.lit("parse-oo").alias("parser"), "status", "title",
        "text", F.lit(0).cast("int").alias("n_outlinks")))

    rtfs = (content.where(mime.isin(*PARSE_ROUTES["rtf"]))
            .select("url", F.col("html").alias("content")))
    rp = ms_op.parse_rtf(rtfs, cfg, length_col=None)
    outs.append(rp.select(
        "url", F.lit("parse-rtf").alias("parser"), "status", "title",
        "text", F.lit(0).cast("int").alias("n_outlinks")))

    docs_ = (content.where(mime.isin(*PARSE_ROUTES["msword"]))
             .select("url", F.col("html").alias("content")))
    dp = ms_op.parse_msword(docs_, cfg, length_col=None)
    outs.append(dp.select(
        "url", F.lit("parse-msword").alias("parser"), "status",
        F.lit("").alias("title"), "text",
        F.lit(0).cast("int").alias("n_outlinks")))

    imgs = (content.where(mime.isin(*PARSE_ROUTES["image"]))
            .select("url", F.col("html").alias("content")))
    ip = ms_op.parse_images(imgs, cfg, length_col=None)
    outs.append(ip.select(
        "url", F.lit("parse-image").alias("parser"), "status",
        F.lit("").alias("title"), F.lit("").alias("text"),
        F.lit(0).cast("int").alias("n_outlinks")))

    outs.append(content.where(mime.isin(*PARSE_ROUTES["text"])).select(
        "url", F.lit("text-plain").alias("parser"),
        F.lit("success").alias("status"),
        F.lit("").alias("title"),
        F.decode(F.col("html"), "UTF-8").alias("text"),
        F.lit(0).cast("int").alias("n_outlinks")))

    known = [m for ms in PARSE_ROUTES.values() for m in ms]
    outs.append(content.where(~mime.isin(*known)).select(
        "url", F.lit(None).cast("string").alias("parser"),
        F.lit("failed_parser_not_found").alias("status"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("text"),
        F.lit(0).cast("int").alias("n_outlinks")))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _sig_from_parent_md5(kind: str, text_col, parent_md5_col,
                         min_token_len: int, quant_rate: float):
    """signature_col with the raw-bytes branch replaced by a
    precomputed md5 hex of the PARENT content: ParseSegment.java
    130-133 calculates every sub-parse's signature from the one shared
    Content, so MD5Signature is identical across a feed's sub-parses —
    joining the 32-char hash instead of the blob keeps page bytes off
    the parse-row path."""
    from ..functions.signatures import text_profile_udf

    if kind == "md5":
        return parent_md5_col
    if kind == "text_md5":
        return F.when(text_col.isNotNull(),
                      F.md5(F.encode(text_col, "UTF-8"))) \
            .otherwise(parent_md5_col)
    if kind == "text_profile":
        return F.coalesce(
            text_profile_udf(min_token_len, quant_rate)(text_col),
            parent_md5_col)
    raise ValueError(f"unknown signature kind: {kind}")


def parse_segment_dispatch(content: DataFrame, cfg: CrawlConfig,
                           now_ms: int,
                           mime_col: str = "mime_type"
                           ) -> dict[str, DataFrame]:
    """ParseSegment with ParseUtil mime dispatch — the production
    parse for a mixed-mime corpus (ParseUtil.java:74-110,
    conf/parse-plugins.xml, wired per bin/crawl:232-236). Same output
    contract as :func:`parse_segment` (parse_text / parse_data /
    crawl_parse / parsed), with content routed by ``mime_col``:

    - html family → the HtmlParser UDF path (identical to
      parse_segment);
    - feed family → parse-feed: one NON-canonical sub-parse per entry
      — its own parse_text/parse_data/signature rows plus a
      ``fetch_success`` crawl_parse datum carrying the parent's fetch
      time (ParseOutputFormat.java:285-297), which is how discovered
      entries enter the crawldb — and one canonical feed-level parse
      with ``Outlink[0]`` (FeedParser.java:143-148);
    - zip → parse-zip: one canonical parse per archive (combined text
      + accumulated outlinks, ZipParser.java); ``failed_truncated``
      archives are dropped;
    - text/plain → trivial decode, no outlinks;
    - unknown mime → dropped entirely (ParseSegment.java:100-108:
      ParserNotFound → ParseException → ``return`` — the row reaches
      none of the three outputs).

    Spark shape: one filtered scan per parser family (each family is a
    different kernel — html pandas UDF, feed/zip mapInPandas — so a
    single-pass dispatch would force all parsing into one Python
    kernel and off the vectorized html path). To keep the round at ONE
    traversal of page bytes, the caller persists ``content`` before
    this call (``CrawlRun.run_round`` does) — the fetch join runs once
    and each family reads the cached bytes; uncached, each family
    branch recomputes its (mime-pruned) scan, which is the right trade
    only when the pages table is clustered by mime so row-group
    pruning is real. All families then union into ONE slim parsed
    frame (no page bytes) so the downstream ParseOutputFormat program
    — signature / parse_meta / linked / meta-refresh emissions —
    exists once in the plan, exactly as in parse_segment."""
    from . import archive as archive_op
    from . import feed as feed_op

    mime = F.lower(F.coalesce(F.col(mime_col), F.lit("")))
    attrs = ["fetch_time", "score", "fetch_interval", "metadata"]
    # nullable-field DDL (not ArrayType(OUTLINK)): casting a parsed
    # array to a NOT NULL struct field is an AnalysisException
    links_t = "array<struct<to_url:string,anchor:string>>"
    null_s = F.lit(None).cast("string")
    mtl, qr = cfg.text_profile_min_token_len, cfg.text_profile_quant_rate
    slim = ["url", *attrs, "_p", "signature", "_kind"]
    canonical = F.lit(None).cast("string").alias("_kind")

    def struct_p(text, title, outlinks, redirect):
        return F.struct(text.alias("text"), title.alias("title"),
                        outlinks.alias("outlinks"),
                        redirect.alias("redirect"))

    frames = []
    html = content.where(mime.isin(*PARSE_ROUTES["html"]))
    frames.append(
        html.withColumn("_p", parse_udf()(F.col("html"), F.col("url")))
            .withColumn(
                "signature",
                signature_col(cfg.signature_kind, F.col("html"),
                              F.col("_p.text"), F.col("url"),
                              min_token_len=mtl, quant_rate=qr))
            .select(*slim[:-1], canonical))

    txt = (content.where(mime.isin(*PARSE_ROUTES["text"]))
           .withColumn("_t", F.decode("html", "UTF-8")))
    frames.append(
        txt.withColumn("_p", struct_p(F.col("_t"), F.lit(""),
                                      F.array().cast(links_t), null_s))
           .withColumn(
               "signature",
               signature_col(cfg.signature_kind, F.col("html"),
                             F.col("_t"), F.col("url"),
                             min_token_len=mtl, quant_rate=qr))
           .select(*slim[:-1], canonical))

    # zip: the archive walk emits one row per archive keyed at the
    # archive url — attrs join back 1:1 on url, bytes stay out of the
    # join (only the 32-char md5 rides along for the signature)
    zfam = content.where(mime.isin(*PARSE_ROUTES["zip"]))
    zp = archive_op.parse_zips(
        zfam.select("url", F.col("html").alias("content")), cfg,
        length_col=None)
    zslim = zfam.select("url", *attrs, F.md5("html").alias("_bsig"))
    zj = zp.where(F.col("status") == "success").join(zslim, "url")
    frames.append(
        zj.withColumn("_p", struct_p(F.col("text"), F.col("title"),
                                     F.col("outlinks"), null_s))
          .withColumn("signature",
                      _sig_from_parent_md5(cfg.signature_kind,
                                           F.col("text"),
                                           F.col("_bsig"), mtl, qr))
          .select(*slim[:-1], canonical))

    # feed: sub-parse rows keyed at entry urls + one canonical row at
    # the feed url; the parent fetch datum's attrs join back on the
    # source feed url (ParseSegment shares one Content per sub-parse)
    ffam = content.where(mime.isin(*PARSE_ROUTES["feed"]))
    fp = feed_op.parse_feeds(
        ffam.select(F.col("url").alias("feed_url"),
                    F.col("html").alias("content")),
        cfg, keep_source=True)
    fslim = ffam.select(F.col("url").alias("source"), *attrs,
                        F.md5("html").alias("_bsig"))
    fj = fp.join(fslim, "source")
    frames.append(
        fj.withColumn("_p", struct_p(F.col("text"),
                                     F.coalesce(F.col("title"),
                                                F.lit("")),
                                     F.array().cast(links_t), null_s))
          .withColumn("signature",
                      _sig_from_parent_md5(cfg.signature_kind,
                                           F.col("text"),
                                           F.col("_bsig"), mtl, qr))
          .select(*slim[:-1], F.col("kind").alias("_kind")))

    # tika document/media families — canonical one-row-per-document
    # parses: swf carries real outlinks (getURL actions), pdf/oo/rtf/
    # msword are text-only, images contribute an empty-text parse
    # whose signature datum still reaches the crawldb (the reference
    # TikaParser emits ParseData for every succeeding mime;
    # failed/truncated rows are dropped like every other family).
    # Same join shape as zip: parse rows keyed at the doc url, attrs
    # + parent-md5 join back 1:1, page bytes stay out of the join.
    def _doc_family(fam: str, parse_fn, text_col, title_col,
                    has_links: bool):
        famc = content.where(mime.isin(*PARSE_ROUTES[fam]))
        pf = parse_fn(famc.select(
            "url", F.col("html").alias("content")))
        fslim_ = famc.select("url", *attrs,
                             F.md5("html").alias("_bsig"))
        j = pf.where(F.col("status") == "success").join(fslim_, "url")
        text = (F.coalesce(F.col(text_col), F.lit(""))
                if text_col else F.lit(""))
        title = (F.coalesce(F.col(title_col), F.lit(""))
                 if title_col else F.lit(""))
        links = (F.coalesce(F.col("outlinks"),
                            F.array().cast(links_t)).cast(links_t)
                 if has_links else F.array().cast(links_t))
        return (j.withColumn("_p", struct_p(text, title, links, null_s))
                 .withColumn("signature",
                             _sig_from_parent_md5(cfg.signature_kind,
                                                  text, F.col("_bsig"),
                                                  mtl, qr))
                 .select(*slim[:-1], canonical))

    from . import msoffice as ms_op
    from . import pdf as pdf_op
    from . import swf as swf_op
    for fam, fn, text_col, title_col, has_links in (
            ("swf", lambda b: swf_op.parse_swfs(b, cfg, length_col=None),
             "text", "title", True),
            ("pdf", lambda b: pdf_op.parse_pdfs(b, cfg, length_col=None),
             "text", "title", False),
            ("oo", lambda b: ms_op.parse_oo(b, cfg, length_col=None),
             "text", "title", False),
            ("rtf", lambda b: ms_op.parse_rtf(b, cfg, length_col=None),
             "text", "title", False),
            ("msword", lambda b: ms_op.parse_msword(b, cfg,
                                                    length_col=None),
             "text", None, False),
            ("image", lambda b: ms_op.parse_images(b, cfg,
                                                   length_col=None),
             None, None, False)):
        frames.append(_doc_family(fam, fn, text_col, title_col,
                                  has_links))

    parsed = frames[0]
    for fr in frames[1:]:
        parsed = parsed.unionByName(fr)
    out = _parse_outputs(parsed, cfg, now_ms)

    # non-canonical sub-parses: the fetch_success datum
    # (ParseOutputFormat.java:285-297 — ``new CrawlDatum()`` defaults:
    # score 0.0, interval 0; fetch time = parent's). Derived from the
    # shared parsed frame, so with it persisted the feed kernel runs
    # once.
    sub = out["parsed"].where(F.col("_kind") == "entry").select(
        "url", F.lit(FETCH_SUCCESS).alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(0).cast("int").alias("fetch_interval"),
        F.lit(0.0).alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.create_map().cast("map<string,string>").alias("metadata"))
    out["crawl_parse"] = out["crawl_parse"].unionByName(sub)
    return out


def parse_metatags(content: DataFrame,
                   names: tuple[str, ...] = ("*",)) -> DataFrame:
    """parse-metatags plugin (MetaTagsParser.java:39-96): collect
    ``<meta>`` name/http-equiv + content pairs into the parse metadata
    multimap, keys prefixed ``metatag.`` and lowercased, filtered by
    ``metatags.names`` (default ``*`` = all). Returns exploded rows
    ``(url, key, pos, value)`` — ``pos`` is the document-order index
    within a repeated tag (the reference's Metadata.add multimap)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions import metatags as M

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                tags = M.extract_metatags(
                    bytes(html) if html is not None else b"", names)
                for key, values in tags.items():
                    for pos, v in enumerate(values):
                        rows.append({"url": url, "key": key,
                                     "pos": pos, "value": v})
            yield pd.DataFrame(rows, columns=["url", "key", "pos",
                                              "value"])

    return content.select("url", "html").mapInPandas(
        run, "url string, key string, pos int, value string")


def html_language(content: DataFrame,
                  policy: tuple[str, ...] = ("detect", "identify"),
                  header_col: str | None = "content_language",
                  text_col: str | None = "text") -> DataFrame:
    """language-identifier plugin (HTMLLanguageParser.java:88-119):
    per-url document language under ``lang.extraction.policy``.

    ``detect`` = declared-language signals (lang attribute >
    meta dc.language > meta http-equiv content-language, each
    ISO-639-normalized; raw HTTP Content-Language header as the last
    fallback — :122-136), Arrow-batched over the html bytes.
    ``identify`` = the statistical path; the reference's Tika
    LanguageIdentifier is substituted by this repo's stopword-hit
    heuristic (``textops.lang_id``, a JVM column over ``text_col``).
    Policy order decides which result wins (:97-108). Returns
    ``(url, lang)`` with NULL when no stage resolves.

    Single-pass plan: detect is one scalar Arrow UDF column, identify
    a JVM column — coalesced in policy order, no join/shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions import langid_meta as LM
    from . import textops

    has_header = header_col is not None and header_col in content.columns

    @pandas_udf("string")
    def detect_udf(html: pd.Series, head: pd.Series) -> pd.Series:
        return pd.Series([
            LM.detect_html_language(
                bytes(h) if h is not None else None,
                None if hd is None or (isinstance(hd, float)
                                       and pd.isna(hd)) else hd)
            for h, hd in zip(html, head)])

    head_col = (F.col(header_col) if has_header
                else F.lit(None).cast("string"))
    stages = {}
    if "detect" in policy:
        stages["detect"] = detect_udf(F.col("html"), head_col)
    if "identify" in policy and text_col is not None \
            and text_col in content.columns:
        stages["identify"] = textops.lang_id(F.col(text_col))
    ordered = [stages[p] for p in policy if p in stages]
    if not ordered:
        raise ValueError("lang.extraction.policy selects no stage")
    return content.select("url", F.coalesce(*ordered).alias("lang"))


def parse_headings(content: DataFrame,
                   tags: tuple[str, ...] = ("h1", "h2"),
                   multivalued: bool = False) -> DataFrame:
    """headings plugin (HeadingsParseFilter.java:43-103): first (or
    all, with ``headings.multivalued``) heading text per configured
    tag, whitespace-collapsed. Returns ``(url, tag, pos, heading)``."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions import metatags as M

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                got = M.extract_headings(
                    bytes(html) if html is not None else b"",
                    tags, multivalued)
                for tag, values in got.items():
                    for pos, v in enumerate(values):
                        rows.append({"url": url, "tag": tag,
                                     "pos": pos, "heading": v})
            yield pd.DataFrame(rows, columns=["url", "tag", "pos",
                                              "heading"])

    return content.select("url", "html").mapInPandas(
        run, "url string, tag string, pos int, heading string")


def parse_reltags(content: DataFrame) -> DataFrame:
    """microformats-reltag plugin (RelTagParser.java:61-135): per doc,
    the set of rel-tag microformat tags — the URL-decoded last path
    segment of every ``<a rel="tag">`` href whose URL is absolute
    (parseTag's ``new URL`` throws on relative hrefs, skipping them).
    Returns exploded ``(url, tag)`` rows in the reference's TreeSet
    (sorted) order."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions import metatags as M

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for tag in M.extract_reltags(
                        bytes(html) if html is not None else b""):
                    rows.append({"url": url, "tag": tag})
            yield pd.DataFrame(rows, columns=["url", "tag"])

    return content.select("url", "html").mapInPandas(
        run, "url string, tag string")


def parse_cc_license(content: DataFrame) -> DataFrame:
    """creativecommons plugin (CCParseFilter.java:56-150): per page,
    the CC license url and where it was found (rdf-in-comment >
    rel=license anchor > plain CC anchor), resolved against the page
    url. Pages without a license emit no row (the reference adds
    metadata only when found). Returns
    (url, license_url, license_location)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions import metatags as M

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                hit = M.extract_cc_license(
                    bytes(html) if html is not None else b"", url or "")
                if hit is not None:
                    rows.append({"url": url, "license_url": hit[0],
                                 "license_location": hit[1]})
            yield pd.DataFrame(rows, columns=[
                "url", "license_url", "license_location"])

    return content.select("url", "html").mapInPandas(
        run, "url string, license_url string, license_location string")


def parse_js_links(content: DataFrame,
                   script_col: str = "script") -> DataFrame:
    """parse-js plugin (JSParseFilter.java:150-260): outlinks mined
    from JavaScript bodies — quoted whitespace-free strings that look
    like URIs, www.-prefixed or base-resolved against the page url.
    Returns exploded (url, to_url) rows in match order."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.jsparse import extract_js_links

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, script in zip(pdf["url"], pdf[script_col]):
                for to_url in extract_js_links(script or "", url or ""):
                    rows.append({"url": url, "to_url": to_url})
            yield pd.DataFrame(rows, columns=["url", "to_url"])

    return content.select("url", script_col).mapInPandas(
        run, "url string, to_url string")


def parse_replace(parse_fields: DataFrame, rules) -> DataFrame:
    """parse-replace plugin: ordered, host/url-scoped regex
    replacements on parse-stage fields (title, text, parse metadata),
    before indexing ever sees them.

    The reference ships this plugin as an inert skeleton —
    ``ReplaceParser.java:63-65`` leaves ``parseConf`` empty and
    ``filter`` (lines 68-74) returns the ParseResult unchanged — so
    byte-parity would be a no-op. This implements the plugin's
    documented intent ("Do pattern replacements on selected field
    contents", ReplaceParser.java:35-36) with the exact rule language
    of its functional twin index-replace (ReplaceIndexer.java:41-200):
    ``(scope_kind, scope_pattern, [(field, regexp, replacement)...])``
    with hostmatch/urlmatch scoping and Java ``Matcher.replaceAll``
    (all-occurrence) semantics. Pure JVM column program — shares
    :func:`~nutch_spark.operators.indexing_filters.index_replace`.
    """
    from .indexing_filters import index_replace

    return index_replace(parse_fields, rules)
