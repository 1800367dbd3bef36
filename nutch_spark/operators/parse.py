"""ParseSegment — HTML parse + crawl_parse emissions.

Reference: ParseSegment.java:78-193 (map: only fetch_success, skip
truncated, parse, signature), ParseOutputFormat.java:90-352 (emit
parse_text / parse_data / crawl_parse: signature datum, parse_meta
datum, outlink ``linked`` datums with OPIC score distribution, meta-
refresh redirect with ``_repr_``), HtmlParser.java + DOMContentUtils
(the text/title/outlink algorithms — functions/htmlparse.py).
Content that carries its Content-Type is routed per parser family,
as ParseUtil does through parse-plugins.xml (ParseUtil.java:74-110).

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

from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
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
from . import archive as archive_op
from . import feed as feed_op
from . import msoffice as ms_op
from . import pdf as pdf_op
from . import swf as swf_op

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


# nullable-field DDL (not ArrayType(OUTLINK)): casting a parsed array
# to a NOT NULL struct field is an AnalysisException
_LINKS = "array<struct<to_url:string,anchor:string>>"
_ATTRS = ("fetch_time", "score", "fetch_interval", "metadata")
# the protocol Content-Type, carried through fetch's content frame when
# the pages table has it
MIME_COL = "mime_type"


def _struct_p(text: Column, title: Column, outlinks: Column,
              redirect: Column) -> Column:
    return F.struct(text.alias("text"), title.alias("title"),
                    outlinks.alias("outlinks"), redirect.alias("redirect"))


def _html_p() -> Column:
    return parse_udf()(F.col("html"), F.col("url"))


def _plain_p() -> Column:
    return _struct_p(F.decode("html", "UTF-8"), F.lit(""),
                     F.array().cast(_LINKS), F.lit(None).cast("string"))


def _feed_rows(blobs: DataFrame, cfg: CrawlConfig) -> DataFrame:
    # parse-feed: one non-canonical sub-parse per entry (kind 'entry')
    # plus the canonical feed row, all keyed back to the feed's content
    return (feed_op.parse_feeds(blobs, cfg, url_col="url",
                                keep_source=True)
            .withColumn("status", F.lit("success")))


def _doc_rows(parse_fn):
    # a one-canonical-parse-per-document kernel, keyed at its own url
    def rows(blobs: DataFrame, cfg: CrawlConfig) -> DataFrame:
        return (parse_fn(blobs, cfg, length_col=None)
                .withColumns({"source": F.col("url"),
                              "kind": F.lit(None).cast("string")}))
    return rows


class Family(NamedTuple):
    """One parse-plugins.xml route: the mimetypes ParserFactory maps to
    a parser plugin, and that plugin's kernel. An in-row family builds
    the parse struct ``_p`` as a column of the content row (``row``).
    A kernel family maps ``(url, content)`` blobs to parse rows
    ``(source, url, status, kind, ...)``: ``source`` is the content's
    url, ``kind`` is ``'entry'`` on a non-canonical sub-parse, and
    ``text``/``title``/``outlinks`` name the kernel's columns (None: it
    yields none)."""
    parser: str
    mimes: tuple[str, ...]
    row: Callable[[], Column] | None = None
    kernel: Callable[[DataFrame, CrawlConfig], DataFrame] | None = None
    text: str | None = "text"
    title: str | None = "title"
    outlinks: str | None = None


# conf/parse-plugins.xml: the reference's ParserFactory resolves the
# ordered plugin list per content-type, ParseUtil.java:74-110 tries them
# until one succeeds. Implemented here: parse-html, text-plain (the
# trivial decode of parse-tika's text/* path), parse-zip, feed,
# parse-swf and parse-tika's document/image paths (each codec
# golden-verified against the plugin's own sample files; swf yields
# getURL outlinks, pdf/oo/rtf/msword text only, images an empty-text
# metadata parse).
PARSE_FAMILIES = (
    Family("parse-html", ("text/html", "application/xhtml+xml"),
           row=_html_p),
    Family("text-plain", ("text/plain",), row=_plain_p),
    Family("parse-zip", ("application/zip",),
           kernel=_doc_rows(archive_op.parse_zips), outlinks="outlinks"),
    Family("feed", ("application/rss+xml", "application/atom+xml"),
           kernel=_feed_rows),
    Family("parse-swf", ("application/x-shockwave-flash",),
           kernel=_doc_rows(swf_op.parse_swfs), outlinks="outlinks"),
    Family("parse-pdf", ("application/pdf",),
           kernel=_doc_rows(pdf_op.parse_pdfs)),
    Family("parse-oo", ("application/vnd.oasis.opendocument.text",
                        "application/vnd.sun.xml.writer"),
           kernel=_doc_rows(ms_op.parse_oo)),
    Family("parse-rtf", ("application/rtf", "text/rtf"),
           kernel=_doc_rows(ms_op.parse_rtf)),
    Family("parse-msword", ("application/msword",),
           kernel=_doc_rows(ms_op.parse_msword), title=None),
    Family("parse-image", ("image/gif", "image/png", "image/jpeg",
                           "image/bmp"),
           kernel=_doc_rows(ms_op.parse_images), text=None, title=None),
)


def is_routed(content: DataFrame) -> bool:
    """Whether :func:`parse_segment` routes ``content`` by mimetype:
    only when it carries the pages' Content-Type column."""
    return MIME_COL in content.columns


def _mime(content: DataFrame, mime_col: str = MIME_COL) -> Column:
    return F.lower(F.coalesce(F.col(mime_col), F.lit("")))


def _blobs(content: DataFrame) -> DataFrame:
    return content.select("url", F.col("html").alias("content"))


def _in_row(content: DataFrame, row: Callable[[], Column],
            cfg: CrawlConfig, *extra: Column) -> DataFrame:
    return (content
            .withColumn("_p", row())
            .withColumn(
                "signature",
                signature_col(cfg.signature_kind, F.col("html"),
                              F.col("_p.text"), F.col("url"),
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
            .select("url", *_ATTRS, "_p", "signature", *extra))


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


def _kernel_parsed(content: DataFrame, fam: Family,
                   cfg: CrawlConfig) -> DataFrame:
    # parse rows join back to their content's attrs on ``source``; the
    # page bytes stay out of the join (only the 32-char md5 rides
    # along for the signature). Failed and truncated parses are
    # dropped, like a ParseException in ParseSegment.map
    rows = fam.kernel(_blobs(content), cfg)
    attrs = content.select(F.col("url").alias("source"), *_ATTRS,
                           F.md5("html").alias("_bsig"))
    text = F.col(fam.text) if fam.text else F.lit("")
    title = (F.coalesce(F.col(fam.title), F.lit("")) if fam.title
             else F.lit(""))
    links = (F.coalesce(F.col(fam.outlinks),
                        F.array().cast(_LINKS)).cast(_LINKS)
             if fam.outlinks else F.array().cast(_LINKS))
    return (rows.where(F.col("status") == "success").join(attrs, "source")
            .withColumn("_p", _struct_p(text, title, links,
                                        F.lit(None).cast("string")))
            .withColumn("signature",
                        _sig_from_parent_md5(
                            cfg.signature_kind, text, F.col("_bsig"),
                            cfg.text_profile_min_token_len,
                            cfg.text_profile_quant_rate))
            .select("url", *_ATTRS, "_p", "signature",
                    F.col("kind").alias("_kind")))


def parse_segment(content: DataFrame, cfg: CrawlConfig,
                  now_ms: int) -> dict[str, DataFrame]:
    """ParseSegment: parse fetched content. Input = fetch()'s
    ``content`` frame (url, html, text, lang, fetch_time, score,
    fetch_interval, metadata[, mime_type]). Returns:

    - ``parse_text``: url, text  (byte-identity target);
    - ``parse_data``: url, title, outlinks, signature;
    - ``crawl_parse``: CRAWLDB-schema message rows (signature +
      linked outlinks + meta-refresh redirects [+ parse_meta]);
    - ``parsed``: the frame every output reads. A caller that writes
      more than one output persists it first, or each output re-runs
      the parsers.

    Without a ``mime_type`` column every row is html. With one, each
    row goes to its family in :data:`PARSE_FAMILIES`
    (ParseUtil.java:74-110):

    - html → the HtmlParser UDF path; text/plain → trivial decode;
    - feed → one NON-canonical sub-parse per entry — its own
      parse_text/parse_data/signature rows plus a ``fetch_success``
      crawl_parse datum carrying the parent's fetch time
      (ParseOutputFormat.java:285-297), which is how discovered
      entries enter the crawldb — and one canonical feed-level parse
      with ``Outlink[0]`` (FeedParser.java:143-148);
    - zip, swf, pdf, oo, rtf, msword, image → one canonical parse per
      document; failed and truncated documents are dropped;
    - unknown mime → dropped entirely (ParseSegment.java:100-108:
      ParserNotFound → ParseException → ``return`` — the row reaches
      none of the outputs).

    Spark shape: one filtered scan per family, since each family is a
    different kernel (html pandas UDF, text/plain a column decode, the
    rest mapInPandas). The
    caller persists a routed ``content`` (``is_routed``) so the fetch
    join runs once and each family reads the cached bytes
    (``CrawlRun.run_round`` does). All families union into ONE slim
    parsed frame with no page bytes, so the ParseOutputFormat program
    below exists once in the plan."""
    if not is_routed(content):
        return _parse_outputs(_in_row(content, _html_p, cfg), cfg, now_ms)

    mime = _mime(content)
    frames = []
    for fam in PARSE_FAMILIES:
        fam_content = content.where(mime.isin(*fam.mimes))
        if fam.row is not None:
            frames.append(_in_row(fam_content, fam.row, cfg,
                                  F.lit(None).cast("string")
                                  .alias("_kind")))
        else:
            frames.append(_kernel_parsed(fam_content, fam, cfg))
    out = _parse_outputs(reduce(DataFrame.unionByName, frames), cfg,
                         now_ms)

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


def _parse_outputs(parsed: DataFrame, cfg: CrawlConfig,
                   now_ms: int) -> dict[str, DataFrame]:
    """ParseOutputFormat half of :func:`parse_segment`, for html-only
    and routed content alike. Input is the slim parsed frame ``(url,
    fetch_time, score, fetch_interval, metadata, _p, signature[,
    _kind])`` — page bytes already dropped."""
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


def parse_dispatch(content: DataFrame, cfg: CrawlConfig, now_ms: int,
                   mime_col: str = MIME_COL) -> DataFrame:
    """ParseUtil/ParserFactory analog as a summary: route content rows
    through :data:`PARSE_FAMILIES` by their mimetype
    (conf/parse-plugins.xml, ParseUtil.java:74-110) and union the
    results on ``(url, parser, status, title, text, n_outlinks)``.
    Unlike :func:`parse_segment` it keeps every kernel row, failed
    ones included with their status, and gives an unknown mimetype one
    ``failed_parser_not_found`` row (ParserNotFound,
    ParseUtil.java:80-86). Unknown-mime rows cost a final slim scan
    that never touches the page bytes."""
    mime = _mime(content, mime_col)
    outs = []
    for fam in PARSE_FAMILIES:
        fam_content = content.where(mime.isin(*fam.mimes))
        parser = F.lit(fam.parser).alias("parser")
        if fam.row is not None:
            outs.append(fam_content.withColumn("_p", fam.row()).select(
                "url", parser, F.lit("success").alias("status"),
                F.col("_p.title").alias("title"),
                F.col("_p.text").alias("text"),
                F.size(F.coalesce(F.col("_p.outlinks"), F.array()))
                 .alias("n_outlinks")))
            continue
        rows = fam.kernel(_blobs(fam_content), cfg)
        outs.append(rows.select(
            "url", parser, "status",
            (F.col(fam.title) if fam.title else F.lit("")).alias("title"),
            (F.col(fam.text) if fam.text else F.lit("")).alias("text"),
            (F.size(F.coalesce(F.col(fam.outlinks), F.array()))
             if fam.outlinks else F.lit(0).cast("int"))
            .alias("n_outlinks")))

    known = [m for fam in PARSE_FAMILIES for m in fam.mimes]
    outs.append(content.where(~mime.isin(*known)).select(
        "url", F.lit(None).cast("string").alias("parser"),
        F.lit("failed_parser_not_found").alias("status"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("text"),
        F.lit(0).cast("int").alias("n_outlinks")))
    return reduce(DataFrame.unionByName, outs)


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
