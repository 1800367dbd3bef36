"""Mixed-mime corpus through the shipped CrawlRun cycle: pages that
carry a ``mime_type`` column take the ParseUtil/parse-plugins.xml
routing wired into production (ParseUtil.java:74-110,
bin/crawl:232-236): html pages parse on the HtmlParser path, feeds
yield non-canonical per-entry sub-parses whose ``fetch_success``
datums enter the crawldb (ParseOutputFormat.java:285-297), zip
archives yield one canonical parse whose accumulated outlinks are
discovered, text/plain decodes trivially, the tika document/image
families (PDF/ODT/RTF/DOC/GIF) yield canonical text or metadata-only
parses, and unknown mimetypes are dropped from every parse output
(ParseSegment.java:100-108)."""

import struct

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.functions.docparse import build_doc
from nutch_spark.functions.feedparse import Feed, FeedEntry, encode_rss
from nutch_spark.functions.ooparse import build_odt
from nutch_spark.functions.pdfparse import build_pdf
from nutch_spark.functions.rtfparse import build_rtf
from nutch_spark.functions.ziparse import encode_zip
from nutch_spark.operators.parse import parse_segment

START = 1_700_000_000_000
SITE = "http://site.test"


def _html(title, hrefs):
    links = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    return (f"<html><head><title>{title}</title></head>"
            f"<body>{links}</body></html>").encode("utf-8")


@pytest.fixture(scope="module")
def mixed(spark):
    feed_blob = encode_rss(Feed(
        link=f"{SITE}/", title="Site Feed", description="site feed desc",
        entries=[
            FeedEntry(link=f"{SITE}/e0", title="E0", text="entry zero"),
            FeedEntry(link=f"{SITE}/e1", title="E1", text="entry one"),
        ]))
    zip_blob = encode_zip([
        ("a.txt", b"alpha beta"),
        ("b.html", f'<a href="{SITE}/z0">zlink</a>'.encode()),
    ])
    rows = [
        (f"{SITE}/p0",
         _html("Root", [f"{SITE}/feed", f"{SITE}/archive",
                        f"{SITE}/notes", f"{SITE}/doc", f"{SITE}/p1",
                        f"{SITE}/report", f"{SITE}/memo",
                        f"{SITE}/readme", f"{SITE}/word",
                        f"{SITE}/logo"]),
         "text/html"),
        (f"{SITE}/p1", _html("Leaf", []), "text/html"),
        (f"{SITE}/feed", feed_blob, "application/rss+xml"),
        (f"{SITE}/archive", zip_blob, "application/zip"),
        (f"{SITE}/notes", b"plain notes body", "text/plain"),
        (f"{SITE}/doc", b"\x00\x01 unknown blob", "application/octet-stream"),
        # tika document/image families (cycle-routed in round 5)
        (f"{SITE}/report", build_pdf(["pdf body text"]),
         "application/pdf"),
        (f"{SITE}/memo", build_odt(["odt body"], title="Memo"),
         "application/vnd.oasis.opendocument.text"),
        (f"{SITE}/readme", build_rtf(["rtf body"]), "application/rtf"),
        (f"{SITE}/word", build_doc(["word body"]), "application/msword"),
        (f"{SITE}/logo",
         b"GIF89a" + struct.pack("<HH", 12, 7) + b"\xf7\x00\x00"
         + b"\x00" * 6 + b"\x3b", "image/gif"),
    ]
    pages = spark.createDataFrame(
        [(u, None, b, None, "en", m) for u, b, m in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, mime_type string")
    http_status = spark.createDataFrame(
        [(u, 200, None, len(b)) for u, b, _ in rows],
        "url string, status_code int, redirect_to string, "
        "content_length long")
    robots = spark.createDataFrame(
        [(SITE, None, 404)],
        "authority string, robots_txt string, fetch_code int")
    seeds = spark.createDataFrame([(f"{SITE}/p0",)], "line string")
    return {"pages": pages, "http_status": http_status,
            "robots": robots, "seeds": seeds}


@pytest.fixture(scope="module")
def run_db(spark, tmp_path_factory, mixed):
    tmp = tmp_path_factory.mktemp("dispatch_cycle")
    # text_md5 signatures: with raw-byte md5 every feed sub-parse
    # shares the parent content's signature (ParseSegment.java:130-133
    # calculates from the ONE shared Content), so the in-cycle
    # DeduplicationJob would mark the entries db_duplicate — the exact
    # reason Nutch recommends text signatures for feed crawls
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=2,
                      signature_kind="text_md5")
    run = CrawlRun(spark, str(tmp), cfg, mixed["pages"],
                   mixed["robots"], mixed["http_status"],
                   bloom_buckets=4, db_buckets=4)
    db = run.crawl(mixed["seeds"], rounds=2, start_ms=START)
    return tmp, run, db


def test_feed_entries_enter_crawldb_as_fetched(spark, run_db):
    """Non-canonical sub-parses carry a fetch_success datum, so feed
    entries land in the crawldb as db_fetched without a fetch of
    their own (ParseOutputFormat.java:285-297)."""
    _, _, db = run_db
    st = {r.url: r.status for r in db.collect()}
    assert st.get(f"{SITE}/e0") == "db_fetched"
    assert st.get(f"{SITE}/e1") == "db_fetched"


def test_zip_outlink_discovered(spark, run_db):
    """The archive's accumulated sub-parse outlinks go through the
    normal linked emission → frontier discovery."""
    _, _, db = run_db
    st = {r.url: r.status for r in db.collect()}
    assert st.get(f"{SITE}/z0") == "db_unfetched"


def test_per_family_parse_rows(spark, run_db):
    """Round 2's parse_text has one row per family: feed-level +
    per-entry rows, the zip's combined text, the decoded text/plain
    body — and NO row for the unknown-mime doc (it was fetched but
    ParserNotFound drops it from parse outputs entirely)."""
    tmp, _, db = run_db
    pt = spark.read.parquet(f"{tmp}/segments/parse_text/round=2")
    texts = {r.url: r.text for r in pt.collect()}
    assert texts.get(f"{SITE}/e0") == "entry zero"
    assert texts.get(f"{SITE}/e1") == "entry one"
    assert f"{SITE}/feed" in texts              # canonical feed row
    assert "alpha beta" in texts.get(f"{SITE}/archive", "")
    assert "zlink" in texts.get(f"{SITE}/archive", "")
    assert texts.get(f"{SITE}/notes") == "plain notes body"
    assert f"{SITE}/doc" not in texts
    # ...but the doc WAS fetched — only the parse dropped it
    st = {r.url: r.status for r in db.collect()}
    assert st.get(f"{SITE}/doc") == "db_fetched"
    # tika document families: one canonical parse row each, image
    # rows carry an empty text (metadata-only parse)
    assert texts.get(f"{SITE}/report") == "pdf body text"
    assert texts.get(f"{SITE}/memo") == "odt body"
    assert texts.get(f"{SITE}/readme") == "rtf body\n"
    assert texts.get(f"{SITE}/word") == "word body\n"
    assert texts.get(f"{SITE}/logo") == ""
    for u in ("report", "memo", "readme", "word", "logo"):
        assert st.get(f"{SITE}/{u}") == "db_fetched", u


def test_zip_outlinks_in_parse_data(spark, run_db):
    tmp, _, _ = run_db
    pd_ = spark.read.parquet(f"{tmp}/segments/parse_data/round=2")
    row = {r.url: r for r in pd_.collect()}[f"{SITE}/archive"]
    assert [o.to_url for o in row.outlinks] == [f"{SITE}/z0"]


def test_signatures_present_per_family(spark, run_db):
    """Every parse row (canonical and sub-parse) carries a signature —
    ParseSegment computes one per ParseResult entry
    (ParseSegment.java:130-133); text_md5 kind → distinct per text."""
    tmp, _, _ = run_db
    pd_ = spark.read.parquet(f"{tmp}/segments/parse_data/round=2")
    sigs = {r.url: r.signature for r in pd_.collect()}
    for u in (f"{SITE}/feed", f"{SITE}/e0", f"{SITE}/e1",
              f"{SITE}/archive", f"{SITE}/notes"):
        assert sigs.get(u), u
    assert sigs[f"{SITE}/e0"] != sigs[f"{SITE}/e1"]


def _content(mixed):
    """fetch()'s content frame over the mixed pages, mime_type kept."""
    return (mixed["pages"]
            .select("url", "html", "text", "lang", "mime_type",
                    F.lit(START).cast("long").alias("fetch_time"),
                    F.lit(1.0).alias("score"),
                    F.lit(3600).cast("int").alias("fetch_interval"),
                    F.lit(None).cast("map<string,string>")
                     .alias("metadata")))


def test_md5_kind_subparses_share_parent_signature(spark, mixed):
    """Raw-md5 kind: every sub-parse's signature is the md5 of the ONE
    shared parent Content (SignatureFactory.calculate(content, parse)
    with MD5Signature ignores the parse) — pinned directly on
    the routed parse_segment, outside the cycle, because in-cycle
    dedup then marks the entries db_duplicate."""
    cfg = CrawlConfig()  # signature_kind=md5
    out = parse_segment(_content(mixed), cfg, START)
    sigs = {r.url: r.signature for r in out["parse_data"].collect()}
    assert sigs[f"{SITE}/e0"] == sigs[f"{SITE}/feed"]
    assert sigs[f"{SITE}/e1"] == sigs[f"{SITE}/feed"]
    assert sigs[f"{SITE}/archive"] != sigs[f"{SITE}/feed"]


def test_routed_outlinks_per_family(spark, mixed):
    """Each kernel family's parse_data outlinks, exactly: the zip's
    accumulated links, and an empty array, never null, for the feed
    rows, text/plain and the tika document and image families."""
    out = parse_segment(_content(mixed), CrawlConfig(), START)
    links = {r.url: r.outlinks for r in out["parse_data"].collect()}
    assert [(o.to_url, o.anchor) for o in links[f"{SITE}/archive"]] \
        == [(f"{SITE}/z0", "zlink")]
    for u in ("feed", "e0", "e1", "notes", "report", "memo", "readme",
              "word", "logo"):
        assert links[f"{SITE}/{u}"] == [], u
    assert f"{SITE}/doc" not in links
