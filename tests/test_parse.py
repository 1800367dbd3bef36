"""Parse tests: DOMContentUtils-style extraction vectors
(TestDOMContentUtils.java port), byte-identity against the fixture's
golden text column, outlink emission + OPIC distribution."""

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.functions.htmlparse import parse_html
from nutch_spark.operators.parse import outlink_edges, parse_segment
from nutch_spark.testdata import fixture_dfs


# --- pure-python extraction vectors (TestDOMContentUtils.java analog) ---

def test_text_collapse_and_skip():
    html = (b"<html><head><title>My  Title</title>"
            b"<style>.x{}</style></head><body>"
            b"<script>var a=1;</script>"
            b"<p>hello   world</p>\n\n<p> again </p></body></html>")
    r = parse_html(html, "http://t/")
    assert r.title == "My Title"
    assert r.text == "My Title hello world again"


def test_outlinks_resolution_and_anchor():
    html = (b'<html><body>'
            b'<a href="/abs.html">first link</a>'
            b'<a href="rel.html"><img alt="picture"></a>'
            b'<a href="http://other.test/x" rel="nofollow">no</a>'
            b'<iframe src="frame.html"></iframe>'
            b'</body></html>')
    r = parse_html(html, "http://h.test/dir/page.html")
    assert ("http://h.test/abs.html", "first link") in r.outlinks
    assert ("http://h.test/dir/rel.html", "picture") in r.outlinks
    assert ("http://h.test/dir/frame.html", "") in r.outlinks
    assert not any("other.test" in u for u, _ in r.outlinks)


def test_base_href():
    html = (b'<html><head><base href="http://base.test/sub/"></head>'
            b'<body><a href="x.html">x</a></body></html>')
    r = parse_html(html, "http://page.test/")
    assert r.outlinks == [("http://base.test/sub/x.html", "x")]


def test_meta_robots():
    noindex = b'<html><head><meta name="robots" content="noindex">' \
              b'<title>T</title></head><body>body <a href="/a">a</a>' \
              b'</body></html>'
    r = parse_html(noindex, "http://t.test/")
    assert r.text == "" and r.title == ""
    assert r.outlinks  # noindex keeps links
    nofollow = noindex.replace(b"noindex", b"nofollow")
    r2 = parse_html(nofollow, "http://t.test/")
    assert r2.outlinks == [] and "body" in r2.text


def test_meta_refresh_redirect():
    html = (b'<html><head><meta http-equiv="refresh" '
            b'content="0;url=/new.html"></head><body>x</body></html>')
    r = parse_html(html, "http://t.test/old.html")
    assert r.redirect == "http://t.test/new.html"


def test_charset_detection():
    html = ('<html><head><meta charset="iso-8859-1"></head>'
            '<body>caf\xe9</body></html>').encode("iso-8859-1")
    r = parse_html(html, "http://t/")
    assert "café" in r.text


def test_fast_engine_matches_stdlib_on_vectors():
    cases = [
        b"<html><head><title>My  Title</title><style>.x{}</style></head>"
        b"<body><script>var a=1;</script><p>hello   world</p>\n\n"
        b"<p> again </p></body></html>",
        b'<html><body><a href="/abs.html">first link</a>'
        b'<a href="rel.html"><img alt="picture"></a>'
        b'<a href="http://other.test/x" rel="nofollow">no</a>'
        b'<iframe src="frame.html"></iframe></body></html>',
        b'<html><head><base href="http://base.test/sub/"></head>'
        b'<body><a href="x.html">x</a></body></html>',
        b'<html><head><meta name="robots" content="noindex,nofollow">'
        b'<title>T</title></head><body>body <a href="/a">a</a></body>',
        b'<html><head><meta http-equiv="refresh" '
        b'content="0;url=/new.html"></head><body>x</body></html>',
        b"<p>a &amp; b &lt;tag&gt; &#65;</p>",
        b"<a href='/q?x=1&amp;y=2'>q</a>",
        b"<!-- comment <a href='/no'>x</a> --><p>kept</p>",
        b"<script><a href='/never'>t</a></script><p>after</p>",
        b"<div><a href=/unquoted>u</a><br/><input disabled></div>",
        b"<a href='/outer'>one <a href='/inner'>two</a></a>",
        b"",
    ]
    for html in cases:
        fast = parse_html(html, "http://t.test/d/p.html", engine="fast")
        slow = parse_html(html, "http://t.test/d/p.html",
                          engine="stdlib")
        assert (fast.text, fast.title, fast.outlinks, fast.redirect) \
            == (slow.text, slow.title, slow.outlinks, slow.redirect), html


def test_fast_engine_matches_stdlib_on_corpus():
    """Differential gate over the whole deterministic fixture corpus —
    the fast tokenizer must be event-equivalent to html.parser."""
    from nutch_spark.testdata import build_fixture
    pages = build_fixture(n_hosts=10, pages_per_host=6,
                          hot_host_pages=20)["pages"]
    for _, row in pages.iterrows():
        fast = parse_html(bytes(row["html"]), row["url"], engine="fast")
        slow = parse_html(bytes(row["html"]), row["url"],
                          engine="stdlib")
        assert (fast.text, fast.title, fast.outlinks, fast.redirect,
                fast.noindex, fast.nofollow) \
            == (slow.text, slow.title, slow.outlinks, slow.redirect,
                slow.noindex, slow.nofollow), row["url"]


# --- Spark-side parse stage ---------------------------------------------

@pytest.fixture(scope="module")
def fixture(spark):
    return fixture_dfs(spark, n_hosts=6, pages_per_host=5,
                       hot_host_pages=10)


def _content(pages):
    return pages.select(
        "url", "html", "text", "lang",
        F.lit(1_700_000_000_000).alias("fetch_time"),
        F.lit(1.0).alias("score"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        F.lit(None).cast("map<string,string>").alias("metadata"))


def test_byte_identity_against_golden(spark, fixture):
    """The per-row invariant from BASELINE.json: extracted text is
    byte-identical to the pages table's golden text column."""
    cfg = CrawlConfig()
    pr = parse_segment(_content(fixture["pages"]), cfg, 0)
    joined = (pr["parse_text"].alias("p")
              .join(fixture["pages"].alias("g"), "url")
              .select("url", F.col("p.text").alias("got"),
                      F.col("g.text").alias("want")))
    bad = joined.where(F.col("got") != F.col("want")).collect()
    assert bad == [], bad[:3]


def test_outlink_distribution_and_cap(spark):
    cfg = CrawlConfig(db_max_outlinks_per_page=3)
    links = "".join(f'<a href="/l{i}.html">l{i}</a>' for i in range(6))
    html = f"<html><body>{links}</body></html>".encode()
    content = _content(spark.createDataFrame(
        [("http://d.test/", None, bytearray(html), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"))
    pr = parse_segment(content, cfg, 0)
    linked = pr["crawl_parse"].where(F.col("status") == "linked").collect()
    assert len(linked) == 3  # cap (db.max.outlinks.per.page)
    # OPIC: parent score 1.0 / 3 links (ParseOutputFormat + OPIC)
    assert all(abs(r.score - 1.0 / 3) < 1e-9 for r in linked)


def test_signature_emitted(spark, fixture):
    cfg = CrawlConfig()
    pr = parse_segment(_content(fixture["pages"].limit(5)), cfg, 0)
    sigs = pr["crawl_parse"].where(F.col("status") == "signature") \
        .collect()
    assert len(sigs) == 5
    assert all(r.signature and len(r.signature) == 32 for r in sigs)


def _multiset(df) -> list:
    """Rows as sorted, hashable values: maps and structs made tuples."""
    def canon(v):
        if hasattr(v, "asDict"):
            return tuple(canon(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        return v
    return sorted((canon(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("output", ["parse_text", "parse_data",
                                    "crawl_parse"])
def test_routed_html_matches_unrouted(spark, fixture, output):
    """Html pages parse the same with no mime_type column (every row
    is html) and with an all-text/html one (every row is routed to the
    html family)."""
    cfg = CrawlConfig(db_parsemeta_to_crawldb=("lang",))
    content = _content(fixture["pages"])
    routed = content.withColumn("mime_type", F.lit("text/html"))
    want = _multiset(parse_segment(content, cfg, 0)[output])
    assert want
    assert _multiset(parse_segment(routed, cfg, 0)[output]) == want


def test_outlink_edges(spark, fixture):
    cfg = CrawlConfig()
    pr = parse_segment(_content(fixture["pages"]), cfg, 0)
    edges = outlink_edges(pr["parse_data"])
    assert edges.columns == ["from_url", "to_url", "anchor"]
    assert edges.count() > 0


def _mini_pdf() -> bytes:
    from nutch_spark.functions.pdfparse import build_pdf
    return build_pdf(["pdf body"], compress=False)


def test_parse_dispatch_routes(spark):
    """ParseUtil/parse-plugins.xml routing (ParseUtil.java:74-110):
    html → DOMContentUtils extraction, rss → feed plugin, zip →
    container walk, plain → verbatim decode, unknown → ParserNotFound
    row."""
    import io
    import zipfile

    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.parse import parse_dispatch

    rss = (b'<?xml version="1.0"?><rss version="2.0"><channel>'
           b'<title>F</title><link>http://f.ex/</link>'
           b'<item><title>E1</title><link>http://f.ex/e1</link>'
           b'<description>d1</description></item>'
           b'</channel></rss>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.txt", "zipped words")
    rows = [
        ("http://a.ex/h", b"<html><head><title>T</title></head>"
                          b"<body>hello   world</body></html>",
         "text/html"),
        ("http://a.ex/f", rss, "application/rss+xml"),
        ("http://a.ex/z", buf.getvalue(), "application/zip"),
        ("http://a.ex/t", b"plain  text", "text/plain"),
        ("http://a.ex/p", _mini_pdf(), "application/pdf"),
        ("http://a.ex/x", b"\x00\x01", "application/x-unknown"),
    ]
    content = spark.createDataFrame(
        [(u, bytearray(b), m) for u, b, m in rows],
        "url string, html binary, mime_type string")
    out = parse_dispatch(content, CrawlConfig(), 0)
    got = {(r.url, r.parser): r for r in out.collect()}
    h = got[("http://a.ex/h", "parse-html")]
    assert h.status == "success" and "hello world" in h.text
    # feed route: one entry row (keyed by entry link) + one feed row
    assert ("http://f.ex/e1", "feed") in got
    assert ("http://a.ex/f", "feed") in got
    z = got[("http://a.ex/z", "parse-zip")]
    assert z.status == "success" and "zipped words" in z.text
    t = got[("http://a.ex/t", "text-plain")]
    assert t.text == "plain  text" and t.title == ""
    p = got[("http://a.ex/p", "parse-pdf")]
    assert p.status == "success" and "pdf body" in p.text
    x = got[("http://a.ex/x", None)]
    assert x.status == "failed_parser_not_found"


def test_parse_metatags_and_headings(spark):
    """parse-metatags multimap + name filter (MetaTagsParser.java:
    65-96) and headings first-per-tag (HeadingsParseFilter.java:43-66)."""
    from nutch_spark.operators.parse import parse_headings, parse_metatags

    html = (b"<html><head>"
            b'<meta name="Keywords" content="a,b">'
            b'<meta name="keywords" content="c">'
            b'<meta http-equiv="Content-Type" content="text/html">'
            b'<meta name="author" content="x">'
            b"</head><body><h1>First  H1</h1><h2>Sub</h2>"
            b"<h1>Second H1</h1></body></html>")
    content = spark.createDataFrame(
        [("http://a.ex/", bytearray(html))], "url string, html binary")

    all_tags = {(r.key, r.pos): r.value
                for r in parse_metatags(content).collect()}
    # repeated names append in document order, keys lowercased
    assert all_tags[("metatag.keywords", 0)] == "a,b"
    assert all_tags[("metatag.keywords", 1)] == "c"
    assert all_tags[("metatag.content-type", 0)] == "text/html"
    # names filter keeps only the listed tags
    only = {r.key for r in parse_metatags(
        content, names=("author",)).collect()}
    assert only == {"metatag.author"}

    h = {(r.tag, r.pos): r.heading
         for r in parse_headings(content).collect()}
    assert h == {("h1", 0): "First H1", ("h2", 0): "Sub"}
    multi = {(r.tag, r.pos): r.heading
             for r in parse_headings(content, multivalued=True).collect()}
    assert multi[("h1", 1)] == "Second H1"


def test_urlmeta_tags_propagate_to_outlinks(spark):
    """urlmeta plugin (URLMetaScoringFilter.java:60-83): listed parent
    metadata keys ride to outlink linked rows; unlisted keys do not."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.parse import parse_segment

    html = b'<html><body><a href="http://b.ex/x">x</a></body></html>'
    content = spark.createDataFrame(
        [("http://a.ex/", bytearray(html), "x", "en", 1000, 1.0, 3600,
          {"campaign": "c1", "other": "y"})],
        "url string, html binary, text string, lang string, "
        "fetch_time long, score double, fetch_interval int, "
        "metadata map<string,string>")
    cfg = CrawlConfig(urlmeta_tags=("campaign",),
                      db_ignore_internal_links=False)
    pr = parse_segment(content, cfg, 0)
    linked = [r for r in pr["crawl_parse"].collect()
              if r.status == "linked"]
    assert len(linked) == 1
    meta = dict(linked[0].metadata)
    assert meta["campaign"] == "c1"
    assert "other" not in meta and "_anchor_" in meta
    # plugin off by default: no propagation
    pr0 = parse_segment(content, CrawlConfig(
        db_ignore_internal_links=False), 0)
    l0 = [r for r in pr0["crawl_parse"].collect()
          if r.status == "linked"][0]
    assert "campaign" not in dict(l0.metadata)


def test_parse_reltags(spark):
    """microformats-reltag: rel='tag' (case-insensitive) hrefs only,
    last path segment URL-decoded, TreeSet semantics; a relative href
    throws in the reference's `new URL(...)` and is skipped
    (RelTagParser.java:95-135)."""
    from nutch_spark.operators.parse import parse_reltags

    html = (b'<html><body>'
            b'<a rel="tag" href="http://t.ex/tags/Python">p</a>'
            b'<a rel="TAG" href="http://t.ex/t/Machine%20Learning">m</a>'
            b'<a rel="tag" href="/t/Relative%20Skipped">r</a>'
            b'<a rel="tag" href="http://t.ex/tags/Python">dup</a>'
            b'<a href="http://t.ex/tags/NotTagged">n</a>'
            b'</body></html>')
    content = spark.createDataFrame(
        [("http://a.ex/", bytearray(html))], "url string, html binary")
    tags = sorted(r.tag for r in parse_reltags(content).collect())
    assert tags == ["Machine Learning", "Python"]


def test_cc_license_precedence(spark):
    """creativecommons plugin (CCParseFilter.java:56-150): rdf comment
    beats rel=license beats plain anchor; non-CC and short /licenses/
    urls rejected; hrefs resolve against the page url."""
    from nutch_spark.operators.parse import parse_cc_license

    cc = b'http://creativecommons.org/licenses/by-nc/2.0/'
    rows = [
        ("http://a.ex/", b'<html><head><!-- <rdf:RDF x>'
         b'<cc:Work><cc:license rdf:resource="RDF-LIC"/></cc:Work>'
         b'</rdf:RDF> --></head><body>'
         b'<a rel="license" href="' + cc + b'">c</a></body></html>'),
        ("http://b.ex/", b'<html><body><a href="' + cc + b'">p</a>'
         b'<a rel="license" href="' + cc + b'">r</a></body></html>'),
        ("http://c.ex/", b'<html><body><a href="' + cc + b'">p</a>'
         b'</body></html>'),
        ("http://creativecommons.org/x",
         b'<html><body><a href="/licenses/by/3.0/">rel</a>'
         b'</body></html>'),
        ("http://d.ex/", b'<html><body>'
         b'<a href="http://creativecommons.org/licenses/">short</a>'
         b'<a href="https://other.org/licenses/by/2.0/">no</a>'
         b'</body></html>'),
    ]
    content = spark.createDataFrame(
        [(u, bytearray(h)) for u, h in rows], "url string, html binary")
    got = {r.url: (r.license_url, r.license_location)
           for r in parse_cc_license(content).collect()}
    assert got["http://a.ex/"] == ("RDF-LIC", "rdf")
    assert got["http://b.ex/"][1] == "rel"
    assert got["http://c.ex/"][1] == "a"
    # relative href resolved against the page's own host
    assert got["http://creativecommons.org/x"] == (
        "http://creativecommons.org/licenses/by/3.0/", "a")
    assert "http://d.ex/" not in got


def test_parse_js_links(spark):
    """parse-js (JSParseFilter.java:182-260): quoted URI-looking
    strings only; www. prefix, base resolution, &amp; unescape."""
    from nutch_spark.operators.parse import parse_js_links

    js = ('var a = "http://x.ex/p?a=1&amp;b=2";'
          "var b = 'www.example.com/path';"
          'var c = "/rel/doc.html"; var d = "justaword";'
          'var e = "has space.com not matched";')
    content = spark.createDataFrame(
        [("http://base.ex/dir/page", js)], "url string, script string")
    got = [r.to_url for r in parse_js_links(content).collect()]
    assert got == ["http://x.ex/p?a=1&b=2",
                   "http://www.example.com/path",
                   "http://base.ex/rel/doc.html"]
