"""parse-tika document/image-path analogs: the reference's own sample
vectors (ODT/SXW/RTF/DOC/GIF), builder round-trips, operator
contracts, dispatch routing."""

import os
import re

import pytest
from pyspark.sql import functions as F

from nutch_spark.config import CrawlConfig
from nutch_spark.functions.docparse import build_doc, doc_extract
from nutch_spark.functions.imagemeta import image_dims
from nutch_spark.functions.ooparse import build_odt, oo_extract
from nutch_spark.functions.rtfparse import build_rtf, rtf_extract

SAMPLES = "/root/reference/src/plugin/parse-tika/sample"
needs_samples = pytest.mark.skipif(
    not os.path.isdir(SAMPLES), reason="reference samples unavailable")


# --- OO (TestOOParser.java:61-85) --------------------------------------

@needs_samples
@pytest.mark.parametrize("name", ["ootest.odt", "ootest.sxw"])
def test_oo_reference_samples(name):
    """Non-empty extraction (the reference's own assertion) plus the
    ootest.txt sentences the ordering-insensitive comparison prints."""
    with open(f"{SAMPLES}/{name}", "rb") as f:
        r = oo_extract(f.read())
    assert r["title"] == "Abcedfg"          # meta.xml dc:title
    assert r["language"] == "en-US"
    assert len(r["text"]) > 0
    for probe in ("http://www.openoffice.org",
                  "Lorem ipsum dolor sit amet",
                  "Cell1", "TOTAL"):
        assert probe in r["text"], probe


@needs_samples
def test_oo_covers_expected_text_vocabulary():
    """Every whitespace-delimited token of ootest.txt that survived
    the reference txt export (non-? ASCII) appears in our ODT
    extraction — the set-level equivalent of TestOOParser's manual
    comparison."""
    with open(f"{SAMPLES}/ootest.txt", encoding="utf-8-sig") as f:
        expected = f.read()
    with open(f"{SAMPLES}/ootest.odt", "rb") as f:
        got = oo_extract(f.read())["text"]
    got_tokens = set(re.split(r"\s+", got))
    for tok in re.split(r"\s+", expected):
        if tok and "?" not in tok:
            assert tok in got_tokens, tok


def test_oo_builder_roundtrip():
    paras = ["Hello\tworld", "two  spaces kept", "line\nbreak", "a&<b>"]
    for flavor in ("odt", "sxw"):
        r = oo_extract(build_odt(paras, title="T", flavor=flavor))
        assert r["text"] == "\n".join(paras), flavor
        assert r["title"] == "T"


def test_oo_builder_bytes_ignore_wall_clock(monkeypatch):
    """The same document has the same bytes whenever it is built, so
    a raw-md5 signature of an ODT fixture is reproducible."""
    import time
    built = []
    for now in (1_000_000_000, 1_700_000_000):
        monkeypatch.setattr(time, "time", lambda now=now: now)
        built.append(build_odt(["same text"], title="T"))
    assert built[0] == built[1]


def test_oo_not_a_container_raises():
    with pytest.raises(Exception):
        oo_extract(b"{\\rtf1 not a zip}")


# --- RTF (TestRTFParser.java:58-80) -------------------------------------

@needs_samples
def test_rtf_reference_sample():
    with open(f"{SAMPLES}/test.rtf", "rb") as f:
        r = rtf_extract(f.read())
    assert r["text"].strip() == \
        "The quick brown fox jumps over the lazy dog"
    assert r["title"] == "test rft document"
    assert r["subject"] == "tests"


def test_rtf_builder_roundtrip():
    paras = ["Hello\tworld", "naïve — café", "braces {x} \\ ok"]
    r = rtf_extract(build_rtf(paras, title="T&t", subject="s"))
    assert r["text"] == "".join(p + "\n" for p in paras)
    assert r["title"] == "T&t"
    assert r["subject"] == "s"


def test_rtf_ignorable_destination_skipped():
    r = rtf_extract(b"{\\rtf1{\\*\\unknowndest secret}visible}")
    assert r["text"] == "visible"


def test_rtf_mid_group_star_is_inert():
    # test.rtf's body group: \* after other control words is not a
    # destination marker
    r = rtf_extract(b"{\\rtf1{\\f2\\*\\cs7 kept text}}")
    assert r["text"] == "kept text"


def test_rtf_unicode_skip_protocol():
    r = rtf_extract(b"{\\rtf1\\uc1 a\\u8212?b}")
    assert r["text"] == "a—b"


def test_rtf_not_rtf_raises():
    with pytest.raises(ValueError):
        rtf_extract(b"PK\x03\x04")


# --- Word 97 (TestMSWordParser.java:73-89) -------------------------------

@needs_samples
def test_doc_reference_sample():
    with open(f"{SAMPLES}/word97.doc", "rb") as f:
        r = doc_extract(f.read())
    assert r["text"].startswith(
        "This is a sample doc file prepared for nutch.")


def test_doc_builder_roundtrip():
    paras = ["Hello world", "second paragraph", "tab\there"]
    assert doc_extract(build_doc(paras))["text"] == \
        "".join(p.replace("\n", "\n") + "\n" for p in paras)


def test_doc_large_text_spills_past_mini_sectors():
    paras = ["para %03d " % i + "x" * 50 for i in range(40)]
    assert doc_extract(build_doc(paras))["text"] == \
        "".join(p + "\n" for p in paras)


def test_doc_not_cfb_raises():
    with pytest.raises(ValueError):
        doc_extract(b"plain bytes, no compound header")


# --- image metadata (TestImageMetadata.java:53-66) -----------------------

@needs_samples
def test_gif_reference_sample_dims():
    with open(f"{SAMPLES}/nutch_logo_tm.gif", "rb") as f:
        assert image_dims(f.read()) == ("image/gif", 121, 48)


def test_image_unknown_raises():
    with pytest.raises(ValueError):
        image_dims(b"\x00\x01\x02\x03")


# --- operators -----------------------------------------------------------

def _docs(spark, n=20):
    return spark.createDataFrame(
        [(i, f"body text {i} for parsing") for i in range(n)],
        "doc_id long, text string")


def test_parse_oo_operator(spark):
    from nutch_spark.operators.msoffice import make_oo_blobs, parse_oo
    out = {r["url"]: r for r in
           parse_oo(make_oo_blobs(_docs(spark)), CrawlConfig()).collect()}
    assert len(out) == 20
    ok = out["http://oo.test/d1.sxw"]
    assert ok["status"] == "success"
    assert ok["text"] == "OO doc 1\nbody text 1 for parsing"
    assert ok["title"] == "Title 1"
    assert out["http://oo.test/d2.odt"]["status"] == "success"
    assert out["http://oo.test/d0.odt"]["status"] == "failed_truncated"
    assert out["http://oo.test/d13.sxw"]["status"] == "failed_truncated"


def test_parse_rtf_operator(spark):
    from nutch_spark.operators.msoffice import make_rtf_blobs, parse_rtf
    out = {r["url"]: r for r in
           parse_rtf(make_rtf_blobs(_docs(spark)),
                     CrawlConfig()).collect()}
    ok = out["http://rtf.test/d1.rtf"]
    assert ok["status"] == "success"
    assert ok["text"] == "RTF doc 1\nbody text 1 for parsing\n"
    assert ok["title"] == "Title 1"
    assert ok["subject"] == "subj1"
    assert out["http://rtf.test/d13.rtf"]["status"] == "failed_truncated"


def test_parse_msword_operator(spark):
    from nutch_spark.operators.msoffice import (make_doc_blobs,
                                                parse_msword)
    out = {r["url"]: r for r in
           parse_msword(make_doc_blobs(_docs(spark)),
                        CrawlConfig()).collect()}
    ok = out["http://docs.test/d1.doc"]
    assert ok["status"] == "success"
    assert ok["text"] == "Word doc 1\nbody text 1 for parsing\n"
    assert out["http://docs.test/d13.doc"]["status"] == "failed_truncated"


def test_parse_images_operator(spark):
    from nutch_spark.operators.msoffice import (make_image_blobs,
                                                parse_images)
    out = {r["url"]: r for r in
           parse_images(make_image_blobs(_docs(spark)),
                        CrawlConfig()).collect()}
    ok = out["http://img.test/d1"]
    assert (ok["status"], ok["mime"]) == ("success", "image/png")
    assert (ok["width"], ok["height"]) == (2, 2)
    assert out["http://img.test/d3"]["mime"] == "image/gif"
    assert out["http://img.test/d5"]["mime"] == "image/bmp"
    assert out["http://img.test/d0"]["status"] == "failed"
    assert out["http://img.test/d0"]["width"] is None


def test_dispatch_routes_office_families(spark):
    from nutch_spark.operators import parse as parse_op
    from nutch_spark.operators.msoffice import (make_doc_blobs,
                                                make_image_blobs,
                                                make_oo_blobs,
                                                make_rtf_blobs)
    d = _docs(spark, 4)
    frames = [
        (make_oo_blobs(d), "application/vnd.oasis.opendocument.text",
         "parse-oo"),
        (make_rtf_blobs(d), "application/rtf", "parse-rtf"),
        (make_doc_blobs(d), "application/msword", "parse-msword"),
        (make_image_blobs(d), "image/gif", "parse-image"),
    ]
    union = None
    for blobs, mime, _ in frames:
        part = blobs.select("url", F.col("content").alias("html"),
                            F.lit(mime).alias("mime_type"))
        union = part if union is None else union.unionByName(part)
    out = parse_op.parse_dispatch(union, CrawlConfig(), 0)
    got = {(r["parser"], r["status"]) for r in out.collect()}
    for _, _, parser in frames:
        assert any(p == parser and s in
                   ("success", "failed", "failed_truncated")
                   for p, s in got), parser
    # office rows parsed by the right family, none parser-not-found
    assert not any(s == "failed_parser_not_found" for _, s in got)
