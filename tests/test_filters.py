"""URL filter parity tests.

Default-rule vectors follow conf/regex-urlfilter.txt.template:25-37 and
the first-match-wins chain semantics of RegexURLFilterBase.java:144-152
/ URLFilters.java:35-43.
"""

import pytest

from nutch_spark.config import DEFAULT
from nutch_spark.functions.filters import (
    DomainURLFilter,
    PrefixURLFilter,
    RegexURLFilter,
    SuffixURLFilter,
    URLFilterChain,
    ValidatorURLFilter,
)

DEFAULT_RULE_VECTORS = [
    ("http://example.com/page.html", True),
    ("https://example.com/a/b/c", True),
    ("file:///etc/passwd", False),
    ("ftp://example.com/pub", False),
    ("mailto:someone@example.com", False),
    ("http://example.com/image.GIF", False),
    ("http://example.com/script.js", False),
    ("http://example.com/search?q=x", False),       # query chars
    ("http://example.com/a@b", False),
    # slash-delimited segment repeated 3+ times (spider trap)
    ("http://example.com/a/x/a/y/a/z/", False),
    ("http://example.com/a/x/a/y/b/z/", True),
]


@pytest.mark.parametrize("url,accepted", DEFAULT_RULE_VECTORS)
def test_default_regex_rules(url, accepted):
    f = RegexURLFilter(DEFAULT.url_filter_rules)
    assert f.accepts(url) is accepted


def test_first_match_wins():
    f = RegexURLFilter([("+", r"^http://good\."), ("-", r"."), ("+", r".")])
    assert f.accepts("http://good.example.com/") is True
    assert f.accepts("http://bad.example.com/") is False


def test_no_match_rejects():
    f = RegexURLFilter([("+", r"^http://only\.this/")])
    assert f.accepts("http://other.host/") is False


def test_rule_file_parsing():
    f = RegexURLFilter.from_lines([
        "# comment", "", "-^ftp:", "+.",
    ])
    assert f.accepts("ftp://x/") is False
    assert f.accepts("http://x/") is True


def test_prefix_suffix_domain_validator():
    assert PrefixURLFilter(["http://a.com/"]).accepts("http://a.com/x")
    assert not PrefixURLFilter(["http://a.com/"]).accepts("http://b.com/")
    assert not SuffixURLFilter([".jpg"]).accepts("http://a.com/x.JPG")
    assert SuffixURLFilter([".jpg"]).accepts("http://a.com/x.html")
    assert DomainURLFilter(["example.com"]).accepts("http://w.example.com/")
    assert not DomainURLFilter(["example.com"]).accepts("http://other.org/")
    assert not DomainURLFilter(["example.com"],
                               blacklist=True).accepts("http://example.com/")
    assert ValidatorURLFilter().accepts("http://ok.example.com/path")
    assert not ValidatorURLFilter().accepts("http://bad host/ path")


def test_chain_and_semantics():
    chain = URLFilterChain([
        RegexURLFilter([("+", r".")]),
        DomainURLFilter(["example.com"]),
    ])
    assert chain.filter("http://a.example.com/") == "http://a.example.com/"
    assert chain.filter("http://a.other.org/") is None


def test_accepts_col_falls_back_on_python_only_regex(spark):
    """A rule java.util.regex rejects (a Python named group) runs on
    the Python filter chain instead of failing the job."""
    from nutch_spark.functions.filters import filter_accepts_col
    urls = spark.createDataFrame(
        [("http://evil.test/",), ("http://good.test/",)], "url string")
    rules = (("-", r"(?P<h>evil)"), ("+", "."))
    got = {r.url: r.accepted
           for r in filter_accepts_col(urls, rules).collect()}
    assert got == {"http://evil.test/": False, "http://good.test/": True}
