"""URL filter chain.

Reference semantics (URLFilters.java:35-43, RegexURLFilterBase.java:144-152):
filters are an AND chain — the first filter returning null kills the
URL; a regex-family filter applies its rules **first-match-wins**, a
``+`` rule accepts, a ``-`` rule rejects, no matching rule rejects.

Implemented as a pure-Python kernel (rule-table driven) with a pandas
UDF wrapper, plus prefix/suffix/domain filters as broadcast-set column
expressions.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


class RegexURLFilter:
    """First-match-wins ±regex filter (RegexURLFilterBase.java:144-152)."""

    def __init__(self, rules):
        self._rules = [(sign, re.compile(pattern)) for sign, pattern in rules]

    def accepts(self, url: str) -> bool:
        for sign, pat in self._rules:
            if pat.search(url):
                return sign == "+"
        return False

    @classmethod
    def from_lines(cls, lines) -> "RegexURLFilter":
        """Parse ``+regex`` / ``-regex`` rule lines, skipping blanks and
        ``#`` comments (RegexURLFilterBase.readRules)."""
        rules = []
        for line in lines:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            sign, pattern = line[0], line[1:]
            if sign not in "+-":
                raise ValueError(f"Invalid first character in rule: {line}")
            rules.append((sign, pattern))
        return cls(rules)


class PrefixURLFilter:
    """Accept only URLs starting with one of the prefixes
    (PrefixURLFilter.java)."""

    def __init__(self, prefixes):
        self._prefixes = tuple(prefixes)

    def accepts(self, url: str) -> bool:
        return url.startswith(self._prefixes)


class SuffixURLFilter:
    """Reject URLs whose path ends with a listed suffix, case-insensitive
    by default (SuffixURLFilter.java)."""

    def __init__(self, suffixes, ignore_case: bool = True):
        self._ignore_case = ignore_case
        self._suffixes = tuple(
            s.lower() if ignore_case else s for s in suffixes
        )

    def accepts(self, url: str) -> bool:
        u = url.lower() if self._ignore_case else url
        return not u.endswith(self._suffixes)


class DomainURLFilter:
    """Allow only URLs whose host or registered domain is in the set
    (urlfilter-domain); with ``blacklist=True`` reject those instead
    (urlfilter-domainblacklist)."""

    def __init__(self, domains, blacklist: bool = False):
        self._domains = frozenset(d.lower() for d in domains)
        self._blacklist = blacklist

    def accepts(self, url: str) -> bool:
        from .urls import get_domain, get_host
        host = get_host(url)
        if host is None:
            return False
        listed = (host in self._domains
                  or (get_domain(host) or "") in self._domains)
        return not listed if self._blacklist else listed


# RFC-ish syntactic validation (urlfilter-validator, UrlValidator.java)
_VALID_URL_RE = re.compile(
    r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
    r"([a-zA-Z0-9\-._~%]+|\[[0-9a-fA-F:.]+\])(:\d+)?"
    r"(/[^\s]*)?$"
)


class ValidatorURLFilter:
    def accepts(self, url: str) -> bool:
        return bool(_VALID_URL_RE.match(url))


class URLFilterChain:
    """Logical-AND chain; first rejection kills (URLFilters.java:35-43)."""

    def __init__(self, filters):
        self._filters = list(filters)

    def accepts(self, url: str) -> bool:
        return all(f.accepts(url) for f in self._filters)

    def filter(self, url: str) -> str | None:
        return url if self.accepts(url) else None


@lru_cache(maxsize=8)
def _default_chain(rules_key):
    return URLFilterChain([RegexURLFilter(rules_key)])


def accepts_udf(rules):
    """Arrow-vectorized filter predicate for a (sign, regex) rule tuple."""
    from pyspark.sql.functions import pandas_udf

    rules = tuple(tuple(r) for r in rules)

    @pandas_udf(BooleanType())
    def _accepts(urls: pd.Series) -> pd.Series:
        chain = _default_chain(rules)
        return urls.map(lambda u: chain.accepts(u) if u is not None else False)

    return _accepts


@lru_cache(maxsize=32)
def _jvm_compiles(patterns: tuple[str, ...]) -> bool:
    """Whether ``java.util.regex`` compiles every pattern (``rlike``
    compiles only when the job runs)."""
    from pyspark import SparkContext
    from pyspark.errors import IllegalArgumentException
    compile_ = SparkContext._jvm.java.util.regex.Pattern.compile
    try:
        for pattern in patterns:
            compile_(pattern)
    except IllegalArgumentException:   # PatternSyntaxException
        return False
    return True


def filter_accepts_col(df, rules, url_col: str = "url",
                       out: str = "accepted"):
    """Add a boolean acceptance column.

    For small rule sets this compiles to chained JVM ``rlike``
    expressions (whole-stage codegen, no Python); falls back to the
    pandas UDF when the JVM rejects a rule (Python-only regex syntax)."""
    rules = tuple(tuple(r) for r in rules)
    if not _jvm_compiles(tuple(pattern for _, pattern in rules)):
        return df.withColumn(out, accepts_udf(rules)(F.col(url_col)))
    expr = None
    for sign, pattern in rules:
        cond = F.col(url_col).rlike(pattern)
        hit = F.lit(sign == "+")
        expr = F.when(cond, hit) if expr is None else expr.when(cond, hit)
    col = expr.otherwise(F.lit(False)) if expr is not None \
        else F.lit(False)
    return df.withColumn(out, col)
