"""parse-feed plugin analog: RSS/Atom feeds → per-entry parse rows.

Reference: ``src/plugin/feed`` — FeedParser.java:105-150 (one
ParseResult row per feed entry plus one for the feed URL itself;
feedLink normalized at SCOPE_OUTLINK then url-filtered),
FeedParser.java:220-300 (addToMap: entry link normalize+filter — null
→ entry dropped; title stripTags; text = description else concatenated
contents), FeedParser.java:303-352 (addFields: author / tag /
published / updated parse-meta), FeedIndexingFilter.java:90-130
(those meta keys → index doc fields).

Spark shape: the XML decode is the only Python (Arrow-batched
``mapInPandas`` over feed blobs — same per-blob parallelism as
``warc_to_pages``); link normalization, filtering, and field shaping
are all column ops downstream, reusing the engine's scope-wired
normalizer chain so feed outlinks behave exactly like HTML outlinks.

Scale notes: one feed document is small (KBs) but a feed *corpus* is
~10^8 blobs; rows explode ~entries-per-feed ×. Nothing here shuffles —
decode is a narrow map and the chain is projection+filter, so the
operator composes with updatedb's shuffle without adding its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import CrawlConfig
from ..functions.filters import filter_accepts_col
from ..functions.normalizers import normalizer_udf

_RAW_SCHEMA = (
    "feed_url string, kind string, link string, title string, "
    "text string, authors array<string>, tags array<string>, "
    "published long, updated long, feed_link string"
)


def parse_feeds(blobs: DataFrame, cfg: CrawlConfig,
                url_col: str = "feed_url",
                content_col: str = "content",
                keep_source: bool = False) -> DataFrame:
    """Feed blobs (one XML document per row) → parse rows.

    Returns one row per surviving entry (``kind='entry'``, ``url`` =
    the normalize+filtered entry link) plus one per feed
    (``kind='feed'``, ``url`` = the feed URL verbatim — the reference
    does not normalize content.getUrl, FeedParser.java:143-146), with
    ``feed`` / ``authors`` / ``tags`` / ``published`` / ``updated``
    carrying addFields' parse-meta. Undecodable blobs yield no rows
    (the reference's empty ParseResult, FeedParser.java:118-125).
    ``keep_source=True`` adds the originating blob's ``source`` url —
    the routed parse_segment joins the fetch datum's attributes back
    on it (ParseSegment.map shares one Content across all sub-parses).
    """
    from collections.abc import Iterator

    import pandas as pd

    from ..functions import feedparse as FP

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["feed_url", "kind", "link", "title", "text", "authors",
                "tags", "published", "updated", "feed_link"]
        for pdf in batches:
            rows = []
            for furl, blob in zip(pdf[url_col], pdf[content_col]):
                try:
                    feed = FP.parse_feed(bytes(blob or b""))
                except ValueError:
                    continue
                for e in feed.entries:
                    rows.append({
                        "feed_url": furl, "kind": "entry",
                        "link": e.link,
                        "title": FP.strip_tags(e.title),
                        "text": e.text,
                        "authors": e.authors, "tags": e.tags,
                        "published": e.published_ms,
                        "updated": e.updated_ms,
                        "feed_link": feed.link})
                rows.append({
                    "feed_url": furl, "kind": "feed", "link": None,
                    "title": FP.strip_tags(feed.title),
                    "text": FP.strip_tags(feed.description),
                    "authors": [], "tags": [], "published": None,
                    "updated": None, "feed_link": feed.link})
            yield pd.DataFrame(rows, columns=cols)

    raw = blobs.mapInPandas(run, _RAW_SCHEMA)

    # scope=outlink normalize + filter chain on both the entry link
    # and the feedLink meta (FeedParser.java:127-133,226-238)
    norm = normalizer_udf(cfg, "outlink")
    raw = (raw.withColumn("_nlink", norm(F.col("link")))
              .withColumn("_nfeed", norm(F.col("feed_link"))))
    raw = filter_accepts_col(raw, cfg.url_filter_rules, "_nlink",
                             out="_link_ok")
    raw = filter_accepts_col(raw, cfg.url_filter_rules, "_nfeed",
                             out="_feed_ok")
    entry_url = F.when(F.col("kind") == "entry", F.col("_nlink")) \
        .otherwise(F.col("feed_url"))
    kept = (F.col("kind") == "feed") | \
        (F.col("_nlink").isNotNull() & F.col("_link_ok"))
    feed_meta = F.when(
        (F.col("kind") == "entry") & F.col("_nfeed").isNotNull()
        & F.col("_feed_ok"), F.col("_nfeed"))
    extra = [F.col("feed_url").alias("source")] if keep_source else []
    return (raw.where(kept)
            .select(entry_url.alias("url"), "kind",
                    feed_meta.alias("feed"), "title", "text",
                    "authors", "tags", "published", "updated", *extra))


def feed_index_docs(parsed: DataFrame) -> DataFrame:
    """FeedIndexingFilter.java:90-130 analog: parse rows → index doc
    fields (author/tag multi-valued, feed, publishedDate /
    updatedDate as timestamps)."""
    return parsed.select(
        "url",
        F.col("authors").alias("author"),
        F.col("tags").alias("tag"),
        "feed",
        F.timestamp_millis(F.col("published")).alias("publishedDate"),
        F.timestamp_millis(F.col("updated")).alias("updatedDate"))


def make_feed_blobs(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    group: int = 16) -> DataFrame:
    """Derive REAL feed XML from an id+text table, closed-form so the
    parse output is SQL-predictable (the ``make_warc_blobs`` pattern).

    Docs group into feeds of ``group`` entries keyed ``g = id //
    group``; feeds alternate RSS 2.0 (even g) / Atom 1.0 (odd g) so
    both decode paths are exercised. Per entry i:

    - link: ``mailto:user{i}@host.test`` when ``i%11==0`` (url-filter
      drop), else base ``http://host{i%40}.test/p{i}`` plus
      ``?PHPSESSID=deadbeef`` when ``i%13==0`` or ``#frag`` when
      ``i%17==0`` (both normalize back to base — the session-id and
      anchor rules of regex-normalize);
    - title ``Entry <b>{i}</b>`` (stripTags target), text = doc text,
      author ``author{i%7}``, tags ``t{i%5}``/``s{i%3}``,
      published = 2024-01-01 + i%86400 s, updated = published + 1 h
      (Atom only — RSS 2.0 has no item updated date).

    Feed g: url ``http://feeds.test/feed{g}``, link
    ``http://host{g%40}.test/``, title ``Feed <i>{g}</i>``,
    description ``Syndication feed {g}``.

    ``applyInPandas`` per group (not ``mapInPandas``): a feed's
    entries must land in ONE pdf or a group split across batches
    would emit two blobs claiming the same feed URL.
    """
    def build(key, pdf):
        import pandas as pd

        from ..functions import feedparse as FP

        g = int(key[0])
        feed = FP.Feed(link=f"http://host{g % 40}.test/",
                       title=f"Feed <i>{g}</i>",
                       description=f"Syndication feed {g}")
        items = sorted(zip(pdf[id_col], pdf[text_col]),
                       key=lambda r: int(r[0]))
        for raw, text in items:
            i = int(raw)
            if i % 11 == 0:
                link = f"mailto:user{i}@host.test"
            elif i % 13 == 0:
                link = f"http://host{i % 40}.test/p{i}?PHPSESSID=deadbeef"
            elif i % 17 == 0:
                link = f"http://host{i % 40}.test/p{i}#frag"
            else:
                link = f"http://host{i % 40}.test/p{i}"
            pub = 1704067200000 + (i % 86400) * 1000  # 2024-01-01 UTC
            feed.entries.append(FP.FeedEntry(
                link=link, title=f"Entry <b>{i}</b>", text=text or "",
                authors=[f"author{i % 7}"],
                tags=[f"t{i % 5}", f"s{i % 3}"],
                published_ms=pub, updated_ms=pub + 3600000))
        xml = FP.encode_rss(feed) if g % 2 == 0 else FP.encode_atom(feed)
        return pd.DataFrame([{"feed_url": f"http://feeds.test/feed{g}",
                              "fmt": "rss" if g % 2 == 0 else "atom",
                              "content": xml}])

    gcol = (F.col(id_col).cast("long") / group).cast("long").alias("_g")
    return (docs.select(gcol, id_col, text_col)
            .groupBy("_g")
            .applyInPandas(build,
                           "feed_url string, fmt string, content binary"))
