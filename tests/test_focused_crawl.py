"""Focused-crawl integration: scoring-similarity + urlmeta steering
the shipped cycle end-to-end (SimilarityScoringFilter.java stacked on
OPIC, CosineSimilarityModel.java:146-155 — every outlink inherits its
parent page's cosine to the gold document verbatim;
URLMetaScoringFilter.java:60-83 — configured seed metadata rides the
link graph). Two topic neighborhoods hang off one hub; after two
rounds the on-topic frontier must outrank the off-topic one, where
plain OPIC is indifferent between them."""

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.operators import generate as gen_op

START = 1_700_000_000_000
DAY = 86_400_000
GOLD = "spark data table processing query"
ON_TEXT = "spark data table processing spark query data table"
OFF_TEXT = "cooking recipes butter flour sugar oven whisk dough"


def _page(title, body, hrefs):
    links = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    return (f"<html><head><title>{title}</title></head>"
            f"<body><p>{body}</p>{links}</body></html>").encode()


@pytest.fixture(scope="module")
def site(spark):
    rows = [
        ("http://hub.test/p0",
         _page("Hub", "portal of links",
               ["http://on.test/t1", "http://on.test/t2",
                "http://off.test/c1", "http://off.test/c2"])),
        ("http://on.test/t1",
         _page("T1", ON_TEXT, ["http://on.test/t3",
                               "http://on.test/t4"])),
        ("http://on.test/t2",
         _page("T2", ON_TEXT, ["http://on.test/t5"])),
        ("http://off.test/c1",
         _page("C1", OFF_TEXT, ["http://off.test/c3",
                                "http://off.test/c4"])),
        ("http://off.test/c2",
         _page("C2", OFF_TEXT, ["http://off.test/c5"])),
    ]
    pages = spark.createDataFrame(
        [(u, None, b, None, "en") for u, b in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    http_status = spark.createDataFrame(
        [(u, 200, None, len(b)) for u, b in rows],
        "url string, status_code int, redirect_to string, "
        "content_length long")
    robots = spark.createDataFrame(
        [(f"http://{h}.test", None, 404) for h in ("hub", "on", "off")],
        "authority string, robots_txt string, fetch_code int")
    # the seed carries a urlmeta key that must ride the link graph
    seeds = spark.createDataFrame(
        [("http://hub.test/p0\ttopic=focused",)], "line string")
    return {"pages": pages, "http_status": http_status,
            "robots": robots, "seeds": seeds}


def _crawl(spark, tmp, site, **cfg_kw):
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=3,
                      **cfg_kw)
    run = CrawlRun(spark, str(tmp), cfg, site["pages"], site["robots"],
                   site["http_status"], bloom_buckets=4, db_buckets=4)
    db = run.crawl(site["seeds"], rounds=2, start_ms=START)
    return cfg, db


ON_FRONTIER = [f"http://on.test/t{i}" for i in (3, 4, 5)]
OFF_FRONTIER = [f"http://off.test/c{i}" for i in (3, 4, 5)]


def test_similarity_steers_scores(spark, tmp_path, site):
    """Round-2 parses score on-topic parents high; their outlinks
    inherit that score verbatim, so the on-topic frontier strictly
    outranks the off-topic one."""
    _, db = _crawl(spark, tmp_path, site, scoring_filter="similarity",
                   similarity_gold_text=GOLD)
    scores = {r.url: r.score for r in db.collect()}
    on = [scores[u] for u in ON_FRONTIER]
    off = [scores[u] for u in OFF_FRONTIER]
    assert min(on) > 0.3
    assert min(on) > max(off)


def test_opic_baseline_is_indifferent(spark, tmp_path, site):
    """Same site under plain OPIC: the structure is symmetric (hub
    splits evenly; each branch page divides its share among its own
    outlinks), so on- and off-topic frontiers tie — the contrast that
    proves the similarity run's ordering shift is the gold doc, not
    the graph."""
    _, db = _crawl(spark, tmp_path, site)
    scores = {r.url: r.score for r in db.collect()}
    # t3/t4 mirror c3/c4 (parents with 2 outlinks), t5 mirrors c5
    assert scores[ON_FRONTIER[0]] == pytest.approx(
        scores[OFF_FRONTIER[0]])
    assert scores[ON_FRONTIER[2]] == pytest.approx(
        scores[OFF_FRONTIER[2]])


def test_round3_fetchlist_is_on_topic(spark, tmp_path, site):
    """generate over the steered frontier with a 2-slot budget picks
    only on-topic urls — the round-3 fetchlist composition shift the
    focused crawl exists for."""
    cfg, db = _crawl(spark, tmp_path, site,
                     scoring_filter="similarity",
                     similarity_gold_text=GOLD)
    fl = gen_op.generate(db, cfg.with_(generate_top_n=2),
                         cur_time_ms=START + 3 * DAY,
                         gen_time_ms=START + 3 * DAY,
                         partition_output=False)
    urls = {r.url for r in fl.select("url").collect()}
    assert len(urls) == 2
    assert urls <= set(ON_FRONTIER)


def test_urlmeta_rides_the_link_graph(spark, tmp_path, site):
    """The seed's ``topic`` key propagates hub → branch → frontier
    when configured (URLMetaScoringFilter.distributeScoreToOutlinks),
    and is dropped when not."""
    _, db = _crawl(spark, tmp_path / "tagged", site,
                   scoring_filter="similarity",
                   similarity_gold_text=GOLD,
                   urlmeta_tags=("topic",))
    meta = {r.url: dict(r.metadata or {}) for r in db.collect()}
    assert meta["http://on.test/t1"].get("topic") == "focused"
    assert meta["http://on.test/t3"].get("topic") == "focused"
    assert meta["http://off.test/c5"].get("topic") == "focused"

    _, db2 = _crawl(spark, tmp_path / "plain", site,
                    scoring_filter="similarity",
                    similarity_gold_text=GOLD)
    meta2 = {r.url: dict(r.metadata or {}) for r in db2.collect()}
    assert "topic" not in meta2["http://on.test/t3"]
