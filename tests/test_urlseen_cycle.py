"""The URL-seen bloom layer wired into the shipped cycle driver
(round-2 VERDICT finding: 'built per round, consumed never').

Contract: linked discoveries are pre-split by the previous round's
bloom — definitely-new urls bypass the frontier merge entirely, only
bloom hits reach the db join — and the final crawldb is IDENTICAL to
the unsplit run (blooms have no false negatives, so the split is a
pure pruning)."""

import pyspark.sql.functions as F

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.testdata import fixture_dfs

from tests.helpers import record_seen_splits

START = 1_700_000_000_000


def _run(spark, tmp, fixture, seen_filter, rounds=2):
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run = CrawlRun(spark, str(tmp), cfg, fixture["pages"],
                   fixture["robots"], fixture["http_status"],
                   seen_filter=seen_filter, bloom_buckets=4, db_buckets=4)
    db = run.crawl(fixture["seeds"], rounds=rounds, start_ms=START)
    return run, db


def test_bloom_split_preserves_crawldb(spark, tmp_path, monkeypatch):
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    splits = record_seen_splits(monkeypatch)
    _, db_b = _run(spark, tmp_path / "bloom", fx, seen_filter="bloom")
    n_bloom = len(splits)
    _, db_n = _run(spark, tmp_path / "nobloom", fx, seen_filter="none")
    rows_b = sorted((r.url, r.status, r.fetch_time, r.score, r.signature)
                    for r in db_b.collect())
    rows_n = sorted((r.url, r.status, r.fetch_time, r.score, r.signature)
                    for r in db_n.collect())
    assert rows_b == rows_n
    # the split actually ran (a bloom for the prior round existed)
    assert n_bloom > 0
    assert len(splits) == n_bloom


def test_frontier_merge_sees_only_bloom_hits(spark, tmp_path,
                                            monkeypatch):
    """The db-side merge input is exactly the bloom-hit subset; the
    definitely-new side is provably absent from the prior frontier
    (bloom no-false-negative contract applied to real cycle data)."""
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    splits = record_seen_splits(monkeypatch)
    run, _ = _run(spark, tmp_path, fx, seen_filter="bloom")
    new, maybe = splits[-1]                     # the last round's split
    prev_db = run.load_crawldb(run.resume_round() - 1)

    # definitely-new: zero overlap with the prior frontier
    prev_urls = {r.url for r in prev_db.select("url").collect()}
    assert not set(new) & prev_urls
    # every discovered url is routed exactly once
    n_new, n_maybe = len(new), len(maybe)
    assert n_new + n_maybe > 0
    assert not set(new) & set(maybe)
    # the split prunes something real on this fixture: the frontier
    # join's linked input shrank versus the full discovery stream
    assert n_new > 0


def test_bloom_split_skipped_in_normalize_mode(spark, tmp_path,
                                              monkeypatch):
    """crawldb.url.normalizers re-keys message urls AFTER the split
    decision would have been made — the cycle must fall back to the
    unsplit merge (correctness over pruning)."""
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4,
                      db_update_normalize=True)
    run = CrawlRun(spark, str(tmp_path), cfg, fx["pages"],
                   fx["robots"], fx["http_status"],
                   seen_filter="bloom", bloom_buckets=4, db_buckets=4)
    splits = record_seen_splits(monkeypatch)
    run.crawl(fx["seeds"], rounds=2, start_ms=START)
    assert splits == []
