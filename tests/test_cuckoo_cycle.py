"""The cuckoo URL-seen layer wired into the shipped cycle driver
(``CrawlRun(seen_filter="cuckoo")``) — the north rule names
"partitioned bloom/cuckoo filters"; this is the cuckoo half.

Contract: identical final crawldb to the bloom run and to the
unsplit run (the layer only prunes), plus the capability the bloom
lacks — ``purge_gone`` deletes purged urls from the layer instead of
rebuilding it."""

import pyspark.sql.functions as F

from nutch_spark import schema as S
from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.operators.urlseen import maybe_seen_urls
from nutch_spark.testdata import fixture_dfs

from tests.helpers import record_seen_splits

START = 1_700_000_000_000


def _run(spark, tmp, fixture, seen_filter, rounds=2):
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run = CrawlRun(spark, str(tmp), cfg, fixture["pages"],
                   fixture["robots"], fixture["http_status"],
                   seen_filter=seen_filter, bloom_buckets=4,
                   db_buckets=4)
    db = run.crawl(fixture["seeds"], rounds=rounds, start_ms=START)
    return run, db


def _rows(db):
    return sorted((r.url, r.status, r.fetch_time, r.score, r.signature)
                  for r in db.collect())


def test_cuckoo_split_preserves_crawldb(spark, tmp_path, monkeypatch):
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    splits = record_seen_splits(monkeypatch)
    run_c, db_c = _run(spark, tmp_path / "ck", fx, "cuckoo")
    new, _ = splits[-1]        # the split ran over the cuckoo layer
    _, db_n = _run(spark, tmp_path / "none", fx, "none")
    assert _rows(db_c) == _rows(db_n)
    prev_db = run_c.load_crawldb(run_c.resume_round() - 1)
    assert not set(new) & {r.url for r in
                           prev_db.select("url").collect()}


def test_purge_gone_deletes_from_cuckoo_layer(spark, tmp_path):
    """purge_gone: db_gone rows leave the committed frontier AND the
    seen layer (fingerprint deletion, not a rebuild) — re-discovered
    gone urls then take the definitely-new fast path again."""
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    run, db = _run(spark, tmp_path, fx, "cuckoo")
    rnd = run.resume_round()
    gone = db.where(F.col("status") == S.DB_GONE).select("url")
    n_gone = gone.count()
    assert n_gone > 0, "fixture must produce db_gone rows"

    out = run.purge_gone(rnd)
    assert out["round"] == rnd + 1
    assert out["purged_rows"] == n_gone

    new_db = run.load_crawldb(rnd + 1)
    assert new_db.where(F.col("status") == S.DB_GONE).count() == 0
    assert new_db.count() == db.count() - n_gone

    # the layer for the purged round no longer claims the gone urls
    layer = run._load_bloom(rnd + 1)
    assert layer is not None
    still = maybe_seen_urls(gone, layer).count()
    assert still <= max(1, int(0.01 * n_gone))
    # survivors remain present (no collateral deletion)
    keep = new_db.select("url")
    seen = maybe_seen_urls(keep, layer).distinct().count()
    assert seen == new_db.count()


def test_purge_gone_bloom_path_rebuilds(spark, tmp_path):
    """Bloom mode purges by rebuilding the layer over the kept set —
    same end state, different (rebuild) cost."""
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    run, db = _run(spark, tmp_path, fx, "bloom")
    rnd = run.resume_round()
    n_gone = db.where(F.col("status") == S.DB_GONE).count()
    assert n_gone > 0
    out = run.purge_gone(rnd)
    new_db = run.load_crawldb(rnd + 1)
    assert new_db.where(F.col("status") == S.DB_GONE).count() == 0
    assert out["crawldb_rows"] == db.count() - n_gone
    assert run._load_bloom(rnd + 1) is not None


def test_purge_gone_counts_from_snapshot_entries(spark, tmp_path,
                                                 monkeypatch):
    """purge_gone reports the purged rows as the difference of the two
    crawldb snapshots' footer rows: the same dict, with no count job."""
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    run, db = _run(spark, tmp_path, fx, "bloom")
    rnd = run.resume_round()
    n_gone = db.where(F.col("status") == S.DB_GONE).count()
    expected = {"round": rnd + 1, "crawldb_rows": db.count() - n_gone,
                "purged_rows": n_gone}

    def no_count(self):
        raise AssertionError("DataFrame.count ran")

    # the session's own DataFrame class, which defines count itself
    monkeypatch.setattr(type(db), "count", no_count)
    assert run.purge_gone(rnd) == expected
