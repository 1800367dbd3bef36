"""End-to-end crawl-cycle tests over the deterministic fixture site
(TestFetcher.java:81-180 analog, wall-clock politeness replaced by the
virtual-time contract; URL-seen-set parity per BASELINE.json)."""

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.testdata import build_fixture, fixture_dfs

START = 1_700_000_000_000


@pytest.fixture(scope="module")
def fixture(spark):
    return fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                       hot_host_pages=12)


def _run(spark, tmp, fixture, rounds=2, **cfg_kw):
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4,
                      **cfg_kw)
    run = CrawlRun(spark, str(tmp), cfg, fixture["pages"],
                   fixture["robots"], fixture["http_status"],
                   bloom_buckets=4, db_buckets=4)
    db = run.crawl(fixture["seeds"], rounds=rounds, start_ms=START)
    return run, db


def test_cycle_discovers_and_fetches(spark, tmp_path, fixture):
    run, db = _run(spark, tmp_path, fixture)
    statuses = {r.status: r.n for r in
                db.groupBy("status").agg(F.count("*").alias("n"))
                .collect()}
    assert statuses.get("db_fetched", 0) > 8
    assert statuses.get("db_unfetched", 0) > 0   # discovered frontier
    # seeds all resolved beyond unfetched
    seeds = {r.line.split("\t")[0] for r in fixture["seeds"].collect()
             if r.line and not r.line.startswith("#")}
    seed_rows = db.where(F.col("url").isin(*seeds)).collect()
    assert len(seed_rows) == len(seeds)


def test_cycle_deterministic(spark, tmp_path, fixture):
    """Same seeds + budget → identical URL-seen set and statuses
    (the crawl-ordering/URL-seen parity contract)."""
    _, db1 = _run(spark, tmp_path / "a", fixture)
    _, db2 = _run(spark, tmp_path / "b", fixture)
    rows1 = sorted((r.url, r.status, r.fetch_time)
                   for r in db1.collect())
    rows2 = sorted((r.url, r.status, r.fetch_time)
                   for r in db2.collect())
    assert rows1 == rows2


def test_resume_from_checkpoint(spark, tmp_path, fixture):
    run, _ = _run(spark, tmp_path, fixture, rounds=1)
    assert run.resume_round() == 1
    # a new CrawlRun over the same dir picks up the snapshot
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run2 = CrawlRun(spark, str(tmp_path), cfg, fixture["pages"],
                    fixture["robots"], fixture["http_status"])
    assert run2.resume_round() == 1
    stats = run2.run_round(2, START + 2 * 86_400_000)
    assert stats["crawldb_rows"] >= stats["fetchlist_rows"]


def test_crash_mid_write_resumes_from_last_snapshot(spark, tmp_path,
                                                    fixture):
    """Atomic commit contract (CrawlDb.java:155-173, Iceberg's
    metadata swap): crawldb data written for a round that was never
    published is invisible to resume; the crawl restarts its round
    from the last committed one and converges to the same final state
    as an uninterrupted run."""
    import os
    import shutil

    run, db_ok = _run(spark, tmp_path / "clean", fixture, rounds=2)

    # crashed run: round 1 completes, then round 2 dies after staging
    # its snapshot but before publishing it, and a re-stage of it dies
    # mid-write — a staged s2 plus a leftover s2.tmp dir
    run2, _ = _run(spark, tmp_path / "crash", fixture, rounds=1)
    base = str(tmp_path / "crash" / "crawldb")
    run2.db_table.stage(run2.load_crawldb(1), 2)
    shutil.copytree(os.path.join(base, "s1"), os.path.join(base, "s2.tmp"))
    assert os.path.isdir(os.path.join(base, "s2"))
    assert run2.resume_round() == 1   # the unpublished round is ignored

    # resume re-runs round 2 only and matches the clean run
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run3 = CrawlRun(spark, str(tmp_path / "crash"), cfg,
                    fixture["pages"], fixture["robots"],
                    fixture["http_status"], bloom_buckets=4,
                    db_buckets=4)
    assert run3.resume_round() == 1
    db_resumed = run3.crawl(fixture["seeds"], rounds=2, start_ms=START)
    rows_ok = sorted((r.url, r.status) for r in db_ok.collect())
    rows_re = sorted((r.url, r.status) for r in db_resumed.collect())
    assert rows_ok == rows_re


def test_duplicate_content_marked(spark, tmp_path, fixture):
    """Hosts ≥2 share page p0001 bytes (fixture dup page) → one winner
    per signature, losers db_duplicate (DeduplicationJob)."""
    run, db = _run(spark, tmp_path, fixture, rounds=3)
    dups = db.where(F.col("status") == "db_duplicate").count()
    fetched_sigs = (db.where(F.col("status").isin("db_fetched",
                                                  "db_notmodified"))
                    .where(F.col("signature").isNotNull())
                    .groupBy("signature").count()
                    .where(F.col("count") > 1).count())
    assert fetched_sigs == 0  # every surviving signature is unique
    assert dups > 0


def test_robots_disallowed_never_fetched(spark, tmp_path):
    fx = fixture_dfs(spark, n_hosts=8, pages_per_host=5,
                     hot_host_pages=12)
    pdfs = build_fixture(n_hosts=8, pages_per_host=5, hot_host_pages=12)
    blocked_hosts = [
        r.authority for r in fx["robots"].collect()
        if r.robots_txt and "Disallow: /p0001.html" in r.robots_txt]
    _, db = _run(spark, tmp_path, fx, rounds=3)
    rows = db.where(F.col("url").isin(
        [f"{h}/p0001.html" for h in blocked_hosts])).collect()
    assert rows, "disallowed urls should still be discovered via links"
    assert all(r.status in ("db_unfetched", "db_gone") for r in rows)


ROUND_TABLES = ("segments/crawl_generate", "segments/crawl_fetch",
                "segments/parse_text", "segments/parse_data", "linkdb")


def _assert_round_metrics(run, rnd, db_rounds):
    """Round ``rnd``'s commit records are its metrics: every table's
    record and the crawldb entry of each of ``db_rounds`` carry rows,
    commit time and write seconds; there is no second metrics log."""
    import glob
    import json
    import os
    for name in ROUND_TABLES:
        rec = run.store.record(name, rnd)
        assert rec["rows"] > 0 and rec["ts"] > 0, name
        assert rec["write_s"] > 0, name
    with open(os.path.join(run.out, "crawldb", "_table.json")) as f:
        snaps = json.load(f)["snapshots"]
    for r in db_rounds:
        snap = snaps[str(r)]
        assert snap["rows"] > 0 and snap["ts"] > 0 and snap["write_s"] > 0
    assert not glob.glob(os.path.join(run.out, "*.jsonl"))


def test_metrics_written(spark, tmp_path, fixture):
    run, _ = _run(spark, tmp_path, fixture, rounds=1)
    _assert_round_metrics(run, 1, db_rounds=(0, 1))


def test_metrics_written_by_bare_round(spark, tmp_path, fixture):
    """A round run without ``crawl()`` (a REST ROUND job, perfbench)
    leaves the same records."""
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run = CrawlRun(spark, str(tmp_path), cfg, fixture["pages"],
                   fixture["robots"], fixture["http_status"],
                   bloom_buckets=4, db_buckets=4)
    run.inject(fixture["seeds"], START)
    assert run.run_round(1, START + 86_400_000)["fetchlist_rows"] > 0
    _assert_round_metrics(run, 1, db_rounds=(0, 1))


def test_crawldb_commit_is_last_per_round(spark, tmp_path, fixture):
    """The crawldb snapshot is the resume marker, so its commit must
    come after every other per-round product: a crash before the
    crawldb install leaves the round NOT done (it restarts and
    re-produces linkdb/bloom), never a done round with missing
    products (round-2 ADVICE finding)."""
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run = CrawlRun(spark, str(tmp_path), cfg, fixture["pages"],
                   fixture["robots"], fixture["http_status"],
                   bloom_buckets=4, db_buckets=4)

    # crash exactly at the round-2 crawldb commit point
    orig_commit = run.db_table.publish

    def crashing_commit(staged, rnd):
        if rnd == 2:
            raise RuntimeError("simulated crash at commit")
        return orig_commit(staged, rnd)

    run.db_table.publish = crashing_commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.crawl(fixture["seeds"], rounds=2, start_ms=START)
    run.db_table.publish = orig_commit

    # round 2 is NOT done — even though linkdb/bloom round=2 exist
    assert run.resume_round() == 1
    assert (tmp_path / "linkdb" / "round=2").exists()

    # resume re-runs round 2; every committed round carries all its
    # per-round products
    run2 = CrawlRun(spark, str(tmp_path), cfg, fixture["pages"],
                    fixture["robots"], fixture["http_status"],
                    bloom_buckets=4, db_buckets=4)
    run2.crawl(fixture["seeds"], rounds=2)
    assert run2.resume_round() == 2
    for product in ("linkdb", "urlseen_bloom"):
        p = tmp_path / product / "round=2"
        assert (p / "_snapshot.json").exists(), product


def test_bucket_defaults_follow_session_cores(spark, tmp_path, fixture,
                                             monkeypatch):
    """Without bucket arguments the crawldb and its URL-seen layer get
    one bucket per task thread (session.default_cores), and so does
    a crawl opened without a corpus, as the CLI's mergedb opens its
    destination."""
    import json
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    run = CrawlRun(spark, str(tmp_path), CrawlConfig(), fixture["pages"],
                   fixture["robots"], fixture["http_status"])
    run.inject(fixture["seeds"], START)
    meta = json.loads((tmp_path / "crawldb" / "_table.json").read_text())
    assert meta["snapshots"]["0"]["n_buckets"] == 3
    assert len({f for f in (tmp_path / "crawldb" / "s0").iterdir()
                if f.suffix == ".parquet"}) <= 3
    assert run.store.record("urlseen_bloom", 0)["n_buckets"] == 3
    assert CrawlRun(spark, str(tmp_path), CrawlConfig()).db_table \
        .n_buckets == 3


def test_resume_reuses_pinned_virtual_clock(spark, tmp_path, fixture):
    """Resumed rounds run on the SAME virtual clock as committed ones:
    the epoch pins into _crawl.json on first crawl() and a resume with
    start_ms=None reuses it, so fetch_time comparisons stay
    deterministic (round-2 ADVICE finding)."""
    _, db_ok = _run(spark, tmp_path / "clean", fixture, rounds=2)

    run1, _ = _run(spark, tmp_path / "res", fixture, rounds=1)
    cfg = CrawlConfig(generate_top_n=100, num_fetch_partitions=4)
    run2 = CrawlRun(spark, str(tmp_path / "res"), cfg, fixture["pages"],
                    fixture["robots"], fixture["http_status"],
                    bloom_buckets=4, db_buckets=4)
    # no start_ms: must come from the pinned epoch, not wall clock
    db_res = run2.crawl(fixture["seeds"], rounds=2)
    rows_ok = sorted((r.url, r.status, r.fetch_time)
                     for r in db_ok.collect())
    rows_re = sorted((r.url, r.status, r.fetch_time)
                     for r in db_res.collect())
    assert rows_ok == rows_re


def test_round_clock_is_pinned_epoch_plus_round(spark, tmp_path):
    """next_round: the round after the latest committed one, at the
    pinned epoch plus one round per round; a later start_ms does not
    move a pinned epoch."""
    from nutch_spark.crawl import ROUND_MS
    run = CrawlRun(spark, str(tmp_path), CrawlConfig())
    assert run.next_round(START) == (0, START)
    assert run.next_round(START + 5) == (0, START)
    run.db_table.commit(
        spark.createDataFrame([("http://a.test/",)], "url string"), 0)
    assert run.next_round() == (1, START + ROUND_MS)


def test_corpus_less_run_refuses_to_fetch(spark, tmp_path, fixture):
    """A CrawlRun opened without pages and robots commits and reads
    rounds, but a round or a crawl, which fetch, raise a clear error
    before any Spark job."""
    run = CrawlRun(spark, str(tmp_path), CrawlConfig())
    run.inject(fixture["seeds"], START)
    assert run.resume_round() == 0
    with pytest.raises(ValueError, match="pages and robots"):
        run.run_round(1, START)
    with pytest.raises(ValueError, match="pages and robots"):
        run.crawl(fixture["seeds"], rounds=1)


def test_link_scoring_cycle(spark, tmp_path, fixture):
    """scoring_filter='link' runs webgraph→linkrank→scoreupdater inside
    the round (bin/crawl:260-277, shipped commented-out there): crawldb
    scores after the round are LinkRank values — (1-d) + d·x, so graph
    members score >= rank-one and urls outside the round's webgraph are
    cleared to 0 (ScoreUpdater), never the OPIC-style seed 1.0."""
    run, db = _run(spark, tmp_path / "c", fixture, rounds=1,
                   scoring_filter="link")
    rows = {r.url: r.score for r in db.collect()}
    assert rows, "cycle produced an empty crawldb"
    assert all(abs(s) < 1e-9 or s >= 0.1499 for s in rows.values())
    # linkrank produced ranks: with none, every score is cleared to 0
    assert any(s >= 0.1499 for s in rows.values())


def test_link_scoring_stages_crawldb_once_per_round(
        spark, tmp_path, fixture, monkeypatch):
    """Link-scoring mode must pay exactly ONE durable crawldb stage
    per round: staging used to happen before AND after the linkrank
    score update — two full bucketed writes of the 10^10-row table."""
    from nutch_spark.storage import SnapshotTable
    calls = []
    orig = SnapshotTable.stage

    def counting(self, df, rnd):
        if self.name == "crawldb":
            calls.append(rnd)
        return orig(self, df, rnd)

    monkeypatch.setattr(SnapshotTable, "stage", counting)
    _run(spark, tmp_path / "once", fixture, rounds=2,
         scoring_filter="link")
    # inject stages round 0 once; each crawl round stages once
    from collections import Counter
    per_round = Counter(calls)
    assert all(n == 1 for n in per_round.values()), per_round


def test_cycle_politeness_lower_bound(spark, tmp_path, fixture):
    """TestFetcher.java:116-119 ports to virtual time: the reference
    asserts wall-clock fetch time > (n_pages+1) * fetcher.server.delay
    on its single-host corpus; under the virtual-time contract the
    per-queue schedule span must be at least (k-1) * delay for a
    queue that attempted k fetches (FIFO, one start per delay tick —
    robots crawl-delay can only stretch it)."""
    # round 1 fetches only the seeds (one per host); round 2's queues
    # carry the discovered per-host pages and exercise the delay chain
    import re
    run, _ = _run(spark, tmp_path / "pol", fixture, rounds=2)
    seg = spark.read.parquet(
        str(tmp_path / "pol" / "segments" / "crawl_fetch" / "round=2"))
    # effective per-queue delay: robots Crawl-delay overrides
    # fetcher.server.delay (fetch.py delay chain)
    delay = {}
    for r in fixture["robots"].collect():
        m = re.search(r"Crawl-delay:\s*(\d+)", r.robots_txt or "")
        if m:
            delay[r.authority] = int(m.group(1)) * 1000
    default = run.cfg.fetcher_server_delay_ms
    rows = (seg.where(F.col("virtual_time").isNotNull())
            .groupBy("queue_id")
            .agg(F.count("*").alias("k"),
                 (F.max("virtual_time") - F.min("virtual_time"))
                 .alias("span"))
            .collect())
    assert rows, "no fetch queues in round 2"
    multi = [r for r in rows if r.k > 1]
    assert multi, "fixture should exercise multi-url queues"
    for r in rows:
        d = delay.get(r.queue_id, default)
        assert r.span >= (r.k - 1) * d, \
            f"queue {r.queue_id}: span {r.span} < ({r.k}-1)*{d}"


def test_index_and_clean_steps_in_round(spark, tmp_path, fixture):
    """bin/crawl INDEXFLAG (bin/crawl:249-256): with
    cfg.index_enabled the round materializes the IndexingJob's docs
    and the delete stream (IndexerMapReduce rules ∪ CleaningJob's
    gone/duplicate scan) under indexes/round=N."""
    run, db = _run(spark, tmp_path, fixture, index_enabled=True)
    docs = spark.read.parquet(f"{tmp_path}/indexes/docs/round=2")
    assert docs.count() > 0
    for col in ("url", "host", "title", "text", "digest", "boost"):
        assert col in docs.columns, col
    # the fixture plants byte-identical dup pages → db_duplicate rows
    # → CleaningJob delete requests
    dels = spark.read.parquet(f"{tmp_path}/indexes/deletes/round=2")
    reasons = {r.reason for r in dels.collect()}
    assert "duplicate" in reasons
    # indexed docs and deletes are disjoint (gone/dup rows are skipped
    # by the doc join)
    both = docs.join(dels, "url").count()
    assert both == 0
