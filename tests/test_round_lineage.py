"""The crawldb stage plans over the round's message checkpoint and
committed tables, never over fetch/parse lineage; commit-record reads
run no Spark job; and one session runs round after round with at most
one message checkpoint held per CrawlRun."""

import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.testdata import fixture_dfs

START = 1_700_000_000_000
DAY = 86_400_000


@pytest.fixture(scope="module")
def fx(spark):
    return fixture_dfs(spark, n_hosts=6, pages_per_host=4,
                       hot_host_pages=8)


def _injected(spark, out, fx, seen_filter="bloom"):
    cfg = CrawlConfig(generate_top_n=60, num_fetch_partitions=4)
    run = CrawlRun(spark, str(out), cfg, fx["pages"], fx["robots"],
                   fx["http_status"], seen_filter=seen_filter,
                   bloom_buckets=4, db_buckets=4)
    run.inject(fx["seeds"], START)
    return run


def _jobs_of(spark, fn) -> list[int]:
    """Spark job ids ``fn()`` ran, via a job group around the call."""
    sc = spark.sparkContext
    sc.setJobGroup("probe-jobs", "probe-jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup("probe-jobs"))


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rows(db) -> dict:
    """url -> row; scores rounded, as float sums may differ in the last
    bit with the order a plan adds them in."""
    return {r.url: {**r.asDict(), "score": round(r.score, 9)}
            for r in db.collect()}


def test_crawldb_stage_plans_over_message_checkpoint(spark, tmp_path, fx):
    run = _injected(spark, tmp_path, fx)
    run.run_round(1, START + DAY)
    assert hasattr(run, "debug_split")          # the seen split ran
    plan = run.debug_plans["updatedb"]._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "InMemoryRelation"):
        assert node not in plan, node
    assert "Scan ExistingRDD" in plan           # the message checkpoint


def test_install_and_seen_layer_load_run_no_jobs(spark, tmp_path, fx):
    run = _injected(spark, tmp_path, fx)
    staged = spark.read.parquet(run.store.stage(fx["robots"], "probe", 1))
    out = []
    assert _jobs_of(spark, lambda: out.append(
        run.store.install("probe", 1))) == []
    assert out[0].schema == staged.schema
    assert out[0].count() == fx["robots"].count()
    assert _jobs_of(spark, lambda: out.append(run._load_bloom(0))) == []
    assert out[1] is not None and out[1].count() > 0


def test_three_rounds_one_session_match_unsplit_run(spark, tmp_path, fx):
    """Seen-layer carry-over and checkpoint release only show from the
    second round on: three consecutive rounds in one session commit
    the same crawldb as a run without a seen layer, and the session
    never holds more than the latest round's message checkpoint."""
    ref = _injected(spark, tmp_path / "none", fx, seen_filter="none")
    for rnd in (1, 2, 3):
        assert ref.run_round(rnd, START + rnd * DAY)["fetchlist_rows"] > 0
    ref._release_messages()

    run = _injected(spark, tmp_path / "bloom", fx)
    before = _persistent_rdds(spark)
    for rnd in (1, 2, 3):
        run.run_round(rnd, START + rnd * DAY)
        assert _rows(run.load_crawldb(rnd)) == _rows(ref.load_crawldb(rnd))
        held = _persistent_rdds(spark) - before
        assert held <= {run._messages_rdd.id()}, held
