"""The crawldb stage plans over the round's message checkpoint and
committed tables, never over fetch/parse lineage; commit-record reads
run no Spark job; a round, whether it returns or raises, leaves the
session holding no more cached blocks than before it; and a warm
round runs no more Spark jobs per stage, and tasks in all, than its
recorded ceilings."""

import itertools

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.crawl import CrawlRun
from nutch_spark.testdata import fixture_dfs
from tests.helpers import record_crawldb_plans, record_seen_splits

START = 1_700_000_000_000
DAY = 86_400_000

# Spark jobs of round 2 (the first warm round) of a one-session crawl,
# per config and per write or call that ran them: each round-table
# write by table name, the crawldb stage, the link-scoring calls, and
# "other" for the jobs outside all of them (the message checkpoint).
# TASK_CEILINGS bounds the tasks those jobs ran. A change that lowers a
# count lowers its ceiling here.
_SHARED_JOBS = {
    "segments/crawl_generate": 2,
    "segments/crawl_fetch": 7,
    "segments/parse_text": 3,
    "segments/parse_data": 1,
    "other": 1,
    "linkdb": 2,
    "urlseen_bloom": 2,
}
STAGE_JOB_CEILINGS = {
    "default": {**_SHARED_JOBS, "crawldb": 13},
    "link": {**_SHARED_JOBS, "crawldb": 15, "find_loops": 13,
             "linkrank": 39},
}
TASK_CEILINGS = {
    "default": 111,
    "link": 250,
}

_probe_groups = itertools.count()


@pytest.fixture(scope="module")
def fx(spark):
    return fixture_dfs(spark, n_hosts=6, pages_per_host=4,
                       hot_host_pages=8)


def _injected(spark, out, fx, seen_filter="bloom", **cfg_kw):
    cfg = CrawlConfig(generate_top_n=60, num_fetch_partitions=4, **cfg_kw)
    run = CrawlRun(spark, str(out), cfg, fx["pages"], fx["robots"],
                   fx["http_status"], seen_filter=seen_filter,
                   bloom_buckets=4, db_buckets=4)
    run.inject(fx["seeds"], START)
    return run


def _jobs_of(spark, fn) -> list[int]:
    """Spark job ids ``fn()`` ran, via a job group of its own around
    the call."""
    sc = spark.sparkContext
    group = f"probe-jobs-{next(_probe_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_by_stage(spark, monkeypatch, run, fn) -> dict[str, list[int]]:
    """Spark job ids ``fn()`` ran, grouped by the write or call that ran
    them (the keys of ``STAGE_JOB_CEILINGS``), each through a job group
    of its own."""
    from nutch_spark.operators import linkdb
    sc = spark.sparkContext
    tag = f"probe-stages-{next(_probe_groups)}"
    seen = {"other"}

    def grouped(name, call):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        seen.add(name)
        sc.setJobGroup(f"{tag}:{name}", name)
        try:
            return call()
        finally:
            sc.setJobGroup(prev, prev)

    def wrap(m, obj, attr, name=None):
        call = getattr(obj, attr)
        m.setattr(obj, attr, lambda *a, **kw: grouped(
            name or a[1], lambda: call(*a, **kw)))

    with monkeypatch.context() as m:
        wrap(m, run.store, "write")         # (df, name, rnd)
        wrap(m, run.db_table, "stage", "crawldb")
        wrap(m, linkdb, "find_loops", "find_loops")
        wrap(m, linkdb, "linkrank", "linkrank")
        try:
            grouped("other", fn)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return {name: list(tracker.getJobIdsForGroup(f"{tag}:{name}"))
            for name in seen}


def _tasks_of(spark, jobs) -> int:
    """Tasks the stages of ``jobs`` ran (stages a job skipped, their
    shuffle output reused, ran none)."""
    tracker = spark.sparkContext.statusTracker()
    stages = {sid for jid in jobs
              for sid in tracker.getJobInfo(jid).stageIds}
    infos = (tracker.getStageInfo(sid) for sid in stages)
    return sum(i.numCompletedTasks for i in infos if i is not None)


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rows(db) -> dict:
    """url -> row; scores rounded, as float sums may differ in the last
    bit with the order a plan adds them in."""
    return {r.url: {**r.asDict(), "score": round(r.score, 9)}
            for r in db.collect()}


def test_crawldb_stage_plans_over_message_checkpoint(spark, tmp_path, fx,
                                                   monkeypatch):
    run = _injected(spark, tmp_path, fx)
    splits = record_seen_splits(monkeypatch)
    plans = record_crawldb_plans(monkeypatch)
    run.run_round(1, START + DAY)
    assert len(splits) == 1                     # the seen split ran
    plan, = plans
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
    """Seen-layer carry-over and cache release only show from the
    second round on: three consecutive rounds in one session commit
    the same crawldb as a run without a seen layer, and after each
    round the session holds nothing the round cached."""
    ref = _injected(spark, tmp_path / "none", fx, seen_filter="none")
    for rnd in (1, 2, 3):
        assert ref.run_round(rnd, START + rnd * DAY)["fetchlist_rows"] > 0

    run = _injected(spark, tmp_path / "bloom", fx)
    before = _persistent_rdds(spark)
    for rnd in (1, 2, 3):
        run.run_round(rnd, START + rnd * DAY)
        assert _persistent_rdds(spark) == before
        assert _rows(run.load_crawldb(rnd)) == _rows(ref.load_crawldb(rnd))


def test_link_scoring_round_holds_nothing(spark, tmp_path, fx):
    """LinkRank's node and edge caches and its checkpoints feed the
    crawldb write; the round releases them once it has committed."""
    run = _injected(spark, tmp_path, fx, scoring_filter="link")
    before = _persistent_rdds(spark)
    assert run.run_round(1, START + DAY)["crawldb_rows"] > 0
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("crash_at,mime_col", [
    ("segments/parse_data", False),
    ("segments/parse_data", True),
    ("crawldb", False),
])
def test_failed_round_holds_nothing(spark, tmp_path, fx, crash_at,
                                    mime_col):
    """A round that raises releases what it cached: the fetch schedule
    and parse output (raised at the parse_data write, after both were
    computed), the page content when the pages carry a ``mime_type``
    column (the routed parse caches it), and the message checkpoint
    (raised at the crawldb stage, after it was taken)."""
    if mime_col:
        fx = {**fx, "pages": fx["pages"].withColumn(
            "mime_type", F.lit("text/html"))}
    run = _injected(spark, tmp_path, fx)

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash")

    if crash_at == "crawldb":
        run.db_table.stage = crash
    else:
        write = run.store.write
        run.store.write = lambda df, name, rnd, **kw: \
            crash() if name == crash_at else write(df, name, rnd, **kw)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run_round(1, START + DAY)
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("scoring", sorted(STAGE_JOB_CEILINGS))
def test_warm_round_job_ceiling(spark, tmp_path, fx, monkeypatch,
                                scoring):
    """Fixed cost per round is mostly Spark jobs; their count per stage
    and the round's task count do not move with host noise, so a new
    job or stage shows here as a failure, in the stage that added it."""
    kw = {"scoring_filter": "link"} if scoring == "link" else {}
    run = _injected(spark, tmp_path, fx, **kw)
    assert run.run_round(1, START + DAY)["fetchlist_rows"] > 0
    jobs = _jobs_by_stage(spark, monkeypatch, run,
                          lambda: run.run_round(2, START + 2 * DAY))
    counts = {name: len(ids) for name, ids in jobs.items() if ids}
    ceilings = STAGE_JOB_CEILINGS[scoring]
    assert set(counts) <= set(ceilings), counts
    assert all(n <= ceilings[name] for name, n in counts.items()), counts
    tasks = _tasks_of(spark, [j for ids in jobs.values() for j in ids])
    assert tasks <= TASK_CEILINGS[scoring], tasks
