"""Two-phase fetch (schedule/outputs split) + bucketed-table plan tests.

Pins the round-2 scale architecture: the politeness schedule is a slim
frame computed once per round; page bytes join once, success rows only;
bucketed (Iceberg bucket(url,N)-style) storage makes the big side of
the frontier joins exchange-free.
"""

import pyspark.sql.functions as F
import pytest

from nutch_spark.config import DEFAULT
from nutch_spark.operators import fetch as fetch_op
from nutch_spark.operators import updatedb as update_op
from tests.helpers import NOW, crawldb_df, datum


def _fetchlist(spark, urls):
    return crawldb_df(spark, [datum(u, "db_unfetched", fetch_time=0,
                                    score=1.0) for u in urls])


def _pages(spark, urls):
    return spark.createDataFrame(
        [(u, f"<html><body>p {u}</body></html>") for u in urls],
        "url string, body string").select(
        "url", F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode("body", "UTF-8").alias("html"),
        F.col("body").alias("text"), F.lit("en").alias("lang"))


def _empty_robots(spark):
    return spark.createDataFrame(
        [], "authority string, robots_txt string, fetch_code int")


def test_two_phase_equals_composed(spark):
    """schedule_fetchlist + outputs_from_schedule must produce exactly
    what fetch() produces (fetch() is their composition)."""
    urls = [f"http://h{i % 3}.test/p{i}" for i in range(20)]
    fl, pages = _fetchlist(spark, urls), _pages(spark, urls[:15])
    robots = _empty_robots(spark)
    cfg = DEFAULT

    fr = fetch_op.fetch(fl, pages, robots, None, cfg, NOW)
    sched = fetch_op.schedule_fetchlist(fl, pages, robots, None, cfg, NOW)
    fr2 = fetch_op.outputs_from_schedule(sched, pages, cfg)

    for key in ("crawl_fetch", "content", "linked"):
        a = sorted(map(str, fr[key].collect()))
        b = sorted(map(str, fr2[key].collect()))
        assert a == b, key


def test_schedule_is_slim(spark):
    """The schedule frame must not carry page bytes: html/text stay out
    of phase 1 entirely (the input_hint's memory-traffic contract)."""
    urls = [f"http://h{i % 3}.test/p{i}" for i in range(10)]
    sched = fetch_op.schedule_fetchlist(
        _fetchlist(spark, urls), _pages(spark, urls),
        _empty_robots(spark), None, DEFAULT, NOW)
    assert "html" not in sched.columns
    assert "text" not in sched.columns
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan


def test_content_joins_success_subset_once(spark):
    """Page bytes appear in exactly one join of the content plan, and
    crawl_fetch / linked plans never reference html at all."""
    urls = [f"http://h{i % 3}.test/p{i}" for i in range(10)]
    fl, pages = _fetchlist(spark, urls), _pages(spark, urls)
    fr = fetch_op.fetch(fl, pages, _empty_robots(spark), None,
                        DEFAULT, NOW)
    for key in ("crawl_fetch", "linked"):
        plan = fr[key]._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan, key
    content_plan = fr["content"]._jdf.queryExecution() \
        .executedPlan().toString()
    assert "html" in content_plan


@pytest.fixture()
def bucketed_db(spark, tmp_path):
    rows = [datum(f"http://h{i % 5}.test/p{i}", "db_unfetched",
                  fetch_time=0, score=1.0) for i in range(200)]
    crawldb_df(spark, rows).write.mode("overwrite") \
        .bucketBy(4, "url").sortBy("url") \
        .option("path", str(tmp_path / "db_t")) \
        .saveAsTable("tpf_db_t")
    yield spark.table("tpf_db_t")
    spark.sql("DROP TABLE IF EXISTS tpf_db_t")


def test_updatedb_join_mode_bucketed_no_db_exchange(spark, bucketed_db):
    """With a url-bucketed crawldb, the updatedb merge (join mode) must
    not insert an Exchange above the crawldb scan — the frontier side
    stays storage-partitioned (north rule: explicit shuffle control at
    10^10-URL frontier scale)."""
    msgs = crawldb_df(spark, [
        datum(f"http://h{i % 5}.test/p{i}", "fetch_success",
              fetch_time=NOW, score=1.0) for i in range(50)])
    out = update_op.updatedb(bucketed_db, msgs, DEFAULT, NOW)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # comparative shuffle count: the same db stored WITHOUT bucketing
    # must cost exactly one more exchange (the db side of the merge
    # join); bucketing removes it — the frontier never shuffles
    flat = bucketed_db.sparkSession.createDataFrame(
        bucketed_db.collect(), bucketed_db.schema)
    flat_plan = update_op.updatedb(flat, msgs, DEFAULT, NOW) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == flat_plan.count("Exchange") - 1
    # and the result must still be correct: 200 db rows survive
    assert out.count() == 200


def test_generate_partition_output_false_same_schedule(spark):
    """partition_output=False must change ONLY the physical layout of
    the fetchlist: the row set (including fetch_partition / _urlhash
    columns) and the politeness schedule derived from it are
    row-identical — virtual_time comes from the window ORDER, never
    from the input partitioning. The skipped exchange+sort is the
    point: the plan without layout must carry one fewer Exchange."""
    from nutch_spark.operators import generate as gen_op

    db = crawldb_df(spark, [
        datum(f"http://h{i % 5}.test/p{i}", "db_unfetched",
              fetch_time=0, score=float(i % 7)) for i in range(60)])
    cfg = DEFAULT.with_(generate_top_n=-1, generate_filter=False,
                        num_fetch_partitions=4)
    fl_a = gen_op.generate(db, cfg, cur_time_ms=NOW, gen_time_ms=NOW)
    fl_b = gen_op.generate(db, cfg, cur_time_ms=NOW, gen_time_ms=NOW,
                           partition_output=False)
    assert fl_a.columns == fl_b.columns
    assert sorted(map(str, fl_a.collect())) \
        == sorted(map(str, fl_b.collect()))
    plan_a = fl_a._jdf.queryExecution().executedPlan().toString()
    plan_b = fl_b._jdf.queryExecution().executedPlan().toString()
    assert plan_b.count("Exchange") == 0
    assert plan_a.count("Exchange") >= 1

    robots = _empty_robots(spark)
    pages = _pages(spark, [f"http://h{i % 5}.test/p{i}"
                           for i in range(0, 60, 2)])
    sa = fetch_op.schedule_fetchlist(fl_a, pages, robots, None, cfg, NOW)
    sb = fetch_op.schedule_fetchlist(fl_b, pages, robots, None, cfg, NOW)
    assert sorted(map(str, sa.collect())) \
        == sorted(map(str, sb.collect()))
