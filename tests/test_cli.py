"""bin/nutch CLI surface (nutch_spark/cli.py) — every reference
subcommand (src/bin/nutch:211-282) either runs against a committed
fixture crawl or fails with the documented single-declarative-plan
message. Driven through cli.main(argv) in-process so the commands use
the session-scoped SparkSession fixture."""

import json
import os

import pytest

from nutch_spark import cli

START_ARGS = ["--cores", "4"]


def _fixture_crawl(spark, out, **kw):
    """A 2-round fixture crawl under ``out``; ``kw`` goes to CrawlRun."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    from nutch_spark.testdata import fixture_dfs
    fx = fixture_dfs(spark, n_hosts=6, pages_per_host=4,
                     hot_host_pages=8)
    cfg = CrawlConfig(generate_top_n=60, num_fetch_partitions=4)
    run = CrawlRun(spark, str(out), cfg, fx["pages"], fx["robots"],
                   fx["http_status"], bloom_buckets=4, db_buckets=4, **kw)
    run.crawl(fx["seeds"], rounds=2, start_ms=1_700_000_000_000)
    return str(out)


@pytest.fixture(scope="module")
def crawl_dir(spark, tmp_path_factory):
    """A 2-round fixture crawl the reader commands inspect."""
    return _fixture_crawl(spark, tmp_path_factory.mktemp("cli_crawl"))


def _main(monkeypatch, spark, argv):
    # the CLI builds its own session; reuse the test one
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    cli.main(START_ARGS + argv)


def test_cores_default_follows_affinity_mask(monkeypatch, tmp_path):
    """Without --cores or SPARK_GRAFT_CPUS, the session is sized from
    the CPUs this process may run on (session.default_cores), not a
    fixed 8."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2},
                        raising=False)

    class Sized(Exception):
        pass

    def spark_for(args):
        raise Sized(args.cores)

    monkeypatch.setattr(cli, "_spark", spark_for)
    with pytest.raises(Sized) as e:
        cli.main(["readdb", str(tmp_path), "--stats"])
    assert e.value.args == (3,)


def _out(capsys):
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.strip()]
    return lines


def test_readdb_stats_and_dump(monkeypatch, capsys, spark, crawl_dir,
                               tmp_path):
    _main(monkeypatch, spark, ["readdb", crawl_dir, "--stats"])
    assert any("db_fetched" in ln or "status" in ln
               for ln in _out(capsys))
    dump = str(tmp_path / "dump")
    _main(monkeypatch, spark, ["readdb", crawl_dir, "--dump", dump])
    assert json.loads(_out(capsys)[-1])["dumped"] == dump


def test_round_stages_not_submittable(monkeypatch, spark):
    for stage in cli.ROUND_STAGES:
        with pytest.raises(SystemExit, match="declarative"):
            _main(monkeypatch, spark, [stage])


def test_freegen(monkeypatch, capsys, spark, tmp_path):
    urls = tmp_path / "urls.txt"
    urls.write_text("http://host1.test/a\n# comment\n"
                    "http://host2.test/b\n")
    dest = str(tmp_path / "fl")
    _main(monkeypatch, spark, ["freegen", str(urls), dest])
    res = json.loads(_out(capsys)[-1])
    assert res["fetchlist"] == 2


def test_readlinkdb_and_readseg(monkeypatch, capsys, spark, crawl_dir):
    # pick a url present in any round's linkdb (the latest round can
    # legitimately be empty when no new outlinks were discovered)
    ldb = spark.read.option("basePath", os.path.join(crawl_dir,
                                                     "linkdb")) \
        .parquet(os.path.join(crawl_dir, "linkdb", "round=*"))
    url = ldb.select("url").first().url
    _main(monkeypatch, spark, ["readlinkdb", crawl_dir, "--url", url])
    assert any(url in ln for ln in _out(capsys))
    _main(monkeypatch, spark, ["readseg", crawl_dir, "--get", url])
    capsys.readouterr()  # vertical show; just assert it didn't raise


def test_mergesegs(monkeypatch, capsys, spark, crawl_dir, tmp_path):
    dest = str(tmp_path / "merged")
    _main(monkeypatch, spark, ["mergesegs", crawl_dir, dest])
    res = json.loads(_out(capsys)[-1])
    assert res["urls"] > 0 and len(res["rounds"]) >= 1
    # latest-per-url: no url appears twice
    m = spark.read.parquet(dest)
    assert m.count() == m.select("url").distinct().count()


def test_invertlinks_and_mergelinkdb(monkeypatch, capsys, spark,
                                     crawl_dir, tmp_path):
    """Standalone LinkDb inversion over committed parse_data matches
    the in-round linkdb union; LinkDbMerger self-merge keeps the url
    set."""
    dest = str(tmp_path / "ldb")
    _main(monkeypatch, spark, ["invertlinks", crawl_dir, dest])
    res = json.loads(_out(capsys)[-1])
    assert res["urls"] > 0
    merged = str(tmp_path / "ldb2")
    _main(monkeypatch, spark, ["mergelinkdb", merged, dest, dest])
    res2 = json.loads(_out(capsys)[-1])
    assert res2["urls"] == res["urls"]


def test_mergedb(monkeypatch, capsys, spark, crawl_dir, tmp_path):
    dest = str(tmp_path / "mdb")
    _main(monkeypatch, spark, ["mergedb", dest, crawl_dir, crawl_dir])
    res = json.loads(_out(capsys)[-1])
    from nutch_spark.storage import SnapshotTable
    n = SnapshotTable(spark, crawl_dir, "crawldb", sort=False) \
        .read().count()
    assert res["urls"] == n  # self-merge keeps the url set
    # the merged db is a committed crawldb: a crawl can resume from it
    # and the crawldb readers open it
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    run = CrawlRun(spark, dest, CrawlConfig())
    assert run.resume_round() == 0
    assert run.load_crawldb(0).count() == n
    _main(monkeypatch, spark, ["readdb", dest, "--stats"])
    assert any("db_" in ln for ln in _out(capsys))


def test_dedup_and_purge_commit_next_round(monkeypatch, capsys, spark,
                                           crawl_dir):
    _main(monkeypatch, spark, ["dedup", crawl_dir])
    res = json.loads(_out(capsys)[-1])
    assert res["crawldb_rows"] > 0
    _main(monkeypatch, spark, ["purge", crawl_dir])
    res2 = json.loads(_out(capsys)[-1])
    assert res2["round"] == res["round"] + 1


def test_dedup_and_purge_keep_cuckoo_layer(monkeypatch, capsys, spark,
                                           tmp_path):
    """Maintenance jobs keep the seen layer the crawl was run with:
    after a cuckoo crawl, the rounds dedup and purge commit carry a
    cuckoo layer, not a rebuilt bloom one."""
    out = _fixture_crawl(spark, tmp_path / "ck", seen_filter="cuckoo")
    _main(monkeypatch, spark, ["dedup", out])
    _main(monkeypatch, spark, ["purge", out])
    last = json.loads(_out(capsys)[-1])["round"]
    assert last == 4
    for rnd in range(last + 1):
        layer = os.path.join(out, "urlseen_cuckoo", f"round={rnd}")
        assert os.path.isfile(os.path.join(layer, "_snapshot.json")), rnd
        assert not os.path.exists(
            os.path.join(out, "urlseen_bloom", f"round={rnd}")), rnd


def test_index_and_domainstats(monkeypatch, capsys, spark, crawl_dir):
    # explicit round: dedup/purge above committed crawldb-only rounds
    # past the last round that has segments
    _main(monkeypatch, spark, ["index", crawl_dir, "--round", "1"])
    res = json.loads(_out(capsys)[-1])
    assert "docs_rows" in res
    _main(monkeypatch, spark, ["domainstats", crawl_dir,
                               "--mode", "host"])
    assert _out(capsys)


def test_webgraph_linkrank_nodedumper(monkeypatch, capsys, spark,
                                      crawl_dir):
    _main(monkeypatch, spark, ["webgraph", crawl_dir])
    assert json.loads(_out(capsys)[-1])["nodes"] > 0
    _main(monkeypatch, spark, ["linkrank", crawl_dir])
    assert json.loads(_out(capsys)[-1])["ranked"] > 0
    _main(monkeypatch, spark, ["nodedumper", crawl_dir,
                               "--by", "inlinks", "--topn", "5"])
    assert _out(capsys)
    _main(monkeypatch, spark, ["scoreupdater", crawl_dir])
    assert json.loads(_out(capsys)[-1])["crawldb_rows"] > 0


def test_linkrank_failure_keeps_committed_ranks(monkeypatch, capsys,
                                               spark, crawl_dir):
    """The webgraph tables install atomically: a linkrank that fails
    mid-write leaves the previously committed ranks readable."""
    from pyspark.sql import functions as F
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    from nutch_spark.operators import linkdb as linkdb_op
    _main(monkeypatch, spark, ["linkrank", crawl_dir])
    ranked = json.loads(_out(capsys)[-1])["ranked"]
    store = CrawlRun(spark, crawl_dir, CrawlConfig()).store

    def ranks_of():
        return sorted(tuple(r) for r in
                      store.read("webgraph/linkrank").collect())

    before = ranks_of()
    assert len(before) == ranked > 0

    @F.udf("double")
    def crash(score):
        raise RuntimeError("simulated crash")

    linkrank = linkdb_op.linkrank
    monkeypatch.setattr(
        linkdb_op, "linkrank", lambda *a, **kw: linkrank(*a, **kw)
        .withColumn("score", crash("score")))
    with pytest.raises(Exception, match="simulated crash"):
        _main(monkeypatch, spark, ["linkrank", crawl_dir])
    assert ranks_of() == before


def test_written_tables_report_footer_rows(monkeypatch, capsys, spark,
                                           crawl_dir, tmp_path):
    """Every command that writes a table reports its row count from the
    table's footers or commit record: the counts match the written
    tables with the session's DataFrame.count raising throughout."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.test/\nhttp://b.test/\n")
    urls = tmp_path / "urls.txt"
    urls.write_text("http://host1.test/a\nhttp://host2.test/b\n")
    d = {n: str(tmp_path / n) for n in
         ("inj", "fl", "mdb", "segs", "ldb", "ldb2", "files")}
    runs = [
        ("inject", ["inject", d["inj"], str(seeds)], "urls"),
        ("freegen", ["freegen", str(urls), d["fl"]], "fetchlist"),
        ("mergedb", ["mergedb", d["mdb"], crawl_dir, crawl_dir], "urls"),
        ("mergesegs", ["mergesegs", crawl_dir, d["segs"]], "urls"),
        ("invertlinks", ["invertlinks", crawl_dir, d["ldb"]], "urls"),
        ("mergelinkdb", ["mergelinkdb", d["ldb2"], d["ldb"]], "urls"),
        ("dump", ["dump", crawl_dir, d["files"], "--fixture"], "files"),
        ("webgraph", ["webgraph", crawl_dir], "nodes"),
        ("linkrank", ["linkrank", crawl_dir], "ranked"),
    ]
    emitted = {}

    def no_count(self):
        raise AssertionError("DataFrame.count ran")

    with monkeypatch.context() as m:
        # the session's own DataFrame class, which defines count itself
        m.setattr(type(spark.range(0)), "count", no_count)
        for name, argv, key in runs:
            _main(m, spark, argv)
            emitted[name] = json.loads(_out(capsys)[-1])[key]

    def store(out):
        return CrawlRun(spark, out, CrawlConfig()).store

    written = {
        "inject": CrawlRun(spark, d["inj"], CrawlConfig())
        .load_crawldb(0).count(),
        "mergedb": CrawlRun(spark, d["mdb"], CrawlConfig())
        .load_crawldb(0).count(),
        "webgraph": store(crawl_dir).read("webgraph/nodedb").count(),
        "linkrank": store(crawl_dir).read("webgraph/linkrank").count(),
        **{n: spark.read.parquet(d[k]).count() for n, k in (
            ("freegen", "fl"), ("mergesegs", "segs"),
            ("invertlinks", "ldb"), ("mergelinkdb", "ldb2"),
            ("dump", "files"))},
    }
    assert emitted == written
    assert emitted["inject"] == 2 and emitted["freegen"] == 2
    assert all(n > 0 for n in emitted.values()), emitted
    # like inject, mergedb commits round 0 with its URL-seen layer
    assert store(d["mdb"]).record("urlseen_bloom", 0) is not None


def test_unreadable_footer_falls_back_to_count(monkeypatch, capsys,
                                               spark, tmp_path):
    """A written table whose footers cannot be read still reports its
    row count, from a count job, never null."""
    from nutch_spark import storage
    urls = tmp_path / "urls.txt"
    urls.write_text("http://host1.test/a\nhttp://host2.test/b\n")
    monkeypatch.setattr(storage, "lineage_rows", lambda lineage: None)
    _main(monkeypatch, spark, ["freegen", str(urls), str(tmp_path / "fl")])
    assert json.loads(_out(capsys)[-1])["fetchlist"] == 2


def test_checkers_on_local_file(monkeypatch, capsys, spark, tmp_path):
    page = tmp_path / "p.html"
    page.write_text("<html><head><title>T</title></head><body>"
                    "<p>hello world</p>"
                    "<a href='http://x.test/y'>link</a></body></html>")
    _main(monkeypatch, spark, ["parsechecker",
                               "--url", "http://x.test/p",
                               "--html", str(page)])
    out = "\n".join(_out(capsys))
    assert "hello world" in out
    _main(monkeypatch, spark, ["indexchecker",
                               "--url", "http://x.test/p",
                               "--html", str(page)])
    out = "\n".join(_out(capsys))
    assert "title" in out


def test_dump_and_commoncrawldump(monkeypatch, capsys, spark,
                                  crawl_dir, tmp_path):
    dest = str(tmp_path / "files")
    _main(monkeypatch, spark, ["dump", crawl_dir, dest, "--fixture"])
    assert json.loads(_out(capsys)[-1])["files"] > 0
    cc = str(tmp_path / "cc")
    _main(monkeypatch, spark, ["commoncrawldump", crawl_dir, cc])
    assert json.loads(_out(capsys)[-1])["dest"] == cc
    assert os.path.isdir(cc)


def test_rounds_of_skips_leftover_old_dir(spark, tmp_path):
    """A ``round=N.old`` or ``round=N.tmp`` dir, left by a crash
    mid-install or seen by a reader during one, is not a round: the
    store's listing skips it instead of failing on its name. It lists
    only rounds with a commit record, up to the crawldb's current
    snapshot."""
    for d in ("round=1", "round=2.old", "round=2.tmp", "round=3"):
        (tmp_path / "linkdb" / d).mkdir(parents=True)
        (tmp_path / "linkdb" / d / "_snapshot.json").write_text(
            json.dumps({"partitions": []}))
    (tmp_path / "linkdb" / "round=0").mkdir()        # no commit record
    (tmp_path / "crawldb").mkdir()
    (tmp_path / "crawldb" / "_table.json").write_text(
        json.dumps({"snapshots": {}, "current": 2}))
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    assert CrawlRun(spark, str(tmp_path), CrawlConfig()).store \
        .rounds("linkdb") == [1]


def test_readers_skip_round_cut_before_crawldb_commit(
        monkeypatch, capsys, spark, tmp_path):
    """A crash between round 2's table installs and its crawldb commit
    leaves round=2 segment and linkdb dirs with commit records. Round
    2 is not done (a resume overwrites them), so the latest round the
    CLI readers see is round 1."""
    from nutch_spark.storage import SnapshotTable
    orig = SnapshotTable.publish

    def crashing_commit(self, staged, rnd):
        if self.name == "crawldb" and rnd == 2:
            raise RuntimeError("simulated crash at commit")
        return orig(self, staged, rnd)

    monkeypatch.setattr(SnapshotTable, "publish", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _fixture_crawl(spark, tmp_path / "c")
    out = str(tmp_path / "c")
    assert os.path.isfile(os.path.join(
        out, "linkdb", "round=2", "_snapshot.json"))
    _main(monkeypatch, spark, ["mergesegs", out, str(tmp_path / "m")])
    assert json.loads(_out(capsys)[-1])["rounds"] == [1]
    _main(monkeypatch, spark, ["invertlinks", out, str(tmp_path / "l")])
    assert json.loads(_out(capsys)[-1])["rounds"] == [1]
    with pytest.raises(SystemExit, match="no segments"):
        _main(monkeypatch, spark, ["readseg", out, "--get", "x",
                                   "--round", "2"])
