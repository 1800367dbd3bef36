"""NutchServer REST analog (service.py vs
``src/java/org/apache/nutch/service``): job/config/seed/db management
over real HTTP against a live crawl on the fixture site."""

import json
import threading
import time
import urllib.request

import pytest

from nutch_spark.service import NutchService, make_server
from nutch_spark.testdata import fixture_dfs

START = 1_700_000_000_000


def _req(port, path, body=None, method=None):
    url = f"http://127.0.0.1:{port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, method=method or ("POST" if data else "GET"),
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _wait_job(port, job_id, timeout=300):
    t0 = time.time()
    while time.time() - t0 < timeout:
        _, info = _req(port, f"/job/{job_id}")
        if info["state"] in ("FINISHED", "FAILED", "KILLED"):
            return info
        time.sleep(0.5)
    raise TimeoutError(job_id)


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("service")
    fx = fixture_dfs(spark, n_hosts=6, pages_per_host=4,
                     hot_host_pages=8)
    svc = NutchService(spark, str(base), fx["pages"], fx["robots"],
                       fx["http_status"], start_ms=START)
    srv = make_server(svc, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    # a seed file for INJECT (SeedResource writes seed.txt)
    seeds = [r.line for r in fx["seeds"].collect()
             if r.line and not r.line.startswith("#")]
    yield srv.server_address[1], svc, seeds
    srv.shutdown()


def test_config_resource(server):
    port, _, _ = server
    code, ids = _req(port, "/config")
    assert code == 200 and "default" in ids
    code, cid = _req(port, "/config/create",
                     {"configId": "fast",
                      "params": {"generate_top_n": 5}})
    assert code == 200 and cid == "fast"
    code, v = _req(port, "/config/fast/generate_top_n")
    assert code == 200 and v == 5
    # unknown property → 400 (ConfManager rejects)
    code, _ = _req(port, "/config/create",
                   {"configId": "bad", "params": {"nope": 1}})
    assert code == 400


def test_seed_and_crawl_jobs(server):
    port, _, seeds = server
    code, seed_dir = _req(port, "/seed/create",
                          {"name": "s1", "seedUrls": seeds})
    assert code == 200

    code, job = _req(port, "/job/create",
                     {"crawlId": "c1", "type": "INJECT",
                      "confId": "default",
                      "args": {"url_dir": seed_dir}})
    assert code == 200
    info = _wait_job(port, job["id"])
    assert info["state"] == "FINISHED", info["msg"]
    assert info["result"]["crawldb_rows"] == len(seeds)

    code, job = _req(port, "/job/create",
                     {"crawlId": "c1", "type": "ROUND",
                      "confId": "default"})
    info = _wait_job(port, job["id"])
    assert info["state"] == "FINISHED", info["msg"]
    assert info["result"]["round"] == 1
    assert info["result"]["fetchlist_rows"] > 0

    # individual stage types are one declarative plan here → 501
    code, msg = _req(port, "/job/create",
                     {"crawlId": "c1", "type": "GENERATE"})
    assert code == 501 and "ROUND" in msg


def test_inject_job_reports_snapshot_rows(server, monkeypatch):
    """INJECT reports the committed crawldb snapshot's footer rows and
    runs no count job for it."""
    import os
    port, svc, seeds = server
    _, seed_dir = _req(port, "/seed/create",
                       {"name": "s_rows", "seedUrls": seeds})

    def no_count(self):
        raise AssertionError("DataFrame.count ran")

    # the session's own DataFrame class, which defines count itself
    monkeypatch.setattr(type(svc.spark.range(0)), "count", no_count)
    _, job = _req(port, "/job/create",
                  {"crawlId": "c_rows", "type": "INJECT",
                   "confId": "default", "args": {"url_dir": seed_dir}})
    info = _wait_job(port, job["id"])
    assert info["state"] == "FINISHED", info["msg"]
    with open(os.path.join(svc.base, "crawls", "c_rows", "crawldb",
                           "_table.json")) as f:
        snap = json.load(f)["snapshots"]["0"]
    assert info["result"]["crawldb_rows"] == snap["rows"] == len(seeds)


def test_db_resource_and_admin(server):
    port, _, seeds = server
    code, stats = _req(port, "/db/crawldb",
                       {"crawlId": "c1", "type": "stats"})
    assert code == 200
    statuses = {r["status"]: r for r in stats}
    assert "db_fetched" in statuses

    code, top = _req(port, "/db/crawldb",
                     {"crawlId": "c1", "type": "topN",
                      "args": {"topN": 3}})
    assert code == 200 and len(top) == 3

    code, row = _req(port, "/db/crawldb",
                     {"crawlId": "c1", "type": "url",
                      "args": {"url": seeds[0].split("\t")[0]}})
    assert code == 200 and len(row) == 1

    code, admin = _req(port, "/admin")
    assert code == 200
    assert {j["state"] for j in admin["jobs"]} == {"FINISHED"}
    assert admin["runningJobs"] == []


def test_conf_binding_is_enforced(server):
    """A crawl is bound to the confId that created its CrawlRun; a job
    naming a different confId FAILS loudly instead of silently running
    under the cached config."""
    port, _, _ = server
    code, job = _req(port, "/job/create",
                     {"crawlId": "c1", "type": "ROUND",
                      "confId": "fast"})
    assert code == 200                    # job accepted, fails async
    info = _wait_job(port, job["id"])
    assert info["state"] == "FAILED"
    assert "bound to confId 'default'" in info["msg"]


def test_concurrent_rounds_serialize(server):
    """Two ROUND submissions racing on one crawl queue behind the
    per-crawl lock: the snapshot install is single-writer, so they run
    as consecutive rounds, never the same round twice."""
    port, _, _ = server
    _, j1 = _req(port, "/job/create",
                 {"crawlId": "c1", "type": "ROUND", "confId": "default"})
    _, j2 = _req(port, "/job/create",
                 {"crawlId": "c1", "type": "ROUND", "confId": "default"})
    i1 = _wait_job(port, j1["id"])
    i2 = _wait_job(port, j2["id"])
    assert i1["state"] == i2["state"] == "FINISHED", (i1, i2)
    assert {i1["result"]["round"], i2["result"]["round"]} == {2, 3}


def test_standalone_index_job(server):
    """JobType.INDEX runs post-hoc over the latest committed round
    (IndexingJob.java takes crawldb + linkdb + segment dirs), even
    though the crawl ran with index_enabled off."""
    port, svc, _ = server
    _, job = _req(port, "/job/create",
                  {"crawlId": "c1", "type": "INDEX",
                   "confId": "default"})
    info = _wait_job(port, job["id"])
    assert info["state"] == "FINISHED", info
    res = info["result"]
    assert res["round"] == svc.runs["c1"].resume_round()
    assert res["docs_rows"] > 0
    # the docs table landed under the crawl dir, committed
    import os
    run = svc.runs["c1"]
    docs_path = run.store.path("indexes/docs", res["round"])
    assert os.path.isfile(os.path.join(docs_path, "_snapshot.json"))
    docs = run.spark.read.parquet(docs_path)
    assert docs.count() == res["docs_rows"]
    assert "url" in docs.columns


def test_purge_job(server):
    """JobType.PURGE drops db_gone urls from the frontier and commits
    the next snapshot (the CLI `purge` command over REST)."""
    port, svc, _ = server
    run = svc.runs["c1"]
    before_rnd = run.resume_round()
    db = run.load_crawldb(before_rnd)
    n_gone = db.where("status = 'db_gone'").count()
    _, job = _req(port, "/job/create",
                  {"crawlId": "c1", "type": "PURGE",
                   "confId": "default"})
    info = _wait_job(port, job["id"])
    assert info["state"] == "FINISHED", info
    res = info["result"]
    assert res["round"] == before_rnd + 1
    assert res["purged_rows"] == n_gone
    after = run.load_crawldb(res["round"])
    assert after.where("status = 'db_gone'").count() == 0


def test_round_job_runs_on_the_crawls_pinned_clock(spark, tmp_path):
    """A ROUND job continues a crawl on its pinned epoch (_crawl.json),
    whoever started it: here a CLI-style ``CrawlRun.crawl`` pins
    START, and a server without its own ``start_ms`` runs round 2 at
    START + 2 days, exactly as ``crawl(rounds=2)`` would."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.crawl import CrawlRun
    fx = fixture_dfs(spark, n_hosts=6, pages_per_host=4,
                     hot_host_pages=8)
    CrawlRun(spark, str(tmp_path / "crawls" / "pinned"), CrawlConfig(),
             fx["pages"], fx["robots"], fx["http_status"]
             ).crawl(fx["seeds"], rounds=1, start_ms=START)
    svc = NutchService(spark, str(tmp_path), fx["pages"], fx["robots"],
                       fx["http_status"], start_ms=None)
    job_id = svc.job_create("pinned", "ROUND", "default", {})["id"]
    t0 = time.time()
    while svc.jobs[job_id].state in ("IDLE", "RUNNING"):
        assert time.time() - t0 < 300, "ROUND job timed out"
        time.sleep(0.5)
    info = svc.jobs[job_id].info()
    assert info["state"] == "FINISHED", info["msg"]
    assert info["result"]["round"] == 2
    gen = spark.read.parquet(str(tmp_path / "crawls" / "pinned" / "segments"
                                 / "crawl_generate" / "round=2"))
    stamps = {int(r.t) for r in gen.select(
        gen.metadata["_ngt_"].alias("t")).collect()}
    assert stamps == {START + 2 * 24 * 3600 * 1000}
