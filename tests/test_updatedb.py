"""CrawlDb update state-machine tests.

Port of TestCrawlDbStates.testCrawlDbStateTransitionMatrix
(TestCrawlDbStates.java:96-187): every (db status × fetch status ×
0-2 inlinks × {default, adaptive} schedule) combination in ONE
updatedb invocation (distinct synthetic urls), plus targeted tests for
signature retention, retry exhaustion, score accumulation, parse_meta
overlay and the force-refetch path.
"""

import pytest
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT
from nutch_spark.operators.updatedb import updatedb
from tests.helpers import NOW, by_url, crawldb_df, datum

INTERVAL = DEFAULT.db_fetch_interval_default

DB_STATUSES = [None, "db_unfetched", "db_fetched", "db_gone",
               "db_redir_temp", "db_redir_perm", "db_notmodified",
               "db_duplicate"]
FETCH_TO_DB = {
    "fetch_success": "db_fetched",
    "fetch_gone": "db_gone",
    "fetch_redir_temp": "db_redir_temp",
    "fetch_redir_perm": "db_redir_perm",
    "fetch_notmodified": "db_notmodified",
    "fetch_retry": None,  # special-cased
}
FETCH_STATUSES = [None] + list(FETCH_TO_DB)


def build_matrix():
    """(url, old_row?, fetch_row?, linked_rows, expected_status)"""
    cases = []
    i = 0
    for from_db in DB_STATUSES:
        for fetch_status in FETCH_STATUSES:
            for n_links in (0, 1, 2):
                if fetch_status is None and n_links == 0:
                    continue  # nothing new: only meaningful with links
                i += 1
                url = f"http://case{i:04d}.example/"
                old = None if from_db is None else datum(
                    url, from_db, fetch_time=NOW - 1000, score=1.0)
                fetch = None
                if fetch_status is not None:
                    base = old if old is not None else datum(
                        url, "x", fetch_time=NOW - 1000, score=1.0)
                    fetch = (url, fetch_status, NOW) + base[3:]
                links = [datum(url, "linked", fetch_time=NOW, score=0.1)
                         for _ in range(n_links)]
                # expected status (TestCrawlDbStates.java:121-138)
                if fetch_status is None:
                    expected = "db_unfetched" if from_db is None else from_db
                elif fetch_status == "fetch_retry":
                    expected = "db_unfetched"  # retries 0 < retryMax
                else:
                    expected = FETCH_TO_DB[fetch_status]
                cases.append((url, old, fetch, links, expected))
    return cases


@pytest.mark.parametrize("schedule", ["default", "adaptive"])
def test_state_transition_matrix(spark, schedule):
    cfg = DEFAULT.with_(fetch_schedule=schedule)
    cases = build_matrix()
    old_rows = [c[1] for c in cases if c[1] is not None]
    msg_rows = [c[2] for c in cases if c[2] is not None]
    for c in cases:
        msg_rows.extend(c[3])
    out = updatedb(crawldb_df(spark, old_rows),
                   crawldb_df(spark, msg_rows), cfg, NOW)
    rows = by_url(out)
    failures = []
    for url, old, fetch, links, expected in cases:
        got = rows.get(url, {}).get("status")
        if got != expected:
            failures.append(
                f"{url}: old={old[1] if old else '<absent>'} "
                f"fetch={fetch[1] if fetch else '<links only>'} "
                f"links={len(links)} -> {got} (expected {expected})")
    assert not failures, "\n".join(failures)
    # every url must produce exactly one row
    assert len(rows) == len(cases)


def test_signature_notmodified_detection(spark):
    """Equal signature on refetch → db_notmodified, keeping old
    signature and resetting modifiedTime to the previous value
    (CrawlDbReducer.java:219-247, NUTCH-1341/1422)."""
    sig = "aa" * 16
    old = crawldb_df(spark, [
        datum("http://same.ex/", "db_fetched", fetch_time=NOW - 5000,
              signature=sig, modified_time=777),
        datum("http://diff.ex/", "db_fetched", fetch_time=NOW - 5000,
              signature=sig, modified_time=777),
        # redirects are NOT signature-compared (NUTCH-1422)
        datum("http://redir.ex/", "db_fetched", fetch_time=NOW - 5000,
              signature=sig, modified_time=777),
    ])
    msgs = crawldb_df(spark, [
        datum("http://same.ex/", "fetch_success", fetch_time=NOW,
              signature=sig, modified_time=0),
        datum("http://diff.ex/", "fetch_success", fetch_time=NOW,
              signature="bb" * 16, modified_time=0),
        datum("http://redir.ex/", "fetch_redir_temp", fetch_time=NOW,
              signature=sig, modified_time=0),
    ])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    same = rows["http://same.ex/"]
    assert same["status"] == "db_notmodified"
    assert same["signature"] == sig
    assert same["modified_time"] == 777
    diff = rows["http://diff.ex/"]
    assert diff["status"] == "db_fetched"
    assert diff["signature"] == "bb" * 16
    redir = rows["http://redir.ex/"]
    assert redir["status"] == "db_redir_temp"


def test_retry_counter_and_exhaustion(spark):
    """fetch_retry increments retries, +1 day; at retryMax → db_gone
    with gone schedule (CrawlDbReducer.java:282-295)."""
    old = crawldb_df(spark, [
        datum("http://r1.ex/", "db_unfetched", fetch_time=NOW - 5000,
              retries=0),
        datum("http://r3.ex/", "db_unfetched", fetch_time=NOW - 5000,
              retries=2),
    ])
    msgs = crawldb_df(spark, [
        (u, "fetch_retry", NOW, r, INTERVAL, 1.0, None, 0, {})
        for u, r in [("http://r1.ex/", 0), ("http://r3.ex/", 2)]
    ])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    r1 = rows["http://r1.ex/"]
    assert r1["status"] == "db_unfetched"
    assert r1["retries"] == 1
    assert r1["fetch_time"] == NOW + 86400 * 1000
    r3 = rows["http://r3.ex/"]
    assert r3["status"] == "db_gone"
    assert r3["retries"] == 3
    # gone schedule: interval ×1.5, next = fetch_time + interval
    assert r3["fetch_interval"] == int(INTERVAL * 1.5)
    assert r3["fetch_time"] == NOW + int(INTERVAL * 1.5) * 1000


def test_opic_score_accumulation(spark):
    """updateDbScore: score += Σ inlink scores
    (OPICScoringFilter.java:95-105); new link-only urls start at
    initialScore 0 (lines 83-86)."""
    old = crawldb_df(spark, [
        datum("http://known.ex/", "db_fetched", fetch_time=NOW - 5000,
              score=2.0),
    ])
    msgs = crawldb_df(spark, [
        datum("http://known.ex/", "linked", fetch_time=NOW, score=0.5),
        datum("http://known.ex/", "linked", fetch_time=NOW, score=0.25),
        datum("http://new.ex/", "linked", fetch_time=NOW, score=0.5),
        datum("http://new.ex/", "linked", fetch_time=NOW, score=0.125),
    ])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    assert rows["http://known.ex/"]["score"] == 2.75
    assert rows["http://known.ex/"]["status"] == "db_fetched"  # unchanged
    new = rows["http://new.ex/"]
    assert new["status"] == "db_unfetched"
    assert new["score"] == 0.625
    assert new["fetch_time"] == NOW            # initializeSchedule
    assert new["fetch_interval"] == INTERVAL


def test_signature_marker_and_parse_meta(spark):
    """crawl_parse signature marker supplies the digest; parse_meta
    overlays result metadata (CrawlDbReducer.java:126-130,213-217);
    _ngt_ is removed (line 318)."""
    old = crawldb_df(spark, [
        datum("http://p.ex/", "db_unfetched", fetch_time=NOW - 5000,
              metadata={"_ngt_": str(NOW - 5000), "keep": "old"}),
    ])
    msgs = crawldb_df(spark, [
        datum("http://p.ex/", "fetch_success", fetch_time=NOW,
              metadata={"fetched": "1"}),
        datum("http://p.ex/", "signature", signature="cc" * 16),
        datum("http://p.ex/", "parse_meta", metadata={"title": "T"}),
    ])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    p = rows["http://p.ex/"]
    assert p["status"] == "db_fetched"
    assert p["signature"] == "cc" * 16
    assert p["metadata"] == {"keep": "old", "fetched": "1", "title": "T"}
    assert "_ngt_" not in p["metadata"]


def test_force_refetch_over_max_interval(spark):
    """interval > db.fetch.interval.max → forceRefetch: db_unfetched,
    signature cleared (CrawlDbReducer.java:274-275,
    AbstractFetchSchedule.java:214-225)."""
    big = DEFAULT.db_fetch_interval_max + 100
    old = crawldb_df(spark, [
        datum("http://f.ex/", "db_fetched", fetch_time=NOW - 5000,
              fetch_interval=big, signature="dd" * 16),
    ])
    msgs = crawldb_df(spark, [
        datum("http://f.ex/", "fetch_success", fetch_time=NOW,
              fetch_interval=big, signature="dd" * 16),
    ])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    f = rows["http://f.ex/"]
    assert f["status"] == "db_unfetched"
    assert f["signature"] is None
    assert f["modified_time"] == 0
    assert f["fetch_interval"] == int(DEFAULT.db_fetch_interval_max * 0.9)


def test_additions_not_allowed_and_purge(spark):
    cfg = DEFAULT.with_(db_update_additions_allowed=False,
                        db_update_purge_404=True)
    old = crawldb_df(spark, [
        datum("http://kept.ex/", "db_fetched", fetch_time=NOW - 5000),
        datum("http://gone.ex/", "db_gone", fetch_time=NOW - 5000),
    ])
    msgs = crawldb_df(spark, [
        datum("http://unknown.ex/", "linked", fetch_time=NOW, score=0.5),
    ])
    rows = by_url(updatedb(old, msgs, cfg, NOW))
    assert set(rows) == {"http://kept.ex/"}


def test_default_schedule_next_fetch_time(spark):
    """DefaultFetchSchedule: next = fetchTime + interval
    (DefaultFetchSchedule.java:33-44)."""
    old = crawldb_df(spark, [
        datum("http://s.ex/", "db_unfetched", fetch_time=NOW - 5000)])
    msgs = crawldb_df(spark, [
        datum("http://s.ex/", "fetch_success", fetch_time=NOW)])
    rows = by_url(updatedb(old, msgs, DEFAULT, NOW))
    assert rows["http://s.ex/"]["fetch_time"] == NOW + INTERVAL * 1000


def test_adaptive_schedule_intervals(spark):
    """AdaptiveFetchSchedule: modified → interval×(1−0.2); notmodified
    → ×(1+0.2); sync-delta shifts ref time
    (AdaptiveFetchSchedule.java:95-144)."""
    cfg = DEFAULT.with_(fetch_schedule="adaptive",
                        adaptive_sync_delta=False)
    sig_old, sig_new = "aa" * 16, "bb" * 16
    old = crawldb_df(spark, [
        datum("http://mod.ex/", "db_fetched", fetch_time=NOW - 5000,
              signature=sig_old, modified_time=NOW - 99000),
        datum("http://not.ex/", "db_fetched", fetch_time=NOW - 5000,
              signature=sig_old, modified_time=NOW - 99000),
    ])
    msgs = crawldb_df(spark, [
        datum("http://mod.ex/", "fetch_success", fetch_time=NOW,
              signature=sig_new, modified_time=0),
        datum("http://not.ex/", "fetch_success", fetch_time=NOW,
              signature=sig_old, modified_time=0),
    ])
    rows = by_url(updatedb(old, msgs, cfg, NOW))
    mod = rows["http://mod.ex/"]
    assert mod["status"] == "db_fetched"
    assert mod["fetch_interval"] == int(INTERVAL * 0.8)
    nmod = rows["http://not.ex/"]
    assert nmod["status"] == "db_notmodified"
    assert nmod["fetch_interval"] == int(INTERVAL * 1.2)


def test_join_mode_equals_union_mode(spark):
    """updatedb's bucketed-friendly join path (db passed separately,
    normalize/filter off) must agree row-for-row with the legacy
    union+groupBy semantics (db rows fed through the message stream) —
    the two are the same reduce over a re-keyed vs keyed frontier."""
    cases = build_matrix()
    old_rows = [c[1] for c in cases if c[1] is not None]
    msg_rows = [c[2] for c in cases if c[2] is not None]
    for c in cases:
        msg_rows.extend(c[3])
    db = crawldb_df(spark, old_rows)
    msgs = crawldb_df(spark, msg_rows)
    joined = by_url(updatedb(db, msgs, DEFAULT, NOW))
    # union semantics: db rows travel with the messages (db=None)
    unioned = by_url(updatedb(None, db.unionByName(msgs), DEFAULT, NOW))
    assert set(joined) == set(unioned)
    mismatches = [u for u in joined if joined[u] != unioned[u]]
    assert not mismatches, mismatches[:5]


def test_inlink_cap_binds_per_url(spark):
    """db.update.max.inlinks keeps only the top-N linked rows by score
    per url (InlinkPriorityQueue, CrawlDbReducer.java:57-58,326-339) —
    exercises the hot-url path of the cap (a url over the cap pays the
    window; one under it passes through untouched)."""
    links_hot = [datum("http://hot.ex/", "linked", fetch_time=NOW,
                       score=s) for s in (0.5, 0.4, 0.3, 0.2, 0.1)]
    links_cold = [datum("http://cold.ex/", "linked", fetch_time=NOW,
                        score=0.25)]
    msgs = crawldb_df(spark, links_hot + links_cold)
    cfg = DEFAULT.with_(db_update_max_inlinks=2)
    out = by_url(updatedb(None, msgs, cfg, NOW))
    # only the two highest-score inlinks contribute (0.5 + 0.4)
    assert out["http://hot.ex/"]["score"] == pytest.approx(0.9)
    assert out["http://cold.ex/"]["score"] == pytest.approx(0.25)
    assert out["http://hot.ex/"]["status"] == "db_unfetched"
