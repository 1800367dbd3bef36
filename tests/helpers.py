"""Row builders shared by operator tests (CrawlDBTestUtil analog)."""

from nutch_spark.schema import CRAWLDB

NOW = 1_700_000_000_000  # fixed "current time" for deterministic tests


def datum(url, status="db_unfetched", fetch_time=0, retries=0,
          fetch_interval=2592000, score=1.0, signature=None,
          modified_time=0, metadata=None):
    return (url, status, fetch_time, retries, fetch_interval,
            float(score), signature, modified_time, metadata or {})


def crawldb_df(spark, rows):
    return spark.createDataFrame(rows, CRAWLDB)


def by_url(df):
    return {r["url"]: r.asDict() for r in df.collect()}


def record_seen_splits(monkeypatch):
    """Wrap ``urlseen.split_seen`` for one test. Returns a list that
    gets one ``(new_urls, maybe_urls)`` pair per call: the urls of the
    two outputs, collected during the round, while the message
    checkpoint they read is still held."""
    from nutch_spark.operators import urlseen
    calls = []
    split_seen = urlseen.split_seen

    def recording(*args, **kwargs):
        new, maybe = split_seen(*args, **kwargs)
        calls.append(tuple([r.url for r in df.select("url").collect()]
                           for df in (new, maybe)))
        return new, maybe

    monkeypatch.setattr(urlseen, "split_seen", recording)
    return calls


def record_crawldb_plans(monkeypatch):
    """Wrap ``dedup.dedup``, which ends a round's crawldb merge plan,
    for one test. Returns a list that gets the physical plan
    text of each call's output, taken during the round."""
    from nutch_spark.operators import dedup
    plans = []
    dedup_fn = dedup.dedup

    def recording(*args, **kwargs):
        out = dedup_fn(*args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(dedup, "dedup", recording)
    return plans
