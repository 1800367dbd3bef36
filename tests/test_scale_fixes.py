"""Scale-safety regressions (round-2 fixes).

Each test pins a behavior whose round-1 shape broke at 100×: LinkDb
capping after collect, driver-side generate topN, SimHash blocking
recall, seen-filter row-replication, vectorized url-hash parity.
"""

import random
import string

import pandas as pd
import pyspark.sql.functions as F
import pytest

from nutch_spark.config import CrawlConfig
from nutch_spark.functions.urls import _url_hash31_series, url_hash31
from nutch_spark.operators import dedup_text, generate as gen_op, linkdb
from nutch_spark.operators.cuckoo import build_cuckoo
from nutch_spark.operators.urlseen import build_bloom, maybe_seen_urls


# --- LinkDb: cap applied before aggregation -----------------------------

def test_linkdb_cap_before_collect(spark):
    """A url with ≫cap inlinks must come out with exactly cap inlinks,
    the N smallest (from_url, anchor), and the pre-cap window must sit
    below the aggregate in the plan (bounded aggregation buffers)."""
    cfg = CrawlConfig(db_max_inlinks=10)
    edges = spark.createDataFrame(
        [(f"http://h{i:03d}.test/", "http://viral.test/page", f"a{i:03d}")
         for i in range(50)]
        + [("http://h000.test/", "http://quiet.test/", "x")],
        "from_url string, to_url string, anchor string")
    out = linkdb.invert_links(edges, cfg)
    rows = {r.url: r.inlinks for r in out.collect()}
    assert len(rows["http://viral.test/page"]) == 10
    assert [l.from_url for l in rows["http://viral.test/page"]] == \
        [f"http://h{i:03d}.test/" for i in range(10)]
    assert len(rows["http://quiet.test/"]) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    # row_number window (the pre-cap) must appear below the final agg
    assert "row_number" in plan


def test_linkdb_merge_recap(spark):
    cfg = CrawlConfig(db_max_inlinks=3)
    a = linkdb.invert_links(spark.createDataFrame(
        [(f"http://h{i}.a/", "http://t.test/", f"a{i}") for i in range(3)],
        "from_url string, to_url string, anchor string"), cfg)
    b = linkdb.invert_links(spark.createDataFrame(
        [(f"http://h{i}.b/", "http://t.test/", f"b{i}") for i in range(3)],
        "from_url string, to_url string, anchor string"), cfg)
    merged = linkdb.merge_linkdbs([a, b], cfg).collect()
    assert len(merged) == 1
    assert [l.from_url for l in merged[0].inlinks] == \
        ["http://h0.a/", "http://h0.b/", "http://h1.a/"]


# --- Generate: distributed topN == TakeOrdered topN ---------------------

def _frontier(spark, n=500):
    return spark.range(n).select(
        F.concat(F.lit("http://host"), (F.col("id") % 23).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url"),
        F.lit("db_unfetched").alias("status"),
        F.lit(0).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(3600).cast("int").alias("fetch_interval"),
        ((F.col("id") * 37 % 101) / 10.0).alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"))


def test_generate_topn_threshold_matches_takeordered(spark, monkeypatch):
    db = _frontier(spark)
    base = CrawlConfig(generate_top_n=120, generate_max_count=-1,
                       generate_filter=False)
    small = gen_op.generate(db, base, cur_time_ms=10**12,
                            gen_time_ms=10**12)
    monkeypatch.setattr(gen_op, "TOPN_DISTRIBUTED_MIN", 0)
    dist = gen_op.generate(db, base, cur_time_ms=10**12,
                           gen_time_ms=10**12)
    assert {r.url for r in small.collect()} == \
        {r.url for r in dist.collect()}
    assert dist.count() == 120


def test_topn_threshold_tie_break(spark, monkeypatch):
    # heavy ties at the boundary: all scores equal → pure tie path
    db = _frontier(spark, 200).withColumn("score", F.lit(5.0))
    monkeypatch.setattr(gen_op, "TOPN_DISTRIBUTED_MIN", 0)
    cfg = CrawlConfig(generate_top_n=40, generate_max_count=-1,
                      generate_filter=False)
    out = gen_op.generate(db, cfg, cur_time_ms=10**12, gen_time_ms=10**12)
    urls = sorted(r.url for r in out.collect())
    all_urls = sorted(r.url for r in db.select("url").collect())
    assert urls == all_urls[:40]      # smallest urls win ties


def test_topn_constant_score_no_single_task_limit(spark):
    """Bootstrap degenerate case (round-2 VERDICT #3): a uniform-score
    frontier makes the whole input one tie group; the tie selection
    must be range-cut (`_bottom_k_by_key`), never a TakeOrdered /
    global limit whose single merge task holds all n rows."""
    db = _frontier(spark, 600).withColumn("score", F.lit(1.0))
    sel = gen_op._top_n_by_threshold(db, 250, "score", "url",
                                     small_limit=0)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    assert "GlobalLimit" not in plan
    got = sorted(r.url for r in sel.collect())
    expect = sorted(r.url for r in db.select("url").collect())[:250]
    assert got == expect


def test_bottom_k_by_key_recursive_levels(spark):
    """Multi-level range-cut: tiny ranges force both the fully-kept
    prefix and a recursing boundary remainder; the selected set stays
    exact."""
    db = _frontier(spark, 400).withColumn("score", F.lit(1.0))
    sel = gen_op._bottom_k_by_key(db, 37, "url", small_limit=0,
                                  n_ranges=4)
    got = sorted(r.url for r in sel.collect())
    expect = sorted(r.url for r in db.select("url").collect())[:37]
    assert got == expect


# --- SimHash: blocking recall is exact for any radius --------------------

def test_simhash_plan_invariant():
    from math import comb
    for h in range(1, 17):
        c, m = dedup_text._simhash_plan(h)
        assert m <= c - h           # pigeonhole recall guarantee
        assert comb(c, m) <= 64


def test_simhash_recall_vs_bruteforce(spark):
    rng = random.Random(7)
    words = ["".join(rng.choices(string.ascii_lowercase, k=5))
             for _ in range(60)]
    rows = []
    for i in range(30):
        base = rng.sample(words, 20)
        rows.append((2 * i, " ".join(base)))
        # near-dup: flip a few words → small hamming distance
        mod = list(base)
        for j in rng.sample(range(20), 3):
            mod[j] = rng.choice(words)
        rows.append((2 * i + 1, " ".join(mod)))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sh = {r.id: r.sh for r in dedup_text.simhash_df(d).collect()}
    ids = sorted(sh)
    expect = {(a, b) for ai, a in enumerate(ids) for b in ids[ai + 1:]
              if bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= 8}
    got = {(p.id_a, p.id_b)
           for p in dedup_text.simhash_neardup(d, max_hamming=8).collect()}
    assert got == expect            # round-1 4×16 blocking lost recall >3
    assert expect                   # fixture actually has qualifying pairs


def test_hot_bucket_cap_noop_when_large(spark):
    rows = [(i, f"shared boilerplate text plus {i} unique suffix words")
            for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(p.id_a, p.id_b) for p in dedup_text.minhash_lsh(
        d, num_hashes=16, bands=8, verify_threshold=0.3).collect()}
    b = {(p.id_a, p.id_b) for p in dedup_text.minhash_lsh(
        d, num_hashes=16, bands=8, verify_threshold=0.3,
        max_bucket_size=1000).collect()}
    assert a == b


# --- URL-seen: cogroup shape, no per-row bitset replication -------------

@pytest.mark.parametrize("build", [build_bloom, build_cuckoo],
                         ids=["bloom", "cuckoo"])
def test_seen_membership_is_cogrouped(spark, build):
    """One probe plan for both layer kinds; only the kernel differs."""
    urls = spark.createDataFrame(
        [(f"http://h.test/p{i}",) for i in range(100)], "url string")
    layer = build(urls, n_buckets=4)
    maybe = maybe_seen_urls(urls, layer, n_buckets=4)
    plan = maybe._jdf.queryExecution().executedPlan().toString()
    # the membership test must be a cogroup (filter once per group),
    # not a join that replicates the filter into every row
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert maybe.count() == 100


def test_bloom_bucket_autoscale(spark):
    urls = spark.createDataFrame(
        [(f"http://h.test/p{i}",) for i in range(500)], "url string")
    bloom = build_bloom(urls, n_buckets=None)
    rows = bloom.collect()
    nb = rows[0].n_buckets
    assert nb >= 64
    assert all(r.n_buckets == nb for r in rows)
    # readers can bucket consistently without out-of-band state
    assert maybe_seen_urls(urls, bloom).count() == 500


# --- url_hash31: vectorized kernel == scalar reference -------------------

def test_url_hash31_vectorized_parity():
    rng = random.Random(3)
    urls = ["http://example.com/", "", "a", "héllo/ü¢€", "x" * 300]
    urls += ["".join(rng.choices(string.printable, k=rng.randint(1, 120)))
             for _ in range(300)]
    s = pd.Series(urls + [None])
    got = _url_hash31_series(s)
    for u, g in zip(s, got):
        if u is None:
            assert g is pd.NA
        else:
            assert g == url_hash31(u)
