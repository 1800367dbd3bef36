"""Cuckoo-filter URL-seen layer (operators/cuckoo.py).

North-rule parity target: "partitioned bloom/cuckoo filters keyed by
canonicalized-URL hash". The cuckoo variant's contract mirrors the
bloom layer's (no false negatives, bounded false positives, exact
end-to-end results when paired with the anti-join) and adds deletion
— the piece the frontier-purge path (reference CleaningJob.java:39-199
semantics applied to the crawldb) needs.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nutch_spark.operators import cuckoo as ck
from nutch_spark.operators import urlseen


def _urls(spark, n, prefix="http://h%d.test/p%d"):
    return spark.range(n).select(
        F.format_string(prefix, (F.col("id") % 97).cast("int"),
                        F.col("id").cast("int")).alias("url"))


def test_no_false_negatives(spark):
    """Every inserted url is reported maybe-seen (the bloom-parity
    half of the contract)."""
    urls = _urls(spark, 5000)
    filt = ck.build_cuckoo(urls, n_buckets=8)
    hits = urlseen.maybe_seen_urls(urls, filt)
    assert hits.distinct().count() == 5000


def test_false_positive_rate_bounded(spark):
    """Non-members pass at ~2*SLOTS/2^16 — assert well under 1%
    (the 10-bit bloom's ballpark), the reason the cuckoo costs 2x
    the bits."""
    members = _urls(spark, 20000)
    others = _urls(spark, 20000, prefix="http://other%d.test/q%d")
    filt = ck.build_cuckoo(members, n_buckets=8)
    fp = urlseen.maybe_seen_urls(others, filt).count()
    assert fp / 20000 < 0.01


def test_filter_unseen_exact_vs_plain_antijoin(spark):
    """End-to-end exactness: cuckoo pre-prune + exact join == plain
    anti-join (the filter only prunes, never decides)."""
    frontier = _urls(spark, 3000)
    discovered = _urls(spark, 1500).union(
        _urls(spark, 700, prefix="http://new%d.test/n%d"))
    filt = ck.build_cuckoo(frontier, n_buckets=8)
    got = sorted(r.url for r in
                 urlseen.filter_unseen(discovered, frontier, filt).collect())
    want = sorted(r.url for r in discovered.join(
        frontier, "url", "left_anti").collect())
    assert got == want


def test_delete_then_unseen(spark):
    """Deleted urls become invisible to the layer again — the
    capability the bloom cannot provide (frontier purge of db_gone)."""
    urls = _urls(spark, 4000)
    gone = urls.where(F.xxhash64("url") % 10 == 3)
    n_gone = gone.count()
    assert n_gone > 100
    filt = ck.build_cuckoo(urls, n_buckets=8)
    after = ck.cuckoo_delete(filt, gone)
    # survivors all still present (deletion touched only its targets)
    keep = urls.join(gone, "url", "left_anti")
    assert urlseen.maybe_seen_urls(keep, after).distinct().count() \
        == 4000 - n_gone
    # the deleted set now mostly misses (residual hits = fp rate only)
    still = urlseen.maybe_seen_urls(gone, after).count()
    assert still / n_gone < 0.01


def test_delete_missing_url_is_noop_for_strangers(spark):
    """Deleting urls from an empty-overlap set leaves members intact
    except for rare fingerprint collisions (the documented cuckoo
    delete contract: only delete what you inserted)."""
    urls = _urls(spark, 2000)
    strangers = _urls(spark, 2000, prefix="http://sx%d.test/z%d")
    filt = ck.build_cuckoo(urls, n_buckets=4)
    after = ck.cuckoo_delete(filt, strangers)
    n = urlseen.maybe_seen_urls(urls, after).distinct().count()
    # collisions can evict a tiny number of residents; bound it
    assert n >= 2000 * 0.99


def _twin_urls(spark, m=64):
    """Two distinct urls with the same i1 row and fingerprint at ``m``
    slot-buckets: twins the filter stores twice and cannot tell
    apart."""
    rows = _urls(spark, 20000).select(
        "url", F.xxhash64("url").alias("h")).collect()
    fp, i1, _ = ck._fp_i1_i2(np.array([r.h for r in rows],
                                      dtype=np.int64), m)
    keys = i1 * 65536 + fp.astype(np.int64)
    _, inv, counts = np.unique(keys, return_inverse=True,
                               return_counts=True)
    a, b = np.flatnonzero(inv == np.argmax(counts >= 2))[:2]
    return rows[a].url, rows[b].url


def test_delete_twins_in_one_call(spark):
    """Deleting both twins in one call removes both stored copies:
    neither stays maybe-seen and ``n_items`` drops by two."""
    twins = spark.createDataFrame([(u,) for u in _twin_urls(spark)],
                                  "url string")
    filt = ck.build_cuckoo(twins, n_buckets=1).persist()
    assert filt.first().m_rows == 64 and filt.first().n_items == 2
    after = ck.cuckoo_delete(filt, twins, n_buckets=1).persist()
    assert urlseen.maybe_seen_urls(twins, after, n_buckets=1).count() == 0
    assert after.first().n_items == 0
    filt.unpersist()
    after.unpersist()


def test_delete_stash_twins_in_one_call():
    """Same for two twin copies held in the stash: one stash entry is
    removed per deleted item, not one per distinct key."""
    m = 64
    h = np.array([5 | (7 << 48), 5 | (7 << 48) | (1 << 20)],
                 dtype=np.int64)
    fp, i1, i2 = ck._fp_i1_i2(h, m)
    assert fp[0] == fp[1] and i1[0] == i1[1]
    table = np.zeros((m, ck.SLOTS), dtype=np.uint16)
    stash = np.sort(ck._stash_key(i1, i2, fp))
    t2, s2, n_del = ck._delete_from(table, stash, m, h)
    assert n_del == 2 and len(s2) == 0
    assert not ck._member(t2, s2, m, h).any()


def test_stash_overflow_path(spark):
    """Force a table far above the cuckoo load limit: the build must
    still be lossless (overflow rides the stash), just bigger."""
    h = (np.arange(1, 20001, dtype=np.uint64)
         * np.uint64(0x9E3779B97F4A7C15)).astype(np.int64)
    table, stash = ck._build_table(h, 64)  # 64*4=256 slots for 20k
    assert len(stash) == 20000 - int((table != 0).sum())
    hit = ck._member(table, stash, 64, h)
    assert bool(hit.all())


def test_build_sizing_scales_bucket_count(spark):
    """n_buckets=None sizes coarse buckets from the url count with a
    constant per-table byte target (the 100x-frontier = 100x-buckets
    scaling story)."""
    urls = _urls(spark, 1000)
    filt = ck.build_cuckoo(urls, n_buckets=None)
    rows = filt.collect()
    assert {r.n_buckets for r in rows} == {64}
    for r in rows:
        assert len(r.table) <= urlseen._TARGET_BUCKET_BYTES


def test_sized_build_tables_near_byte_target(spark, monkeypatch):
    """n_buckets=None sizing puts every table within 2x of the byte
    target. A 4 KB target lets 100k urls size past the 64-bucket
    floor; tables hold ~n/load 2-byte fingerprints whatever SLOTS is,
    so a SLOTS factor in the sizing would leave them ~4x too small."""
    target = 4096
    monkeypatch.setattr(urlseen, "_TARGET_BUCKET_BYTES", target)
    rows = ck.build_cuckoo(_urls(spark, 100_000), n_buckets=None).collect()
    assert len(rows) > 64
    for r in rows:
        assert target / 2 <= len(r.table) <= target * 2


def test_parity_with_bloom_layer(spark):
    """Bloom and cuckoo layers agree end-to-end through the exact
    join (drop-in interchangeability for CrawlRun)."""
    frontier = _urls(spark, 2500)
    disc = _urls(spark, 900).union(
        _urls(spark, 400, prefix="http://fresh%d.test/f%d"))
    b = urlseen.build_bloom(frontier, n_buckets=8)
    c = ck.build_cuckoo(frontier, n_buckets=8)
    via_bloom = sorted(r.url for r in urlseen.filter_unseen(
        disc, frontier, b).collect())
    via_cuckoo = sorted(r.url for r in urlseen.filter_unseen(
        disc, frontier, c).collect())
    assert via_bloom == via_cuckoo


# --- numpy-level property tests (no Spark session needed) ------------

from hypothesis import given, settings, strategies as st

settings.register_profile("fast_ck", max_examples=40, deadline=None)
settings.load_profile("fast_ck")

_hashes = st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                   min_size=1, max_size=400, unique=True)


@given(_hashes, st.sampled_from([64, 128, 256]))
def test_prop_build_is_lossless(hs, m):
    """Every inserted hash is a member, at any load (stash catches
    what two-choice placement cannot seat)."""
    h = np.array(hs, dtype=np.int64)
    table, stash = ck._build_table(h, m)
    assert bool(ck._member(table, stash, m, h).all())
    # conservation: every item sits in exactly one slot or the stash
    assert int((table != 0).sum()) + len(stash) == len(h)


@given(_hashes)
def test_prop_delete_all_empties_the_table(hs):
    """Deleting every inserted item through the real delete kernel
    (the one cuckoo_delete runs per bucket) leaves a table that
    rejects them all — for (i1, fingerprint)-collision-free inputs,
    which is the filter's distinguishability limit by design."""
    h = np.array(hs, dtype=np.int64)
    m = 256
    fp, i1, i2 = ck._fp_i1_i2(h, m)
    _, first = np.unique(ck._stash_key(i1, i2, fp), return_index=True)
    h = h[np.sort(first)]          # drop indistinguishable twins
    table, stash = ck._build_table(h, m)
    t2, s2, n_del = ck._delete_from(table.copy(), stash, m, h)
    assert n_del == len(h)
    assert not ck._member(t2, s2, m, h).any()


@given(_hashes, _hashes)
def test_prop_delete_never_touches_disjoint_members(hs, other):
    """Deleting set A leaves the membership verdict of a disjoint,
    fingerprint-distinct set B untouched (no slot corruption)."""
    h = np.array(hs, dtype=np.int64)
    m = 256
    ha = np.array(sorted(set(hs) - set(other)), dtype=np.int64)
    hb = np.array(sorted(set(other) - set(hs)), dtype=np.int64)
    if not len(ha) or not len(hb):
        return
    allh = np.concatenate([ha, hb])
    fp, i1, i2 = ck._fp_i1_i2(allh, m)
    keys = ck._stash_key(i1, i2, fp)
    # keep only items whose (i1, fp) key is globally unique — twins
    # are indistinguishable to the filter by design
    u, counts = np.unique(keys, return_counts=True)
    ok = np.isin(keys, u[counts == 1])
    surv = allh[ok]
    in_a = np.isin(surv, ha)
    ha, hb = surv[in_a], surv[~in_a]
    if not len(ha) or not len(hb):
        return
    table, stash = ck._build_table(np.concatenate([ha, hb]), m)
    t2, s2, n_del = ck._delete_from(table.copy(), stash, m, ha)
    # every ha was a member, so every delete landed somewhere
    assert n_del == len(ha)
    # B stays fully member — even when a delete cleared B's copy of a
    # shared fingerprint, the partial-key property (i2 = i1 XOR g(fp))
    # guarantees the surviving copy sits in one of B's two buckets.
    # (ha items may still false-positive against residents; that is
    # the filter's ~2*SLOTS/2^f contract, not corruption — the
    # nothing-left case is test_prop_delete_all_empties_the_table.)
    assert bool(ck._member(t2, s2, m, hb).all())
