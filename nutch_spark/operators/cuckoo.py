"""Cuckoo-filter format of the URL-seen layer: the per-bucket table
kernels and fingerprint deletion.

The URL-seen pipeline — url hashing, bucket sizing, the cogrouped
membership probe, ``split_seen`` and ``filter_unseen`` — is
:mod:`nutch_spark.operators.urlseen`; it probes a cuckoo layer with
:func:`row_member` whenever the layer rows carry a ``table`` column.
The north rule names "partitioned bloom/cuckoo filters keyed by
canonicalized-URL hash", and the cuckoo format earns its place where
the bloom cannot follow: **deletion**. The reference's CleaningJob
(``CleaningJob.java:39-199``) removes 404/gone documents from the
index, and a frontier that purges ``db_gone`` urls (readdb -dump
-status semantics inverted) must also remove them from the seen
layer; a bloom cannot unset bits, a cuckoo filter removes one stored
fingerprint (Fan et al., "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT 2014 — public paper).

- ``build_cuckoo``: urls → ``xxhash64(url)`` → coarse bucket =
  ``pmod(hash, n_buckets)`` (the bloom layer's hashing); per coarse
  bucket ONE cuckoo table is built in one Arrow batch
  (``applyInPandas``), one output row per bucket.
- Inside a table: ``m`` slot-buckets of ``SLOTS=4`` fingerprint
  slots (uint16 fp, 0 = empty). Candidate slot-buckets for an item
  are ``i1 = h mod m`` and ``i2 = (i1 XOR murmur(fp)) mod m`` — the
  partial-key cuckoo property lets membership and deletion recompute
  both sides from (slot-bucket, fp) alone.
- **Bulk build is vectorized, not kicked**: sequential cuckoo
  eviction chains are a per-item Python loop (banned by the
  input-hint's no-per-row-Python rule), so construction runs
  two-choice placement in numpy rounds — every unplaced item bids
  for its i1 (even rounds) or i2 (odd rounds) slot-bucket, a
  stable-sort ranks the bidders per slot-bucket, and ranks that fit
  the remaining free slots are written in one scatter. Items still
  homeless after the rounds go to a per-table sorted **stash**
  (membership/delete consult it too). At the default 0.84 load the
  stash is a 1e-3-scale tail; semantics are identical to a kicked
  build (same membership superset, no false negatives).
- Membership (``row_member``) checks i1/i2 rows + stash fully
  vectorized.
- ``cuckoo_delete`` removes ONE stored fingerprint per distinct url
  (i1 row, else i2 row, else stash) and returns the updated table
  DataFrame. As in the paper, deleting a url that was never inserted
  can evict a colliding fingerprint (false-negative hazard) — callers
  delete only urls they know are in the set (the purge path deletes
  urls read from the frontier itself, which satisfies this).

Sizing: uint16 fingerprints at load 0.84 cost ~19 bits/url — ~24 GB
for a 10^10-url frontier, split over ``n_buckets`` ~4 MB tables with
constant per-task memory under the bloom layer's sizing rule
(100× the frontier = 100× the buckets). fpp ≈ 2·SLOTS/2^16 ≈ 0.012%,
~8× below the 10-bit bloom's ~1% at ~2× the bits.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from .urlseen import _hash_cols, _layer_buckets, _sized_buckets

CUCKOO_SCHEMA = StructType([
    StructField("bucket", IntegerType(), False),
    StructField("table", BinaryType(), False),      # uint16[m][SLOTS]
    StructField("stash", BinaryType(), False),      # sorted uint64 keys
    StructField("m_rows", LongType(), False),       # slot-buckets per table
    StructField("n_items", LongType(), False),
    StructField("n_buckets", IntegerType(), False),
])

SLOTS = 4
_FP_MASK = np.uint64(0xFFFF)
_LOAD = 0.84
_ROUNDS = 24


def _fp_i1_i2(h64: np.ndarray, m: int):
    """Fingerprint + both candidate slot-buckets from the 64-bit url
    hash. m is a power of two; i2 = i1 XOR murmur-mix(fp) mod m is
    recomputable from (i1, fp) alone (partial-key cuckoo)."""
    h = h64.astype(np.uint64)
    fp = (h >> np.uint64(48)) & _FP_MASK
    fp = np.where(fp == 0, np.uint64(1), fp)        # 0 marks empty
    mask = np.uint64(m - 1)
    i1 = h & mask
    odd = (fp * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
    i2 = (i1 ^ odd) & mask
    return fp.astype(np.uint16), i1.astype(np.int64), i2.astype(np.int64)


def _stash_key(i1: np.ndarray, i2: np.ndarray,
               fp: np.ndarray) -> np.ndarray:
    """Canonical stash identity (min bucket, fp): a fingerprint's two
    candidate buckets are mutually derivable (i2 = i1 XOR g(fp)), so
    keying the stash on the SMALLER bucket keeps stash entries
    interchangeable between twins exactly like table slots are — a
    delete that consumes one copy can never strand the survivor
    behind a key its twin doesn't probe."""
    lo = np.minimum(i1, i2).astype(np.uint64)
    return (lo << np.uint64(16)) | fp.astype(np.uint64)


def _build_table(h: np.ndarray, m: int):
    """Vectorized two-choice placement; returns (table[m,SLOTS] uint16,
    sorted stash keys uint64)."""
    fp, i1, i2 = _fp_i1_i2(h, m)
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    used = np.zeros(m, dtype=np.int64)
    pend = np.arange(len(h))
    for r in range(_ROUNDS):
        if not len(pend):
            break
        tgt = (i1 if r % 2 == 0 else i2)[pend]
        order = np.argsort(tgt, kind="stable")
        st = tgt[order]
        # rank of each bidder within its slot-bucket
        first = np.ones(len(st), dtype=bool)
        first[1:] = st[1:] != st[:-1]
        start = np.maximum.accumulate(np.where(first,
                                               np.arange(len(st)), 0))
        rank = np.arange(len(st)) - start
        slot = used[st] + rank
        fits = slot < SLOTS
        win = pend[order[fits]]
        table[st[fits], slot[fits]] = fp[win]
        np.add.at(used, st[fits], 1)
        pend = pend[order[~fits]]
    stash = np.sort(_stash_key(i1[pend], i2[pend], fp[pend])) \
        if len(pend) \
        else np.empty(0, dtype=np.uint64)
    return table, stash


def build_cuckoo(urls: DataFrame, url_col: str = "url",
                 n_buckets: int | None = 64,
                 load: float = _LOAD) -> DataFrame:
    """Per-coarse-bucket cuckoo filters over the url set; returns
    CUCKOO_SCHEMA rows (one per non-empty bucket). ``n_buckets=None``
    sizes the bucket count from the url count (the bloom layer's
    rule, ``urlseen._sized_buckets``): a table holds ~n/load uint16
    fingerprints (2 bytes each, whatever ``SLOTS`` is), and one more
    factor 2 leaves room for the power-of-two rounding of its
    slot-bucket count, so a url costs 2·2/load bytes."""
    if n_buckets is None:
        n_buckets = _sized_buckets(urls, 2 * 2 / load)
    nb = int(n_buckets)
    hashed = _hash_cols(urls.select(url_col), url_col, nb) \
        .select("_bucket", "_h64")

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["_h64"].to_numpy(dtype=np.int64)
        n = len(h)
        m = max(64, 1 << int(math.ceil(math.log2(
            max(1, math.ceil(n / load / SLOTS))))))
        table, stash = _build_table(h, m)
        return pd.DataFrame({
            "bucket": [int(pdf["_bucket"].iloc[0])],
            "table": [table.tobytes()], "stash": [stash.tobytes()],
            "m_rows": [m], "n_items": [n], "n_buckets": [nb]})

    return hashed.groupBy("_bucket").applyInPandas(make, CUCKOO_SCHEMA)


def _load_np(row) -> tuple[np.ndarray, np.ndarray, int]:
    m = int(row["m_rows"].iloc[0])
    table = np.frombuffer(row["table"].iloc[0],
                          dtype=np.uint16).reshape(m, SLOTS)
    stash = np.frombuffer(row["stash"].iloc[0], dtype=np.uint64)
    return table, stash, m


def _member(table, stash, m, h: np.ndarray) -> np.ndarray:
    fp, i1, i2 = _fp_i1_i2(h, m)
    hit = ((table[i1] == fp[:, None]).any(axis=1)
           | (table[i2] == fp[:, None]).any(axis=1))
    if len(stash):
        hit |= np.isin(_stash_key(i1, i2, fp), stash)
    return hit


def row_member(row: pd.DataFrame, h: np.ndarray) -> np.ndarray:
    """Cuckoo kernel of ``urlseen.maybe_seen_urls``: which hashes ``h``
    one bucket's table row may hold."""
    return _member(*_load_np(row), h)


def _delete_from(table: np.ndarray, stash: np.ndarray, m: int,
                 h: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, int]:
    """Delete one stored fingerprint per item of ``h`` from a single
    table: first matching i1 slot, else i2 slot, else stash key. Twins
    (items with the same i1 row and fingerprint) pick the same slot in
    a pass, so only one of them lands per pass; the passes repeat for
    the items still pending while a pass deletes something. Returns
    (table, stash, n_deleted); ``table`` is modified in place (callers
    pass a copy)."""
    fp, i1, i2 = _fp_i1_i2(h, m)

    def clear_first(rows: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Clear the first slot == fp in each row; True where this
        item's clear actually landed. When several items pick the
        exact same (row, slot) — necessarily the same fingerprint —
        only the first is satisfied; the others report False and
        fall through to i2/stash."""
        eq = table[rows] == fps[:, None]
        has = eq.any(axis=1)
        slot = eq.argmax(axis=1)
        flat = rows[has] * SLOTS + slot[has]
        _, first_idx = np.unique(flat, return_index=True)
        landed = np.zeros(len(flat), dtype=bool)
        landed[first_idx] = True
        table.ravel()[flat[landed]] = 0
        out = np.zeros(len(rows), dtype=bool)
        out[np.flatnonzero(has)[landed]] = True
        return out

    done = np.zeros(len(h), dtype=bool)
    while True:
        n_before = int(done.sum())
        # i1 row, then (no match or lost the duplicate-collapse) i2 row
        for rows in (i1, i2):
            pend = ~done
            if pend.any():
                done[pend] = clear_first(rows[pend], fp[pend])
        pend = np.flatnonzero(~done)
        if len(pend) and len(stash):
            keys = _stash_key(i1[pend], i2[pend], fp[pend])
            pos = np.searchsorted(stash, keys)
            ok = (pos < len(stash)) & (stash[np.minimum(
                pos, len(stash) - 1)] == keys)
            # one stash entry per matched key and pass, like a slot
            hit, first = np.unique(pos[ok], return_index=True)
            done[pend[ok][first]] = True
            stash = np.delete(stash, hit)
        if done.all() or done.sum() == n_before:
            return table, stash, int(done.sum())


def cuckoo_delete(cuckoo: DataFrame, urls: DataFrame,
                  url_col: str = "url",
                  n_buckets: int | None = None) -> DataFrame:
    """Remove one stored fingerprint per DISTINCT url of ``urls`` from
    the layer; returns the updated CUCKOO_SCHEMA DataFrame (buckets
    with no deletions pass through unchanged). Only delete urls known
    to be in the set — deleting a stranger can evict a colliding
    resident fingerprint (the cuckoo-filter contract, Fan et al. §3).

    Vectorized: per deleted item the first matching slot in its i1
    row is chosen (argmax over the equality mask), else in its i2
    row, else its stash key. Distinct urls with the same i1 row and
    fingerprint (twins) are stored once each but pick the same slot,
    so one pass clears one copy for one of them; the passes repeat
    for the pending twins while they make progress, and deleting
    every twin in one call removes every copy.

    ``n_buckets``: the layer's coarse bucket count when the caller
    knows it (a commit record); otherwise one job reads it from the
    layer."""
    hashed = _hash_cols(urls.select(F.col(url_col).alias("_u"))
                        .distinct(), "_u",
                        _layer_buckets(cuckoo, n_buckets)) \
        .select("_h64", "_bucket")

    def drop(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            return right
        if left.empty:
            return right[[c.name for c in CUCKOO_SCHEMA]]
        table, stash, m = _load_np(right)
        h = left["_h64"].to_numpy(dtype=np.int64)
        table, stash, n_del = _delete_from(table.copy(), stash, m, h)
        out = right.copy()
        out["table"] = [table.tobytes()]
        out["stash"] = [stash.tobytes()]
        out["n_items"] = [max(0, int(right["n_items"].iloc[0]) - n_del)]
        return out[[c.name for c in CUCKOO_SCHEMA]]

    return (hashed.groupBy("_bucket")
            .cogroup(cuckoo.groupBy("bucket"))
            .applyInPandas(drop, CUCKOO_SCHEMA))
