"""Distributed URL-seen set: partitioned bloom or cuckoo filters +
exact anti-join.

The reference's URL-seen set is the CrawlDb itself — every updatedb
round reduces discovered outlinks against the full db by url key
(CrawlDbReducer co-group). At 10^10 frontier URLs, shuffling every
discovered outlink against the whole frontier is the dominant cost, so
the north rule adds a **partitioned filter layer keyed by
canonicalized-URL hash**. This module is that layer's one pipeline;
the two filter formats differ only in their per-bucket numpy kernel:

- ``build_bloom``: frontier urls → ``xxhash64(url)`` → bucket =
  ``pmod(hash, n_buckets)``; per bucket a bloom bitset is built in one
  Arrow batch (``applyInPandas``, vectorized numpy double-hashing:
  index_i = (h1 + i·h2) mod m). One row per bucket:
  ``(bucket, bits binary, n_items, n_hashes, m_bits)``.
  :func:`nutch_spark.operators.cuckoo.build_cuckoo` builds the
  deletable format over the same hashing and buckets, one
  ``(bucket, table, stash, …)`` row per bucket.
- ``layer_schema`` / ``build_layer``: the one place a layer format
  is chosen — its builder (or cuckoo deletion) and its read schema.
- ``split_seen`` / ``filter_unseen``: discovered urls are bucketed the
  same way and **cogrouped** with the layer on bucket
  (``groupBy(bucket).cogroup(...).applyInPandas``): each task sees a
  bucket's filter exactly ONCE next to all of that bucket's discovered
  urls — never replicated per row (a plain join would copy the
  ~MB filter into every joined row before the UDF). The membership
  kernel follows the layer frame's columns (``bits`` → bloom,
  ``table`` → cuckoo), known from its schema without a job. Filter
  misses are *definitely new* and skip the exact join entirely; hits
  (incl. false positives at ~fpp) go through the exact ``left_anti``
  join against the frontier. Correctness stays exact — the filter
  only prunes.

Layers are rebuilt per round (or, for cuckoo, edited by deletion) and
persisted alongside the crawldb snapshot; at 10^10 urls with 10
bits/url the bloom layer is ~12 GB total. ``n_buckets=None`` sizes
the bucket count from the url count and the kernel's per-url bytes so
one bucket's filter stays ≤ ~4 MB (12 GB total → ~3000 buckets), and
the chosen value is carried in the layer rows themselves so readers
always bucket consistently.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

BLOOM_SCHEMA = StructType([
    StructField("bucket", IntegerType(), False),
    StructField("bits", BinaryType(), False),
    StructField("n_items", LongType(), False),
    StructField("n_hashes", IntegerType(), False),
    StructField("m_bits", LongType(), False),
    StructField("n_buckets", IntegerType(), False),
])

# one bucket's filter (bloom bitset or cuckoo table) stays under this
# many bytes when the bucket count is sized from the url count
_TARGET_BUCKET_BYTES = 4 << 20


def _hash_cols(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    h = F.xxhash64(F.col(url_col))
    return (df.withColumn("_h64", h)
              .withColumn("_bucket",
                          F.pmod(h, F.lit(n_buckets)).cast("int")))


def _sized_buckets(urls: DataFrame, bytes_per_url: float) -> int:
    """Bucket count for ``n_buckets=None``: one job counts the urls,
    and each bucket's filter gets about ``_TARGET_BUCKET_BYTES`` at the
    kernel's per-url byte cost (never fewer than 64 buckets), so a
    frontier 100× larger gets 100× more buckets and per-task memory
    stays constant."""
    n = urls.count()
    return max(64, math.ceil(n * bytes_per_url / _TARGET_BUCKET_BYTES))


def _layer_buckets(layer: DataFrame, n_buckets: int | None) -> int:
    """The layer's bucket count: ``n_buckets`` when the caller knows it
    (a commit record), else one job reads it from the layer rows."""
    if n_buckets is None:
        n_buckets = layer.select(F.max("n_buckets")).first()[0]
    return int(n_buckets)


def _indices(h64: np.ndarray, k: int, m: int) -> np.ndarray:
    """Double hashing: k probe positions per item, shape (k, n)."""
    h = h64.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = ((h >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m)).astype(np.int64)


def build_bloom(urls: DataFrame, url_col: str = "url",
                n_buckets: int | None = 64, bits_per_item: int = 10,
                min_bits: int = 1 << 12) -> DataFrame:
    """Per-bucket bloom filters over the url set. Returns BLOOM_SCHEMA
    rows (one per non-empty bucket). ``n_buckets=None`` sizes the
    bucket count from the url count at ``bits_per_item / 8`` bytes per
    url (:func:`_sized_buckets`)."""
    if n_buckets is None:
        n_buckets = _sized_buckets(urls, bits_per_item / 8)
    k = max(1, int(round(bits_per_item * math.log(2))))  # optimal k
    hashed = _hash_cols(urls.select(url_col), url_col, n_buckets) \
        .select("_bucket", "_h64")
    nb = int(n_buckets)

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["_h64"].to_numpy(dtype=np.int64)
        n = len(h)
        m = max(min_bits, 1 << int(math.ceil(math.log2(
            max(1, n * bits_per_item)))))
        bits = np.zeros(m // 8, dtype=np.uint8)
        idx = _indices(h, k, m).ravel()
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return pd.DataFrame({
            "bucket": [int(pdf["_bucket"].iloc[0])],
            "bits": [bits.tobytes()],
            "n_items": [n], "n_hashes": [k], "m_bits": [m],
            "n_buckets": [nb]})

    return hashed.groupBy("_bucket").applyInPandas(make, BLOOM_SCHEMA)


def layer_schema(kind: str) -> StructType:
    """Row schema of a ``kind`` ("bloom" or "cuckoo") layer."""
    # imported here: cuckoo.py imports this module at load
    from .cuckoo import CUCKOO_SCHEMA
    return CUCKOO_SCHEMA if kind == "cuckoo" else BLOOM_SCHEMA


def build_layer(kind: str, db: DataFrame, n_buckets: int,
                prev: DataFrame | None = None,
                gone: DataFrame | None = None) -> DataFrame:
    """A ``kind`` layer over crawldb ``db``'s urls. Given the previous
    layer ``prev`` (``n_buckets`` buckets) and the ``gone`` urls since
    dropped from the crawldb, a cuckoo layer deletes their fingerprints
    from ``prev`` instead of rebuilding; a bloom cannot unset bits."""
    from . import cuckoo
    if kind != "cuckoo":
        return build_bloom(db.select("url"), n_buckets=n_buckets)
    if prev is not None and gone is not None:
        return cuckoo.cuckoo_delete(prev, gone, n_buckets=n_buckets)
    return cuckoo.build_cuckoo(db.select("url"), n_buckets=n_buckets)


def _bloom_member(row: pd.DataFrame, h: np.ndarray) -> np.ndarray:
    """Bloom kernel: which hashes ``h`` one bucket's bitset row may
    hold."""
    arr = np.frombuffer(row["bits"].iloc[0], dtype=np.uint8)
    k = int(row["n_hashes"].iloc[0])
    idx = _indices(h, k, int(row["m_bits"].iloc[0]))
    hit = np.ones(len(h), dtype=bool)
    for j in range(k):
        hit &= (arr[idx[j] >> 3] >> (idx[j] & 7) & 1).astype(bool)
    return hit


def maybe_seen_urls(discovered: DataFrame, layer: DataFrame,
                    url_col: str = "url",
                    n_buckets: int | None = None) -> DataFrame:
    """Urls of ``discovered`` the layer (bloom or cuckoo rows) cannot
    rule out (true seen + ~fpp false positives), one column
    ``url_col``.

    Cogrouped on bucket: the task for a bucket receives that bucket's
    filter exactly once beside its urls — filters are never replicated
    per discovered row (the round-1 join shape copied each ~MB bitset
    into every joined row before the membership UDF)."""
    if "table" in layer.columns:
        # imported here: cuckoo.py imports this module at load
        from .cuckoo import row_member as member
    else:
        member = _bloom_member
    n_buckets = _layer_buckets(layer, n_buckets)

    hashed = _hash_cols(discovered.select(F.col(url_col).alias("_u")),
                        "_u", n_buckets).select("_u", "_h64", "_bucket")
    out_schema = StructType([StructField(url_col, StringType(), True)])
    empty = pd.DataFrame({url_col: pd.Series([], dtype=object)})

    def test(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return empty
        hit = member(right, left["_h64"].to_numpy(dtype=np.int64))
        return pd.DataFrame({url_col: left.loc[hit, "_u"].to_numpy()})

    return (hashed.groupBy("_bucket")
            .cogroup(layer.groupBy("bucket"))
            .applyInPandas(test, out_schema))


def split_seen(discovered: DataFrame, layer: DataFrame,
               url_col: str = "url",
               n_buckets: int | None = None
               ) -> tuple[DataFrame, DataFrame]:
    """Partition discovered urls into (definitely_new, maybe_seen) via
    the layer. ``maybe_seen`` still needs the exact anti-join;
    ``definitely_new`` does not."""
    maybe_urls = maybe_seen_urls(discovered, layer, url_col, n_buckets)
    new = discovered.join(maybe_urls, url_col, "left_anti")
    maybe = discovered.join(maybe_urls, url_col, "left_semi")
    return new, maybe


def filter_unseen(discovered: DataFrame, frontier_urls: DataFrame,
                  layer: DataFrame | None, url_col: str = "url",
                  n_buckets: int | None = None) -> DataFrame:
    """Exact unseen-filter with filter pre-pruning: rows of
    ``discovered`` whose url is NOT in the frontier. The exact check
    against the frontier runs only over layer hits: the maybe-seen url
    set (tiny — true dups + ~fpp of new) is first confirmed against
    the frontier, then anti-joined back; the 10¹⁰-row frontier is
    touched only by the slim semi-join side, which Iceberg url-hash
    bucketing turns into a storage-partitioned join."""
    if layer is None:
        return discovered.join(frontier_urls.select(url_col), url_col,
                               "left_anti")
    maybe_urls = maybe_seen_urls(discovered, layer, url_col, n_buckets)
    actually_seen = maybe_urls.join(frontier_urls.select(url_col),
                                    url_col, "left_semi")
    return discovered.join(actually_seen, url_col, "left_anti")
