"""Crawl-cycle driver: inject → [generate → fetch → parse → updatedb →
invertlinks → dedup]×rounds, with per-round checkpoints.

Reference: src/bin/crawl:18-279 — inject once, then loop generate
(-topN, -noFilter), fetch (-noParsing), parse, updatedb, invertlinks,
dedup; the loop exits when generate yields an empty fetchlist. The
parse step is ``parse_segment``, which routes pages to their parser
family when the pages table carries a ``mime_type`` column
(ParseUtil via parse-plugins.xml) and parses every page as html when
it does not.

Spark shape: each stage is a DataFrame program; round boundaries are
snapshot commits standing in for Iceberg snapshot commits (atomic
install, CrawlDb.java:155-173). This module sequences the round and
knows no on-disk format: the crawldb is a url-bucketed
:class:`~nutch_spark.storage.SnapshotTable` (Iceberg
``bucket(url, N)``), so the updatedb merge reads its frontier side in
place with no Exchange, and every other per-round table goes through
the one round-table store, :class:`~nutch_spark.storage.RoundStore`.
:meth:`CrawlRun.commit_round` is the one way a crawldb round commits;
``resume_round`` restarts from the latest committed crawldb snapshot.
The commit records are the round's metrics: each table's
``_snapshot.json`` and the crawldb's ``_table.json`` snapshot entry
carry its rows, per-partition footer lineage, commit time ``ts`` and
the wall seconds ``write_s`` of its materializing write.

Lineage boundary. The reference's updatedb reads only the segment's
committed ``crawl_fetch`` and ``crawl_parse`` outputs. Here the round's
message stream (``crawl_fetch`` ∪ ``crawl_parse`` ∪ fetch redirects) is
materialized once with an eager ``localCheckpoint`` right after parse,
so the URL-seen split, updatedb, dedup and the bucketed crawldb write
plan over one ``LogicalRDD`` plus committed tables — never over the
fetch and parse lineage. The operators only build plans (but link
scoring's ``localCheckpoint``s run their shuffle stages under AQE);
``run_round`` alone decides what a round caches and for how long:

- fetch schedule, parse output and (mime-routed parse) page content:
  persisted before the first write that reads each, so fetch and
  parse compute once; unpersisted right after the message
  checkpoint, their last reader;
- message checkpoint and, with link scoring, the LinkRank caches and
  checkpoints: released when the round returns, after the commit.

Whether the round returns, stops at an empty fetchlist or raises, the
session holds no more cached blocks after ``run_round`` than before.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import CrawlConfig
from .operators import dedup as dedup_op
from .operators import fetch as fetch_op
from .operators import generate as gen_op
from .operators import inject as inject_op
from .operators import linkdb as linkdb_op
from .operators import parse as parse_op
from .operators import updatedb as update_op
from .operators import urlseen
from . import schema as S
from .session import default_cores
from .storage import RoundStore, SnapshotTable

# the virtual clock's advance per round, from the pinned epoch
ROUND_MS = 24 * 3600 * 1000


class CrawlRun:
    """One crawl over a pages table, checkpointed under ``out_dir``:
    the one way into a crawl directory. Only rounds read the ``pages``
    and ``robots`` corpus; other jobs open the directory without it.

    Crawldb snapshots are commits of one url-bucketed
    :class:`~nutch_spark.storage.SnapshotTable` with ``db_buckets``
    buckets. The frontier side of the updatedb merge and (when
    ``pages`` is itself a bucketed table) the two pages-side fetch
    joins run with NO Exchange on the big side. ``db_buckets`` defaults
    to the crawldb's own bucket count, and for a new crawldb, like the
    URL-seen layer's ``bloom_buckets``, to the session's task threads
    (:func:`~nutch_spark.session.default_cores`).

    ``seen_filter`` picks the URL-seen layer: ``"bloom"``, ``"cuckoo"``
    (the same contract plus deletion; the north rule names both) or
    ``"none"``. ``None`` reads the kind from ``out_dir``: ``"cuckoo"``
    when the latest committed round has a cuckoo layer, else
    ``"bloom"`` — so maintenance jobs that commit a round (dedup,
    scoreupdater, purge) keep a cuckoo crawl's layer."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 cfg: CrawlConfig, pages: DataFrame | None = None,
                 robots: DataFrame | None = None,
                 http_status: DataFrame | None = None,
                 bloom_buckets: int | None = None,
                 seen_filter: str | None = None,
                 db_buckets: int | None = None):
        self.spark = spark
        self.out = out_dir
        self.cfg = cfg
        self.pages = pages
        self.robots = robots
        self.http_status = http_status
        # sort=False: the crawldb is rewritten every round and its
        # consumers hash-aggregate/filter — per-bucket url order
        # would be pure write-side sort cost at 10^10 rows
        self.db_table = SnapshotTable(
            spark, out_dir, "crawldb", bucket_col="url",
            n_buckets=db_buckets, sort=False)
        self.store = RoundStore(spark, out_dir, self.db_table)
        if seen_filter is None:
            seen_filter = "cuckoo" if self.store.record(
                "urlseen_cuckoo", self.resume_round()) else "bloom"
        if seen_filter not in ("bloom", "cuckoo", "none"):
            raise ValueError(f"seen_filter: {seen_filter!r}")
        self.seen_filter = seen_filter
        # "none" writes no layer, so no urlseen_none table ever exists
        self._seen_dir = f"urlseen_{seen_filter}"
        self.bloom_buckets = default_cores() if bloom_buckets is None \
            else bloom_buckets

    # --- checkpoint helpers --------------------------------------------
    def resume_round(self) -> int:
        """Latest *committed* crawldb round, or -1 if none (the
        resumability contract: restart continues from here): the
        SnapshotTable's current pointer. A staged but unpublished
        snapshot, or a leftover ``.tmp`` dir from a crash mid-stage,
        is invisible, exactly like Iceberg's metadata swap."""
        cur = self.db_table.current_id()
        return -1 if cur is None else cur

    def load_crawldb(self, rnd: int) -> DataFrame:
        return self.db_table.read(rnd)

    @staticmethod
    def rows_or_count(df: DataFrame) -> int:
        """Row count of the frame just written: read from the write's
        parquet-footer lineage, carried ON the returned frame itself
        (zero Spark jobs — the metric counts in the reference come
        free from the MR framework's counters, and a 10^10-row table
        is too big to re-scan just for a metric). The count travels
        with the df argument, so an interposed write can never make
        it report a different table's rows; falls back to a count job
        when a footer was unreadable."""
        n = getattr(df, "_nutch_lineage_rows", None)
        return n if n is not None else df.count()

    def commit_round(self, db: DataFrame, rnd: int,
                     gone: DataFrame | None = None,
                     products=None) -> int:
        """Commit ``db`` as crawldb round ``rnd`` — every crawldb round
        commits here. Stages it (durable, not yet current), calls
        ``products(staged)`` for the round's tables that read it,
        writes its URL-seen layer (``gone``: see :meth:`_write_bloom`)
        and publishes the crawldb snapshot LAST: it is the resume
        marker, so resume_round() counts a round done only once every
        per-round product exists. Returns the crawldb's row count."""
        staged = self.db_table.stage(db, rnd)
        n = self.rows_or_count(staged)
        if products is not None:
            products(staged)
        self._write_bloom(staged, rnd, gone)
        self.db_table.publish(staged, rnd)
        return n

    def _load_bloom(self, rnd: int) -> DataFrame | None:
        """Committed URL-seen layer (bloom or cuckoo table rows) for
        round ``rnd`` (covers that round's crawldb snapshot), or
        None."""
        return self.store.read(self._seen_dir, rnd,
                               urlseen.layer_schema(self.seen_filter))

    def _write_bloom(self, db: DataFrame, rnd: int,
                     gone: DataFrame | None = None) -> None:
        """Round ``rnd``'s URL-seen layer over crawldb ``db``. A purge
        passes ``gone``, the urls dropped since round ``rnd - 1``; the
        layer then keeps that round's bucket count, and a cuckoo layer
        is edited, not rebuilt (:func:`urlseen.build_layer`)."""
        if self.seen_filter == "none":
            return
        prev = self.store.record(self._seen_dir, rnd - 1) \
            if gone is not None else None
        nb = prev["n_buckets"] if prev else self.bloom_buckets
        layer = urlseen.build_layer(
            self.seen_filter, db, nb,
            prev=self._load_bloom(rnd - 1) if prev else None, gone=gone)
        # the bucket count goes in the commit record, so readers of the
        # layer never run a job to learn it
        self.store.write(layer, self._seen_dir, rnd, n_buckets=nb)

    def purge_gone(self, rnd: int) -> dict:
        """Frontier purge (the CleaningJob deletion semantic,
        ``CleaningJob.java:97-117``, applied to the crawldb itself):
        drop ``db_gone`` urls from round ``rnd``'s committed snapshot
        and commit the result as round ``rnd + 1``. With the cuckoo
        seen layer the purged urls are DELETED from the layer
        (one fingerprint each) instead of rebuilding it over the
        10^10-url frontier — the operation a bloom cannot express;
        the bloom path rebuilds."""
        db = self.load_crawldb(rnd)
        gone = db.where(F.col("status") == S.DB_GONE).select("url")
        nxt = rnd + 1
        n_db = self.commit_round(db.where(F.col("status") != S.DB_GONE),
                                 nxt, gone=gone)
        # both snapshots' footer rows: no job counts the purged urls
        return {"round": nxt, "crawldb_rows": n_db,
                "purged_rows": self.rows_or_count(db) - n_db}

    # --- stages --------------------------------------------------------
    def inject(self, seeds: DataFrame, now_ms: int) -> DataFrame:
        prev = self.resume_round()
        db = self.load_crawldb(prev) if prev >= 0 else None
        rnd = max(prev, 0)
        # the seed set's URL-seen layer: round 1 pre-splits against it
        self.commit_round(inject_op.inject(db, seeds, self.cfg, now_ms), rnd)
        return self.load_crawldb(rnd)

    def run_round(self, rnd: int, now_ms: int) -> dict:
        """One generate→fetch→parse→updatedb→invertlinks→dedup round.
        Returns the per-stage row counts; ``fetchlist_rows == 0``
        signals the caller to stop (bin/crawl:195-207). Whatever the
        round caches is released before it returns or raises."""
        self._need_corpus("run_round")
        with ExitStack() as held:
            return self._round(rnd, now_ms, held)

    def _round(self, rnd: int, now_ms: int, held: ExitStack) -> dict:
        cfg = self.cfg
        # fetch and parse frames that more than one write reads: cached
        # until the message checkpoint, their last reader, is taken
        caches = held.enter_context(ExitStack())

        def cache(df: DataFrame) -> DataFrame:
            caches.callback(df.unpersist)
            return df.persist(StorageLevel.MEMORY_AND_DISK)

        db = self.load_crawldb(rnd - 1 if rnd > 0 else 0)
        fetchlist = gen_op.generate(
            db, cfg.with_(partition_seed=cfg.partition_seed ^ rnd),
            cur_time_ms=now_ms, gen_time_ms=now_ms)
        fetchlist = self.store.write(fetchlist, "segments/crawl_generate",
                                     rnd)
        n_fl = self.rows_or_count(fetchlist)
        if n_fl == 0:
            return {"fetchlist_rows": 0}

        fr = fetch_op.fetch(fetchlist, self.pages, self.robots,
                            self.http_status, cfg, now_ms)
        cache(fr["schedule"])
        crawl_fetch = self.store.write(fr["crawl_fetch"],
                                       "segments/crawl_fetch", rnd)
        n_fetched = self.rows_or_count(crawl_fetch)
        content = fr["content"]

        # parse: html-only, or routed per parser family when the pages
        # carry their Content-Type (ParseUtil via parse-plugins.xml);
        # routed content is cached so every family reads the page
        # bytes of one fetch join
        if parse_op.is_routed(content):
            content = cache(content)
        pr = parse_op.parse_segment(content, cfg, now_ms)
        cache(pr["parsed"])
        parse_text = self.store.write(pr["parse_text"],
                                      "segments/parse_text", rnd)
        parse_data = self.store.write(pr["parse_data"],
                                      "segments/parse_data", rnd)

        # the lineage boundary: the round's message stream is computed
        # once from the fetch and parse caches and checkpointed, so the
        # seen split, the merge, dedup and the bucketed write below
        # plan over one LogicalRDD plus committed tables. The caches'
        # last reader is this checkpoint; the checkpoint itself is
        # released when the round returns. It holds round-sized data,
        # so it keeps at most the session's shuffle partition count:
        # every stage that scans it runs that many tasks, not one per
        # fetch/parse input partition
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        messages = crawl_fetch.drop("queue_id", "virtual_time") \
            .unionByName(pr["crawl_parse"]).unionByName(fr["linked"]) \
            .coalesce(n_part) \
            .localCheckpoint(eager=True,
                             storageLevel=StorageLevel.MEMORY_AND_DISK)
        held.callback(messages._jdf.queryExecution().logical().rdd()
                      .unpersist, True)
        caches.close()

        # URL-seen pre-split (north rule's partitioned bloom/cuckoo
        # URL-seen layer): discovered linked rows that the previous
        # round's layer rules out are DEFINITELY not in the frontier,
        # so updatedb aggregates them without the frontier join — only
        # layer hits (true seen + ~fpp false positives, which the merge
        # itself resolves exactly) reach the 10^10-row db join.
        # Correctness is exact: the layers have no false negatives, and
        # the split is skipped in normalize/filter mode where message
        # urls may re-key into frontier urls after the split decision.
        seen = self.store.record(self._seen_dir, rnd - 1)
        can_split = (seen is not None and not cfg.db_update_normalize
                     and not cfg.db_update_filter)
        if can_split:
            linked = messages.where(F.col("status") == S.STATUS_LINKED)
            others = messages.where(F.col("status") != S.STATUS_LINKED)
            new_rows, maybe = urlseen.split_seen(
                linked, self._load_bloom(rnd - 1),
                n_buckets=seen.get("n_buckets"))
            new_db = update_op.updatedb(db, others.unionByName(maybe),
                                        cfg, now_ms, fresh=new_rows)
        else:
            new_db = update_op.updatedb(db, messages, cfg, now_ms)
        # dedup references the merge twice (crawldb ⋈ marked losers).
        # Hash-partitioning the merge on url first gives both references
        # one shared exchange, so the merge runs once. This is the
        # bucketed crawldb write's own exchange moved up: same key and
        # count, so the write's repartition is then elided
        new_db = dedup_op.dedup(
            new_db.repartition(self.db_table.n_buckets, "url"))

        edges = parse_op.outlink_edges(parse_data)
        ldb = linkdb_op.invert_links(edges, cfg)
        ldb = self.store.write(ldb, "linkdb", rnd)

        # link-analysis scoring (bin/crawl:260-277 — the webgraph →
        # linkrank → scoreupdater steps the reference ships commented
        # out; enabled here by scoring_filter="link"): ranks computed
        # on this round's link graph replace the crawldb scores before
        # the snapshot commits, so the NEXT generate orders by LinkRank
        if cfg.scoring_filter == "link":
            raw_edges = edges.select("from_url", "to_url")
            # the ranks feed the crawldb write: their caches are
            # released with the round's, after the commit
            loops = linkdb_op.find_loops(raw_edges, depth=2, held=held)
            ranks = linkdb_op.linkrank(raw_edges, loops=loops, held=held)
            # (url, score) is all score_updater needs of the nodedb
            new_db = linkdb_op.score_updater(new_db, ranks)

        # per-round index + clean (bin/crawl:249-256, INDEXFLAG): the
        # docs/deletes tables are the engine's analog of the Solr/ES
        # sink (SURVEY §2.7 IndexerMapReduce row). The crawldb is
        # staged AFTER the linkrank branch, so link-scoring mode pays
        # exactly ONE bucketed write of the 10^10-row table per round,
        # and BEFORE the index products, so docs/deletes scan the
        # staged table instead of re-executing the updatedb+dedup
        # subtree per write
        def index(staged: DataFrame) -> None:
            self._index_products(
                rnd, staged, ldb, parse_text, parse_data,
                crawl_fetch.drop("queue_id", "virtual_time"), cfg)

        n_db = self.commit_round(
            new_db, rnd, products=index if cfg.index_enabled else None)
        return {"fetchlist_rows": n_fl, "fetched_rows": n_fetched,
                "crawldb_rows": n_db}

    def _index_products(self, rnd: int, db: DataFrame, ldb: DataFrame,
                        parse_text: DataFrame, parse_data: DataFrame,
                        crawl_fetch: DataFrame, cfg) -> tuple:
        """IndexingJob's two output streams for one round: the doc
        emission (IndexerMapReduce.reduce → NutchDocument) and the
        delete stream (delete rules ∪ CleaningJob's gone/duplicate
        scan), installed atomically as ``indexes/docs`` and
        ``indexes/deletes``. Shared by the in-round INDEXFLAG step and
        the standalone :meth:`index_round` job."""
        from .operators import readers
        docs = readers.indexer_docs(db, ldb, parse_text, parse_data,
                                    crawl_fetch, cfg)
        docs = self.store.write(docs, "indexes/docs", rnd)
        dels = readers.indexer_deletes(db, parse_data, crawl_fetch, cfg)
        deletes = dels.unionByName(readers.cleaning_job(db)).distinct()
        deletes = self.store.write(deletes, "indexes/deletes", rnd)
        return docs, deletes

    def index_round(self, rnd: int | None = None) -> dict:
        """Standalone IndexingJob over an already-committed round
        (JobType.INDEX, ``IndexingJob.java:96-180`` — the reference job
        likewise takes crawldb + linkdb + segment dirs as inputs, so a
        crawl run with ``index_enabled=False`` can be indexed after the
        fact, or re-indexed after a config change). Reads round
        ``rnd``'s committed snapshots and installs the docs/deletes
        tables; defaults to the latest committed round."""
        if rnd is None:
            rnd = self.resume_round()
        if rnd <= 0:
            raise ValueError("no committed round to index")

        def _seg(name: str) -> DataFrame:
            table = self.store.read(name, rnd)
            if table is None:
                raise FileNotFoundError(
                    f"round {rnd} has no committed {name}")
            return table

        docs, deletes = self._index_products(
            rnd, self.load_crawldb(rnd), _seg("linkdb"),
            _seg("segments/parse_text"), _seg("segments/parse_data"),
            _seg("segments/crawl_fetch").drop("queue_id",
                                              "virtual_time"),
            self.cfg)
        return {"round": rnd, "docs_rows": self.rows_or_count(docs),
                "deletes_rows": self.rows_or_count(deletes)}

    def _need_corpus(self, job: str) -> None:
        if self.pages is None or self.robots is None:
            raise ValueError(f"{job} needs the pages and robots tables")

    def epoch_ms(self, start_ms: int | None = None) -> int:
        """The virtual clock's epoch, pinned in ``_crawl.json`` on first
        use (``start_ms``, else the wall clock) and reused on resume, so
        resumed rounds run on the SAME clock as the committed ones."""
        path = os.path.join(self.out, "_crawl.json")
        if os.path.isfile(path):
            with open(path) as f:
                return int(json.load(f)["start_ms"])
        now = start_ms if start_ms is not None else int(time.time() * 1000)
        os.makedirs(self.out, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"start_ms": now}, f)
        return now

    def next_round(self, start_ms: int | None = None,
                   round_ms: int = ROUND_MS) -> tuple[int, int]:
        """The round clock: the next round, ``resume_round() + 1``, and
        its virtual time, the epoch plus one ``round_ms`` per round."""
        rnd = self.resume_round() + 1
        return rnd, self.epoch_ms(start_ms) + rnd * round_ms

    def crawl(self, seeds: DataFrame, rounds: int,
              start_ms: int | None = None,
              round_ms: int = ROUND_MS) -> DataFrame:
        """Full crawl of ``rounds`` rounds on the round clock
        (:meth:`next_round`)."""
        self._need_corpus("crawl")
        # resume: completed rounds are skipped — a crash between stage
        # commits restarts its round from the last committed crawldb
        # snapshot (per-round checkpoints, north-rule resumability)
        if self.resume_round() <= 0:
            self.inject(seeds, self.epoch_ms(start_ms))
        # an empty fetchlist ends the crawl (bin/crawl:195-207)
        rnd, now_ms = self.next_round(start_ms, round_ms)
        while rnd <= rounds and \
                self.run_round(rnd, now_ms)["fetchlist_rows"]:
            rnd, now_ms = self.next_round(start_ms, round_ms)
        return self.load_crawldb(self.resume_round())
