"""Command-line crawl driver — the ``bin/crawl`` / ``bin/nutch``
equivalent, launched with ``spark-submit --py-files nutch_spark.zip
-m nutch_spark.cli`` (or plain ``python -m nutch_spark.cli`` locally).

Commands mirror the reference CLI dispatch (src/bin/nutch:211-282):

  crawl         seeds.txt out_dir --rounds N    (bin/crawl:18-27)
  inject        out_dir seeds.txt
  freegen       out_dir urls.txt dest           (FreeGenerator)
  readdb        out_dir --stats | --topN N | --url U | --dump d
  mergedb       dest out_dir [out_dir ...]      (CrawlDbMerger)
  readlinkdb    out_dir --url U | --dump d      (LinkDbReader)
  readseg       out_dir --get URL [--round N]   (SegmentReader)
  mergesegs     out_dir dest --rounds a,b,...   (SegmentMerger)
  invertlinks   out_dir dest [--round N]        (LinkDb)
  mergelinkdb   dest linkdb [linkdb ...]        (LinkDbMerger)
  dedup         out_dir                         (DeduplicationJob)
  index         out_dir [--round N]             (IndexingJob)
  clean         out_dir                         (CleaningJob)
  purge         out_dir                         (frontier purge of
                db_gone urls; cuckoo layers drop fingerprints)
  dump          out_dir dest                    (FileDumper)
  commoncrawldump out_dir dest                  (CommonCrawlDataDumper)
  parsechecker  --url U --html FILE             (ParserChecker)
  indexchecker  --url U --html FILE             (IndexingFiltersChecker)
  domainstats   out_dir --mode host|domain      (DomainStatistics)
  webgraph      out_dir                         (WebGraph)
  linkrank      out_dir [--iterations N]        (LinkRank)
  scoreupdater  out_dir                         (ScoreUpdater)
  nodedumper    out_dir [--by score|inlinks|outlinks] [--topn N]
  startserver   out_dir --port P                (NutchServer analog)

``generate``/``fetch``/``parse``/``updatedb`` are NOT separately
submittable, matching the service layer (service.py ROUND_STAGES):
the round is one declarative Spark plan — run ``crawl --rounds 1``.
Catalyst pipelines the four stages with no intermediate barriers;
splitting them back into four jobs would only materialize segment
state between stages the optimizer otherwise fuses. ``invertlinks``
IS standalone (the reference job re-inverts arbitrary committed
segments), as are all the reader/merger/indexer jobs.

A command opens a crawl as a :class:`~nutch_spark.crawl.CrawlRun` and
goes through its ``commit_round`` and its per-round table store (the
webgraph tables included); written row counts come from footers.

The pages/robots/http_status corpus comes from ``--pages-dir`` (parquet
dirs named pages/, robots/, http_status/) or, with ``--fixture``, from
the deterministic synthesizer (testdata.py); only crawl, dump and
startserver read it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROUND_STAGES = ("generate", "fetch", "parse", "updatedb")


def _spark(args):
    from .session import get_spark
    return get_spark(app_name="nutch-spark-cli", cores=args.cores,
                     shuffle_partitions=args.cores * 2)


def _tables(spark, args):
    """The corpus tables found; None for each one absent. A pages dir
    without robots/ has no robots rules."""
    if getattr(args, "fixture", False):
        from .testdata import fixture_dfs
        return fixture_dfs(spark)
    base = getattr(args, "pages_dir", None)
    found = {n: spark.read.parquet(os.path.join(base, n))
             for n in ("pages", "robots", "http_status")
             if base and os.path.isdir(os.path.join(base, n))}
    if base and "robots" not in found:
        from .schema import ROBOTS
        found["robots"] = spark.createDataFrame([], ROBOTS)
    return {"pages": None, "robots": None, "http_status": None,
            "seeds": None, **found}


def _open(spark, out_dir: str):
    """The crawl under ``out_dir``, opened without a corpus."""
    from .config import CrawlConfig
    from .crawl import CrawlRun
    return CrawlRun(spark, out_dir, CrawlConfig())


def _crawldb(run):
    """``run``'s latest committed crawldb snapshot."""
    rnd = run.resume_round()
    if rnd < 0:
        raise SystemExit(f"no committed crawldb under {run.out}")
    return run.load_crawldb(rnd)


def _write(df, path: str) -> int:
    """Write ``df`` as the parquet table at ``path``; its rows, from the
    written footers (:meth:`CrawlRun.rows_or_count`: a count job only
    when a footer is unreadable)."""
    from .crawl import CrawlRun
    from .storage import lineage_rows, partition_lineage
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    out._nutch_lineage_rows = lineage_rows(partition_lineage(path))
    return CrawlRun.rows_or_count(out)


def _emit(obj) -> None:
    print(json.dumps(obj))


# --- crawl lifecycle -----------------------------------------------------

def cmd_crawl(args):
    spark = _spark(args)
    t = _tables(spark, args)
    from .config import CrawlConfig
    from .crawl import CrawlRun
    # one politeness unit per task thread, CrawlConfig's default rule
    # applied to the session --cores sized
    cfg = CrawlConfig(generate_top_n=args.top_n,
                      generate_max_count=args.max_count,
                      num_fetch_partitions=args.cores)
    run = CrawlRun(spark, args.out_dir, cfg, t["pages"], t["robots"],
                   t["http_status"], seen_filter=args.seen_filter)
    if args.seeds:
        seeds = spark.read.text(args.seeds) \
            .withColumnRenamed("value", "line")
    else:
        seeds = t["seeds"]
    db = run.crawl(seeds, rounds=args.rounds,
                   start_ms=int(time.time() * 1000))
    stats = {r["status"]: r["count"]
             for r in db.groupBy("status").count().collect()}
    _emit({"rounds": run.resume_round(), "crawldb": stats})


def cmd_inject(args):
    spark = _spark(args)
    run = _open(spark, args.out_dir)
    seeds = spark.read.text(args.seeds).withColumnRenamed("value", "line")
    db = run.inject(seeds, int(time.time() * 1000))
    _emit({"urls": run.rows_or_count(db)})


def cmd_freegen(args):
    """FreeGenerator (tools/FreeGenerator.java): fetchlist straight
    from a url list, no crawldb."""
    from .config import CrawlConfig
    from .operators import generate as gen_op
    spark = _spark(args)
    urls = spark.read.text(args.urls).withColumnRenamed("value", "line")
    fl = gen_op.free_generate(urls, CrawlConfig(),
                              int(time.time() * 1000),
                              normalize=args.normalize,
                              filter_urls=args.filter)
    _emit({"fetchlist": _write(fl, args.dest), "dest": args.dest})


def cmd_round_stage(args):
    raise SystemExit(
        f"'{args.cmd}' is not separately submittable: the round is one "
        f"declarative Spark plan (run `crawl --rounds 1`; the service "
        f"layer rejects {args.cmd.upper()} for the same reason)")


def cmd_purge(args):
    run = _open(_spark(args), args.out_dir)
    _emit(run.purge_gone(run.resume_round()))


# --- crawldb readers / maintenance ---------------------------------------

def cmd_readdb(args):
    from .operators import readers
    db = _crawldb(_open(_spark(args), args.out_dir))
    if args.stats:
        readers.crawldb_stats(db).show(truncate=False)
    elif args.top_n:
        readers.crawldb_top_n(db, args.top_n).show(args.top_n,
                                                   truncate=False)
    elif args.url:
        readers.crawldb_get(db, args.url).show(truncate=False)
    elif args.dump:
        from .operators.sources import dump_crawldb
        dump_crawldb(db, args.dump, fmt=args.format)
        _emit({"dumped": args.dump})


def cmd_mergedb(args):
    """CrawlDbMerger (crawl/CrawlDbMerger.java): newest datum per url
    across dbs, metadata merged, committed as round 0 of ``dest``'s
    crawldb, with its URL-seen layer — a crawl can resume from it."""
    from .operators import merge as merge_op
    spark = _spark(args)
    dbs = [_crawldb(_open(spark, d)) for d in args.dbs]
    n = _open(spark, args.dest).commit_round(
        merge_op.merge_crawldbs(dbs), 0)
    _emit({"urls": n})


def cmd_dedup(args):
    """DeduplicationJob: mark signature-duplicates db_duplicate in the
    latest snapshot and commit it as the next round."""
    from .operators import dedup as dedup_op
    run = _open(_spark(args), args.out_dir)
    rnd = run.resume_round()
    n = run.commit_round(dedup_op.dedup(_crawldb(run)), rnd + 1)
    dupes = run.load_crawldb(rnd + 1) \
        .where("status = 'db_duplicate'").count()
    _emit({"round": rnd + 1, "crawldb_rows": n, "duplicates": dupes})


# --- linkdb / segments ---------------------------------------------------

def cmd_readlinkdb(args):
    from .config import CrawlConfig
    from .operators import linkdb as linkdb_op, readers
    spark = _spark(args)
    # the reference LinkDb is cumulative; per-round inversions are
    # merged on read (LinkDbMerger semantics)
    store = _open(spark, args.out_dir).store
    dbs = [store.read("linkdb", r) for r in store.rounds("linkdb")]
    if not dbs:
        raise SystemExit(f"no linkdb under {args.out_dir}")
    ldb = dbs[0] if len(dbs) == 1 else \
        linkdb_op.merge_linkdbs(dbs, CrawlConfig())
    if args.url:
        readers.linkdb_lookup(ldb, args.url).show(truncate=False)
    elif args.dump:
        ldb.selectExpr("to_json(struct(*)) AS line") \
            .write.mode("overwrite").text(args.dump)
        _emit({"dumped": args.dump})


def cmd_readseg(args):
    from .operators import readers
    store = _open(_spark(args), args.out_dir).store
    tables = {n: store.read(f"segments/{n}", args.round)
              for n in ("crawl_generate", "crawl_fetch", "parse_text",
                        "parse_data")}
    out = readers.segment_reader(args.get, **tables)
    if out is None:
        raise SystemExit(f"no segments under {args.out_dir}")
    out.show(truncate=60, vertical=True)


def cmd_mergesegs(args):
    from .operators import merge as merge_op
    store = _open(_spark(args), args.out_dir).store
    rounds = [int(r) for r in args.rounds.split(",")] if args.rounds \
        else store.rounds("segments/crawl_fetch")
    segs = [s for s in (store.read("segments/crawl_fetch", r)
                        for r in rounds) if s is not None]
    if not segs:
        raise SystemExit("no crawl_fetch segments to merge")
    out = merge_op.merge_segments(segs, status_col="status")
    _emit({"urls": _write(out, args.dest), "rounds": rounds})


def cmd_invertlinks(args):
    """LinkDb (crawl/LinkDb.java): standalone link inversion over a
    committed round's parse_data — the round driver also does this
    inline, but the reference job re-runs it over arbitrary segments
    (e.g. after changing ignore-internal settings)."""
    from .config import CrawlConfig
    from .operators import linkdb as linkdb_op, parse as parse_op
    store = _open(_spark(args), args.out_dir).store
    rounds = [args.round] if args.round is not None else \
        store.rounds("segments/parse_data")
    edges = None
    for r in rounds:
        pd_ = store.read("segments/parse_data", r)
        if pd_ is None:
            continue
        e = parse_op.outlink_edges(pd_)
        edges = e if edges is None else edges.unionByName(e)
    if edges is None:
        raise SystemExit(f"no parse_data under {args.out_dir}")
    ldb = linkdb_op.invert_links(edges, CrawlConfig())
    _emit({"urls": _write(ldb, args.dest), "rounds": rounds})


def cmd_mergelinkdb(args):
    """LinkDbMerger: inlink-set union across linkdbs, cap re-applied."""
    from .config import CrawlConfig
    from .operators import linkdb as linkdb_op
    spark = _spark(args)
    dbs = [spark.read.parquet(d) for d in args.dbs]
    out = linkdb_op.merge_linkdbs(dbs, CrawlConfig())
    _emit({"urls": _write(out, args.dest)})


# --- index / dumps -------------------------------------------------------

def cmd_index(args):
    run = _open(_spark(args), args.out_dir)
    _emit(run.index_round(args.round))


def cmd_clean(args):
    from .operators import readers
    db = _crawldb(_open(_spark(args), args.out_dir))
    readers.cleaning_job(db).show(truncate=False)


def cmd_dump(args):
    """FileDumper (tools/FileDumper.java) over the fetched content of
    the latest round (pages-side html, md5 two-level paths)."""
    from .operators.sources import file_dumper
    from pyspark.sql import functions as F
    spark = _spark(args)
    pages = _tables(spark, args)["pages"]
    if pages is None:
        raise SystemExit("dump reads page content: pass --pages-dir "
                         "or --fixture")
    cf = _open(spark, args.out_dir).store.read("segments/crawl_fetch")
    if cf is None:
        raise SystemExit(f"no crawl_fetch under {args.out_dir}")
    content = (cf.where(F.col("status") == "fetch_success")
               .select("url").join(pages, "url")
               .select("url", "html"))
    if args.mime_stats:
        file_dumper(content, mime_types=args.mime_types,
                    mime_stats=True).show(truncate=False)
    else:
        out = file_dumper(content, mime_types=args.mime_types)
        _emit({"files": _write(out, args.dest), "dest": args.dest})


def cmd_commoncrawldump(args):
    from .operators.sources import dump_commoncrawl
    store = _open(_spark(args), args.out_dir).store
    pt, pd_, cf = (store.read(f"segments/{n}")
                   for n in ("parse_text", "parse_data", "crawl_fetch"))
    if None in (pt, pd_, cf):
        raise SystemExit(f"missing segment tables under {args.out_dir}")
    dump_commoncrawl(pt, pd_, cf, args.dest)
    _emit({"dest": args.dest})


# --- checkers ------------------------------------------------------------

def _checker_content(spark, args, now_ms):
    """One-row fetch-content frame (the shape fetch() hands to
    parse_segment) for a local html file — no live network in this
    substitution, so the checker parses a file the caller fetched."""
    with open(args.html, "rb") as f:
        blob = f.read()
    return spark.createDataFrame(
        [(args.url, blob, None, None, now_ms, 1.0, 3600, None)],
        "url string, html binary, text string, lang string, "
        "fetch_time long, score double, fetch_interval int, "
        "metadata map<string,string>")


def cmd_parsechecker(args):
    """ParserChecker over a local html file (no live network in this
    substitution — the reference fetches the url first)."""
    from .config import CrawlConfig
    from .operators import checkers
    spark = _spark(args)
    now = int(time.time() * 1000)
    checkers.parser_checker(_checker_content(spark, args, now),
                            CrawlConfig(), now) \
        .show(truncate=80, vertical=True)


def cmd_indexchecker(args):
    """IndexingFiltersChecker: run the full IndexerMapReduce doc
    emission + indexing-filter chain over one locally-parsed page and
    dump the resulting (url, field, value) rows."""
    from pyspark.sql import functions as F
    from .config import CrawlConfig
    from .operators import (checkers, indexing_filters, readers,
                            parse as parse_op)
    spark = _spark(args)
    cfg = CrawlConfig()
    now = int(time.time() * 1000)
    content = _checker_content(spark, args, now)
    pr = parse_op.parse_segment(content, cfg, now)
    db = content.select(
        "url", F.lit("db_fetched").alias("status"), "score",
        F.lit(None).cast("binary").alias("signature"))
    cf = content.select(
        "url", F.lit("fetch_success").alias("status"), "fetch_time",
        "metadata")
    doc = readers.indexer_docs(db, None, pr["parse_text"],
                               pr["parse_data"], cf, cfg)
    docs = indexing_filters.apply_indexing_filters(doc, cfg)
    checkers.indexing_filters_checker(docs).show(100, truncate=80)


def cmd_domainstats(args):
    from .operators import readers
    db = _crawldb(_open(_spark(args), args.out_dir))
    readers.domain_statistics(db, mode=args.mode) \
        .show(args.topn, truncate=False)


# --- webgraph family -----------------------------------------------------

def _graph_edges(run):
    from .operators import parse as parse_op
    pd_ = run.store.read("segments/parse_data")
    if pd_ is None:
        raise SystemExit(f"no parse_data under {run.out}")
    return parse_op.outlink_edges(pd_)


def _webgraph(run, name: str):
    table = run.store.read(f"webgraph/{name}")
    if table is None:
        raise SystemExit(f"no webgraph/{name} under {run.out}")
    return table


def cmd_webgraph(args):
    from .config import CrawlConfig
    from .operators import linkdb as linkdb_op
    run = _open(_spark(args), args.out_dir)
    db = _crawldb(run)
    wg = linkdb_op.webgraph(_graph_edges(run), db.select("url", "score"),
                            CrawlConfig())
    rnd = run.resume_round()
    run.store.write(wg["outlinkdb"], "webgraph/outlinkdb", rnd)
    nodes = run.store.write(wg["nodedb"], "webgraph/nodedb", rnd)
    _emit({"nodes": run.rows_or_count(nodes)})


def cmd_linkrank(args):
    from .operators import linkdb as linkdb_op
    run = _open(_spark(args), args.out_dir)
    edges = _graph_edges(run).select("from_url", "to_url")
    loops = linkdb_op.find_loops(edges, depth=2)
    ranks = run.store.write(
        linkdb_op.linkrank(edges, iterations=args.iterations, loops=loops),
        "webgraph/linkrank", run.resume_round())
    _emit({"ranked": run.rows_or_count(ranks)})


def cmd_scoreupdater(args):
    from .operators import linkdb as linkdb_op
    run = _open(_spark(args), args.out_dir)
    rnd = run.resume_round()
    db = linkdb_op.score_updater(_crawldb(run), _webgraph(run, "linkrank"))
    n = run.commit_round(db, rnd + 1)
    _emit({"round": rnd + 1, "crawldb_rows": n})


def cmd_nodedumper(args):
    from .operators import linkdb as linkdb_op
    run = _open(_spark(args), args.out_dir)
    linkdb_op.node_dumper(_webgraph(run, "nodedb"), by=args.by,
                          n=args.topn).show(args.topn, truncate=False)


# --- server --------------------------------------------------------------

def cmd_startserver(args):
    from .service import NutchService, make_server
    spark = _spark(args)
    t = _tables(spark, args)
    svc = NutchService(spark, args.out_dir, t["pages"], t["robots"],
                       t["http_status"])
    server = make_server(svc, port=args.port)
    print(f"NutchServer analog on :{server.server_address[1]} "
          f"(Ctrl-C stops)", file=sys.stderr)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()


def main(argv=None):
    from .session import default_cores
    p = argparse.ArgumentParser(prog="nutch_spark")
    p.add_argument("--cores", type=int, default=default_cores())
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, *, out_dir=True, tables=False):
        sp = sub.add_parser(name)
        if out_dir:
            sp.add_argument("out_dir")
        if tables:
            sp.add_argument("--pages-dir")
            sp.add_argument("--fixture", action="store_true")
        sp.set_defaults(fn=fn)
        return sp

    c = add("crawl", cmd_crawl, tables=True)
    c.add_argument("--seeds")
    c.add_argument("--rounds", type=int, default=3)
    c.add_argument("--top-n", type=int, default=50000)
    c.add_argument("--max-count", type=int, default=-1)
    c.add_argument("--seen-filter",
                   choices=["bloom", "cuckoo", "none"], default=None)

    i = add("inject", cmd_inject)
    i.add_argument("seeds")

    fg = add("freegen", cmd_freegen, out_dir=False)
    fg.add_argument("urls")
    fg.add_argument("dest")
    fg.add_argument("--no-normalize", dest="normalize",
                    action="store_false")
    fg.add_argument("--no-filter", dest="filter", action="store_false")

    for stage in ROUND_STAGES:
        add(stage, cmd_round_stage, out_dir=False)

    r = add("readdb", cmd_readdb)
    r.add_argument("--stats", action="store_true")
    r.add_argument("--topN", dest="top_n", type=int)
    r.add_argument("--url")
    r.add_argument("--dump")
    r.add_argument("--format", default="json")

    m = add("mergedb", cmd_mergedb, out_dir=False)
    m.add_argument("dest")
    m.add_argument("dbs", nargs="+")

    add("dedup", cmd_dedup)
    add("purge", cmd_purge)

    rl = add("readlinkdb", cmd_readlinkdb)
    rl.add_argument("--url")
    rl.add_argument("--dump")

    rs = add("readseg", cmd_readseg)
    rs.add_argument("--get", required=True)
    rs.add_argument("--round", type=int)

    ms = add("mergesegs", cmd_mergesegs)
    ms.add_argument("dest")
    ms.add_argument("--rounds")

    il = add("invertlinks", cmd_invertlinks)
    il.add_argument("dest")
    il.add_argument("--round", type=int)

    ml = add("mergelinkdb", cmd_mergelinkdb, out_dir=False)
    ml.add_argument("dest")
    ml.add_argument("dbs", nargs="+")

    ix = add("index", cmd_index)
    ix.add_argument("--round", type=int)

    add("clean", cmd_clean)

    dp = add("dump", cmd_dump, tables=True)
    dp.add_argument("dest")
    dp.add_argument("--mime-types", nargs="*")
    dp.add_argument("--mime-stats", action="store_true")

    cc = add("commoncrawldump", cmd_commoncrawldump)
    cc.add_argument("dest")

    for name, fn in (("parsechecker", cmd_parsechecker),
                     ("indexchecker", cmd_indexchecker)):
        ch = add(name, fn, out_dir=False)
        ch.add_argument("--url", required=True)
        ch.add_argument("--html", required=True)

    ds = add("domainstats", cmd_domainstats)
    ds.add_argument("--mode", choices=["host", "domain"],
                    default="host")
    ds.add_argument("--topn", type=int, default=20)

    add("webgraph", cmd_webgraph)
    lr = add("linkrank", cmd_linkrank)
    lr.add_argument("--iterations", type=int, default=10)
    add("scoreupdater", cmd_scoreupdater)
    nd = add("nodedumper", cmd_nodedumper)
    nd.add_argument("--by", choices=["score", "inlinks", "outlinks"],
                    default="score")
    nd.add_argument("--topn", type=int, default=20)

    sv = add("startserver", cmd_startserver, tables=True)
    sv.add_argument("--port", type=int, default=8081)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
