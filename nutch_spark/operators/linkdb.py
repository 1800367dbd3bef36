"""LinkDb — inverted link table, plus WebGraph node/link tables.

Reference: LinkDb.java:85-155 (invert: per outlink emit
``toUrl → Inlink(fromUrl, anchor)``, internal links ignored by default,
anchors truncated at db.max.anchor.length=100), LinkDbMerger.java
(union + cap at db.max.inlinks), Inlinks.java (set semantics),
WebGraph.java:96-115 (outlinkdb / inlinkdb / nodedb),
NodeDumper.java (top-N by degree/score).

Spark shape: ``explode(outlinks)`` →
``groupBy(to_url).agg(slice(collect_set(struct(from_url, anchor))))``.
collect_set gives the reference's set semantics; the cap bounds state
for viral pages (the same skew the reference bounds with
db.max.inlinks). One shuffle on to_url with partial aggregation.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, Window, functions as F

from ..config import CrawlConfig
from ..functions.urls import host_col, spark_udfs


def _cached(df: DataFrame, held: ExitStack | None) -> DataFrame:
    """``df`` cached; ``held``, when given, unpersists it on close."""
    df = df.cache()
    if held is not None:
        held.callback(df.unpersist)
    return df


def _checkpointed(df: DataFrame, held: ExitStack | None) -> DataFrame:
    """``df`` behind a lazy local checkpoint, which persists its RDD as
    soon as it is taken; ``held``, when given, unpersists it on
    close."""
    df = df.localCheckpoint(eager=False)
    if held is not None:
        held.callback(df._jdf.queryExecution().logical().rdd().unpersist,
                      True)
    return df


def invert_links(edges: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """(from_url, to_url, anchor) edges → LINKDB
    (url, inlinks array<struct<from_url, anchor>>)."""
    df = edges
    if cfg.linkdb_url_normalizers:
        # scope=linkdb on both endpoints (LinkDb.java:93,129,
        # linkdb.url.normalizers, default off)
        from ..functions.normalizers import normalizer_udf
        norm = normalizer_udf(cfg, "linkdb")
        df = (df.withColumn("from_url", norm(F.col("from_url")))
                .withColumn("to_url", norm(F.col("to_url")))
                .where(F.col("from_url").isNotNull()
                       & F.col("to_url").isNotNull()))
    if cfg.linkdb_url_filters:
        # linkdb.url.filters (LinkDb.java:100-112,131-139, default off)
        from ..functions.filters import filter_accepts_col
        df = (filter_accepts_col(df, cfg.url_filter_rules, "from_url")
              .where(F.col("accepted")).drop("accepted"))
        df = (filter_accepts_col(df, cfg.url_filter_rules, "to_url")
              .where(F.col("accepted")).drop("accepted"))
    if cfg.db_ignore_internal_links:
        # null host → skip, same host → skip (LinkDb.java:116-126)
        df = df.where(host_col("from_url").isNotNull()
                      & host_col("to_url").isNotNull()
                      & (host_col("from_url") != host_col("to_url")))
    df = df.withColumn(
        "anchor",
        F.substring(F.coalesce(F.col("anchor"), F.lit("")), 1,
                    cfg.db_max_anchor_length))
    return _capped_inlinks(
        df.select(F.col("to_url").alias("url"), "from_url", "anchor"),
        cfg.db_max_inlinks)


def _capped_inlinks(rows: DataFrame, cap: int) -> DataFrame:
    """(url, from_url, anchor) rows → (url, inlinks array) with set
    semantics and the db.max.inlinks cap applied BEFORE aggregation.

    The cap must run before ``collect_set``: a viral page with 10⁸
    inlinks would otherwise materialize the full set in one in-memory
    aggregation buffer (OOM at scale) before being sliced. The window
    sort is spillable, so the pre-cap bounds the collect buffer at
    ``cap`` structs — the same bounded-queue semantics as the
    reference's reduce-side cap (LinkDb.java:147-153,
    LinkDbMerger.java:73-95). Keeps the N smallest (from_url, anchor)
    pairs, identical to the previous sort+slice output.

    ONE exchange: the dedup key contains ``url``, so hash-partitioning
    on ``url`` alone satisfies the clustered distribution of the
    dropDuplicates aggregate, the window, AND the final groupBy —
    without the explicit repartition, dropDuplicates would shuffle on
    all three columns and the window would re-shuffle on url (two
    full-width exchanges of the edge table instead of one)."""
    df = rows.repartition("url").dropDuplicates(
        ["url", "from_url", "anchor"])
    w = Window.partitionBy("url").orderBy("from_url", "anchor")
    df = (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= cap).drop("_rn"))
    return df.groupBy("url").agg(
        F.sort_array(F.collect_list(F.struct("from_url", "anchor")))
        .alias("inlinks"))


def merge_linkdbs(dbs: list[DataFrame], cfg: CrawlConfig) -> DataFrame:
    """LinkDbMerger: union inlink sets, re-cap (LinkDbMerger.java:73-95)."""
    assert dbs
    u = dbs[0]
    for d in dbs[1:]:
        u = u.unionByName(d)
    return _capped_inlinks(
        u.select("url", F.explode("inlinks").alias("l"))
         .select("url", F.col("l.from_url").alias("from_url"),
                 F.col("l.anchor").alias("anchor")),
        cfg.db_max_inlinks)


def webgraph(edges: DataFrame, scores: DataFrame | None,
             cfg: CrawlConfig) -> dict[str, DataFrame]:
    """WebGraph's three tables from the edge list
    (WebGraph.java:96-500): outlinkdb (dedup'd edges), inlinkdb
    (inversion), nodedb (degrees + score)."""
    out = edges.select("from_url", "to_url").distinct()
    inl = out.select(F.col("to_url").alias("url"),
                     F.col("from_url").alias("inlink"))
    outdeg = out.groupBy(F.col("from_url").alias("url")) \
        .agg(F.count("*").alias("out_degree"))
    indeg = inl.groupBy("url").agg(F.count("*").alias("in_degree"))
    node = (outdeg.join(indeg, "url", "full_outer")
            .select("url",
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree")))
    if scores is not None:
        node = (node.join(scores.select("url", "score"), "url", "left")
                .withColumn("score", F.coalesce("score", F.lit(0.0))))
    else:
        node = node.withColumn("score", F.lit(0.0))
    return {"outlinkdb": out, "inlinkdb": inl, "nodedb": node}


def find_loops(edges: DataFrame, depth: int = 2,
               max_routes_per_node: int | None = 100_000,
               held: ExitStack | None = None) -> DataFrame:
    """Loops job (Loops.java:186-388): identify link cycles up to
    ``link.loops.depth`` (default 2) hops so LinkRank can exclude them.

    Initializer (lines 229-268): every node with inlinks seeds one
    route per outlink, remembering the start url (``lookingFor``) and
    the first hop. Looper ×depth (lines 326-380): a route sitting at
    node ``at`` is *found* when ``lookingFor`` is among ``at``'s
    outlinks; otherwise (if not the last pass) it forwards to every
    outlink of ``at``. Finalizer (lines 418-444): found routes group
    by start url into its loop set of first hops.

    Spark shape: the per-pass reduce becomes [routes ⋈ outlink-sets on
    ``at``] — one shuffle per pass, ``depth`` is small (2). The
    intermediate route fan-out is outdeg^depth, the same blow-up the
    reference warns about; the distinct() per pass keeps only unique
    (at, looking_for, first_hop) triples to bound it.

    ``max_routes_per_node`` additionally caps the routes sitting at any
    single node before each forwarding explode — on a dense graph a hub
    with 10⁶ inlink-routes × 10³ outlinks would alone emit 10⁹ rows in
    pass 2; the cap bounds every node's contribution at
    cap × outdeg. Kept deterministic (smallest (looking_for,
    first_hop) routes win) so repeated runs agree; None disables.
    The cap binds only on hubs past the threshold — at the default
    100k it is invisible on the test corpus (loops output unchanged)
    and exists purely as the 100×-scale safety valve.

    Each pass's routes are local checkpoints; ``held`` (an ExitStack)
    releases them on close, else they stay for the session.

    Returns (url, loop_set array<string>)."""
    # one exchange instead of two for the init: hash-partitioning on
    # from_url alone satisfies the (from_url, to_url) dedup, the
    # outsets groupBy(from_url) AND the has_inlinks equi-join — a
    # plain distinct() would shuffle on both columns and outsets
    # would re-shuffle on from_url (measured 7.1 → 5.2 s at sf0.1)
    e = (edges.select("from_url", "to_url")
         .repartition("from_url")
         .dropDuplicates(["from_url", "to_url"]))
    outsets = e.groupBy(F.col("from_url").alias("at")) \
        .agg(F.collect_set("to_url").alias("outs"))
    has_inlinks = e.select(F.col("to_url").alias("from_url")).distinct()
    routes = (e.join(has_inlinks, "from_url")   # inlinks > 0 gate
              .select(F.col("to_url").alias("at"),
                      F.col("from_url").alias("looking_for"),
                      F.col("to_url").alias("first_hop"))
              .distinct())
    def _cap_routes(r: DataFrame) -> DataFrame:
        if not max_routes_per_node:
            return r
        # the window sort is NOT wasted work even though the cap
        # rarely binds: its (at, ...) exchange+sort is exactly what
        # the downstream sort-merge join on `at` needs (the window
        # order is a prefix extension), so Spark reuses both and the
        # cap rides the join's shuffle for free. A split-out
        # hot-node-only window was tried and measured neutral — the
        # union it needs erases the partitioning and the join re-sorts
        # everything anyway.
        w = Window.partitionBy("at").orderBy("looking_for", "first_hop")
        return (r.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") <= max_routes_per_node)
                 .drop("_rn"))

    found_parts = []
    for i in range(depth):
        last = i == depth - 1
        j = _cap_routes(routes).join(outsets, "at", "left") \
            .withColumn("_found",
                        F.array_contains(F.coalesce(
                            F.col("outs"),
                            F.array().cast("array<string>")),
                            F.col("looking_for")))
        found_i = _checkpointed(
            j.where(F.col("_found")).select("looking_for", "first_hop")
             .distinct(), held)
        found_parts.append(found_i)
        if not last:
            # prune before the explode: a route only exists to add its
            # (looking_for, first_hop) pair to the loop set — once ANY
            # route found that pair this pass, every sibling carrying
            # it is redundant and need not fan out (output-identical;
            # the finalizer dedups pairs anyway). On dense graphs this
            # removes most of the outdeg^depth blow-up the reference
            # warns about.
            routes = _checkpointed(
                j.where(~F.col("_found"))
                 .join(found_i, ["looking_for", "first_hop"], "left_anti")
                 .select(F.explode("outs").alias("at"), "looking_for",
                         "first_hop")
                 .distinct(), held)
    found = found_parts[0]
    for p in found_parts[1:]:
        found = found.unionByName(p)
    return (found.distinct()
            .groupBy(F.col("looking_for").alias("url"))
            .agg(F.collect_set("first_hop").alias("loop_set")))


def linkrank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85, loops: DataFrame | None = None,
             limit_pages: bool = True,
             limit_domains: bool = True,
             held: ExitStack | None = None) -> DataFrame:
    """LinkRank (LinkRank.java): PageRank variant — initial score 1.0
    (line 342), per-iteration score = (1−d) + d·Σ inlink share with
    d=0.85 (lines 486-487, 560-561), dangling handling by rank-one
    for zero-inlink pages (lines 523-525).

    Parity mechanisms:
    - ``loops``: output of :func:`find_loops`; an edge from→to is
      dropped when ``to ∈ loop_set(from)`` (Inverter, lines 437-445).
    - ``limit_pages`` / ``limit_domains`` (link.ignore.limit.page /
      .domain, both default true, lines 490-491): at most one inlink
      contribution per inlink page / registered domain counts per
      target (Analyzer, lines 518-553). The reference keeps the first
      contribution in reduce-iteration order (nondeterministic under
      MapReduce); here the *highest* contribution wins (max per key),
      which is deterministic and order-independent.

    Iterative DataFrame loop with localCheckpoint to truncate lineage —
    each iteration is one shuffle on to_url (plus one per enabled
    dedup key). ``held`` (an ExitStack) releases the node and edge
    caches and the per-iteration checkpoints on close, else they stay
    for the session."""
    e = edges.select("from_url", "to_url").distinct()
    # the node universe is the full webgraph — loop exclusion drops
    # *edges* from inversion, never nodes (the reference's nodedb is
    # untouched by Loops; an all-loop node still scores rank-one)
    nodes = _cached(e.select(F.col("from_url").alias("url"))
                    .union(e.select("to_url")).distinct(), held)
    if loops is not None:
        # remove edges contained in the source's loop set
        lo = loops.select(F.col("url").alias("from_url"),
                          F.explode("loop_set").alias("to_url")) \
            .withColumn("_loop", F.lit(True))
        e = (e.join(lo, ["from_url", "to_url"], "left")
             .where(F.col("_loop").isNull()).drop("_loop"))
    if limit_pages:
        # URLUtil.getPage (URLUtil.java:444-453): lowercased url minus
        # the query string (JVM expression; fragments are assumed
        # normalized away upstream)
        e = e.withColumn(
            "_page", F.regexp_replace(F.lower("from_url"), r"\?.*", ""))
    if limit_domains:
        udfs = spark_udfs()
        e = e.withColumn("_dom", udfs["domain"](F.col("from_url")))
    # loop-invariant edge frame: outdegree joined ONCE, cached with
    # the dedup keys — the per-iteration work is then exactly one
    # join (ranks) + the dedup/sum aggregations, instead of paying
    # the outdeg join again every iteration
    outdeg = e.groupBy("from_url").agg(F.count("*").alias("deg"))
    e = _cached(e.join(outdeg, "from_url"), held)
    ranks = nodes.withColumn("score", F.lit(1.0))
    rank_one = 1.0 - damping
    for _ in range(iterations):
        contrib = (e.join(ranks, e.from_url == ranks.url)
                   .select(F.col("to_url").alias("url"),
                           (F.col("score") / F.col("deg")).alias("c"),
                           *([F.col("_page")] if limit_pages else []),
                           *([F.col("_dom")] if limit_domains else [])))
        # one exchange instead of three: every grouping set below
        # contains url, so HashPartitioning(url) satisfies all their
        # ClusteredDistribution requirements — the page-dedup,
        # domain-dedup and sum aggregations then run exchange-free
        # on the same partitioning
        if limit_pages or limit_domains:
            contrib = contrib.repartition("url")
        if limit_pages:
            contrib = contrib.groupBy("url", "_page").agg(
                F.max("c").alias("c"),
                *([F.first("_dom").alias("_dom")]
                  if limit_domains else []))
        if limit_domains:
            contrib = contrib.groupBy("url", "_dom") \
                .agg(F.max("c").alias("c"))
        summed = contrib.groupBy("url").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(summed, "url", "left")
                 .select("url",
                         (F.lit(rank_one)
                          + F.lit(damping)
                          * F.coalesce("s", F.lit(0.0))).alias("score")))
        ranks = _checkpointed(ranks, held)
    return ranks


def link_dumper(outlinkdb: DataFrame, nodedb: DataFrame,
                loops: DataFrame | None = None,
                max_inlinks: int = 50_000) -> DataFrame:
    """LinkDumper (LinkDumper.java:216-330): invert the webgraph's
    outlinkdb to inlinks with the *source* node's score attached, so
    each url's inlink list can be read with its contributors' ranks.

    Parity mechanisms:
    - loop exclusion: an edge from→to is dropped when ``to ∈
      loop_set(from)`` — "same as LinkRank" (LinkDumper.java:273-276);
    - sources must have outlinks (LinkDumper.java:265-266) — trivially
      true for outlinkdb rows, kept as the join's semantics;
    - Merger caps each url at ``link.dumper`` maxInlinks = 50000
      (LinkDumper.java:296,312-319). The reference keeps the first N
      in reduce-iteration order (nondeterministic under MapReduce);
      here the N smallest ``from_url`` win — deterministic,
      order-independent.

    Returns ``(url, inlinks array<struct<from_url, score>>)`` with the
    array sorted by from_url. ONE exchange carries the cap window and
    the groupBy (the same url-repartition trick as
    :func:`_capped_inlinks`); the nodedb join shuffles only the slim
    (url, score) projection."""
    e = outlinkdb.select("from_url", "to_url")
    if loops is not None:
        lo = loops.select(F.col("url").alias("from_url"),
                          F.explode("loop_set").alias("to_url")) \
            .withColumn("_loop", F.lit(True))
        e = (e.join(lo, ["from_url", "to_url"], "left")
             .where(F.col("_loop").isNull()).drop("_loop"))
    nd = nodedb.select(F.col("url").alias("from_url"), "score")
    inv = (e.join(nd, "from_url")
           .select(F.col("to_url").alias("url"), "from_url", "score"))
    w = Window.partitionBy("url").orderBy("from_url")
    inv = (inv.repartition("url")
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= max_inlinks).drop("_rn"))
    return inv.groupBy("url").agg(
        F.sort_array(F.collect_list(F.struct("from_url", "score")))
         .alias("inlinks"))


def score_updater(crawldb: DataFrame, nodedb: DataFrame) -> DataFrame:
    """ScoreUpdater.java:59-63: copy nodedb scores into the crawldb;
    urls absent from the nodedb get score cleared to 0."""
    nd = nodedb.select("url", F.col("score").alias("_node_score"))
    return (crawldb.join(nd, "url", "left")
            .withColumn("score",
                        F.coalesce("_node_score", F.lit(0.0)))
            .drop("_node_score"))


def node_dumper(nodedb: DataFrame, by: str = "score",
                n: int = 10, asc: bool = False) -> DataFrame:
    """NodeDumper.java: top-N urls by in/out degree or score."""
    col = {"score": "score", "inlinks": "in_degree",
           "outlinks": "out_degree"}[by]
    order = F.asc(col) if asc else F.desc(col)
    return nodedb.orderBy(order, F.asc("url")).limit(n) \
        .select("url", F.col(col).alias(by))


def node_reader(nodedb: DataFrame, url: str) -> DataFrame:
    """NodeReader (NodeReader.java:67-85): point lookup of a single
    node's info — num inlinks/outlinks plus inlink score and the
    derived outlink score (Node.java:68: ``inlinkScore / numOutlinks``
    when the node has outlinks, else the inlink score itself).

    The reference resolves the url against the MapFile partition that
    HashPartitioner assigns it to; here the equality filter prunes the
    url-bucketed nodedb to a single bucket's files, so the lookup
    touches 1/N of the table at any scale."""
    return nodedb.where(F.col("url") == url).select(
        "url",
        F.col("in_degree").alias("num_inlinks"),
        F.col("out_degree").alias("num_outlinks"),
        F.col("score").alias("inlink_score"),
        F.when(F.col("out_degree") > 0,
               F.col("score") / F.col("out_degree"))
         .otherwise(F.col("score")).alias("outlink_score"))


def loop_reader(loops: DataFrame, url: str) -> DataFrame:
    """LoopReader (LoopReader.java:68-90): the loop set for a single
    url, one row per cycle-forming outlink. Same bucket-pruned point
    lookup as :func:`node_reader`, over :func:`find_loops` output."""
    return (loops.where(F.col("url") == url)
            .select("url", F.explode("loop_set").alias("loop_url")))
