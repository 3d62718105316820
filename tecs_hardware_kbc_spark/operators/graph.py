"""Web link-graph construction + deterministic PageRank.

A web-scale KBC loop ranks its crawl: link structure decides which
pages are worth re-crawling, which domains seed the frontier, and which
extracted triples inherit authority from their source page. The
reference operates on a pre-ranked crawl slice; this module builds the
two operators that produce such a slice from raw pages:

* ``extract_links`` — harvest ``<a href>`` anchors out of an HTML
  column and resolve them into a canonical ``(src, dst)`` edge list,
  entirely as column expressions (Java-regex/RE2-common syntax, so the
  ``web_links`` driver entry replays every rule in DuckDB). Handles the
  four href shapes a crawler meets: absolute, protocol-relative
  (``//host/p``), root-relative (``/p``), and document-relative
  (``p.html`` against the page's directory). Fragments-only and
  non-http(s) schemes (mailto:, javascript:) are dropped; both
  endpoints go through ``urls.canonicalize_url`` so tracking-param /
  case / default-port variants of one page collapse to one node.

* ``pagerank_fixed_point`` — the classic power iteration
  (Brin & Page 1998) with EXACT integer arithmetic, the same
  cross-engine-replay design as ``clustering.kmeans_fixed_point``:
  ranks live on a fixed-point grid (``scale`` units of total mass),
  a node's outflow share is ``rank // out_degree``, dangling mass is
  redistributed uniformly, and the damping update is

      rank'(v) = ((100-d)*(scale//N) + d*(inflow(v) + dang//N)) // 100

  with ``d`` an integer percent. Every quantity is a non-negative
  long, every sum is associative, and every division is integral —
  so the whole training run (not just the final ranks) replays
  bit-for-bit in any SQL engine (see the ``web_pagerank`` driver
  entry, which unrolls all iterations as chained DuckDB CTEs).
  Floor losses mean total mass decays by a few units per iteration;
  that costs nothing for ranking and buys exact replay.

Scale shape: ``extract_links`` is one narrow projection + one explode
(output rows = anchors, never more) + one distinct keyed by the edge.
PageRank and HITS are vector iterations over a cached edge list, run in
one of two regimes chosen once per call (Hybrid Evaluation for
Distributed Iterative Matrix Computation, SIGMOD 2021). The vector
(one long per node) is sized exactly, as the UnsafeRow bytes of its
rows, from the aggregate that also counts the nodes, and compared
against Spark's own ``spark.sql.autoBroadcastJoinThreshold``, which
then bounds every vector the call broadcasts:

* broadcast (the vector fits): the edges are cached hash-partitioned on
  the key each half-step aggregates by, at most one partition per core,
  and so is the node table. Each iteration broadcasts the vector, joins
  it map-side, and the ``groupBy`` and the node join run with no
  Exchange.
* partitioned (it does not, or the threshold is -1): one copy of the
  edges stays cached, and the vector joins it through a shuffle at
  Spark's shuffle partition count (which AQE may coalesce or split for
  skew), with one map-combined Exchange for the ``groupBy``.

In both regimes the per-iteration scalars (PageRank's dangling mass,
HITS' L1 sums) are one-row aggregates broadcast and cross-joined into
the update, so an iteration is one action with no driver round trip,
and every iteration compiles to the same code. No global sorts, no
driver loops over rows, no all-pairs anything.

Each iteration's vector is pinned with ``localCheckpoint``: that cuts
the lineage (without it iteration k re-plans and re-runs every earlier
one), but its blocks live unreplicated on the executors, so losing an
executor fails the call instead of recomputing it. Recovery is to rerun
the call; a reliable ``checkpoint()`` per iteration would survive the
loss but write every vector to the checkpoint directory.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField

from tecs_hardware_kbc_spark.operators.exprs import _let
from tecs_hardware_kbc_spark.operators.urls import (
    canonicalize_url, url_host)

_log = logging.getLogger(__name__)

# href attribute of an anchor tag; group 1 = the raw target. Single- or
# double-quoted, first href per tag, stops at the closing quote.
HREF_RGX = r'<a\s[^>]*href\s*=\s*["\']([^"\']+)["\']'

DEFAULT_SCALE = 1_000_000_000_000  # total rank mass, in integer units
DEFAULT_DAMPING_PCT = 85           # d as an integer percent


def _idiv(a: Column, b: Column) -> Column:
    """Exact integral division for non-negative longs.

    (a - a % b) is exactly divisible by b, both operands are exact in
    double below 2^53, and IEEE division is correctly rounded, so the
    quotient is exact. Callers keep a < 2^53 (DEFAULT_SCALE * 100 =
    1e14 < 9e15, with margin)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def resolve_href(page_url: Column, href: Column) -> Column:
    """Absolute URL for one raw href against its page URL (NULL for
    fragment-only or non-http(s) targets)."""
    scheme = F.lower(F.regexp_extract(page_url, r"^([a-zA-Z][\w+.-]*)://", 1))
    host = url_host(page_url)
    # directory of the page path, always ending in '/'
    path = F.regexp_extract(page_url, r"^[a-zA-Z][\w+.-]*://[^/?#]+([^?#]*)",
                            1)
    dir_ = F.regexp_replace(F.when(path == "", F.lit("/")).otherwise(path),
                            r"[^/]*$", "")
    origin = F.concat(scheme, F.lit("://"), host)
    h = F.trim(href)
    is_abs = h.rlike(r"^[a-zA-Z][\w+.-]*://")
    abs_scheme = F.lower(F.regexp_extract(h, r"^([a-zA-Z][\w+.-]*)://", 1))
    return (
        F.when(h.rlike(r"^#") | (h == ""), F.lit(None).cast("string"))
        .when(is_abs & ~abs_scheme.isin("http", "https"),
              F.lit(None).cast("string"))
        .when(is_abs, h)
        .when(h.rlike(r"^//"), F.concat(scheme, F.lit(":"), h))
        .when(h.rlike(r"^/"), F.concat(origin, h))
        .when(h.rlike(r"^(mailto|javascript|tel|data):"),
              F.lit(None).cast("string"))
        .otherwise(F.concat(origin, dir_, h)))


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html",
                  drop_self_loops: bool = True) -> DataFrame:
    """Canonical (src, dst) edge list from an HTML page table.

    One projection (regexp_extract_all pulls every anchor target into
    an array) + one explode + one distinct on the edge key. Both
    endpoints are canonicalized, so the node space matches
    ``urls.canonicalize_url`` keys used everywhere else in the crawl
    loop."""
    raw = pages.select(
        canonicalize_url(F.col(url_col)).alias("src"),
        F.explode(F.regexp_extract_all(F.col(html_col),
                                       F.lit(HREF_RGX), F.lit(1)))
        .alias("href"),
        F.col(url_col).alias("_page"))
    # _let-bind the resolved href: canonicalize_url references its
    # argument ~15 times inside CASE WHEN branches, and codegen's
    # subexpression elimination does not hoist subtrees nested under
    # conditionals — composed directly, the whole resolve_href regex
    # chain re-ran once per branch (measured 6.8s -> 1.3s for the 253k-
    # edge harvest at the 50k-page probe, local[32])
    edges = raw.select(
        "src",
        _let(resolve_href(F.col("_page"), F.col("href")),
             lambda r: canonicalize_url(r))
        .alias("dst")).filter(F.col("dst").isNotNull())
    if drop_self_loops:
        edges = edges.filter(F.col("src") != F.col("dst"))
    return edges.distinct()


def _partitions(df: DataFrame) -> int:
    """Partition count of the broadcast regime's edge and node layouts:
    one per core, capped by ``spark.sql.shuffle.partitions``. AQE never
    coalesces an explicit count, so it is fixed up front near where
    AQE's parallelism-first coalescing lands for inputs this small; at
    the configured count, tiny tasks dominate every iteration."""
    spark = df.sparkSession
    return min(int(spark.conf.get("spark.sql.shuffle.partitions")),
               spark.sparkContext.defaultParallelism)


def _row_bytes(fields: list[StructField]) -> Column:
    """Bytes of one row with ``fields`` in Spark's UnsafeRow format, the
    format rows are broadcast in: a null-bit word per 64 fields, an
    8-byte slot per field, and each string or binary value's bytes
    padded to a word. The expression reads only the variable-width
    fields, by name."""
    n = len(fields)
    size = F.lit(8 * ((n + 63) // 64 + n))
    for f in fields:
        if isinstance(f.dataType, (StringType, BinaryType)):
            size = size + F.expr(
                f"(coalesce(octet_length(`{f.name}`), 0) + 7) div 8 * 8")
    return size


def _fits(spark: SparkSession, size: int) -> tuple[bool, int]:
    """(whether ``size`` bytes fit under the session's
    ``spark.sql.autoBroadcastJoinThreshold``, the threshold). A threshold
    of -1 never fits."""
    limit = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return 0 <= size <= limit, limit


def _broadcast_regime(op: str, spark: SparkSession, n_nodes: int,
                      vec_bytes: int) -> bool:
    """True when the iterated vector, ``n_nodes`` rows of (node, long)
    taking ``vec_bytes`` bytes as UnsafeRows, fits under
    ``spark.sql.autoBroadcastJoinThreshold``. Every vector the broadcast
    regime broadcasts is this one or a subset of its rows, so the
    threshold bounds each broadcast. A threshold of -1 always selects
    the partitioned regime."""
    small, limit = _fits(spark, vec_bytes)
    _log.info("%s: %d nodes, vector %d B vs autoBroadcastJoinThreshold "
              "%d B: %s regime", op, n_nodes, vec_bytes, limit,
              "broadcast" if small else "partitioned")
    return small


def _edges_by(edges: DataFrame, key: str, n_parts: int) -> DataFrame:
    """The (src, dst) list cached hash-partitioned on ``key``. The
    explicit partition count keeps AQE from coalescing the layout, and a
    cached relation keeps its partitioning, so an aggregation or a join
    keyed by ``key`` on ``n_parts`` partitions reads it with no
    Exchange. Sorting each input partition on ``key`` first puts equal
    keys side by side in the shuffle blocks, which then compress ~20%
    smaller."""
    return (edges.select("src", "dst").sortWithinPartitions(key)
            .repartition(n_parts, key).cache())


def _joined_by(edges: DataFrame, key: str) -> DataFrame:
    """The partitioned regime's PageRank edge list: ``edges`` re-cached
    hash-partitioned on the join key ``key`` at Spark's own shuffle
    partition count and sorted on it within partitions. It is
    materialized here, and then ``edges``, the cache it is built from,
    is released, so only one copy of the edge list stays cached."""
    out = edges.repartition(key).sortWithinPartitions(key).cache()
    out.count()
    edges.unpersist()
    return out


def _node_table(by_src: DataFrame, by_dst: DataFrame,
                n_parts: int) -> tuple[DataFrame, int, int]:
    """(node, out_deg, in_deg) for every endpoint, cached
    hash-partitioned on ``node`` like the edge layouts, its exact row
    count, and the exact UnsafeRow bytes of the (node, long) vector over
    it, both from the one aggregate that materializes the cache. Sources
    are read from ``by_src`` and targets from ``by_dst``; with those
    partitioned on ``n_parts`` by src and by dst, the aggregation needs
    no Exchange."""
    ends = (by_src.select(F.col("src").alias("node"), F.lit(1).alias("o"),
                          F.lit(0).alias("i"))
            .unionAll(by_dst.select(F.col("dst").alias("node"),
                                    F.lit(0).alias("o"), F.lit(1).alias("i"))))
    nodes = (ends.groupBy("node")
             .agg(F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg"))
             .repartition(n_parts, "node").cache())
    vec = [nodes.schema["node"], StructField("x", LongType())]
    n, size = nodes.agg(F.count(F.lit(1)), F.sum(_row_bytes(vec))).first()
    return nodes, n, size or 0


def _propagate(edges: DataFrame, vec: DataFrame, on: str, by: str,
               broadcast: bool) -> DataFrame:
    """(``by``, x): per ``by`` endpoint, the sum of ``vec.x`` over its
    edges, where ``vec`` (node, x) is keyed by the ``on`` endpoint."""
    v = vec.select(F.col("node").alias(on), "x")
    if broadcast:
        v = F.broadcast(v)
    return edges.join(v, on).groupBy(by).agg(F.sum("x").alias("x"))


def _scalar(vec: DataFrame, agg: Column) -> DataFrame:
    """A one-row aggregate ``s`` over ``vec``, broadcast for a cross
    join into the update: the scalar never visits the driver and never
    becomes a plan literal."""
    return F.broadcast(vec.agg(agg.alias("s")))


def _update(nodes: DataFrame, raw: DataFrame, scalar: DataFrame,
            value: Column) -> DataFrame:
    """The next vector (node, out_deg, in_deg, x), materialized with
    ``localCheckpoint`` (the iteration's one action; see the module
    docstring for its fault-tolerance trade). ``value`` maps ``x``, the
    node's propagated sum from ``raw`` (0 when it has none), and the
    scalar ``s`` to the node's new score."""
    by = raw.columns[0]
    return (nodes.join(raw, nodes["node"] == raw[by], "left")
            .crossJoin(scalar)
            .select("node", "out_deg", "in_deg",
                    F.coalesce(F.col("x"), F.lit(0)).alias("x"), "s")
            .select("node", "out_deg", "in_deg", value.alias("x"))
            .localCheckpoint(eager=True))


def pagerank_fixed_point(edges: DataFrame, iters: int = 3,
                         damping_pct: int = DEFAULT_DAMPING_PCT,
                         scale: int = DEFAULT_SCALE) -> DataFrame:
    """Deterministic PageRank over a (src, dst) edge list.

    Returns (node, rank) with ``rank`` an exact long on the
    ``scale``-unit grid — identical rows from any engine replaying the
    same chain (see module docstring for the update rule). Dangling
    nodes (no out-links) spread their mass uniformly; duplicate edges
    should be pre-deduped (``extract_links`` already is). An empty edge
    list gives an empty frame.

    Plan shape: the input is read once, into an edge cache partitioned
    on ``dst``; the node table (with out-degrees) comes from that cache
    plus one Exchange of the source column, and its one aggregate gives
    the exact node count and vector bytes that choose the regime. In the
    broadcast regime each iteration broadcasts the shares
    ``rank // out_deg``, the ``groupBy(dst)`` inflow runs on the cached
    ``dst`` partitions, and the node join is co-partitioned: no
    Exchange. In the partitioned regime the edges are re-cached on
    ``src`` at Spark's shuffle partition count, sorted for the
    sort-merge join (the ``dst`` copy is released once that copy is
    built), and each iteration shuffles the shares onto them plus one
    map-combined ``groupBy(dst)`` Exchange. The dangling mass is a
    broadcast one-row aggregate in both. The result is materialized
    (with ``iters=0`` too) and every cache the call made is released
    before it returns."""
    n_parts = _partitions(edges)
    e = _edges_by(edges, "dst", n_parts)
    cached = [e]
    try:
        nodes, n_nodes, vec_bytes = _node_table(
            e.repartition(n_parts, "src"), e, n_parts)
        cached.append(nodes)
        if not n_nodes:
            return nodes.select("node", F.lit(0).cast("long").alias("rank")) \
                .localCheckpoint(eager=True)
        small = _broadcast_regime("pagerank", edges.sparkSession, n_nodes,
                                  vec_bytes)
        if not small:
            e = _joined_by(e, "src")
            cached.append(e)
        base = scale // n_nodes
        d, rem = int(damping_pct), 100 - int(damping_pct)
        update = _idiv(F.lit(rem * base)
                       + F.lit(d) * (F.col("x")
                                     + _idiv(F.col("s"), F.lit(n_nodes))),
                       F.lit(100))
        ranks = nodes.withColumn("x", F.lit(base).cast("long"))
        if iters < 1:  # no update below materializes it
            ranks = ranks.localCheckpoint(eager=True)
        for _ in range(iters):
            share = ranks.filter(F.col("out_deg") > 0).select(
                "node", _idiv(F.col("x"), F.col("out_deg")).alias("x"))
            dang = _scalar(ranks.filter(F.col("out_deg") == 0),
                           F.coalesce(F.sum("x"), F.lit(0)))
            ranks = _update(nodes, _propagate(e, share, "src", "dst", small),
                            dang, update)
        return ranks.select("node", F.col("x").alias("rank"))
    finally:
        for df in cached:
            df.unpersist()


# full anchor tag; group 1 = href target, group 2 = the anchor text
ANCHOR_RGX = r'<a\s[^>]*href\s*=\s*["\']([^"\']+)["\'][^>]*>([^<]*)</a>'


def extract_anchor_texts(pages: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """(dst, anchor_text) pairs — the link-text relevance signal (what
    OTHER pages call a URL names the entity behind it better than the
    page itself; search engines and KG entity-naming both lean on it).

    Same shape as ``extract_links``: one projection pulls every full
    anchor tag into an array, a transform splits each tag into
    (href, text) WITHOUT a second scan of the page, then one explode.
    Text is whitespace-normalized and lowercased; empty texts and
    unresolvable targets drop."""
    tags = pages.select(
        F.col(url_col).alias("_page"),
        F.explode(F.regexp_extract_all(F.col(html_col),
                                       F.lit(ANCHOR_RGX), F.lit(0)))
        .alias("tag"))
    parsed = tags.select(
        "_page",
        F.regexp_extract("tag", ANCHOR_RGX, 1).alias("href"),
        F.trim(F.regexp_replace(
            F.lower(F.regexp_extract("tag", ANCHOR_RGX, 2)),
            r"\s+", " ")).alias("anchor_text"))
    return (parsed
            .select(_let(resolve_href(F.col("_page"), F.col("href")),
                         lambda r: canonicalize_url(r)).alias("dst"),
                "anchor_text")
            .filter(F.col("dst").isNotNull() & (F.col("anchor_text") != ""))
            .distinct())


def frontier_batch(edges: DataFrame, ranks: DataFrame,
                   max_per_domain: int = 100) -> DataFrame:
    """Next crawl batch: uncrawled URLs ranked by the PageRank mass
    their in-links carry, capped per registered domain.

    ``edges`` is the (src, dst) link table; a node is CRAWLED iff it
    appears as a src (we parsed its page), so the frontier is the
    dangling set. Each frontier URL scores the exact integer inflow it
    would receive in the next power iteration (rank(src) // out_deg
    summed over its in-links — reuses ``ranks`` from
    ``pagerank_fixed_point``), and a per-domain row_number over
    (score desc, url) enforces politeness caps the way
    ``urls.domain_cap`` does for documents.

    One src-keyed join + one dst-keyed aggregation + one window keyed
    by domain — a hot domain costs one window partition, never a
    join explosion."""
    from pyspark.sql.window import Window
    from tecs_hardware_kbc_spark.operators.urls import registered_domain

    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    share = ranks.join(deg, ranks.node == deg.src).select(
        "src", _idiv(F.col("rank"), F.col("out_deg")).alias("share"))
    crawled = edges.select("src").distinct()
    frontier = (edges.join(crawled.withColumnRenamed("src", "dst"),
                           "dst", "left_anti")
                .join(share, "src")
                .groupBy("dst").agg(F.sum("share").alias("score")))
    d = frontier.select(
        F.col("dst").alias("url"), "score",
        registered_domain(url_host(F.col("dst"))).alias("domain"))
    w = Window.partitionBy("domain").orderBy(F.desc("score"), "url")
    return (d.withColumn("domain_rank", F.row_number().over(w))
            .filter(F.col("domain_rank") <= max_per_domain))


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) for every node in the edge list — the
    cheap first look at a crawl graph (hub/authority shape, dangling
    count). Two map-combined aggregations + one outer join on the node
    key."""
    out_d = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")) \
        .agg(F.count("*").alias("in_deg"))
    return (out_d.join(in_d, "node", "full")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def undirect(edges: DataFrame) -> DataFrame:
    """(a, b) with a < b: the simple undirected graph underlying a
    directed edge list — reciprocal links collapse to one edge,
    self-loops drop. One distinct keyed by the normalized pair."""
    a = F.least("src", "dst")
    b = F.greatest("src", "dst")
    return (edges.select(a.alias("a"), b.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, deg, tri, coeff): per-node triangle count and local
    clustering coefficient over the undirected simple graph of
    ``edges``.

    Degree-ordered node-iterator (Cohen 2009 / Suri-Vassilvitskii
    2011): orient every undirected edge from its lower-(deg, id)
    endpoint to the higher, self-join the oriented list on the source
    to enumerate wedges, and close each wedge against the oriented
    edge list. The orientation is THE scale property — a degree-d hub
    would generate O(d^2) wedges under any naive pairing, but oriented
    out-degrees are bounded by O(sqrt(m)), so total wedge volume is
    O(m^1.5) regardless of skew (the web graph's hub tail is exactly
    where this bites). Three hash joins on node/pair keys, no
    cartesian anything; ``coeff = 2*tri / (deg*(deg-1))`` with an
    integer-exact numerator.
    """
    # und feeds the degree count and both sides of the orientation
    # join; ori feeds the wedge self-join twice plus the closing-edge
    # join — pin both so the upstream link harvest runs once, not 5x.
    # The planner cannot size a checkpoint, so und's exact UnsafeRow
    # bytes are observed while it is written (no extra job). Each side
    # broadcast below is at most twice that (deg: two node rows per und
    # row at most; the ori projections: an und row plus one long), so
    # when twice und fits under the threshold those four joins broadcast
    # that side instead of shuffling both until AQE switches strategy.
    size = Observation("und")
    und = undirect(edges)
    und = und.observe(size, F.sum(_row_bytes(und.schema.fields))
                      .alias("b")).localCheckpoint()
    small, _ = _fits(edges.sparkSession, 2 * (size.get["b"] or 0))
    side = F.broadcast if small else (lambda df: df)
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # orient by (deg, node): lo -> hi
    e = (side(und)
         .join(deg.withColumnRenamed("node", "a")
               .withColumnRenamed("deg", "_da"), "a")
         .join(side(deg.withColumnRenamed("node", "b")
                    .withColumnRenamed("deg", "_db")), "b"))
    a_lo = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    ori = e.select(
        F.when(a_lo, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_lo, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_lo, F.col("_da")).otherwise(F.col("_db")).alias("_dl"),
        F.when(a_lo, F.col("_db")).otherwise(F.col("_da")).alias("_dh")
    ).localCheckpoint()
    # wedges at the lo corner: two out-neighbours x, y with x < y in
    # the SAME (deg, id) order, so each unordered pair appears once
    l_ = ori.select(F.col("lo").alias("w"), F.col("hi").alias("x"),
                    F.col("_dh").alias("_dx"))
    r_ = ori.select(F.col("lo").alias("w"), F.col("hi").alias("y"),
                    F.col("_dh").alias("_dy"))
    x_lo = (F.col("_dx") < F.col("_dy")) | (
        (F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y")))
    wedges = (l_.join(side(r_), "w")
              .filter(x_lo)
              .select("w", "x", "y"))
    tri = wedges.join(
        side(ori.select(F.col("lo").alias("x"), F.col("hi").alias("y"))),
        ["x", "y"])
    per_node = (tri.select(F.explode(F.array("w", "x", "y"))
                           .alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("tri")))
    return (deg.join(per_node, "node", "left")
            .select("node", "deg",
                    F.coalesce("tri", F.lit(0)).alias("tri"))
            .withColumn(
                "coeff",
                F.when(F.col("deg") >= 2,
                       F.round(2.0 * F.col("tri")
                               / (F.col("deg")
                                  * (F.col("deg") - F.lit(1))), 6))
                .otherwise(F.lit(0.0))))


HITS_SCALE = 1_000_000_000  # see overflow bound in hits_fixed_point


def hits_fixed_point(edges: DataFrame, iters: int = 2,
                     scale: int = HITS_SCALE) -> DataFrame:
    """Deterministic HITS (Kleinberg 1999): (node, hub, auth) with both
    scores exact longs on the ``scale``-unit grid.

    Same cross-engine-replay discipline as ``pagerank_fixed_point``:
    the classic L2 normalization needs a sqrt, which no integer grid
    survives, so each half-step L1-normalizes instead —
    ``x' = x * scale // sum(x)`` — which preserves the ranking (HITS
    convergence does not depend on the norm chosen) and keeps every
    quantity a non-negative long. Edges must be pre-deduped (as
    ``extract_links`` output is, and as ``pagerank_fixed_point``
    already requires): the overflow bound below counts each
    counterpart's score ONCE per neighbor, so a multigraph input could
    push a raw sum past ``scale`` and silently wrap. Overflow bound on
    a simple edge list, independent of graph size: a node's raw
    half-step sum adds each counterpart's score at most once, so it is
    bounded by the TOTAL mass, which the L1 snap pins at <= ``scale``;
    hence the only multiplication satisfies
    ``x * scale <= scale^2 = 1e18 < 2^63`` (the reason the HITS grid
    is 1e9, not PageRank's 1e12 — PageRank never multiplies two
    mass-sized quantities). Update per iteration:

        auth(v) = sum of hub(u) over edges u -> v, then L1-snap
        hub(u)  = sum of auth(v) over edges u -> v, then L1-snap

    Plan shape: the input is read once, into an edge cache partitioned
    on ``dst``, re-cached on ``src``; the node table (with both degrees)
    aggregates sources from the one and targets from the other with no
    Exchange, and its one aggregate gives the exact node count and
    vector bytes that choose the regime. Each half-step aggregates by
    one endpoint: authority by ``dst``, hub by ``src``. In the broadcast
    regime it broadcasts the counterpart scores onto the edge copy
    partitioned by that key, so the ``groupBy`` and the node join run
    with no Exchange. In the partitioned regime the ``src`` copy is
    released and the ``dst`` copy is the one edge cache: each half-step
    joins the scores to it through a shuffle at Spark's shuffle
    partition count, plus one map-combined ``groupBy`` Exchange. The L1
    sum needs no edge scan (``sum_v auth_raw(v) = sum_u hub(u) *
    out_deg(u)``, and the same for hubs with in-degrees); it is a
    broadcast one-row aggregate over the previous vector. Nodes with no
    in-links (or no out-links) hold score 0 after the first half-step,
    as in the reference formulation. ``iters`` must be at least 1. An
    empty edge list gives an empty frame. Every cache the call made is
    released before it returns."""
    if iters < 1:
        raise ValueError(f"hits_fixed_point needs iters >= 1, got {iters}")
    n_parts = _partitions(edges)
    by = {"dst": _edges_by(edges, "dst", n_parts)}
    by["src"] = _edges_by(by["dst"], "src", n_parts)
    cached = list(by.values())
    try:
        nodes, n_nodes, vec_bytes = _node_table(by["src"], by["dst"],
                                                n_parts)
        cached.append(nodes)
        if not n_nodes:
            zero = F.lit(0).cast("long")
            return nodes.select("node", zero.alias("hub"),
                                zero.alias("auth")).localCheckpoint(eager=True)
        small = _broadcast_regime("hits", edges.sparkSession, n_nodes,
                                  vec_bytes)
        if not small:
            # the node table is built, so nothing reads the src copy
            by["src"].unpersist()
            by["src"] = by["dst"]
        # SQL `div` (not _idiv): the product reaches scale^2 = 1e18,
        # past the 2^53 exactness window of _idiv's double path
        snap = F.expr(f"x * {scale}L div s")

        def half_step(vec, on, agg, deg):
            total = _scalar(vec, F.greatest(
                F.coalesce(F.sum(F.col("x") * F.col(deg)), F.lit(1)),
                F.lit(1)))
            raw = _propagate(by[agg], vec.filter(F.col(deg) > 0), on, agg,
                             small)
            return _update(nodes, raw, total, snap)

        hub = nodes.withColumn("x", F.lit(scale // n_nodes).cast("long"))
        for _ in range(iters):
            auth = half_step(hub, "src", "dst", "out_deg")
            hub = half_step(auth, "dst", "src", "in_deg")
        auth = auth.select("node", F.col("x").alias("auth"))
        return hub.select("node", F.col("x").alias("hub")).join(
            F.broadcast(auth) if small else auth, "node")
    finally:
        for df in cached:
            df.unpersist()
