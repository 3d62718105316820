"""Link-graph construction + fixed-point PageRank (operators/graph.py)."""

import logging

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.operators.graph import (
    DEFAULT_DAMPING_PCT, DEFAULT_SCALE, degree_stats, extract_anchor_texts,
    extract_links, frontier_batch, hits_fixed_point, pagerank_fixed_point)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html string")


def test_extract_links_resolves_every_href_shape(spark):
    pages = _pages(spark, [(
        "HTTP://Site.COM:80/docs/page.html?utm_source=x&b=1",
        '<p><a href="https://Other.com/abs?utm_campaign=z&k=v">abs</a>'
        '<a class="x" href="//cdn.site.com/proto">proto-rel</a>'
        '<a href="/root.html">root-rel</a>'
        '<a href="sibling.html">doc-rel</a>'
        '<a href="#frag">frag-only</a>'
        '<a href="mailto:a@b.com">mail</a>'
        '<a href="javascript:void(0)">js</a></p>',
    )])
    got = {(r.src, r.dst) for r in extract_links(pages).collect()}
    src = "http://site.com/docs/page.html?b=1"
    assert got == {
        (src, "https://other.com/abs?k=v"),
        (src, "http://cdn.site.com/proto"),
        (src, "http://site.com/root.html"),
        (src, "http://site.com/docs/sibling.html"),
    }


def test_extract_links_dedups_and_drops_self_loops(spark):
    pages = _pages(spark, [(
        "https://a.com/p",
        '<a href="/q">1</a><a href="/q">2</a>'
        '<a href="https://A.com/p">self</a>',
    )])
    rows = extract_links(pages).collect()
    assert [(r.src, r.dst) for r in rows] == [
        ("https://a.com/p", "https://a.com/q")]


def _pagerank_py(edges, iters, d=DEFAULT_DAMPING_PCT, scale=DEFAULT_SCALE):
    """Independent pure-Python replica of the documented integer rule."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    base = scale // n
    rank = {v: base for v in nodes}
    for _ in range(iters):
        dang = sum(rank[v] for v in nodes if v not in out)
        inflow = {v: 0 for v in nodes}
        for s, t in edges:
            inflow[t] += rank[s] // out[s]
        dang_per = dang // n
        rank = {v: ((100 - d) * base + d * (inflow[v] + dang_per)) // 100
                for v in nodes}
    return rank


EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
         ("d", "c"), ("e", "c")]  # f is reached from c? no — add dangling
EDGES += [("c", "f")]  # f: dangling (no out-links)


def test_pagerank_matches_integer_reference(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: r.rank
           for r in pagerank_fixed_point(e, iters=3).collect()}
    assert got == _pagerank_py(EDGES, iters=3)


def test_pagerank_authority_ordering_and_partition_invariance(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    r1 = {r.node: r.rank for r in pagerank_fixed_point(e, iters=3).collect()}
    # c has 4 in-links, a 1, b 1; d/e have none (base + dangling only)
    assert r1["c"] == max(r1.values())
    assert r1["c"] > r1["a"] > r1["d"]
    assert r1["d"] == r1["e"]
    r2 = {r.node: r.rank
          for r in pagerank_fixed_point(e.repartition(7), iters=3).collect()}
    assert r1 == r2


def test_pagerank_dangling_mass_redistributes(spark):
    # two nodes, one edge: b is dangling; without redistribution b's
    # whole rank would leak and a would collapse to the (1-d) floor
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.node: r.rank for r in pagerank_fixed_point(e, iters=2).collect()}
    assert got == _pagerank_py([("a", "b")], iters=2)
    base = DEFAULT_SCALE // 2
    assert got["a"] > (100 - DEFAULT_DAMPING_PCT) * base // 100


def test_pagerank_regimes_match_integer_reference(spark, vector_regime,
                                                  caplog, seeded_graph):
    for edges, iters in ((EDGES, 3), ([("a", "b")], 2), (seeded_graph, 4)):
        e = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank
               for r in pagerank_fixed_point(e, iters=iters).collect()}
        assert got == _pagerank_py(edges, iters=iters)
    assert "pagerank: 6 nodes" in caplog.text
    assert f"{vector_regime} regime" in caplog.text


def test_pagerank_empty_edges(spark):
    out = pagerank_fixed_point(
        spark.createDataFrame([], "src string, dst string"))
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<node:string,rank:bigint>"


def test_pagerank_zero_iterations_is_materialized(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    out = pagerank_fixed_point(
        spark.createDataFrame(EDGES, "src string, dst string"), iters=0)
    assert cache.numCachedEntries() == before
    # read from the checkpoint alone: no released cache, no recompute
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan
    assert "InMemoryRelation" not in plan and "Aggregate" not in plan
    assert {r.rank for r in out.collect()} == {DEFAULT_SCALE // 6}


def test_hits_needs_an_iteration(spark):
    with pytest.raises(ValueError, match="iters >= 1"):
        hits_fixed_point(
            spark.createDataFrame(EDGES, "src string, dst string"), iters=0)


@pytest.mark.parametrize("slack, regime", [(0, "broadcast"),
                                           (-1, "partitioned")])
def test_regime_sized_from_real_vector_bytes(spark, caplog, slack, regime):
    """The vector is sized from its rows' real UnsafeRow bytes: each
    (node, long) row is a null-bit word, two 8-byte slots and the
    node's UTF-8 bytes padded to a word, so six 100-byte names take
    6 * (24 + 104) = 768 B, far above a per-type default width."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    names = [c * 100 for c in "abcdef"]
    pairs = [(names[0], n) for n in names[1:]]
    caplog.set_level(logging.INFO,
                     logger="tecs_hardware_kbc_spark.operators.graph")
    spark.conf.set(key, str(768 + slack))
    try:
        pagerank_fixed_point(
            spark.createDataFrame(pairs, "src string, dst string"), iters=1)
    finally:
        spark.conf.set(key, old)
    assert f"6 nodes, vector 768 B vs autoBroadcastJoinThreshold " \
        f"{768 + slack} B: {regime} regime" in caplog.text


@pytest.mark.parametrize("op", [pagerank_fixed_point, hits_fixed_point])
def test_iterative_operators_release_their_caches(spark, vector_regime, op):
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    out = op(spark.createDataFrame(EDGES, "src string, dst string"))
    assert cache.numCachedEntries() == before
    assert out.count() == 6  # the result does not need the released caches


def test_extract_anchor_texts_normalizes_and_dedups(spark):
    pages = _pages(spark, [
        ("https://a.com/p",
         '<a href="/q?utm_source=s">  Buy   NOW </a>'
         '<a href="/q">buy now</a>'          # same pair after normalize
         '<a href="/r"></a>'                 # empty text drops
         '<a href="#x">frag</a>'),
        ("https://b.com/p", '<a href="https://a.com/q">Other name</a>'),
    ])
    got = {(r.dst, r.anchor_text)
           for r in extract_anchor_texts(pages).collect()}
    assert got == {("https://a.com/q", "buy now"),
                   ("https://a.com/q", "other name")}


def test_frontier_batch_scores_and_caps(spark):
    # crawled: a, b (appear as src); frontier: c, d, e — c has two
    # in-links and must outscore d/e; cap=1 keeps only the best per
    # domain (c.com vs d.com share no domain here, e shares with c)
    edges = spark.createDataFrame(
        [("https://a.com/1", "https://c.com/x"),
         ("https://b.com/1", "https://c.com/x"),
         ("https://a.com/1", "https://d.com/y"),
         ("https://b.com/1", "https://www.c.com/z"),
         ("https://a.com/1", "https://b.com/1")],
        "src string, dst string")
    ranks = pagerank_fixed_point(edges, iters=1)
    out = frontier_batch(edges, ranks, max_per_domain=1)
    rows = {r.url: (r.score, r.domain, r.domain_rank) for r in out.collect()}
    # b.com/1 is crawled (it is a src) so it is NOT in the frontier
    assert "https://b.com/1" not in rows
    assert set(rows) <= {"https://c.com/x", "https://d.com/y",
                         "https://www.c.com/z"}
    # c.com/x (2 in-links) wins the c.com domain over www.c.com/z
    assert rows["https://c.com/x"][1] == "c.com"
    assert "https://www.c.com/z" not in rows  # capped out by c.com/x
    assert rows["https://c.com/x"][0] > rows["https://d.com/y"][0]
    assert all(v[2] == 1 for v in rows.values())


def test_degree_stats(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: (r.out_deg, r.in_deg) for r in degree_stats(e).collect()}
    assert got == {"a": (2, 1), "b": (1, 1), "c": (2, 4),
                   "d": (1, 0), "e": (1, 0), "f": (0, 1)}
