"""Physical-plan properties that matter at 100 TB: column pruning into the
scan, predicate pushdown, broadcast joins for small dimensions."""

import contextlib
import io
import itertools
import logging
import re

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.corpus import write_corpus
from tecs_hardware_kbc_spark.operators.extract import parse_pages
from tecs_hardware_kbc_spark.sources.pages import read_pages


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "corpus")
    write_corpus(spark, out, n_pages=10, seed=3)
    return out


def test_parse_prunes_to_url_and_html(spark, corpus_dir):
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    plan = _plan(parse_pages(pages))
    # the parquet scan must read ONLY url + html — text/lang/warc_ts pruned
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_lang_filter_pushed_down(spark, corpus_dir):
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    plan = _plan(pages.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed


def test_gazetteer_join_broadcasts(spark, corpus_dir):
    from tecs_hardware_kbc_spark.operators import mentions as M
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    gaz = spark.read.parquet(f"{corpus_dir}/gazetteer.parquet")
    grams = M.gram_space(parse_pages(pages))
    plan = _plan(M.part_mentions(grams, gaz))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_entity_scoring_uses_hash_joins_not_cartesian(spark, corpus_dir):
    from tecs_hardware_kbc_spark.operators.scoring import confusion
    a = spark.range(100).select(
        F.concat(F.lit("D"), "id").alias("doc"), F.lit("P").alias("part"),
        F.lit("x").alias("attribute"), F.lit("1").alias("value"))
    c = confusion(a, a)
    for df in c.values():
        assert "Cartesian" not in _plan(df)


def test_simhash_hamming_no_cartesian(spark):
    """The block-banded simhash near-dup plan must join on
    (block_idx, block_val) — never a cartesian/nested-loop product."""
    from tecs_hardware_kbc_spark.operators.dedup import simhash_near_duplicates
    docs = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(6)],
        "doc_id long, text string")
    plan = _plan(simhash_near_duplicates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_no_cartesian(spark):
    """Multi-table LSH near-dup joins on (t, bucket) — no all-pairs."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        embedding_near_duplicates)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.2]) for i in range(6)],
        "vec_id long, embedding array<double>")
    plan = _plan(embedding_near_duplicates(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pairs_no_cartesian(spark):
    from tecs_hardware_kbc_spark.operators.dedup import minhash_near_duplicates
    docs = spark.createDataFrame(
        [(i, f"some shingled text body {i} etc") for i in range(6)],
        "doc_id long, text string")
    plan = _plan(minhash_near_duplicates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_part_expansion_vocab_broadcast_and_spread(spark, corpus_dir):
    """The expansion vocabulary join-back must be a broadcast (the gram
    side never shuffles on raw_span), and the vocabulary itself must be
    explicitly spread before the pandas UDF."""
    from tecs_hardware_kbc_spark.operators import mentions as M
    from tecs_hardware_kbc_spark.operators.extract import parse_pages
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    grams = M.gram_space(parse_pages(pages))
    gaz = spark.createDataFrame([("BC546", "u")], "part string, url string")
    plan = _plan(M.part_mentions(grams, gaz))
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan  # the explicit vocab spread


def test_bucketed_join_has_no_exchange(spark, corpus_dir, tmp_path_factory):
    """Writing the join sides bucketed by url makes the candidate-style
    equi-join shuffle-free: no Exchange on either side of the join."""
    from tecs_hardware_kbc_spark.plans.bucketing import (
        read_bucketed, write_bucketed)

    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    a = pages.select("url", F.length("text").alias("n"))
    b = pages.select("url", F.col("warc_ts"))
    write_bucketed(a, "t_bucket_a", ["url"], n_buckets=8)
    write_bucketed(b, "t_bucket_b", ["url"], n_buckets=8)
    # at test scale the planner would broadcast (hiding the bucket
    # benefit); force the sort-merge path a 100 TB join would take
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "t_bucket_a").join(
            read_bucketed(spark, "t_bucket_b"), "url")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


_groups = itertools.count()


def _jobs(spark, thunk) -> int:
    """Spark jobs ``thunk`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"test-plans-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op, per_iter", [("pagerank_fixed_point", 4),
                                          ("hits_fixed_point", 8)])
def test_broadcast_regime_jobs_per_iteration(spark, caplog, op, per_iter):
    """Below the broadcast threshold each vector update is one action of
    four jobs: the vector's broadcast, the scalar's one-row aggregate (a
    map stage, then its broadcast) and the materialized update. The
    edge join, the groupBy and the node join add none: no Exchange, no
    driver collect. PageRank updates once per iteration, HITS twice."""
    from tecs_hardware_kbc_spark.operators import graph

    caplog.set_level(logging.INFO, logger=graph.__name__)
    fn = getattr(graph, op)
    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)],
        "src string, dst string")
    one, two = (_jobs(spark, lambda k=k: fn(e, iters=k)) for k in (1, 2))
    assert "broadcast regime" in caplog.text
    assert two - one == per_iter


def _recent_sql(spark, n: int = 200) -> list:
    """The last ``n`` SQL executions in the status store, oldest first.
    The store keeps only the most recent executions, so it is read from
    its end, after the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    total = store.executionsCount()
    n = min(n, total)
    runs = store.executionsList(total - n, n) if n else None
    return [runs.apply(i) for i in range(n)]


@pytest.mark.parametrize("threshold, broadcast", [(None, True), ("-1", False)])
def test_triangle_joins_broadcast_a_small_graph(spark, threshold,
                                                broadcast):
    """``triangle_counts`` sizes its checkpointed undirected edge list
    exactly, so when the graph fits under the broadcast threshold the
    orientation joins (keyed by ``a``, then ``b``), the wedge self-join
    (``w``) and the closing join (``x, y``) broadcast their small side
    from the first plan on, instead of shuffling both sides and leaving
    AQE to switch strategy after the shuffle ran. The plans are read
    from the SQL status store, which also holds the checkpoints'."""
    from tecs_hardware_kbc_spark.operators.graph import triangle_counts

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if threshold is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, threshold)
    last = max((r.executionId() for r in _recent_sql(spark)), default=-1)
    try:
        e = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)],
            "src string, dst string")
        triangle_counts(e).collect()
    finally:
        spark.conf.set(key, old)
    plans = "".join(r.physicalPlanDescription() for r in _recent_sql(spark)
                    if r.executionId() > last)
    keys = [r"\(a#\d+, \d+\)", r"\(b#\d+, \d+\)", r"\(w#\d+, \d+\)",
            r"\(x#\d+, y#\d+, \d+\)"]
    shuffled = [k for k in keys
                if re.search("hashpartitioning" + k, plans)]
    assert shuffled == ([] if broadcast else keys)
