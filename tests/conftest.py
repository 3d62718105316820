import logging
import random

import pytest

from tecs_hardware_kbc_spark.corpus import corpus_to_dataframes, generate_corpus
from tecs_hardware_kbc_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=4,
                  app_name="kbc-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_corpus():
    return generate_corpus(n_pages=40, seed=42)


@pytest.fixture(scope="session")
def tiny_tables(spark, tiny_corpus):
    pages, gold, gaz = corpus_to_dataframes(spark, tiny_corpus)
    return {"pages": pages.cache(), "gold": gold.cache(), "gaz": gaz.cache()}


@pytest.fixture(params=["broadcast", "partitioned"])
def vector_regime(request, spark, caplog):
    """Runs a test in both regimes of the iterative graph operators:
    Spark's default ``spark.sql.autoBroadcastJoinThreshold`` (broadcast)
    and -1 (partitioned). Yields the regime name, which the operators
    log when they choose it."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "partitioned":
        spark.conf.set(key, "-1")
    else:
        spark.conf.unset(key)
    caplog.set_level(logging.INFO,
                     logger="tecs_hardware_kbc_spark.operators.graph")
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def seeded_graph():
    """A seeded random simple digraph with dangling nodes (n30-n39 and
    j1 have no out-links) and islands (a 2-cycle and a lone edge that
    no other node reaches)."""
    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = {(rng.choice(nodes[:30]), rng.choice(nodes)) for _ in range(120)}
    edges = {(s, d) for s, d in edges if s != d}
    edges |= {("i0", "i1"), ("i1", "i0"), ("j0", "j1")}
    return sorted(edges)
