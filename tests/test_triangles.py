"""Triangle counting / clustering coefficients (operators/graph.py)."""

import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.operators.graph import (
    triangle_counts, undirect)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


class TestUndirect:
    def test_reciprocal_and_self_loops(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "a"), ("a", "a"),
                           ("b", "c"), ("b", "c")])
        got = {(r.a, r.b) for r in undirect(e).collect()}
        assert got == {("a", "b"), ("b", "c")}


class TestTriangles:
    def test_hand_graph(self, spark):
        # und = {12,13,14,23,34}; triangles (1,2,3) and (1,3,4)
        e = _edges(spark, [("n1", "n2"), ("n2", "n1"), ("n2", "n3"),
                           ("n1", "n3"), ("n3", "n4"), ("n1", "n4")])
        got = {r.node: (r.deg, r.tri, r.coeff)
               for r in triangle_counts(e).collect()}
        assert got == {
            "n1": (3, 2, round(4 / 6, 6)),
            "n2": (2, 1, 1.0),
            "n3": (3, 2, round(4 / 6, 6)),
            "n4": (2, 1, 1.0),
        }

    def test_star_has_no_triangles(self, spark):
        e = _edges(spark, [("hub", f"s{i}") for i in range(5)])
        out = triangle_counts(e).collect()
        assert all(r.tri == 0 and r.coeff == 0.0 for r in out)
        hub = [r for r in out if r.node == "hub"][0]
        assert hub.deg == 5

    def test_k4_complete(self, spark):
        nodes = ["a", "b", "c", "d"]
        e = _edges(spark, [(u, v) for u in nodes for v in nodes
                           if u < v])
        got = {r.node: (r.deg, r.tri, r.coeff)
               for r in triangle_counts(e).collect()}
        # every node of K4 is in C(3,2)=3 triangles, coeff 1
        assert got == {n: (3, 3, 1.0) for n in nodes}

    def test_degree_one_node_coeff_zero(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                           ("c", "tail")])
        got = {r.node: r for r in triangle_counts(e).collect()}
        assert (got["tail"].deg, got["tail"].tri,
                got["tail"].coeff) == (1, 0, 0.0)

    def test_no_cartesian_in_plan(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
        plan = triangle_counts(e)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _hits_reference(edges, iters=2, scale=10**9):
    """Independent plain-python integer HITS for cross-checking."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    hub = {v: scale // n for v in nodes}
    auth = {}
    for _ in range(iters):
        a_raw = {v: 0 for v in nodes}
        for u, v in edges:
            a_raw[v] += hub[u]
        s = sum(a_raw.values()) or 1
        auth = {v: a_raw[v] * scale // s for v in nodes}
        h_raw = {v: 0 for v in nodes}
        for u, v in edges:
            h_raw[u] += auth[v]
        s = sum(h_raw.values()) or 1
        hub = {v: h_raw[v] * scale // s for v in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


class TestHits:
    EDGES = [("h1", "a1"), ("h1", "a2"), ("h1", "a3"), ("h2", "a1"),
             ("h2", "a2"), ("h3", "a1"), ("a1", "h1"), ("x", "y")]

    def test_matches_reference_exactly(self, spark):
        from tecs_hardware_kbc_spark.operators.graph import (
            hits_fixed_point)
        out = hits_fixed_point(_edges(spark, self.EDGES), iters=2)
        got = {r.node: (r.hub, r.auth) for r in out.collect()}
        assert got == _hits_reference(self.EDGES, iters=2)

    def test_regimes_match_reference(self, spark, vector_regime, caplog,
                                     seeded_graph):
        from tecs_hardware_kbc_spark.operators.graph import (
            hits_fixed_point)
        for edges, iters in ((self.EDGES, 2), (seeded_graph, 3)):
            out = hits_fixed_point(_edges(spark, edges), iters=iters)
            got = {r.node: (r.hub, r.auth) for r in out.collect()}
            assert got == _hits_reference(edges, iters=iters)
        assert f"{vector_regime} regime" in caplog.text

    def test_empty_edges(self, spark):
        from tecs_hardware_kbc_spark.operators.graph import (
            hits_fixed_point)
        out = hits_fixed_point(
            spark.createDataFrame([], "src string, dst string"))
        assert out.collect() == []
        assert out.schema.simpleString() == \
            "struct<node:string,hub:bigint,auth:bigint>"

    def test_hub_authority_separation(self, spark):
        from tecs_hardware_kbc_spark.operators.graph import (
            hits_fixed_point)
        out = hits_fixed_point(_edges(spark, self.EDGES), iters=2)
        got = {r.node: r for r in out.collect()}
        # h1 links all three authorities -> top hub; a1 is cited by
        # all three hubs -> top authority
        assert max(got.values(), key=lambda r: r.hub).node == "h1"
        assert max(got.values(), key=lambda r: r.auth).node == "a1"
        # pure hubs have zero authority mass and vice versa
        assert got["h2"].auth == 0
        assert got["a2"].hub == 0
