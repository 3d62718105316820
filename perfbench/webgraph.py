"""The ``web_graph`` workload: a seeded crawl (``webgen.py``) through
``graph.extract_links`` -> ``graph.pagerank_fixed_point`` ->
``graph.hits_fixed_point`` -> ``graph.triangle_counts`` ->
``canonicalize.connected_components``.

Every operator here is integer-exact, so ``check`` compares each output
row by row with the pure-Python reference built from the planted edges.
"""

from __future__ import annotations

import functools
import hashlib

from tecs_hardware_kbc_spark.operators import graph as G
from tecs_hardware_kbc_spark.operators.canonicalize import (
    connected_components)

import webgen

N_PAGES = 3000
PR_ITERS = 5
HITS_ITERS = 3

LAYERS = ["graph.links", "graph.pagerank", "graph.hits", "graph.triangles",
          "canonicalize.cc"]


def make_inputs(spark, seed: int):
    """((pages, planted edges), [page rows])."""
    rows, edges = webgen.generate(N_PAGES, seed)
    edges = frozenset(edges)
    pages = spark.createDataFrame(rows, "url string, html string") \
        .localCheckpoint()
    return (pages, edges), [pages.count()]


def _outputs(edges, rank, hits, tri, comp):
    return {
        "edges": edges,
        "rank": {r["node"]: r["rank"] for r in rank},
        "hits": {r["node"]: (r["hub"], r["auth"]) for r in hits},
        "tri": {r["node"]: r["tri"] for r in tri},
        "comp": {r["node"]: r["component"] for r in comp},
    }


def job(spark, inputs):
    pages, _ = inputs
    edges = G.extract_links(pages).localCheckpoint()
    return _outputs(
        {(r["src"], r["dst"]) for r in edges.collect()},
        G.pagerank_fixed_point(edges, iters=PR_ITERS).collect(),
        G.hits_fixed_point(edges, iters=HITS_ITERS).collect(),
        G.triangle_counts(edges).select("node", "tri").collect(),
        connected_components(edges).collect())


def traced_job(spark, inputs, tr):
    pages, _ = inputs
    with tr.span("job"):
        edges = tr.call("graph.links", lambda: G.extract_links(pages))
        rank = tr.call("graph.pagerank",
                       lambda: G.pagerank_fixed_point(edges, iters=PR_ITERS))
        hits = tr.call("graph.hits",
                       lambda: G.hits_fixed_point(edges, iters=HITS_ITERS))
        tri = tr.call("graph.triangles",
                      lambda: G.triangle_counts(edges).select("node", "tri"))
        comp = tr.call("canonicalize.cc",
                       lambda: connected_components(edges))
        return _outputs({(r["src"], r["dst"]) for r in edges.collect()},
                        rank.collect(), hits.collect(), tri.collect(),
                        comp.collect())


def digest(out) -> str:
    h = hashlib.sha256()
    for key in ("rank", "hits", "tri", "comp"):
        for node, v in sorted(out[key].items()):
            h.update(f"{key}\x1f{node}\x1f{v}\n".encode())
    return h.hexdigest()[:16]


@functools.lru_cache(maxsize=1)
def reference(planted: frozenset) -> dict:
    """The outputs the operators must produce on the planted edge set."""
    return {
        "edges": planted,
        "rank": webgen.ref_pagerank(planted, PR_ITERS),
        "hits": webgen.ref_hits(planted, HITS_ITERS),
        "tri": webgen.ref_triangles(planted),
        "comp": webgen.ref_components(planted),
    }


def check(out, inputs) -> tuple[list[str], float]:
    """(problems, quality): quality is the lowest share of rows that equal
    the reference, over the five outputs."""
    ref = reference(inputs[1])
    problems, shares = [], []
    for key in ("edges", "rank", "hits", "tri", "comp"):
        got, want = out[key], ref[key]
        if key == "edges":
            same = len(got & want)
        else:
            same = sum(1 for k, v in want.items() if got.get(k) == v)
        n = max(len(got), len(want))
        shares.append(same / n if n else 0.0)
        if same != n:
            problems.append(f"{key}: {same} of {n} rows match the reference")
    return problems, min(shares)
