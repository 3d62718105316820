"""Seeded web crawl for the ``web_graph`` workload, plus the pure-Python
reference answers its output check compares against.

Pages live on a few hosts. Each page links to a handful of others; most
targets are drawn from a Zipf-like popularity law, so a few hub pages
collect a large share of the in-links (the skew that makes the graph
operators' joins uneven), and the rest stay on the page's own host.
Every link is written in one of the href shapes ``graph.extract_links``
resolves (absolute, protocol-relative, root-relative, document-relative,
with a default port or tracking parameters), and each page also carries
anchors the harvest must drop (fragments, mailto:, javascript:).

All canonical page URLs are lowercase, port-free and query-free, so the
planted edge set is exactly what the harvest must return, and the
reference ranks below can be computed from it without Spark.
"""

from __future__ import annotations

import random
from collections import defaultdict

from tecs_hardware_kbc_spark.operators.graph import (
    DEFAULT_DAMPING_PCT as PR_DAMPING_PCT,
    DEFAULT_SCALE as PR_SCALE,
    HITS_SCALE,
)


def page_url(i: int, n_hosts: int) -> str:
    return f"https://site{i % n_hosts}.example/d{(i // n_hosts) % 7}/p{i}.html"


def _href(rng: random.Random, src: str, dst: str) -> str:
    """One href form of ``dst`` as written on page ``src``."""
    s_host = src.split("/")[2]
    d_host = dst.split("/")[2]
    d_path = dst[len("https://") + len(d_host):]
    k = rng.randrange(6)
    if k == 1:
        return "//" + d_host + d_path
    if k == 2:
        return f"HTTPS://{d_host.upper()}:443{d_path}?utm_source=feed"
    if k == 3 and s_host == d_host:
        return d_path
    if k == 4 and s_host == d_host and \
            src.rsplit("/", 1)[0] == dst.rsplit("/", 1)[0]:
        return dst.rsplit("/", 1)[1]
    if k == 5:
        return dst + "?ref=nav"
    return dst


def generate(n_pages: int, seed: int, n_hosts: int = 16,
             mean_links: int = 5) -> tuple[list[tuple[str, str]],
                                           set[tuple[str, str]]]:
    """(pages, edges): ``pages`` is a list of (url, html) rows and
    ``edges`` the set of canonical (src, dst) links they contain."""
    rng = random.Random(f"web_graph:{seed}")
    urls = [page_url(i, n_hosts) for i in range(n_pages)]
    # popularity rank is a seeded permutation, so hubs move with the seed
    n_main = n_pages - n_pages // 25
    order = list(range(n_main))
    rng.shuffle(order)
    cum, acc = [], 0.0
    for r in range(n_main):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)
    pages, edges = [], set()
    for i, src in enumerate(urls):
        if i >= n_main:
            # small islands of four pages in a ring: extra components
            # for connected_components, unreachable from the main crawl
            j = n_main + (i - n_main + 1) % 4 + (i - n_main) // 4 * 4
            hubs, local = [], [min(j, n_pages - 1)]
        elif rng.random() < 0.05:
            hubs, local = [], []  # dangling page: no out-links
        else:
            n_out = rng.randint(1, 2 * mean_links - 1)
            hubs = rng.choices(order, cum_weights=cum, k=(n_out + 1) // 2)
            local = [rng.randrange(i % n_hosts, n_main, n_hosts)
                     for _ in range(n_out // 2)]
        anchors = ['<a href="#top">top</a>',
                   '<a href="mailto:ops@example.org">mail</a>']
        for j in hubs + local:
            dst = urls[j]
            anchors.append(f'<a class="l" href="{_href(rng, src, dst)}">'
                           f"p{j}</a>")
            if dst != src:
                edges.add((src, dst))
        if rng.random() < 0.2:
            anchors.append('<a href="javascript:void(0)">x</a>')
        rng.shuffle(anchors)
        html = (f"<html><head><title>p{i}</title></head><body><ul>"
                + "".join(f"<li>{a}</li>" for a in anchors)
                + "</ul></body></html>")
        pages.append((src, html))
    return pages, edges


def ref_pagerank(edges, iters: int) -> dict[str, int]:
    """``graph.pagerank_fixed_point``'s integer update, in Python."""
    out = defaultdict(list)
    nodes = set()
    for s, d in edges:
        out[s].append(d)
        nodes.update((s, d))
    n = len(nodes)
    base = PR_SCALE // n
    d_pct, rem = PR_DAMPING_PCT, 100 - PR_DAMPING_PCT
    rank = dict.fromkeys(nodes, base)
    for _ in range(iters):
        dang = sum(r for v, r in rank.items() if v not in out)
        inflow = defaultdict(int)
        for s, ds in out.items():
            share = rank[s] // len(ds)
            for d in ds:
                inflow[d] += share
        dang_per = dang // n
        rank = {v: (rem * base + d_pct * (inflow[v] + dang_per)) // 100
                for v in nodes}
    return rank


def ref_hits(edges, iters: int) -> dict[str, tuple[int, int]]:
    """``graph.hits_fixed_point``'s L1-snapped integer update."""
    nodes = {v for e in edges for v in e}
    hub = dict.fromkeys(nodes, HITS_SCALE // len(nodes))
    auth = {}
    for _ in range(iters):
        a = defaultdict(int)
        for s, d in edges:
            a[d] += hub[s]
        a_sum = sum(a.values()) or 1
        auth = {v: a[v] * HITS_SCALE // a_sum for v in nodes}
        h = defaultdict(int)
        for s, d in edges:
            h[s] += auth[d]
        h_sum = sum(h.values()) or 1
        hub = {v: h[v] * HITS_SCALE // h_sum for v in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


def ref_triangles(edges) -> dict[str, int]:
    """Triangles through each node of the undirected simple graph of
    ``edges``."""
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    tri = dict.fromkeys(adj, 0)
    for a in adj:
        for b in adj[a]:
            if a < b:
                for c in adj[a] & adj[b]:
                    if b < c:
                        tri[a] += 1
                        tri[b] += 1
                        tri[c] += 1
    return tri


def ref_components(edges) -> dict[str, str]:
    """Each node's component label: the smallest node id in it."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}
