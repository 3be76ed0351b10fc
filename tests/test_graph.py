"""PageRank (operators/graph.py) vs a numpy power-iteration twin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.graph import pagerank


def _numpy_pagerank(edges, iterations=3, damping=0.85):
    """Dense twin of the documented semantics: distinct edges, uniform
    start, no dangling redistribution."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += pr[idx[s]] / out[idx[s]]
        pr = (1.0 - damping) / n + damping * contrib
    return {v: pr[idx[v]] for v in nodes}


@pytest.fixture(scope="module")
def random_graph():
    rng = np.random.RandomState(17)
    n_nodes, n_edges = 200, 1500
    edges = {
        (f"n{rng.randint(n_nodes)}", f"n{rng.randint(n_nodes)}")
        for _ in range(n_edges)
    }
    # keep self-loops out (the entity graph has none; semantics with
    # loops would still match, this just mirrors the production shape)
    return sorted((s, d) for s, d in edges if s != d)


def test_pagerank_matches_numpy_twin(spark, random_graph):
    df = spark.createDataFrame(random_graph, "src string, dst string")
    got = {
        r["node"]: r["pagerank"] for r in pagerank(df, 3).collect()
    }
    want = _numpy_pagerank(random_graph, 3)
    assert set(got) == set(want)
    for v, p in want.items():
        assert got[v] == pytest.approx(round(p, 6), abs=2e-6)


def test_pagerank_mass_and_determinism(spark, random_graph):
    df = spark.createDataFrame(random_graph, "src string, dst string")
    a = pagerank(df, 2).collect()
    b = pagerank(df.repartition(7), 2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # without dangling redistribution total mass only leaks, never
    # grows (tolerance: per-node round-to-6 accumulates to ~n·5e-7)
    total = sum(r["pagerank"] for r in a)
    assert total <= 1.0 + len(a) * 5e-7


def test_cooccurrence_pmi_matches_python_twin(spark):
    import math
    from collections import Counter
    from itertools import combinations

    from deepie_spark.operators.graph import cooccurrence_pmi

    # (doc, entity) mention stream with repeats inside a doc
    rows = [
        (1, 10), (1, 11), (1, 10), (1, 12),
        (2, 10), (2, 11),
        (3, 11), (3, 12),
        (4, 13),
        (5, 10), (5, 11), (5, 12),
    ]
    df = spark.createDataFrame(rows, "doc_id long, entity_id long")
    got = {
        (r["ent_a"], r["ent_b"]): (r["c_ab"], r["pmi"])
        for r in cooccurrence_pmi(df).collect()
    }

    by_doc = {}
    for d, e in rows:
        by_doc.setdefault(d, set()).add(e)
    n_docs = len(by_doc)
    ca = Counter(e for es in by_doc.values() for e in es)
    cab = Counter()
    for es in by_doc.values():
        for a, b in combinations(sorted(es), 2):
            cab[(a, b)] += 1
    exp = {
        k: (c, round(math.log(c * n_docs / (ca[k[0]] * ca[k[1]])), 6))
        for k, c in cab.items()
    }
    assert got == exp
    # sanity anchors: (10,11) co-occur in docs 1,2,5 of 5 docs;
    # 10 is in 3 docs, 11 in 4
    assert got[(10, 11)][0] == 3
    assert got[(10, 11)][1] == round(math.log(3 * 5 / (3 * 4)), 6)
    assert (10, 13) not in got  # never co-occur


def _python_triangles(edges):
    """Set-based twin: canonical undirected edges, count a<b<c closed
    triples, wedges = sum deg·(deg−1)/2."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = sum(
        1
        for a, b in und
        for c in adj[a] & adj[b]
        if b < c
    )
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    return len(adj), len(und), wedges, tris


def test_triangle_stats_matches_python_twin(spark, random_graph):
    from deepie_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(random_graph, "src string, dst string")
    row = triangle_stats(df).collect()[0]
    n, e, w, t = _python_triangles(random_graph)
    assert (
        row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]
    ) == (n, e, w, t)
    assert row["clustering"] == round(3.0 * t / w, 6)
    assert t > 0  # 1500 edges on 200 nodes must close some triangles


def test_triangle_stats_handcrafted(spark):
    from deepie_spark.operators.graph import triangle_stats

    # K4 plus a pendant, with reverse-dup + multi-edge + self-loop noise
    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"), ("c", "d"),
        ("d", "e"), ("e", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    row = triangle_stats(df).collect()[0]
    # K4 has 4 triangles; degrees a,b,c=3 d=4 e=1 → wedges 3·3+6+0=15
    assert (row["n_nodes"], row["n_edges"]) == (5, 7)
    assert (row["n_wedges"], row["n_triangles"]) == (15, 4)
    assert row["clustering"] == round(12 / 15, 6)


def _python_neighborhood_jaccard(edges, min_common=2, max_degree=None):
    adj = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    hubs = (
        {n for n, ns in adj.items() if len(ns) > max_degree}
        if max_degree is not None
        else set()
    )
    out = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            common = len((adj[a] & adj[b]) - hubs)
            if common >= min_common:
                j = common / (len(adj[a]) + len(adj[b]) - common)
                out[(a, b)] = (common, len(adj[a]), len(adj[b]), round(j, 6))
    return out


def test_neighborhood_jaccard_matches_python_twin(spark, random_graph):
    from deepie_spark.operators.graph import neighborhood_jaccard

    df = spark.createDataFrame(random_graph, "src string, dst string")
    got = {
        (r["ent_a"], r["ent_b"]): (
            r["common"], r["deg_a"], r["deg_b"], r["jaccard"]
        )
        for r in neighborhood_jaccard(df, min_common=3).collect()
    }
    assert got == _python_neighborhood_jaccard(random_graph, min_common=3)
    assert got  # dense random graph has qualifying pairs


def test_neighborhood_jaccard_hub_guard(spark):
    from deepie_spark.operators.graph import neighborhood_jaccard

    # hub h touches everything; a and b additionally share n1, n2
    edges = (
        [("h", f"x{i}") for i in range(8)]
        + [("a", "h"), ("b", "h"), ("a", "n1"), ("b", "n1"),
           ("a", "n2"), ("b", "n2")]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["ent_a"], r["ent_b"]): (r["common"], r["deg_a"], r["deg_b"],
                                   r["jaccard"])
        for r in neighborhood_jaccard(
            df, min_common=2, max_degree=5
        ).collect()
    }
    want = _python_neighborhood_jaccard(edges, min_common=2, max_degree=5)
    assert got == want
    # the hub is excluded from common counts but still in denominators:
    # common(a,b) = {n1,n2}, deg 3 each → 2/(3+3−2)
    assert got[("a", "b")] == (2, 3, 3, 0.5)


def test_degree_histogram_semantics(spark):
    from deepie_spark.operators.graph import degree_histogram

    edges = [
        ("a", "b"), ("b", "a"),   # reverse duplicate → one neighbor each
        ("a", "c"), ("a", "c"),   # multi-edge → counted once
        ("c", "c"),               # self-loop → dropped
        ("d", "a"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["degree"]: r["n_nodes"] for r in degree_histogram(df).collect()}
    # degrees: a=3 (b,c,d), b=1, c=1, d=1
    assert got == {3: 1, 1: 3}


def _python_bfs(edges, seeds, max_hops):
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {
            n for f in frontier for n in adj[f] if n not in dist
        }
        for n in nxt:
            dist[n] = h
        frontier = nxt
    return dist


def test_bfs_hops_matches_python_twin(spark, random_graph):
    from deepie_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(random_graph, "src string, dst string")
    seed = min(
        {s for s, _ in random_graph} | {d for _, d in random_graph}
    )
    seeds = spark.createDataFrame([(seed,)], "node string")
    got = {r["node"]: r["hop"] for r in bfs_hops(df, seeds, 3).collect()}
    assert got == _python_bfs(random_graph, [seed], 3)
    # repartition invariance (BFS layers are order-free sets)
    got2 = {
        r["node"]: r["hop"]
        for r in bfs_hops(df.repartition(7), seeds, 3).collect()
    }
    assert got2 == got


def test_bfs_hops_multi_source_min_distance(spark):
    from deepie_spark.operators.graph import bfs_hops

    # path graph a-b-c-d-e with seeds {a, e}: c is 2 from both,
    # b claims hop 1 from a, d claims hop 1 from e
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("e",)], "node string")
    got = {r["node"]: r["hop"] for r in bfs_hops(df, seeds, 3).collect()}
    assert got == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


def _numpy_ppr(edges, seed, iterations=3, damping=0.85):
    """Personalized twin: indicator start vector, teleport to seed."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    ind = np.zeros(n)
    ind[idx[seed]] = 1.0
    pr = ind.copy()
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += pr[idx[s]] / out[idx[s]]
        pr = (1.0 - damping) * ind + damping * contrib
    return {v: pr[idx[v]] for v in nodes}


def test_personalized_pagerank_matches_numpy_twin(spark, random_graph):
    df = spark.createDataFrame(random_graph, "src string, dst string")
    seed = min(
        {s for s, _ in random_graph} | {d for _, d in random_graph}
    )
    seeds = spark.createDataFrame([(seed,)], "node string")
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(df, 3, seeds=seeds).collect()
    }
    want = _numpy_ppr(random_graph, seed, 3)
    assert set(got) == set(want)
    for v, p in want.items():
        assert got[v] == pytest.approx(round(p, 6), abs=2e-6)
    # mass concentrates at/near the seed and decays with distance
    assert got[seed] == max(got.values())


def _numpy_hits(edges, iterations=2):
    """Integer-accumulator twin of operators.graph.hits."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    h = np.ones(n, dtype=np.int64)
    a = np.zeros(n, dtype=np.int64)
    for _ in range(iterations):
        a = np.zeros(n, dtype=np.int64)
        for s, d in edges:
            a[idx[d]] += h[idx[s]]
        h = np.zeros(n, dtype=np.int64)
        for s, d in edges:
            h[idx[s]] += a[idx[d]]
    mh, ma = max(h.max(), 1), max(a.max(), 1)
    return {
        v: (round(h[idx[v]] / mh, 6), round(a[idx[v]] / ma, 6))
        for v in nodes
    }


def test_hits_matches_numpy_twin(spark, random_graph):
    from deepie_spark.operators.graph import hits

    df = spark.createDataFrame(random_graph, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, 2).collect()
    }
    assert got == _numpy_hits(random_graph, 2)


def test_hits_handcrafted_star(spark):
    """Hub-and-spoke sanity: the center of an out-star is the best hub,
    its targets are the authorities; pure sinks have hub 0."""
    from deepie_spark.operators.graph import hits

    edges = [("c", "x"), ("c", "y"), ("c", "z"), ("u", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r for r in hits(df, 2).collect()}
    assert got["c"]["hub"] == 1.0
    assert got["x"]["authority"] == 1.0  # in-degree 2 target
    assert got["c"]["authority"] == 0.0
    for sink in ("y", "z"):
        assert got[sink]["hub"] == 0.0
    assert got["u"]["hub"] < got["c"]["hub"]


def test_kcore_peels_cascade_to_fixpoint(spark):
    """2-core of clique{1,2,3,4} + pendant path 4-5-6-7: the path peels
    over THREE cascading rounds (7, then 6, then 5) — a single-round
    degree filter would leave 5 and 6 behind."""
    from deepie_spark.operators.graph import kcore

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["entity"]: r["degree"] for r in kcore(df, k=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the max degree → empty core
    assert kcore(df, k=4).count() == 0


def test_link_graph_extraction(spark):
    """href harvest: absolute links aggregate per (src,dst) host;
    relative links and pages without a parseable host don't vote."""
    from deepie_spark.operators.graph import link_graph

    pages = spark.createDataFrame(
        [
            ("https://a.com/p1",
             '<a href="https://b.com/x">1</a><a href="https://b.com/y">2'
             '</a><a href="/rel">r</a>'),
            ("https://a.com/p2", '<a href="http://c.org/z">3</a>'),
            ("nohost", '<a href="https://b.com/q">4</a>'),
        ],
        "url string, html string",
    )
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in link_graph(pages).collect()
    }
    assert got == {("a.com", "b.com"): 2, ("a.com", "c.org"): 1}


def test_random_walks_deterministic_and_valid(spark):
    """Every step follows a real edge chosen by the documented hash
    rule (python twin); walks stop at dangling nodes; two runs are
    identical."""
    from deepie_spark.functions.text import BASE, MOD
    from deepie_spark.operators.graph import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("c", "d"), ("d", "e")]  # e is dangling
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["walk"], r["step"]): r["node"]
        for r in random_walks(df, length=5).collect()
    }

    def h(s):
        acc = 0
        for ch in s:
            acc = (acc * BASE + ord(ch)) % MOD
        return acc

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    for a in adj:
        adj[a] = sorted(set(adj[a]))
    want = {}
    for start in sorted(adj):
        cur = start
        want[(start, 0)] = cur
        for s in range(1, 6):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = nbrs[h(f"{start}#{s}") % len(nbrs)]
            want[(start, s)] = cur
    assert got == want
    again = {
        (r["walk"], r["step"]): r["node"]
        for r in random_walks(df, length=5).collect()
    }
    assert again == got


def _python_lpa(edges, rounds=3):
    """Synchronous LPA twin: adopt the most frequent neighbor label,
    ties to the smallest label."""
    und = set()
    for s, d in edges:
        if s != d:
            und.add((s, d))
            und.add((d, s))
    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            cnt = {}
            for b in nbrs:
                cnt[lbl[b]] = cnt.get(lbl[b], 0) + 1
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lbl = new
    return lbl


def test_label_propagation_matches_python_twin(spark, random_graph):
    from deepie_spark.operators.graph import label_propagation

    df = spark.createDataFrame(random_graph, "src string, dst string")
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(df, 3).collect()
    }
    assert got == _python_lpa(random_graph, 3)


def test_label_propagation_separates_planted_cliques(spark):
    """Two 5-cliques joined by ONE bridge edge: after 3 synchronous
    rounds each clique is uniformly labeled by its own min member and
    the two labels differ (hand-traced: round 1 ripples min ids, round
    2 consolidates, round 3 is stable)."""
    from deepie_spark.operators.graph import label_propagation

    c1 = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    c2 = [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(
        c1 + c2 + [("a0", "b0")], "src string, dst string"
    )
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(df, 3).collect()
    }
    assert {got[f"a{i}"] for i in range(5)} == {"a0"}
    assert {got[f"b{i}"] for i in range(5)} == {"b0"}


def _py_truss(edges, k):
    """Naive python k-truss peeling twin."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        sup = {e: 0 for e in es}
        nodes = {n for e in es for n in e}
        adj = {n: set() for n in nodes}
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        for a, b in es:
            for c in adj[a] & adj[b]:
                sup[(a, b)] += 1
        nxt = {e for e in es if sup[e] >= k - 2}
        if nxt == es:
            return {e: sup[e] for e in es}
        es = nxt


def test_ktruss_clique_survives(spark):
    """K5 at k=4: every edge sits in 3 triangles, nothing peels."""
    from deepie_spark.operators.graph import ktruss

    k5 = [(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)]
    out = {(r.a, r.b): r.support for r in ktruss(
        spark.createDataFrame(k5, "src string, dst string"), k=4
    ).collect()}
    assert len(out) == 10 and set(out.values()) == {3}


def test_ktruss_cascade_to_empty(spark):
    """Two triangles sharing edge (b, c): at k=4 only (b, c) has
    support 2, but after the first peel it has no triangles left —
    the cascade must run to the empty fixpoint, not stop after one
    round."""
    from deepie_spark.operators.graph import ktruss

    es = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d")]
    out = ktruss(
        spark.createDataFrame(es, "src string, dst string"), k=4
    ).collect()
    assert out == []


def test_ktruss_matches_python_twin(spark):
    """Hash-deterministic 28-node random graph, k=3 and k=4."""
    from deepie_spark.operators.graph import ktruss

    edges = []
    for i in range(200):
        a, b = (i * 131 + 7) % 28, (i * 197 + 13) % 28
        if a != b:
            edges.append((f"v{a:02d}", f"v{b:02d}"))
    df = spark.createDataFrame(edges, "src string, dst string")
    for k in (3, 4):
        got = {(r.a, r.b): r.support for r in ktruss(df, k=k).collect()}
        assert got == _py_truss(edges, k)


def test_ktruss_validates_k(spark):
    from deepie_spark.operators.graph import ktruss

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        ktruss(df, k=1)


def test_closeness_stats_path_graph(spark):
    """Path a-b-c-d at max_hops=2: hand-computed reach/hop sums."""
    from deepie_spark.operators.graph import closeness_stats

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.entity: (r.n_reached, r.total_hops)
        for r in closeness_stats(df, max_hops=2).collect()
    }
    assert got == {
        "a": (2, 3),  # b@1, c@2
        "b": (3, 4),  # a@1, c@1, d@2
        "c": (3, 4),
        "d": (2, 3),
    }


def test_closeness_stats_matches_python_bfs(spark):
    from collections import deque

    from deepie_spark.operators.graph import closeness_stats

    edges = []
    for i in range(120):
        a, b = (i * 37 + 5) % 25, (i * 101 + 11) % 25
        if a != b:
            edges.append((f"v{a:02d}", f"v{b:02d}"))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for s in adj:
        seen = {s: 0}
        q = deque([s])
        while q:
            n = q.popleft()
            if seen[n] >= 3:
                continue
            for m in adj[n]:
                if m not in seen:
                    seen[m] = seen[n] + 1
                    q.append(m)
        del seen[s]
        if seen:
            expected[s] = (len(seen), sum(seen.values()))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.entity: (r.n_reached, r.total_hops)
        for r in closeness_stats(df, max_hops=3).collect()
    }
    assert got == expected


def test_closeness_stats_seed_subset(spark):
    from deepie_spark.operators.graph import closeness_stats

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = closeness_stats(df, seeds=seeds, max_hops=5).collect()
    assert len(got) == 1 and got[0].entity == "a"
    assert (got[0].n_reached, got[0].total_hops) == (2, 3)


def test_ktruss_closeness_plan_shapes(spark):
    from deepie_spark.operators.graph import _edge_support, closeness_stats

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    und = df.selectExpr("src as a", "dst as b")
    for frame in (_edge_support(und), closeness_stats(df, max_hops=1)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_degree_assortativity_star_is_minus_one(spark):
    from deepie_spark.operators.graph import degree_assortativity

    e = spark.createDataFrame(
        [("c", "a"), ("c", "b"), ("c", "d"), ("c", "d")],  # dup edge
        "src string, dst string",
    )
    [r] = degree_assortativity(e).collect()
    # star K1,3: ends are (3,1)×3 + (1,3)×3 → perfectly disassortative
    assert r.n_ends == 6 and r.sum_x == 12
    assert (r.sum_xy, r.sum_xx) == (18, 30)
    assert r.r == -1.0


def test_degree_assortativity_regular_graph_is_null(spark):
    from deepie_spark.operators.graph import degree_assortativity

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    [r] = degree_assortativity(cycle).collect()
    # 4-cycle: every degree 2 → zero variance → r undefined (NULL)
    assert r.r is None


def _mis_check(edges, mis):
    """Independence + maximality against a python adjacency map."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    m = set(mis)
    for v in m:
        assert not (adj.get(v, set()) & m), f"{v} has a MIS neighbor"
    for v in set(adj) - m:
        assert adj[v] & m, f"{v} could be added — not maximal"


def test_mis_path_graph_hand_case(spark):
    from deepie_spark.operators.graph import maximal_independent_set

    e = [("a", "b"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    out = maximal_independent_set(df).collect()
    _mis_check(e, [r.entity for r in out])
    assert all(r.mis_round >= 1 for r in out)


def test_mis_random_graph_properties(spark):
    import random

    from deepie_spark.operators.graph import maximal_independent_set

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(30)]
    e = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)
    })
    df = spark.createDataFrame(e, "src string, dst string")
    out = maximal_independent_set(df).collect()
    _mis_check(e, [r.entity for r in out])
    # determinism: same MIS (and rounds) on a different partitioning
    out2 = maximal_independent_set(df.repartition(7)).collect()
    assert sorted((r.entity, r.mis_round) for r in out) == sorted(
        (r.entity, r.mis_round) for r in out2
    )


def test_mis_max_rounds_raises(spark):
    from deepie_spark.operators.graph import maximal_independent_set

    # a triangle needs 2 rounds minimum (1 select + survivors)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    import pytest as _pt

    with _pt.raises(RuntimeError, match="did not converge"):
        maximal_independent_set(e, max_rounds=1)


def _scc_python(nodes, edges):
    """Brute-force mutual reachability: scc_id = min mutual node."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)

    def reach(s):
        seen, stack = {s}, [s]
        while stack:
            for n in adj.get(stack.pop(), ()):
                if n not in seen:
                    seen.add(n)
                    stack.append(n)
        return seen

    fwd = {v: reach(v) for v in nodes}
    return {
        v: min([v] + [u for u in fwd[v] if v in fwd[u]]) for v in nodes
    }


def test_scc_hand_case(spark):
    from deepie_spark.operators.graph import (
        strongly_connected_components,
    )

    # {a,b,c} cycle → bridge → {d,e} cycle, plus a dangling sink f
    e = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"), ("e", "d"), ("e", "f"),
    ]
    df = spark.createDataFrame(e, "src string, dst string")
    out = {r.entity: r.scc_id
           for r in strongly_connected_components(df).collect()}
    assert out == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f",
    }


def test_scc_random_graph_python_twin(spark):
    import random

    from deepie_spark.operators.graph import (
        strongly_connected_components,
    )

    rng = random.Random(13)
    names = [f"g{i}" for i in range(25)]
    e = sorted({
        (rng.choice(names), rng.choice(names)) for _ in range(60)
    })
    e = [(a, b) for a, b in e if a != b]
    nodes = sorted({x for ab in e for x in ab})
    df = spark.createDataFrame(e, "src string, dst string")
    out = {r.entity: r.scc_id
           for r in strongly_connected_components(df).collect()}
    assert out == _scc_python(nodes, e)
    # partition invariance
    out2 = {r.entity: r.scc_id
            for r in strongly_connected_components(
                df.repartition(7)).collect()}
    assert out2 == out


def test_scc_guards(spark):
    import pytest as _pt

    from deepie_spark.operators.graph import (
        strongly_connected_components,
    )

    # a 6-chain of singleton SCCs trims instantly, but a long cycle
    # needs diameter-many coloring rounds → max_iter guard fires
    cyc = [(f"c{i}", f"c{(i + 1) % 8}") for i in range(8)]
    df = spark.createDataFrame(cyc, "src string, dst string")
    with _pt.raises(RuntimeError, match="coloring did not converge"):
        strongly_connected_components(df, max_iter=2)
    out = strongly_connected_components(df).collect()
    assert {r.scc_id for r in out} == {"c0"} and len(out) == 8


def test_sssp_hand_case_and_python_twin(spark):
    import heapq
    import random

    from deepie_spark.operators.graph import sssp_weighted

    # hand case: the shorter 2-hop route must beat the direct edge
    e = [("s", "a", 10), ("s", "b", 2), ("b", "a", 3), ("a", "c", 1)]
    df = spark.createDataFrame(e, "src string, dst string, w long")
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {r.node: r.dist for r in sssp_weighted(df, seeds).collect()}
    assert out == {"s": 0, "a": 5, "b": 2, "c": 6}

    # random digraph vs dijkstra, multi-source
    rng = random.Random(29)
    names = [f"v{i}" for i in range(20)]
    edges = sorted({
        (rng.choice(names), rng.choice(names), rng.randrange(1, 10))
        for _ in range(60)
    })
    edges = [(a, b, w) for a, b, w in edges if a != b]
    sdf = spark.createDataFrame([("v0",), ("v7",)], "node string")
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    best, pq = {}, [(0, "v0"), (0, "v7")]
    while pq:
        d, v = heapq.heappop(pq)
        if v in best:
            continue
        best[v] = d
        for u, w in adj.get(v, ()):
            if u not in best:
                heapq.heappush(pq, (d + w, u))
    df2 = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r.node: r.dist for r in sssp_weighted(df2, sdf).collect()}
    assert got == best
    got2 = {r.node: r.dist
            for r in sssp_weighted(df2.repartition(7), sdf).collect()}
    assert got2 == best


def test_sssp_guards(spark):
    import pytest as _pt

    from deepie_spark.operators.graph import sssp_weighted

    seeds = spark.createDataFrame([("a",)], "node string")
    bad = spark.createDataFrame(
        [("a", "b", 0)], "src string, dst string, w long"
    )
    with _pt.raises(ValueError, match="positive"):
        sssp_weighted(bad, seeds)
    chain = spark.createDataFrame(
        [(f"a{i}", f"a{i + 1}", 1) for i in range(6)],
        "src string, dst string, w long",
    )
    s0 = spark.createDataFrame([("a0",)], "node string")
    with _pt.raises(RuntimeError, match="converge"):
        sssp_weighted(chain, s0, max_iter=2)


def _py_poly_hash(s):
    from deepie_spark.functions.text import BASE, MOD

    h = 0
    for ch in s:
        h = (h * BASE + ord(ch)) % MOD
    return h


def test_coloring_proper_and_sequential_greedy_twin(spark):
    import random

    from deepie_spark.operators.graph import greedy_coloring

    rng = random.Random(31)
    nodes = [f"n{i}" for i in range(30)]
    e = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(80)
    })
    df = spark.createDataFrame(e, "src string, dst string")
    out = {r.entity: r.color for r in greedy_coloring(df).collect()}
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # proper coloring, bounded by maxdeg + 1
    for v, c in out.items():
        assert all(out[u] != c for u in adj[v])
        assert 0 <= c <= len(adj[v])
    # JP == sequential greedy along ascending (poly-hash, id)
    want = {}
    for v in sorted(adj, key=lambda v: (_py_poly_hash(v), v)):
        used = {want[u] for u in adj[v] if u in want}
        c = 0
        while c in used:
            c += 1
        want[v] = c
    assert out == want
    # partition invariance
    out2 = {r.entity: r.color
            for r in greedy_coloring(df.repartition(7)).collect()}
    assert out2 == out


def test_coloring_guards_and_hand_case(spark):
    import pytest as _pt

    from deepie_spark.operators.graph import greedy_coloring

    # triangle: 3 colors, one per node
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    out = greedy_coloring(tri).collect()
    assert sorted(r.color for r in out) == [0, 1, 2]
    with _pt.raises(RuntimeError, match="did not converge"):
        greedy_coloring(tri, max_rounds=1)


def _kruskal(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for a, b, w in sorted(edges, key=lambda e: e[2]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((min(a, b), max(a, b), w))
    return sorted(out)


def test_msf_hand_and_kruskal_twin(spark):
    import random

    from deepie_spark.operators.graph import minimum_spanning_forest

    # hand case: triangle drops its heaviest edge, bridge kept
    e = [("a", "b", 1), ("b", "c", 2), ("a", "c", 5), ("c", "d", 3)]
    df = spark.createDataFrame(e, "src string, dst string, w long")
    out = sorted((r.a, r.b, r.w)
                 for r in minimum_spanning_forest(df).collect())
    assert out == [("a", "b", 1), ("b", "c", 2), ("c", "d", 3)]

    # random multi-component graph, globally unique weights
    rng = random.Random(37)
    nodes = [f"m{i}" for i in range(40)]
    pairs = sorted({
        tuple(sorted(rng.sample(nodes[:20], 2))) for _ in range(50)
    } | {
        tuple(sorted(rng.sample(nodes[20:], 2))) for _ in range(50)
    })
    e2 = [(a, b, i * 7 + 1) for i, (a, b) in enumerate(pairs)]
    df2 = spark.createDataFrame(e2, "src string, dst string, w long")
    got = sorted((r.a, r.b, r.w)
                 for r in minimum_spanning_forest(df2).collect())
    assert got == _kruskal(e2)
    got2 = sorted(
        (r.a, r.b, r.w)
        for r in minimum_spanning_forest(df2.repartition(7)).collect()
    )
    assert got2 == got


def test_msf_unique_weight_guard(spark):
    import pytest as _pt

    from deepie_spark.operators.graph import minimum_spanning_forest

    dup = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 3)], "src string, dst string, w long"
    )
    with _pt.raises(ValueError, match="unique"):
        minimum_spanning_forest(dup)


def _stress_python(edges, max_hops=6):
    """Brute-force: BFS sigma per source + the combination identity."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    dist, sig = {}, {}
    for s in nodes:
        d, g = {s: 0}, {s: 1}
        layer = [s]
        h = 0
        while layer and h < max_hops:
            h += 1
            nxt = {}
            for w in layer:
                for u in adj[w]:
                    if u not in d:
                        nxt[u] = nxt.get(u, 0) + g[w]
            for u, c in nxt.items():
                d[u], g[u] = h, c
            layer = list(nxt)
        for t in d:
            dist[(s, t)], sig[(s, t)] = d[t], g[t]
    out = {}
    for v in nodes:
        tot = 0
        for s in nodes:
            for t in nodes:
                if s == t or v in (s, t):
                    continue
                if (s, v) in dist and (v, t) in dist and (s, t) in dist \
                        and dist[(s, v)] + dist[(v, t)] == dist[(s, t)]:
                    tot += sig[(s, v)] * sig[(v, t)]
        if tot:
            out[v] = tot
    return out


def test_stress_hand_path_graph(spark):
    from deepie_spark.operators.graph import stress_centrality

    e = [("a", "b"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    out = {r.entity: r.stress for r in stress_centrality(df).collect()}
    # b carries (a,c),(c,a),(a,d),(d,a); c carries (a,d),(d,a),(b,d),(d,b)
    assert out == {"b": 4, "c": 4}


def test_stress_random_graph_python_twin(spark):
    import random

    from deepie_spark.operators.graph import stress_centrality

    rng = random.Random(43)
    nodes = [f"s{i}" for i in range(18)]
    e = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)
    })
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: r.stress for r in stress_centrality(df).collect()}
    assert got == _stress_python(e)
    got2 = {r.entity: r.stress
            for r in stress_centrality(df.repartition(7)).collect()}
    assert got2 == got


def test_eccentricity_hand_and_twin(spark):
    from deepie_spark.operators.graph import eccentricity_stats

    # path a-b-c-d: ecc 3,2,2,3; radius 2 (b,c), diameter 3
    e = [("a", "b"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    out = {r.entity: (r.ecc, r.n_reached)
           for r in eccentricity_stats(df).collect()}
    assert out == {"a": (3, 3), "b": (2, 3), "c": (2, 3), "d": (3, 3)}
    # max_hops truncation is visible via n_reached
    out2 = {r.entity: (r.ecc, r.n_reached)
            for r in eccentricity_stats(df, max_hops=1).collect()}
    assert out2["a"] == (1, 1) and out2["b"] == (1, 2)


def test_eccentricity_random_python_twin(spark):
    import random
    from collections import deque

    from deepie_spark.operators.graph import eccentricity_stats

    rng = random.Random(47)
    nodes = [f"e{i}" for i in range(22)]
    e = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)})
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for s in adj:
        d = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if d[v] >= 6:
                continue
            for u in adj[v]:
                if u not in d:
                    d[u] = d[v] + 1
                    q.append(u)
        d.pop(s)
        if d:
            want[s] = (max(d.values()), len(d))
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: (r.ecc, r.n_reached)
           for r in eccentricity_stats(df).collect()}
    assert got == want


def test_local_clustering_hand(spark):
    from deepie_spark.operators.graph import local_clustering

    # triangle a-b-c plus pendant d on a: tri(a)=tri(b)=tri(c)=1,
    # tri(d)=0; deg a=3, b=c=2, d=1
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: (r.deg, r.n_tri)
           for r in local_clustering(df).collect()}
    assert got == {"a": (3, 1), "b": (2, 1), "c": (2, 1), "d": (1, 0)}


def test_local_clustering_random_python_twin(spark):
    import itertools
    import random

    from deepie_spark.operators.graph import local_clustering

    rng = random.Random(53)
    nodes = [f"e{i}" for i in range(18)]
    e = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)})
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v in adj:
        tri = sum(
            1
            for p, q in itertools.combinations(sorted(adj[v]), 2)
            if q in adj[p]
        )
        want[v] = (len(adj[v]), tri)
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: (r.deg, r.n_tri)
           for r in local_clustering(df).collect()}
    assert got == want
    # sum of per-node triangles == 3 * global count (each counted at
    # all three vertices), and partition-invariant
    assert sum(t for _, t in got.values()) % 3 == 0
    got2 = {r.entity: (r.deg, r.n_tri)
            for r in local_clustering(df.repartition(7)).collect()}
    assert got2 == got


def test_condensation_layers_hand(spark):
    from deepie_spark.operators.graph import condensation_layers

    # a -> (b <-> c) -> d -> e : comps {a},{b,c},{d},{e},
    # layers 0,1,2,3; plus isolated pair f -> g at layers 0,1
    e = [("a", "b"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "e"),
         ("f", "g")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: (r.scc_id, r.layer)
           for r in condensation_layers(df).collect()}
    assert got == {
        "a": ("a", 0), "b": ("b", 1), "c": ("b", 1),
        "d": ("d", 2), "e": ("e", 3), "f": ("f", 0), "g": ("g", 1),
    }


def test_condensation_layers_random_python_twin(spark):
    import random

    from deepie_spark.operators.graph import condensation_layers

    rng = random.Random(59)
    # random DAG over int-ordered nodes + planted 3-cycles: node ids
    # i<j edges keep the condensation acyclic even after the cycles
    n = 15
    dag = sorted({tuple(sorted(rng.sample(range(n), 2)))
                  for _ in range(25)})
    edges = [(f"v{a:02d}", f"v{b:02d}") for a, b in dag]
    # plant a 3-cycle hanging off node 3: 3 -> x -> y -> 3's cycle
    edges += [("v03", "cx"), ("cx", "cy"), ("cy", "v03")]
    # python twin: contract SCCs (only the planted cycle), then
    # longest path by relaxation to fixpoint
    comp = {f"v{i:02d}": f"v{i:02d}" for i in range(n)}
    comp["cx"] = comp["cy"] = comp["v03"] = "cx" if "cx" < "v03" else "v03"
    cond = {(comp[a], comp[b]) for a, b in edges if comp[a] != comp[b]}
    lvl = {c: 0 for c in set(comp.values())}
    changed = True
    while changed:
        changed = False
        for a, b in cond:
            if lvl[a] + 1 > lvl[b]:
                lvl[b] = lvl[a] + 1
                changed = True
    want = {v: (comp[v], lvl[comp[v]]) for v in comp}
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.entity: (r.scc_id, r.layer)
           for r in condensation_layers(df).collect()}
    assert got == want
    got2 = {r.entity: (r.scc_id, r.layer)
            for r in condensation_layers(df.repartition(5)).collect()}
    assert got2 == got


def _wl_twin(edges, rounds):
    MOD, BASE = 2_147_483_647, 131
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: len(adj[v]) % MOD for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v in adj:
            acc = 0
            for x in [lab[v]] + sorted(lab[u] for u in adj[v]):
                acc = (acc * BASE + x) % MOD
            nxt[v] = acc
        lab = nxt
    return lab


def test_wl_distinguishes_roles(spark):
    from deepie_spark.operators.graph import wl_refinement

    # star center vs leaves vs a path midpoint: three structural roles
    e = [("c", "l1"), ("c", "l2"), ("c", "l3"),
         ("p1", "p2"), ("p2", "p3")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: r.wl_label for r in wl_refinement(df, 2).collect()}
    assert got == _wl_twin(e, 2)
    # symmetric leaves share a label; the center does not
    assert got["l1"] == got["l2"] == got["l3"] != got["c"]
    # path endpoints symmetric, midpoint distinct
    assert got["p1"] == got["p3"] != got["p2"]
    # degree-1 nodes in different contexts diverge after refinement
    assert got["l1"] != got["p1"]


def test_wl_random_python_twin(spark):
    import random

    from deepie_spark.operators.graph import wl_refinement

    rng = random.Random(83)
    nodes = [f"e{i}" for i in range(20)]
    e = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.entity: r.wl_label for r in wl_refinement(df, 3).collect()}
    assert got == _wl_twin(e, 3)
    got2 = {r.entity: r.wl_label
            for r in wl_refinement(df.repartition(7), 3).collect()}
    assert got2 == got


def _poly_hash_py(s):
    MOD, BASE = 2_147_483_647, 131
    h = 0
    for ch in s:
        h = (h * BASE + ord(ch)) % MOD
    return h


def test_node2vec_walks_python_twin(spark):
    import random

    from deepie_spark.operators.graph import node2vec_walks

    rng = random.Random(97)
    nodes = [f"n{i}" for i in range(12)]
    e = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(25)})
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    WR, WC, WE = 1, 2, 4

    def twin(length=4):
        rows = []
        for start in sorted(adj):
            walk = [start]
            nbrs = sorted(adj[start])
            cur = nbrs[_poly_hash_py(f"{start}#1") % len(nbrs)]
            prev = start
            walk.append(cur)
            for s in range(2, length + 1):
                cands = sorted(adj[cur])
                ws = [WR if c == prev
                      else WC if c in adj[prev]
                      else WE for c in cands]
                r = _poly_hash_py(f"{start}#{s}") % sum(ws)
                cum = 0
                for c, w in zip(cands, ws):
                    cum += w
                    if cum > r:
                        nxt = c
                        break
                prev, cur = cur, nxt
                walk.append(cur)
            rows += [(start, i, n) for i, n in enumerate(walk)]
        return {(w, s): n for w, s, n in rows}

    df = spark.createDataFrame(e, "src string, dst string")
    got = {(r.walk, r.step): r.node
           for r in node2vec_walks(df, length=4).collect()}
    assert got == twin(4)
    got2 = {(r.walk, r.step): r.node
            for r in node2vec_walks(df.repartition(5), length=4).collect()}
    assert got2 == got


def test_node2vec_return_bias(spark):
    from deepie_spark.operators.graph import node2vec_walks

    # two-node graph: the only candidate is always the previous node,
    # so the walk must oscillate regardless of weights
    e = [("a", "b")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {(r.walk, r.step): r.node
           for r in node2vec_walks(df, length=3).collect()}
    assert got[("a", 0)] == "a" and got[("a", 1)] == "b"
    assert got[("a", 2)] == "a" and got[("a", 3)] == "b"


# ---------------------------------------------------------------------------
# link_prediction (common-neighbors / Jaccard / fixed-point AA & RA)
# ---------------------------------------------------------------------------


def _numpy_link_prediction(edges, min_common=1, scale_bits=40):
    """Brute-force twin of the documented semantics: undirected distinct
    edges, candidate = non-adjacent pair with >= min_common shared
    neighbors, AA/RA as exact fixed-point longs."""
    import math

    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    scale = float(1 << scale_bits)
    out = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in und:
                continue
            cn = nbrs[a] & nbrs[b]
            if len(cn) < min_common:
                continue
            aa = sum(int(scale // math.log(len(nbrs[z]))) for z in cn)
            ra = sum(int(scale // len(nbrs[z])) for z in cn)
            da, db = len(nbrs[a]), len(nbrs[b])
            out[(a, b)] = (
                len(cn),
                aa,
                ra,
                round(len(cn) / (da + db - len(cn)), 6),
                round(aa / scale, 6),
            )
    return out


def test_link_prediction_random_python_twin(spark):
    from deepie_spark.operators.graph import link_prediction

    rng = np.random.RandomState(23)
    edges = sorted(
        {
            (f"v{rng.randint(40)}", f"v{rng.randint(40)}")
            for _ in range(160)
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.ent_a, r.ent_b): (
            r.common,
            r.aa_fp,
            r.ra_fp,
            r.jaccard,
            r.adamic_adar,
        )
        for r in link_prediction(df, min_common=1).collect()
    }
    assert got == _numpy_link_prediction(edges, min_common=1)


def test_link_prediction_excludes_existing_edges(spark):
    from deepie_spark.operators.graph import link_prediction

    # triangle plus a pendant: (a,c) IS an edge so only the pendant's
    # wedge pairs may appear
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = {
        (r.ent_a, r.ent_b): r.common
        for r in link_prediction(df, min_common=1).collect()
    }
    # d shares neighbor c with a and with b; (a,b),(a,c),(b,c) all edges
    assert rows == {("a", "d"): 1, ("b", "d"): 1}


def test_link_prediction_hub_guard_drops_wedges_only(spark):
    from deepie_spark.operators.graph import link_prediction

    # star: hub h connects to 5 leaves; with max_degree=4 the hub is
    # excluded as a wedge CENTER, so no candidate pairs at all — but
    # leaf degrees would still count h if another center existed
    edges = [("h", f"l{i}") for i in range(5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert link_prediction(df, max_degree=4).count() == 0
    # unguarded: all C(5,2) leaf pairs share exactly the hub
    full = link_prediction(df, max_degree=None).collect()
    assert len(full) == 10
    # each leaf pair shares only the hub; leaves have degree 1 so
    # jaccard = 1 / (1 + 1 - 1) = 1.0 and ra_fp = floor(2^40 / 5)
    assert all(
        r.common == 1 and r.jaccard == 1.0 and r.ra_fp == (1 << 40) // 5
        for r in full
    )


def test_textrank_hub_word_ranks_first(spark):
    """TextRank composition: a token co-occurring with everything must
    outrank peripheral tokens; symmetric co-occurrence graph has no
    dangling nodes, so total mass stays 1 (within FP tolerance)."""
    import __spark_entry__ as entry_mod

    docs = spark.createDataFrame(
        [
            (0, "hub alpha hub beta hub gamma hub delta"),
            (1, "hub epsilon hub zeta hub eta"),
            (2, "theta iota theta iota"),
        ],
        ["doc_id", "text"],
    ).withColumn("n_chars", F.length("text")).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s"))

    from deepie_spark.operators.graph import pagerank
    from deepie_spark.operators.skipgram import skipgram_pairs

    p = skipgram_pairs(docs, window=2).filter(
        F.col("center") != F.col("context")
    )
    pr = pagerank(
        p.select(F.col("center").alias("src"),
                 F.col("context").alias("dst")),
        iterations=3,
    ).collect()
    scores = {r.node: r.pagerank for r in pr}
    assert max(scores, key=scores.get) == "hub"
    assert abs(sum(scores.values()) - 1.0) < 1e-4


def test_harmonic_centrality_python_twin(spark):
    from collections import deque

    from deepie_spark.operators.graph import harmonic_centrality

    rng = np.random.RandomState(29)
    edges = sorted(
        {(f"v{rng.randint(30)}", f"v{rng.randint(30)}") for _ in range(70)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.entity: (r.n_reached, r.harmonic_fp, r.harmonic)
        for r in harmonic_centrality(df, max_hops=4).collect()
    }

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for s in adj:
        hops = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if hops[u] >= 4:
                continue
            for v in adj[u]:
                if v not in hops:
                    hops[v] = hops[u] + 1
                    q.append(v)
        reached = [h for n, h in hops.items() if n != s]
        fp = sum(int((1 << 40) // h) for h in reached)
        if reached:
            expect[s] = (len(reached), fp, round(fp / (1 << 40), 6))
    assert got == expect


def test_trustrank_seeds_concentrate_mass(spark):
    """Trust decays with distance from seeds: a host reachable only
    through long chains gets less trust than a directly-seeded one,
    and unreachable hosts get exactly 0 (seed-indicator teleport)."""
    edges = [
        ("seed", "near"), ("near", "far"), ("far", "farther"),
        ("island_a", "island_b"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("seed",)], ["node"])
    got = {r.node: r.pagerank for r in pagerank(df, 3, seeds=seeds).collect()}
    assert got["seed"] > got["near"] > got["far"] > 0
    assert got["island_a"] == 0.0 and got["island_b"] == 0.0


def test_modularity_python_twin(spark):
    from deepie_spark.operators.graph import label_propagation, modularity

    # two near-cliques joined by one bridge — a clearly modular graph
    edges = (
        [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
        + [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
        + [("a0", "b0")]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = label_propagation(df, rounds=3)
    row = modularity(df, labels).collect()[0]

    lbl = {r.entity: r.community for r in labels.collect()}
    und = {tuple(sorted(e)) for e in edges}
    m = len(und)
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    from collections import Counter

    l_c, d_c = Counter(), Counter()
    for a, b in und:
        if lbl[a] == lbl[b]:
            l_c[lbl[a]] += 1
    for n, dg in deg.items():
        d_c[lbl[n]] += dg
    q_num = sum(4 * m * l_c[c] - d_c[c] * d_c[c] for c in d_c)
    assert (row.n_edges, row.q_num, row.q_den) == (m, q_num, 4 * m * m)
    assert row.modularity == round(q_num / (4 * m * m), 6)
    # a 2-clique + bridge partition is strongly modular
    assert row.modularity > 0.3


def test_modularity_single_community_is_zero(spark):
    from deepie_spark.operators.graph import modularity

    edges = [("a", "b"), ("b", "c"), ("a", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x")], ["entity", "community"]
    )
    row = modularity(df, labels).collect()[0]
    # all edges intra, D_c = 2m → q_num = 4m·m − 4m² = 0
    assert row.q_num == 0 and row.modularity == 0.0


def test_attribute_assortativity_extremes(spark):
    from deepie_spark.operators.graph import attribute_assortativity

    # perfectly assortative: two mono-typed components
    edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2")]
    attrs = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B")],
        ["node", "attr"],
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = attribute_assortativity(df, attrs).collect()[0]
    assert r.assortativity == 1.0 and r.n_dropped == 0
    # perfectly disassortative bipartite: r = -1 for two equal types
    edges2 = [("x1", "y1"), ("x1", "y2"), ("x2", "y1"), ("x2", "y2")]
    attrs2 = spark.createDataFrame(
        [("x1", "X"), ("x2", "X"), ("y1", "Y"), ("y2", "Y")],
        ["node", "attr"],
    )
    r2 = attribute_assortativity(
        spark.createDataFrame(edges2, ["src", "dst"]), attrs2
    ).collect()[0]
    assert r2.assortativity == -1.0


def test_attribute_assortativity_python_twin(spark):
    from collections import Counter

    from deepie_spark.operators.graph import attribute_assortativity

    rng = np.random.RandomState(37)
    nodes = [f"n{i}" for i in range(25)]
    attrs = {n: ("P" if rng.rand() < 0.5 else "O") for n in nodes}
    edges = sorted(
        {
            (nodes[rng.randint(25)], nodes[rng.randint(25)])
            for _ in range(80)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    adf = spark.createDataFrame(
        sorted(attrs.items()), ["node", "attr"]
    )
    row = attribute_assortativity(df, adf).collect()[0]
    und = {tuple(sorted(e)) for e in edges}
    cells = Counter()
    for a, b in und:
        cells[(attrs[a], attrs[b])] += 1
        cells[(attrs[b], attrs[a])] += 1
    M = sum(cells.values())
    trace = sum(n for (i, j), n in cells.items() if i == j)
    rsum, csum = Counter(), Counter()
    for (i, j), n in cells.items():
        rsum[i] += n
        csum[j] += n
    sum_rc = sum(rsum[t] * csum[t] for t in rsum)
    assert (row.m_ends, row.trace, row.sum_rc) == (M, trace, sum_rc)
    assert row.assortativity == round(
        (M * trace - sum_rc) / (M * M - sum_rc), 6
    )


def test_betweenness_python_twin(spark):
    from collections import deque

    from deepie_spark.operators.graph import betweenness_centrality

    rng = np.random.RandomState(43)
    edges = sorted(
        {(f"v{rng.randint(16)}", f"v{rng.randint(16)}") for _ in range(34)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.entity: (r.bw_fp, r.betweenness)
        for r in betweenness_centrality(df, max_hops=6).collect()
    }

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def bfs(s):
        hops, sig = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            if hops[u] >= 6:
                continue
            for v in adj[u]:
                if v not in hops:
                    hops[v] = hops[u] + 1
                    sig[v] = 0
                    q.append(v)
                if hops[v] == hops[u] + 1:
                    sig[v] += sig[u]
        return hops, sig

    walks = {s: bfs(s) for s in adj}
    fp = {}
    S = float(1 << 40)
    for s in adj:
        hs, gs = walks[s]
        for v in adj:
            if v == s or v not in hs:
                continue
            hv, gv = walks[v]
            for t in adj:
                if t == s or t == v or t not in hv or t not in hs:
                    continue
                if hs[v] + hv[t] == hs[t]:
                    # SAME IEEE op tree as both engines
                    fp[v] = fp.get(v, 0) + int(
                        float(gs[v] * gv[t]) * S / walks[s][1][t] // 1
                    )
    expect = {
        v: (x, round(x / S, 6)) for v, x in fp.items()
    }
    assert got == expect and got


def test_influence_spread_python_twin(spark):
    from collections import deque

    from deepie_spark.functions.text import BASE, MOD
    from deepie_spark.operators.graph import influence_spread

    rng = np.random.RandomState(53)
    edges = sorted(
        {(f"n{rng.randint(20)}", f"n{rng.randint(20)}") for _ in range(50)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("n0",), ("n1",)], ["node"])
    got = {
        r.trial: (r.n_activated_edges, r.spread)
        for r in influence_spread(
            df, seeds, n_trials=4, prob_num=1, prob_den=4
        ).collect()
    }

    def poly(s):
        h = 0
        for c in s:
            h = (h * BASE + ord(c)) % MOD
        return h

    P, A, B2 = 1_000_000_007, 1_315_423_911, 2_654_435_761
    expect = {}
    for t in range(1, 5):
        act = [
            (a, b)
            for a, b in set(edges)
            if ((poly(f"{a}|{b}") * A) % P + t * B2) % P * 4 < P
        ]
        adj = {}
        for a, b in act:
            adj.setdefault(a, set()).add(b)
        reached = {"n0", "n1"}
        q = deque([("n0", 0), ("n1", 0)])
        while q:
            u, h = q.popleft()
            if h >= 8:
                continue
            for v in adj.get(u, ()):
                if v not in reached:
                    reached.add(v)
                    q.append((v, h + 1))
        expect[t] = (len(act), len(reached))
    assert got == expect
    # trials genuinely differ (different draws)
    assert len({v for v in got.values()}) > 1


def test_pagerank_weighted_python_twin(spark):
    from deepie_spark.operators.graph import pagerank_weighted

    rng = np.random.RandomState(59)
    edges = {}
    for _ in range(60):
        k = (f"v{rng.randint(12)}", f"v{rng.randint(12)}")
        if k[0] != k[1]:
            edges[k] = edges.get(k, 0) + int(rng.randint(1, 9))
    rows = [(a, b, w) for (a, b), w in sorted(edges.items())]
    df = spark.createDataFrame(rows, ["src", "dst", "weight"])
    got = {
        r.node: r.pagerank for r in pagerank_weighted(df, 3).collect()
    }

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    tw = {}
    for (a, _), w in edges.items():
        tw[a] = tw.get(a, 0) + w
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        c = {v: 0.0 for v in nodes}
        for (a, b), w in edges.items():
            c[b] += pr[a] * (w / tw[a])
        pr = {v: 0.15000000000000002 / n + 0.85 * c[v] for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(round(pr[v], 6), abs=2e-6)


def test_pagerank_weighted_heavier_edge_wins(spark):
    from deepie_spark.operators.graph import pagerank_weighted

    # s sends 9/10 of its mass to h, 1/10 to l
    rows = [("s", "h", 9), ("s", "l", 1)]
    df = spark.createDataFrame(rows, ["src", "dst", "weight"])
    got = {r.node: r.pagerank for r in pagerank_weighted(df, 2).collect()}
    assert got["h"] > got["l"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank_weighted(
            spark.createDataFrame([("a", "b", 0)], ["src", "dst", "weight"])
        ).collect()


def test_cocitation_coupling_hand_case(spark):
    import __spark_entry__  # noqa: F401  (module import parity)

    # x→a, x→b (cocited); a→t, b→t (coupled); c isolated-ish
    rows = [("x", "a"), ("x", "b"), ("a", "t"), ("b", "t"), ("c", "a")]
    lg = spark.createDataFrame(rows, ["s", "d"])
    x1 = lg.select("s", F.col("d").alias("a"))
    x2 = lg.select("s", F.col("d").alias("b"))
    cocite = {
        (r.a, r.b): r.n
        for r in x1.join(x2, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert cocite == {("a", "b"): 1}
    y1 = lg.select("d", F.col("s").alias("a"))
    y2 = lg.select("d", F.col("s").alias("b"))
    couple = {
        (r.a, r.b): r.n
        for r in y1.join(y2, "d")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert couple == {("a", "b"): 1, ("c", "x"): 1}


def test_rich_club_hand_case(spark):
    """K4 core + pendant leaves: at k=1 only the clique nodes qualify
    and they are fully interlinked (phi = 1)."""
    import __spark_entry__  # noqa: F401

    core = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
            ("b", "d"), ("c", "d")]
    pend = [("a", "p1"), ("b", "p2")]
    df = spark.createDataFrame(core + pend, ["src", "dst"])
    e = df.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = {r.a: r.n for r in und.groupBy("a").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # python twin over the same definitions
    edges = {tuple(sorted(x)) for x in core + pend}
    for k in range(1, 5):
        rich = {n for n, d in deg.items() if d > k}
        e_rich = sum(1 for a, b in edges if a in rich and b in rich)
        if len(rich) >= 2:
            phi = 2 * e_rich / (len(rich) * (len(rich) - 1))
            if k == 1:
                assert rich == {"a", "b", "c", "d"} and phi == 1.0


def test_percolation_profile_monotone(spark):
    """More retained edges can only grow the giant component and
    shrink (or keep) the per-edge component count; at p10=8 most of
    the graph survives."""
    from __spark_entry__ import q_percolation_profile

    rows = sorted(
        q_percolation_profile(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.p10,
    )
    assert [r.p10 for r in rows] == [2, 4, 6, 8]
    for a, b in zip(rows, rows[1:]):
        assert a.n_edges <= b.n_edges
        assert a.giant_size <= b.giant_size
    assert rows[-1].n_edges > 0 and rows[-1].giant_size >= 2


def test_katz_centrality_path_graph(spark):
    from deepie_spark.operators.graph import katz_centrality

    # path a->b->c->d, plus a duplicate edge that must dedup
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("c", "d")],
        ["src", "dst"],
    )
    got = {r.node: r for r in katz_centrality(df, max_len=3).collect()}
    assert (got["a"].w1, got["a"].w2, got["a"].w3) == (0, 0, 0)
    assert (got["b"].w1, got["b"].w2, got["b"].w3) == (1, 0, 0)
    assert (got["c"].w1, got["c"].w2, got["c"].w3) == (1, 1, 0)
    assert (got["d"].w1, got["d"].w2, got["d"].w3) == (1, 1, 1)
    # katz = w1/2 + w2/4 + w3/8 — exact binary fractions
    assert got["d"].katz == 0.875 and got["d"].katz_num == 7
    assert got["b"].katz == 0.5
    assert got["a"].katz == 0.0


def test_katz_centrality_star_and_python_twin(spark):
    import itertools

    import numpy as np

    from deepie_spark.operators.graph import katz_centrality

    rng = np.random.RandomState(17)
    nodes = [f"n{i}" for i in range(12)]
    edges = sorted(
        set(
            (nodes[rng.randint(12)], nodes[rng.randint(12)])
            for _ in range(40)
        )
    )
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r for r in katz_centrality(df, max_len=3).collect()}

    # python twin: dense walk counts
    idx = {n: i for i, n in enumerate(nodes)}
    a = np.zeros((12, 12), dtype=np.int64)
    for u, v in edges:
        a[idx[u], idx[v]] = 1
    w1 = a.sum(axis=0)
    w2 = (a @ a).sum(axis=0)
    w3 = (a @ a @ a).sum(axis=0)
    present = {u for e in edges for u in e}
    for n in present:
        i = idx[n]
        r = got[n]
        assert (r.w1, r.w2, r.w3) == (w1[i], w2[i], w3[i])
        assert r.katz_num == 4 * w1[i] + 2 * w2[i] + w3[i]
        assert r.katz == round(r.katz_num / 8.0, 6)
    assert set(got) == present

    with __import__("pytest").raises(ValueError):
        katz_centrality(df, max_len=0)


def test_graph_summary_hand_values(spark):
    from deepie_spark.operators.graph import graph_summary

    # star on 5 nodes: density 2·4/(5·4)=0.4, centralization 1.0
    star = spark.createDataFrame(
        [("c", x) for x in ("a", "b", "d", "e")], ["src", "dst"]
    )
    r = graph_summary(star).collect()[0]
    assert (r.n, r.m, r.max_deg) == (5, 4, 4)
    assert r.density == 0.4 and r.centralization == 1.0
    assert r.avg_deg == round(8 / 5, 6)
    # 4-cycle (regular): centralization 0
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    r = graph_summary(cyc).collect()[0]
    assert (r.n, r.m, r.max_deg) == (4, 4, 2)
    assert r.centralization == 0.0
    assert r.density == round(8 / 12, 6)
    # single edge: n=2 -> centralization NULL, density 1
    one = spark.createDataFrame([("a", "b")], ["src", "dst"])
    r = graph_summary(one).collect()[0]
    assert r.density == 1.0 and r.centralization is None


def test_densest_subgraph_extracts_planted_clique(spark):
    """Ring over 60 nodes (deg 2, density 1) + an 8-clique planted on
    nodes 0-7: round-0 density 81/60, after one peel only the clique
    survives (28/8 = 3.5 — the best snapshot).  The output must be
    exactly the clique members with within-snapshot degree 7, and the
    loop must reach empty well inside the oracle's 4 unrolled rounds
    (tracked via max_rounds monotonicity: 4 rounds == 30 rounds)."""
    from deepie_spark.operators.graph import densest_subgraph

    ring = [(i, (i + 1) % 60) for i in range(60)]
    clique = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    df = spark.createDataFrame(ring + clique, "src long, dst long")
    rows = densest_subgraph(df).collect()
    assert {r["entity"] for r in rows} == set(range(8))
    assert all(r["degree"] == 7 for r in rows)
    assert all(r["n_nodes"] == 8 and r["n_edges"] == 28 for r in rows)
    assert all(r["density"] == 3.5 for r in rows)
    # convergence: the capped run equals the uncapped fixpoint run
    capped = densest_subgraph(df, max_rounds=4).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, rows))


def test_densest_subgraph_regular_graph_keeps_round_zero(spark):
    """On a regular graph (a plain cycle) every node has deg == avg,
    so the very first peel removes everything — the earliest-round
    tie-break must return the FULL round-0 snapshot, not an empty or
    later one."""
    from deepie_spark.operators.graph import densest_subgraph

    cyc = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(cyc, "src long, dst long")
    rows = densest_subgraph(df).collect()
    assert {r["entity"] for r in rows} == set(range(5))
    assert all(r["n_nodes"] == 5 and r["n_edges"] == 5 for r in rows)
    assert all(r["density"] == 1.0 for r in rows)


def test_salsa_authority_two_components_and_mass(spark):
    """Two disconnected authority components; scores match the closed
    form by hand and total mass is exactly 1 as a sum of fractions."""
    from fractions import Fraction

    from deepie_spark.operators.graph import salsa_authority

    # component 1: hubs h1,h2 -> a,b ; h1 -> a, h1 -> b, h2 -> a
    # component 2: hub h3 -> c, d
    edges = [
        ("h1", "a"), ("h1", "b"), ("h2", "a"),
        ("h3", "c"), ("h3", "d"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r for r in salsa_authority(df).collect()}
    assert set(got) == {"a", "b", "c", "d"}
    # |A|=4; comp{a,b}: A_C=2, E_C=3, indeg a=2,b=1
    # comp{c,d}: A_C=2, E_C=2, indeg 1 each
    assert (got["a"].num, got["a"].den) == (2 * 2, 4 * 3)
    assert (got["b"].num, got["b"].den) == (2 * 1, 4 * 3)
    assert (got["c"].num, got["c"].den) == (2 * 1, 4 * 2)
    assert got["a"].component == "a" and got["c"].component == "c"
    mass = sum(Fraction(r.num, r.den) for r in got.values())
    assert mass == 1


def test_salsa_chain_component_fixpoint(spark):
    """A co-citation CHAIN (a~b via h1, b~c via h2, c~d via h3) needs
    several propagation rounds — pins the run-to-fixpoint loop."""
    from deepie_spark.operators.graph import salsa_authority

    edges = [
        ("h1", "a"), ("h1", "b"),
        ("h2", "b"), ("h2", "c"),
        ("h3", "c"), ("h3", "d"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r for r in salsa_authority(df).collect()}
    assert {r.component for r in got.values()} == {"a"}
    assert all(r.a_c == 4 and r.e_c == 6 and r.a_tot == 4
               for r in got.values())


def test_simrank_python_twin_random(spark):
    """simrank_pairs matches an exact-integer python SimRank-2 twin
    on a random graph; scores bounded by C = 1/4 and symmetric in
    construction (a<b pairs)."""
    import random
    from collections import defaultdict

    from deepie_spark.operators.graph import simrank_pairs

    rng = random.Random(13)
    nodes = [f"n{i}" for i in range(14)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2)))
                    for _ in range(22)})
    df = spark.createDataFrame(edges, "src string, dst string")
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    SC = 1 << 40

    def s1fp(u, v):
        if u == v:
            return SC
        c = len(adj[u] & adj[v])
        return (c * SC) // (4 * len(adj[u]) * len(adj[v]))

    want = {}
    for a in adj:
        for b in adj:
            if a < b and adj[a] & adj[b]:
                ssum = sum(s1fp(u, v) for u in adj[a] for v in adj[b])
                want[(a, b)] = (
                    s1fp(a, b), ssum // (4 * len(adj[a]) * len(adj[b]))
                )
    got = {(r.node_a, r.node_b): (r.s1_fp, r.s2_fp)
           for r in simrank_pairs(df).collect()}
    assert got == want
    assert all(s1 <= SC // 4 and s2 <= SC // 4 + SC // 16
               for s1, s2 in got.values())


def test_effective_diameter_hand_path(spark):
    """Path a-b-c-d-e: 20 ordered reachable pairs, hop histogram
    {1:8, 2:6, 3:4, 4:2}; 90% quantile -> h=3, diameter 4."""
    from deepie_spark.operators.graph import effective_diameter

    e = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(e, "src string, dst string")
    r = effective_diameter(df).collect()[0]
    assert (r.n_pairs, r.diameter, r.eff_diameter) == (20, 4, 3)
    # median variant: smallest h with 2*cum >= n_pairs -> h=2
    r2 = effective_diameter(df, q_num=1, q_den=2).collect()[0]
    assert r2.eff_diameter == 2


def test_degree_anonymity_hand(spark):
    """Star with 3 leaves + one isolated edge: degree classes
    {3:1 hub, 1:5}; hub is unique -> below k=2."""
    from deepie_spark.operators.graph import degree_anonymity

    e = [("h", "l1"), ("h", "l2"), ("h", "l3"), ("x", "y")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r.degree: r for r in degree_anonymity(df, k=2).collect()}
    assert got[3].class_n == 1 and not got[3].is_k_anonymous
    assert got[1].class_n == 5 and got[1].is_k_anonymous
    assert got[1].n_below_k == 1
    assert got[1].violation_share == round(1 / 6, 6)


def test_conductance_barbell(spark):
    """Two triangles joined by one bridge edge: each community has
    cut 1, vol 7, phi = 1/7 (m = 7, 2m - vol = 7)."""
    from deepie_spark.operators.graph import conductance

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(n, n // 4) for n in range(1, 7)], "entity long, community long"
    )
    got = {r.community: r for r in conductance(edges, labels).collect()}
    assert set(got) == {0, 1}
    for c in (0, 1):
        assert got[c].n_nodes == 3
        assert got[c].vol == 7
        assert got[c].cut == 1
        assert got[c].phi_den == 7
        assert got[c].conductance == round(1 / 7, 6)


def test_conductance_single_community_null(spark):
    """One community owning all volume: phi_den = 0 -> NULL phi."""
    from deepie_spark.operators.graph import conductance

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "entity long, community long"
    )
    r = conductance(edges, labels).collect()[0]
    assert r.cut == 0 and r.phi_den == 0 and r.conductance is None


def test_bipartite_butterflies_hand(spark):
    from deepie_spark.operators.graph import bipartite_butterflies

    # K_{2,2} on (u1,u2)x(a,b) = exactly one butterfly; c also hangs
    # off u1 alone
    rows = [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"),
            ("u1", "c"), ("u1", "a")]  # dup edge must not double-count
    df = spark.createDataFrame(rows, ["l", "r"])
    got = {(r["r1"], r["r2"]): (r["n_common"], r["butterflies2"])
           for r in bipartite_butterflies(df, "l", "r").collect()}
    assert got[("a", "b")] == (2, 2)   # one butterfly, doubled
    assert got[("a", "c")] == (1, 0)
    assert got[("b", "c")] == (1, 0)


def test_bipartite_butterflies_vs_bruteforce(spark):
    from itertools import combinations

    from deepie_spark.operators.graph import bipartite_butterflies

    edges = sorted({((i * 7 + j * 3) % 5, (i * 11 + j) % 4)
                    for i in range(6) for j in range(5)})
    df = spark.createDataFrame(
        [(f"l{l}", f"r{r}") for l, r in edges], ["l", "r"]
    )
    adj = {}
    for l, r in edges:
        adj.setdefault(f"l{l}", set()).add(f"r{r}")
    want = {}
    rights = sorted({f"r{r}" for _, r in edges})
    for r1, r2 in combinations(rights, 2):
        c = sum(1 for s in adj.values() if r1 in s and r2 in s)
        if c >= 1:
            want[(r1, r2)] = (c, c * (c - 1))
    got = {(r["r1"], r["r2"]): (r["n_common"], r["butterflies2"])
           for r in bipartite_butterflies(df, "l", "r").collect()}
    assert got == want


def test_bowtie_decomposition_hand(spark):
    from deepie_spark.operators.graph import bowtie_decomposition

    # core cycle a<->b; in: i1 -> a; out: b -> o1 -> o2;
    # tendril: i1 -> t1 (from IN, never reaches core);
    # disconnected: x1 -> x2
    rows = [("a", "b"), ("b", "a"), ("i1", "a"), ("b", "o1"),
            ("o1", "o2"), ("i1", "t1"), ("x1", "x2")]
    df = spark.createDataFrame(rows, ["src", "dst"])
    got = {r["entity"]: r["component"]
           for r in bowtie_decomposition(df).collect()}
    assert got == {
        "a": "CORE", "b": "CORE", "i1": "IN", "o1": "OUT",
        "o2": "OUT", "t1": "TENDRIL", "x1": "DISCONNECTED",
        "x2": "DISCONNECTED",
    }


def test_bowtie_synthesized_class_counts(spark):
    import __spark_entry__ as entry

    got = entry.q_web_bowtie(spark, "/root/testdata/sf0.01").collect()
    counts = {}
    for r in got:
        counts[r["component"]] = counts.get(r["component"], 0) + 1
    assert counts == {"CORE": 10, "IN": 15, "OUT": 15,
                      "TENDRIL": 8, "DISCONNECTED": 10}


def test_coreness_hand(spark):
    from deepie_spark.operators.graph import coreness

    # triangle a-b-c (coreness 2) with pendant d-a (coreness 1) and
    # isolated pair e-f (coreness 1)
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("e", "f")]
    df = spark.createDataFrame(rows, ["src", "dst"])
    got = {r["entity"]: r["coreness"] for r in coreness(df).collect()}
    assert got == {"a": 2, "b": 2, "c": 2, "d": 1, "e": 1, "f": 1}


def test_coreness_matches_kcore_membership(spark):
    from deepie_spark.operators.graph import coreness, kcore

    # deterministic random-ish graph; coreness >= k <=> in k-core
    rows = [(f"n{(i * 7) % 11}", f"n{(i * 5 + 3) % 11}")
            for i in range(25)]
    df = spark.createDataFrame(rows, ["src", "dst"])
    cn = {r["entity"]: r["coreness"] for r in coreness(df).collect()}
    for k in (1, 2, 3):
        members = {r["entity"] for r in kcore(df, k=k).collect()}
        assert members == {v for v, c in cn.items() if c >= k}


def test_coreness_oracle_round_bound(spark):
    """The unrolled SQL oracle runs 8 h-index rounds; Spark must
    reach its fixpoint within that many on the gated query graph."""
    import __spark_entry__ as entry
    from deepie_spark.operators.graph import coreness

    t = entry.q_triples_rules(spark, "/root/testdata/sf0.01").select(
        entry.F.col("subj").alias("src"),
        entry.F.col("obj").alias("dst"),
    )
    # raises RuntimeError if > 8 rounds were needed
    assert coreness(t, max_rounds=8).count() > 0


def test_four_clique_count_vs_bruteforce(spark):
    """K5-plus-appendages hand graph vs an itertools brute force."""
    from itertools import combinations

    from deepie_spark.operators.graph import four_clique_count

    # K5 on 1..5, a triangle 5-6-7 hanging off, a pendant 8, and a
    # duplicate + reversed + self-loop edge to exercise canonicalization
    edges = (
        list(combinations([1, 2, 3, 4, 5], 2))
        + [(5, 6), (5, 7), (6, 7), (7, 8)]
        + [(2, 1), (1, 2), (3, 3)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = four_clique_count(df).collect()[0]

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    tri = sum(
        1
        for c in combinations(nodes, 3)
        if all(tuple(sorted(p)) in und for p in combinations(c, 2))
    )
    k4 = sum(
        1
        for c in combinations(nodes, 4)
        if all(tuple(sorted(p)) in und for p in combinations(c, 2))
    )
    assert (r.n_nodes, r.n_edges) == (len(nodes), len(und))
    assert r.n_triangles == tri == 11
    assert r.n_4cliques == k4 == 5  # exactly the C(5,4) of the K5


def test_avg_neighbor_degree_star_plus_triangle(spark):
    """Star (hub 0 — leaves 1..4) plus a triangle 5-6-7: knn values
    match hand computation per degree class."""
    from deepie_spark.operators.graph import avg_neighbor_degree

    edges = [(0, i) for i in (1, 2, 3, 4)] + [(5, 6), (5, 7), (6, 7)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.deg: r for r in avg_neighbor_degree(df).collect()}
    # leaves: deg 1, neighbor deg 4 -> knn = 4; hub: deg 4, nbrs all
    # deg 1 -> knn = 1; triangle nodes: deg 2, nbr degs 2,2 -> knn 2
    assert got[1].n_nodes == 4 and got[1].knn == 4.0
    assert got[4].n_nodes == 1 and got[4].knn == 1.0
    assert got[2].n_nodes == 3 and got[2].knn == 2.0
    assert got[1].sum_nbr_deg == 16


def test_kclique_communities3_overlap_semantics(spark):
    """CPM k=3: edge-sharing triangles merge; vertex-sharing
    triangles stay separate communities that OVERLAP on the shared
    vertex; edges outside any triangle join no community."""
    from deepie_spark.operators.graph import kclique_communities3

    edges = [
        # community 1: two triangles glued on edge (b, c)
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
        # community 2: triangle sharing ONLY vertex d with comm 1
        ("d", "e"), ("d", "f"), ("e", "f"),
        # pendant edge: no triangle, no community
        ("f", "g"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = kclique_communities3(df).collect()
    comm = {}
    for r in rows:
        comm.setdefault(r.community, set()).add(r.entity)
    assert len(comm) == 2
    members = sorted(comm.values(), key=len, reverse=True)
    assert members[0] == {"a", "b", "c", "d"}
    assert members[1] == {"d", "e", "f"}
    # overlap: d sits in both; g in none
    assert sum("d" in m for m in comm.values()) == 2
    assert all("g" not in m for m in comm.values())
    # labels are the lexicographically-smallest member edge key
    assert set(comm) == {"a|b", "d|e"}


def test_attack_robustness_star_collapse(spark):
    """A star collapses at k=1; a ring survives hub removal."""
    from deepie_spark.operators.graph import attack_robustness

    # star 0-(1..6) plus ring 10-11-12-13-10
    edges = [(0, i) for i in range(1, 7)] + [
        (10, 11), (11, 12), (12, 13), (13, 10),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r.k_removed: r for r in attack_robustness(df).collect()}
    n0 = 11
    assert out[0].gcc_size == 7 and out[0].n_edges_left == 10
    assert out[0].gcc_share == round(7 / n0, 6)
    # hub 0 (deg 6) removed: star leaves become isolated (drop out of
    # the edge set); ring (4 nodes) is now the giant component
    assert out[1].gcc_size == 4
    assert out[1].n_nodes_left == 4 and out[1].n_edges_left == 4
    # k=2 removes a ring node too (deg 2, smallest id 10): path of 3
    assert out[2].gcc_size == 3 and out[2].n_edges_left == 2
    assert out[4].gcc_size <= out[2].gcc_size <= out[1].gcc_size


def test_motif_census_bruteforce(spark):
    from itertools import combinations, permutations

    from deepie_spark.operators.graph import motif_census

    # triangle + 4-cycle + 3-star sharing a node, plus a pendant
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # triangle
        ("c", "d"), ("d", "e"), ("e", "f"), ("f", "c"),  # 4-cycle
        ("f", "g"), ("f", "h"), ("f", "i"),          # star at f
        ("i", "j"),                                  # pendant
        ("b", "a"), ("a", "b"),                      # dup / reversed
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = motif_census(df).collect()[0]

    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    adj = {n: set() for n in nodes}
    for e in und:
        x, y = sorted(e)
        adj[x].add(y)
        adj[y].add(x)

    def connected(x, y):
        return y in adj[x]

    wedges = sum(
        1
        for c in nodes
        for p, q in combinations(sorted(adj[c]), 2)
    )
    stars3 = sum(
        1 for c in nodes for _ in combinations(sorted(adj[c]), 3)
    )
    triangles = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if connected(x, y) and connected(y, z) and connected(x, z)
    )
    paths3 = (
        sum(
            1
            for p in permutations(nodes, 4)
            if connected(p[0], p[1])
            and connected(p[1], p[2])
            and connected(p[2], p[3])
        )
        // 2
    )
    cycles4 = (
        sum(
            1
            for p in permutations(nodes, 4)
            if connected(p[0], p[1])
            and connected(p[1], p[2])
            and connected(p[2], p[3])
            and connected(p[3], p[0])
        )
        // 8
    )
    assert r.n_nodes == len(nodes)
    assert r.n_edges == len(und)
    assert r.wedges == wedges
    assert r.stars3 == stars3
    assert r.triangles == triangles
    assert r.paths3 == paths3
    assert r.cycles4 == cycles4
    assert (r.triangles, r.cycles4) == (1, 1)


def test_balanced_triangles_census_vs_python(spark):
    from itertools import combinations

    from deepie_spark.operators.graph import balanced_triangles

    # K5 on string nodes: C(5,3) = 10 triangles, every pair an edge
    nodes = ["a", "b", "c", "d", "e"]
    edges = [(x, y) for x, y in combinations(nodes, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = balanced_triangles(df).collect()[0]
    assert r.n_edges == 10 and r.n_triangles == 10

    def neg(x, y):
        a, b = min(x, y), max(x, y)
        h = 0
        for ch in f"{a}|{b}":
            h = (h * 131 + ord(ch)) % 2147483647
        return h % 2

    n_bal = sum(
        1
        for t in combinations(nodes, 3)
        if (neg(t[0], t[1]) + neg(t[0], t[2]) + neg(t[1], t[2])) % 2 == 0
    )
    assert r.n_balanced == n_bal
    assert r.n_unbalanced == 10 - n_bal
    assert r.n_neg_edges == sum(neg(x, y) for x, y in edges)


def test_local_clustering_hist_python_twin(spark):
    from itertools import combinations

    from deepie_spark.operators.graph import local_clustering_hist

    # K4 plus a pendant: a,b,c,d complete; e attached to a
    edges = list(combinations(["a", "b", "c", "d"], 2)) + [("a", "e")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = {r.bin: r for r in local_clustering_hist(df).collect()}
    # b,c,d: deg 3, t 3 -> lcc 1.0 -> bin 9; a: deg 4, t 3 -> 0.5 ->
    # bin 5; e: deg 1 excluded
    assert rows[9].n_nodes == 3 and rows[9].sum_tri == 9
    assert rows[5].n_nodes == 1 and rows[5].sum_tri == 3
    assert rows[5].sum_lcc_fp == (2 * 3 * 1048576) // (4 * 3)
    assert set(rows) == {5, 9}


def test_edge_embeddedness_k4_plus_pendant(spark):
    from itertools import combinations

    from deepie_spark.operators.graph import edge_embeddedness_hist

    edges = list(combinations(["a", "b", "c", "d"], 2)) + [("a", "e")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = {r.emb: r.n_edges for r in edge_embeddedness_hist(df).collect()}
    # K4 edges each share 2 common neighbors; the pendant shares none
    assert rows == {0: 1, 2: 6}


def _skewed_graph():
    """A hub with the smallest node id joined to 40 spokes, a K5 and a
    K4 (equal degrees inside each), a triangle through the hub, seeded
    random spoke-spoke edges, and a duplicate, a reversed duplicate and
    a self-loop that the edge set must drop."""
    from itertools import combinations

    rng = np.random.RandomState(23)
    spokes = [f"s{i:02d}" for i in range(40)]
    edges = [("a00", s) for s in spokes]
    edges += list(combinations([f"k{i}" for i in range(5)], 2))
    edges += list(combinations([f"q{i}" for i in range(4)], 2))
    edges += [("k0", "q0"), ("s00", "s01")]
    edges += [
        (spokes[i], spokes[j])
        for i, j in rng.randint(0, 40, size=(30, 2))
        if i != j
    ]
    return edges + [("s00", "a00"), ("a00", "s00"), ("k1", "k1")]


@pytest.mark.parametrize("case", ["skewed", "empty", "self_loops"])
def test_triangles_listing_orientation_and_bound(spark, case):
    """``_triangles``: every triangle exactly once (as a sorted node set,
    against brute force), at its lowest-rank apex; every oriented edge
    from the lower (deg, node) rank to the higher, each undirected edge
    once; out-degree at most ⌊√(2m)⌋ — the bound node-id orientation
    breaks on a hub with the smallest id."""
    from itertools import combinations
    from math import isqrt

    from deepie_spark.operators.graph import _sym_edges, _triangles

    edges = {
        "skewed": _skewed_graph(),
        "empty": [],
        "self_loops": [("x", "x"), ("y", "y")],
    }[case]
    nbrs: dict = {}
    for s, d in edges:
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    und = {tuple(sorted((s, d))) for s, d in edges if s != d}
    want_tri = {
        t for t in combinations(sorted(nbrs), 3)
        if t[1] in nbrs[t[0]] and t[2] in nbrs[t[0]] and t[2] in nbrs[t[1]]
    }
    rank = {n: (len(v), n) for n, v in nbrs.items()}

    df = spark.createDataFrame(edges, "src string, dst string")
    deg, oriented, tri = _triangles(_sym_edges(df, "src", "dst"))
    assert {r.node: r.deg for r in deg.collect()} == {
        n: len(v) for n, v in nbrs.items()
    }
    o = oriented.collect()
    assert len(o) == len(und)
    assert {tuple(sorted((r.u, r.v))) for r in o} == und
    assert all(
        (r.du, r.u) == rank[r.u] and (r.dv, r.v) == rank[r.v]
        and rank[r.u] < rank[r.v]
        for r in o
    )
    out_deg: dict = {}
    for r in o:
        out_deg[r.u] = out_deg.get(r.u, 0) + 1
    assert max(out_deg.values(), default=0) <= isqrt(2 * len(und))
    got = [(r.u, r.v, r.w) for r in tri.collect()]
    assert len({tuple(sorted(t)) for t in got}) == len(got)
    assert {tuple(sorted(t)) for t in got} == want_tri
    assert all(rank[u] < rank[v] < rank[w] for u, v, w in got)
    if case == "skewed":
        assert len(nbrs["a00"]) == 40 > isqrt(2 * len(und))
        assert len(want_tri) > 10 + 4 + 1
