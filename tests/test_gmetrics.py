"""Graph-metric operators vs brute-force python oracles: k-core peeling,
k-truss support peeling, local/global clustering coefficients, degree
assortativity, reciprocity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphanalytics_spark import fixtures, graph
from graphanalytics_spark.operators import (
    components,
    hyperball,
    labelprop,
    pagerank,
    triangles,
)
from graphanalytics_spark.operators.kcore import kcore
from graphanalytics_spark.operators.ktruss import ktruss
from graphanalytics_spark.operators.sssp import sssp


def _random_pairs(n=50, p=0.12, seed=11):
    rng = np.random.default_rng(seed)
    pairs = [(i, j) for i in range(n) for j in range(i + 1, n) if rng.random() < p]
    # canonicalize the wrap-around ring edge (n-1, 0) too — the brute-force
    # oracles below assume every pair has a < b exactly once
    pairs += [tuple(sorted((i, (i + 1) % n))) for i in range(n)]
    return sorted(set(pairs)), n


@pytest.fixture(scope="module")
def gm_graph(spark):
    pairs, n = _random_pairs()
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    return graph.canonicalize(df), pairs, n


def _adj(pairs, n):
    adj = {i: set() for i in range(n)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def _peel(pairs, n, k):
    """Brute-force k-core: remove < k vertices until fixed point."""
    adj = _adj(pairs, n)
    alive = {v for v in adj if adj[v]}
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {v: len(adj[v] & alive) for v in alive}


def test_kcore_matches_peel_oracle(spark, gm_graph):
    ec, pairs, n = gm_graph
    for k in (2, 3, 4):
        expected = _peel(pairs, n, k)
        got = {r["vid"]: r["core_degree"] for r in kcore(spark, ec, k=k).collect()}
        assert got == expected, f"k={k}"


def test_kcore_invariants(spark, gm_graph):
    ec, pairs, n = gm_graph
    core = {r["vid"] for r in kcore(spark, ec, k=3).collect()}
    adj = _adj(pairs, n)
    # min within-core degree >= k
    assert all(len(adj[v] & core) >= 3 for v in core)
    # maximality: no removed vertex could rejoin
    assert all(len(adj[v] & core) < 3 for v in adj if v not in core)


def test_kcore_planted_clique(spark):
    # 6-clique + a pendant path: the 5-core is exactly the clique
    clique = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    path = [(5, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in clique + path],
        "src long, dst long, weight double",
    )
    got = {r["vid"]: r["core_degree"] for r in kcore(spark, df, k=5).collect()}
    assert got == {v: 5 for v in range(6)}
    assert kcore(spark, df, k=7).count() == 0


def _truss_peel(pairs, k):
    """Brute-force k-truss: drop edges with < k-2 triangles until fixed."""
    edges = set(pairs)

    def support(e, es):
        a, b = e
        nbrs = lambda v: {x for (p, q) in es for x in ((q,) if p == v else (p,) if q == v else ())}
        return len(nbrs(a) & nbrs(b))

    changed = True
    while changed:
        sup = {e: support(e, edges) for e in edges}
        keep = {e for e in edges if sup[e] >= k - 2}
        changed = keep != edges
        edges = keep
    return {e: support(e, edges) for e in edges}


def test_ktruss_matches_bruteforce(spark, gm_graph):
    from graphanalytics_spark.operators.ktruss import ktruss

    ec, pairs, n = gm_graph
    for k in (3, 4):
        expected = _truss_peel(pairs, k)
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in ktruss(spark, ec, k=k).collect()
        }
        assert got == expected


def test_ktruss_planted_clique(spark):
    from graphanalytics_spark.operators.ktruss import ktruss

    # 5-clique + pendant path: the 4-truss is exactly the clique (every
    # clique edge sits in 3 triangles), and no 6-truss exists
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(4, 5), (5, 6)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in clique + path],
        "src long, dst long, weight double",
    )
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss(spark, df, k=4).collect()
    }
    assert got == {(a, b): 3 for (a, b) in clique}
    assert ktruss(spark, df, k=6).count() == 0


def test_ktruss_k2_keeps_everything_with_support(spark):
    from graphanalytics_spark.operators.ktruss import ktruss

    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 1.0)],
        "src long, dst long, weight double",
    )
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss(spark, df, k=2).collect()
    }
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1, (2, 3): 0}


def test_clustering_local_matches_bruteforce(spark, gm_graph):
    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    got = {r["vid"]: r for r in triangles.clustering_local(spark, ec).collect()}
    for v in range(n):
        d = len(adj[v])
        t = sum(
            1
            for u in adj[v]
            for w in adj[v]
            if u < w and w in adj[u]
        )
        lcc = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert got[v]["degree"] == d
        assert got[v]["n_triangles"] == t
        assert abs(got[v]["lcc"] - lcc) < 1e-8
    assert set(got) == set(range(n))


def test_clustering_global_consistent(spark, gm_graph):
    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    row = triangles.clustering_global(spark, ec).first()
    n_tri = sum(
        1
        for a, b in pairs
        for c in adj[a] & adj[b]
        if c > b
    )
    wedges = sum(len(adj[v]) * (len(adj[v]) - 1) // 2 for v in range(n))
    assert row["n_triangles"] == n_tri
    assert row["n_wedges"] == wedges
    assert abs(row["global_cc"] - 3.0 * n_tri / wedges) < 1e-8
    lccs = [
        2.0
        * sum(1 for u in adj[v] for w in adj[v] if u < w and w in adj[u])
        / (len(adj[v]) * (len(adj[v]) - 1))
        if len(adj[v]) >= 2
        else 0.0
        for v in range(n)
    ]
    assert abs(row["avg_lcc"] - float(np.mean(lccs))) < 1e-5


def test_assortativity_matches_numpy(spark, gm_graph):
    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    deg = {v: len(adj[v]) for v in adj}
    xs = [deg[a] for a, b in pairs] + [deg[b] for a, b in pairs]
    ys = [deg[b] for a, b in pairs] + [deg[a] for a, b in pairs]
    expected = float(np.corrcoef(xs, ys)[0, 1])
    row = graph.degree_assortativity(graph.symmetrize(ec)).first()
    assert row["n_edge_ends"] == 2 * len(pairs)
    assert abs(row["assortativity"] - expected) < 1e-5


def test_assortativity_star_is_negative(spark):
    # a star is maximally disassortative
    star = [(0, i) for i in range(1, 8)] + [(1, 2)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in star], "src long, dst long, weight double"
    )
    row = graph.degree_assortativity(graph.symmetrize(df)).first()
    assert row["assortativity"] < -0.5


def test_reciprocity(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (4, 4), (0, 1)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    row = graph.reciprocity(df).first()
    # distinct non-loop pairs: (0,1),(1,0),(1,2),(2,3),(3,2) -> 5 edges,
    # reciprocated: (0,1),(1,0),(2,3),(3,2) -> 4
    assert row["n_edges"] == 5
    assert row["n_reciprocal"] == 4
    assert abs(row["reciprocity"] - 0.8) < 1e-12


def test_reciprocity_empty(spark):
    df = spark.createDataFrame([], "src long, dst long, weight double")
    row = graph.reciprocity(df).first()
    assert row["n_edges"] == 0 and row["n_reciprocal"] == 0
    assert row["reciprocity"] == 0.0


def _dijkstra(wadj, source):
    import heapq

    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        d, v = heapq.heappop(pq)
        if d > dist.get(v, float("inf")):
            continue
        for u, w in wadj.get(v, []):
            nd = d + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(pq, (nd, u))
    return dist


def test_sssp_matches_dijkstra(spark, gm_graph):
    from graphanalytics_spark.operators.sssp import sssp

    ec, pairs, n = gm_graph
    # deterministic integer weights derived from the pair
    weighted = [
        (a, b, float(1 + (a * 7 + b * 13) % 5)) for a, b in pairs
    ]
    df = spark.createDataFrame(weighted, "src long, dst long, weight double")
    wadj = {}
    for a, b, w in weighted:
        wadj.setdefault(a, []).append((b, w))
        wadj.setdefault(b, []).append((a, w))
    expected = _dijkstra(wadj, 0)
    got = {r["vid"]: r["dist"] for r in sssp(spark, df, source=0).collect()}
    assert got.keys() == expected.keys()
    for v in expected:
        assert abs(got[v] - expected[v]) < 1e-9


def test_sssp_directed_and_negative_reject(spark):
    from graphanalytics_spark.operators.sssp import sssp

    df = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 1.0), (2, 0, 1.0)],
        "src long, dst long, weight double",
    )
    got = {r["vid"]: r["dist"] for r in sssp(spark, df, 0, directed=True).collect()}
    assert got == {0: 0.0, 1: 5.0, 2: 6.0}
    neg = spark.createDataFrame(
        [(0, 1, -1.0)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError):
        sssp(spark, neg, 0)


def test_hits_matches_numpy_replay(spark):
    from graphanalytics_spark.operators.hits import hits

    edges = [
        (0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0),
        (3, 2, 1.0), (3, 1, 1.0), (1, 3, 1.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    verts = sorted({v for e in edges for v in e[:2]})
    idx = {v: i for i, v in enumerate(verts)}
    import numpy as np

    W = np.zeros((len(verts), len(verts)))
    for s, d, w in edges:
        W[idx[s], idx[d]] = w
    h = np.ones(len(verts))
    a = None
    for _ in range(5):
        a = W.T @ h
        a = np.round(a / (np.linalg.norm(a) or 1.0), 12)
        h = W @ a
        h = np.round(h / (np.linalg.norm(h) or 1.0), 12)
    got = {r["vid"]: r for r in hits(spark, df, iterations=5).collect()}
    assert set(got) == set(verts)
    for v in verts:
        assert abs(got[v]["authority"] - round(float(a[idx[v]]), 9)) < 1e-9
        assert abs(got[v]["hub"] - round(float(h[idx[v]]), 9)) < 1e-9
    # L2 normalization holds
    assert abs(sum(got[v]["authority"] ** 2 for v in verts) - 1.0) < 1e-6
    assert abs(sum(got[v]["hub"] ** 2 for v in verts) - 1.0) < 1e-6


def _brandes(adj, nodes):
    """Reference Brandes (ordered pairs), plain python."""
    import collections

    bc = {v: 0.0 for v in nodes}
    for s in nodes:
        S = []
        P = {v: [] for v in nodes}
        sigma = {v: 0.0 for v in nodes}
        sigma[s] = 1.0
        d = {v: -1 for v in nodes}
        d[s] = 0
        Q = collections.deque([s])
        while Q:
            v = Q.popleft()
            S.append(v)
            for w in adj[v]:
                if d[w] < 0:
                    d[w] = d[v] + 1
                    Q.append(w)
                if d[w] == d[v] + 1:
                    sigma[w] += sigma[v]
                    P[w].append(v)
        delta = {v: 0.0 for v in nodes}
        while S:
            w = S.pop()
            for v in P[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_matches_brandes(spark, gm_graph):
    from graphanalytics_spark.operators.betweenness import betweenness

    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    expected = _brandes(adj, list(range(n)))
    got = {
        r["vid"]: r["betweenness"]
        for r in betweenness(spark, ec).collect()
    }
    for v in range(n):
        assert abs(got.get(v, 0.0) - expected[v]) < 1e-6, v


def test_betweenness_sampled_pivots(spark, gm_graph):
    from graphanalytics_spark.operators.betweenness import betweenness

    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    seeds = [0, 7, 21]
    # per-pivot dependency sums for just those sources
    import collections

    expected = {v: 0.0 for v in adj}
    for s in seeds:
        S, P = [], {v: [] for v in adj}
        sigma = {v: 0.0 for v in adj}
        sigma[s] = 1.0
        d = {v: -1 for v in adj}
        d[s] = 0
        Q = collections.deque([s])
        while Q:
            v = Q.popleft()
            S.append(v)
            for w in adj[v]:
                if d[w] < 0:
                    d[w] = d[v] + 1
                    Q.append(w)
                if d[w] == d[v] + 1:
                    sigma[w] += sigma[v]
                    P[w].append(v)
        delta = {v: 0.0 for v in adj}
        while S:
            w = S.pop()
            for v in P[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                expected[w] += delta[w]
    got = {
        r["vid"]: r["betweenness"]
        for r in betweenness(spark, ec, seeds=seeds).collect()
    }
    for v in adj:
        assert abs(got.get(v, 0.0) - expected[v]) < 1e-6, v


def test_coloring_proper_and_grundy(spark, gm_graph):
    from graphanalytics_spark.operators.coloring import (
        greedy_coloring,
        verify_coloring,
    )

    ec, pairs, n = gm_graph
    adj = _adj(pairs, n)
    col = greedy_coloring(spark, ec)
    rows = {r["vid"]: r["color"] for r in col.collect()}
    assert set(rows) == set(range(n))
    max_deg = max(len(adj[v]) for v in adj)
    # proper + within the greedy bound
    for a, b in pairs:
        assert rows[a] != rows[b]
    assert max(rows.values()) <= max_deg
    v = verify_coloring(spark, ec, col)
    assert v == {"conflicts": 0, "uncolored": 0, "grundy_violations": 0}
    # deterministic for a given seed
    rows2 = {r["vid"]: r["color"] for r in greedy_coloring(spark, ec).collect()}
    assert rows2 == rows


def test_coloring_star_uses_two_colors(spark):
    from graphanalytics_spark.operators.coloring import greedy_coloring

    star = [(0, i, 1.0) for i in range(1, 9)]
    df = spark.createDataFrame(star, "src long, dst long, weight double")
    rows = {r["vid"]: r["color"] for r in greedy_coloring(spark, df).collect()}
    assert max(rows.values()) <= 1  # a star is 2-chromatic
    assert all(rows[0] != rows[i] for i in range(1, 9))


def test_hyperball_per_vertex_matches_exact_on_small_graph(spark):
    """Sparse-mode HLL is exact at these cardinalities, so the per-vertex
    HyperBall harmonic/closeness must equal the brute-force BFS values."""
    from graphanalytics_spark.operators.hyperball import hyperball_per_vertex

    pairs = [(0, 1), (1, 2), (2, 3), (4, 5)]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def dist_from(s):
        d, frontier = {s: 0}, [s]
        while frontier:
            nxt = []
            for v in frontier:
                for u in adj[v]:
                    if u not in d:
                        d[u] = d[v] + 1
                        nxt.append(u)
            frontier = nxt
        return d

    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    rows = {
        r["vid"]: r
        for r in hyperball_per_vertex(
            spark, graph.canonicalize(df), max_t=10
        ).collect()
    }
    assert set(rows) == set(adj)
    for v in adj:
        d = dist_from(v)
        reach = {u: dv for u, dv in d.items() if dv > 0}
        harmonic = sum(1.0 / dv for dv in reach.values())
        sum_dist = float(sum(reach.values()))
        r = rows[v]
        assert r["n_reachable"] == len(reach)
        assert abs(r["harmonic"] - harmonic) < 1e-9
        assert abs(r["sum_dist"] - sum_dist) < 1e-9
        assert abs(r["closeness"] - len(reach) / sum_dist) < 1e-9


def test_hyperball_matches_exact_on_small_graph(spark):
    """At small cardinalities the datasketches HLL is exact (sparse
    mode), so the HyperBall curve must equal the exact neighborhood
    function of a hand-checkable graph."""
    from graphanalytics_spark.operators.hyperball import (
        effective_diameter,
        neighborhood_function,
    )

    # path 0-1-2-3 plus isolated pair 4-5
    pairs = [(0, 1), (1, 2), (2, 3), (4, 5)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    curve = neighborhood_function(spark, graph.canonicalize(df), max_t=10)
    got = [row["n_pairs_est"] for row in curve]
    # exact N(t): t=0 self pairs 6; t=1: path 0..3 contributes 4+2*3=10? ->
    # ball sizes: [2,3,3,2] =10, pair 4-5: [2,2]=4 -> 14
    # t=2: [3,4,4,3]=14 +4 = 18; t=3: [4,4,4,4]=16+4=20; stable after
    assert got[0] == 6.0
    assert got[1] == 14.0
    assert got[2] == 18.0
    assert got[3] == 20.0
    assert got[-1] == 20.0
    assert all(b >= a for a, b in zip(got, got[1:]))
    assert effective_diameter(curve) == 2  # 0.9*20 = 18, first reached at t=2


def test_ktruss_mid_id_hub_matches_bruteforce(spark):
    """r6 optimization gate: the peel now runs in (degree, id)-oriented
    space (bounded wedge fan-out on hubs — the former src<dst
    id-orientation was quadratic on a mid-id mega-hub). The re-orientation
    must not move a single output row: plant a MID-id hub (its id sits
    between its neighbors' ids, the worst case for id-orientation) over a
    triangle mesh and compare against the pure-python peel."""
    from graphanalytics_spark.operators.ktruss import ktruss

    hub = 50
    spokes = [(hub, i) for i in range(40)] + [(hub, 60 + i) for i in range(40)]
    mesh = [(100 + a, 100 + b) for a in range(8) for b in range(a + 1, 8)]
    glue = [(0, 100), (1, 100), (0, 1)]  # one triangle touching the hub side
    pairs = {(min(a, b), max(a, b)) for a, b in spokes + mesh + glue}
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(pairs)],
        "src long, dst long, weight double",
    )
    for k in (3, 4):
        expected = _truss_peel(pairs, k)
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in ktruss(spark, df, k=k).collect()
        }
        assert got == expected


def test_hits_rejects_zero_iterations(spark):
    from graphanalytics_spark.operators.hits import hits

    df = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="iterations"):
        hits(spark, df, iterations=0)


def _louvain_phase(spark, df, rounds):
    from graphanalytics_spark.operators.louvain import louvain

    phases = []
    louvain(spark, df, max_phases=1, max_rounds_per_phase=rounds, metrics=phases)
    return phases


def _ring_pr(spark, fn, **kw):
    """PageRank-family converged run: on a directed 8-ring both ways the
    uniform seed state is already stationary."""
    ring = [(i, (i + 1) % 8, 1.0) for i in range(8)]
    df = spark.createDataFrame(
        ring + [(b, a, w) for a, b, w in ring], "src long, dst long, weight double"
    )
    return fn(spark, df, **kw).collect()


def _seeds(spark):
    return spark.createDataFrame([(v,) for v in range(8)], "vid long")


# (cap, truncated call, converged call) per ported operator; the loud ones
# name the operator and its cap in the warning
_TRUNCATION_CASES = {
    "pagerank": ("max_iter", lambda sp, df: pagerank.pagerank(sp, df, max_iter=2),
                 lambda sp, df: _ring_pr(sp, pagerank.pagerank)),
    "pagerank_csr": ("max_iter", lambda sp, df: pagerank.pagerank_csr(sp, df, max_iter=2),
                     lambda sp, df: _ring_pr(sp, pagerank.pagerank_csr)),
    "personalized_pagerank": (
        "max_iter",
        lambda sp, df: pagerank.personalized_pagerank(sp, df, _seeds(sp), max_iter=2),
        lambda sp, df: _ring_pr(sp, pagerank.personalized_pagerank, seeds=_seeds(sp))),
    "connected_components": (
        "max_iter", lambda sp, df: components.connected_components(sp, df, max_iter=1),
        lambda sp, df: components.connected_components(sp, df)),
    "label_propagation": (
        "max_iter", lambda sp, df: labelprop.label_propagation(sp, df, max_iter=1),
        # synchronous LPA oscillates on a path (a bipartite graph)
        lambda sp, df: labelprop.label_propagation(
            sp, fixtures.edges_df(sp, fixtures.TWO_TRIANGLES_BRIDGE))),
    "kcore": ("max_rounds", lambda sp, df: kcore(sp, df, k=2, max_rounds=1),
              lambda sp, df: kcore(sp, df, k=2)),
    "ktruss": ("max_rounds", lambda sp, df: ktruss(sp, df, k=3, max_rounds=1),
               lambda sp, df: ktruss(sp, df, k=3)),
    "sssp": ("max_rounds", lambda sp, df: sssp(sp, df, source=0, max_rounds=2),
             lambda sp, df: sssp(sp, df, source=0)),
    "neighborhood_function": (
        "max_t", lambda sp, df: hyperball.neighborhood_function(sp, df, max_t=1),
        lambda sp, df: hyperball.neighborhood_function(sp, df)),
    "hyperball_per_vertex": (
        "max_t", lambda sp, df: hyperball.hyperball_per_vertex(sp, df, max_t=1),
        lambda sp, df: hyperball.hyperball_per_vertex(sp, df)),
    # a capped Louvain phase still returns a valid partition whose Q is
    # reported: it records converged=False in its phase metrics, silently
    "louvain": (None, lambda sp, df: _louvain_phase(sp, df, rounds=1),
                lambda sp, df: _louvain_phase(sp, df, rounds=20)),
}


@pytest.fixture
def superstep_runs(monkeypatch):
    """The IterationMetrics of every superstep run made during a test."""
    from graphanalytics_spark.plans.superstep import Superstep

    runs, run = [], Superstep.run

    def recording_run(self, *args, **kwargs):
        out = run(self, *args, **kwargs)
        runs.append(self.metrics)
        return out

    monkeypatch.setattr(Superstep, "run", recording_run)
    return runs


@pytest.mark.parametrize("op", list(_TRUNCATION_CASES))
def test_iterative_operators_report_truncation(spark, superstep_runs, op):
    """Every superstep operator reports a run that exhausts its cap
    before its stop test passes: converged=False plus one RuntimeWarning
    naming the operator and the cap (ADVICE r5 #1: SSSP distances are then
    upper bounds, k-core/k-truss results supergraphs) — and a converged
    run does not warn."""
    import warnings as _w

    cap, truncated, converged = _TRUNCATION_CASES[op]
    path = [(i, i + 1, 1.0) for i in range(7)]
    df = spark.createDataFrame(path, "src long, dst long, weight double")
    if cap is None:
        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            assert [p["converged"] for p in truncated(spark, df)] == [False]
    else:
        with pytest.warns(RuntimeWarning, match=cap) as rec:
            truncated(spark, df)
        loud = [w for w in rec if w.category is RuntimeWarning]
        assert len(loud) == 1 and str(loud[0].message).startswith(op), [
            str(w.message) for w in rec
        ]
    assert superstep_runs[-1].converged is False
    # and a converged run must NOT warn
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = converged(spark, df)
    assert superstep_runs[-1].converged is True
    if op == "sssp":
        assert {r["vid"]: r["dist"] for r in got.collect()}[7] == 7.0
    if op == "louvain":
        assert [p["converged"] for p in got] == [True]


def test_betweenness_warns_on_depth_truncation(spark):
    """ADVICE r5 #2: a BFS that runs into max_depth must warn that the
    sweeps may under-count."""
    from graphanalytics_spark.operators.betweenness import betweenness

    path = [(i, i + 1, 1.0) for i in range(8)]
    df = spark.createDataFrame(path, "src long, dst long, weight double")
    with pytest.warns(RuntimeWarning, match="max_depth"):
        betweenness(spark, df, seeds=[0], max_depth=3)
