"""Independent answers the benchmark checks every timed call against.

Nothing here calls the engine: graph answers come from numpy, networkx and
the reference implementations in ``tests/oracles.py``; relational answers
come from DuckDB running the oracle SQL of ``__spark_entry__.py``.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import networkx as nx
import numpy as np
import pandas as pd

import __spark_entry__ as entry

_ORACLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracles.py")
_spec = importlib.util.spec_from_file_location("reference_oracles", _ORACLES)
oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracles)


def _power_iteration(edges: pd.DataFrame, damping: float = 0.85):
    """Power iteration over a directed weighted edge table, with dangling
    mass spread uniformly. Yields (vertex ids, rank, max|Δrank|) after
    each step, forever."""
    vids = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    n = len(vids)
    s = np.searchsorted(vids, edges["src"].to_numpy())
    d = np.searchsorted(vids, edges["dst"].to_numpy())
    w = edges["weight"].to_numpy(dtype=float)
    out = np.bincount(s, weights=w, minlength=n)
    frac = w / out[s]
    dangling = out == 0
    r = np.full(n, 1.0 / n)
    while True:
        gathered = np.bincount(d, weights=frac * r[s], minlength=n)
        new = (1 - damping) / n + damping * (gathered + r[dangling].sum() / n)
        yield vids, new, float(np.abs(new - r).max())
        r = new


def pagerank_np(edges: pd.DataFrame, iterations: int) -> pd.Series:
    """Rank after exactly ``iterations`` steps, indexed by vertex id."""
    for it, (vids, r, _) in enumerate(_power_iteration(edges), 1):
        if it == iterations:
            return pd.Series(r, index=vids)


def pagerank_stop(edges: pd.DataFrame, tol: float, check_every: int, max_iter: int) -> int:
    """The iteration a converging PageRank must stop at: the first one
    where its stop test runs (every ``check_every`` steps, and at
    ``max_iter``) and finds max|Δrank| < ``tol``."""
    for it, (_, _, delta) in enumerate(_power_iteration(edges), 1):
        if (it % check_every == 0 or it == max_iter) and delta < tol:
            return it
        if it == max_iter:
            return it


def same_ranks(got: pd.DataFrame, want: pd.Series, rtol: float = 1e-6) -> bool:
    g = got.set_index("vid")["rank"].sort_index()
    return g.index.equals(want.sort_index().index) and np.allclose(
        g.to_numpy(), want.sort_index().to_numpy(), rtol=rtol, atol=0.0
    )


def components_uf(edges: pd.DataFrame) -> dict[int, int]:
    """Union-find; component id = smallest vertex id in the component."""
    vids = sorted(set(edges["src"]) | set(edges["dst"]))
    return oracles.components_np(list(zip(edges["src"], edges["dst"])), vids)


def label_propagation(edges: pd.DataFrame, max_iter: int = 20) -> dict[int, int]:
    vids = sorted(set(edges["src"]) | set(edges["dst"]))
    triples = list(zip(edges["src"], edges["dst"], edges["weight"]))
    return oracles.label_propagation_np(triples, vids, max_iter=max_iter)


def triangles(edges: pd.DataFrame) -> int:
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"], edges["dst"]))
    return sum(nx.triangles(g).values()) // 3


def modularity(edges: pd.DataFrame, labels: dict[int, int]) -> float:
    return oracles.modularity_np(
        list(zip(edges["src"], edges["dst"], edges["weight"])), labels
    )


def similar_jaccard(edges: pd.DataFrame, k: int) -> pd.DataFrame:
    """Per-vertex top-k neighbours by Jaccard overlap of neighbour sets
    (pairs with at least one common neighbour), ordered by rounded sim
    desc then partner id asc. Dense adjacency: the graphs here are small."""
    vids = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    s = np.searchsorted(vids, edges["src"].to_numpy())
    d = np.searchsorted(vids, edges["dst"].to_numpy())
    a = np.zeros((len(vids), len(vids)), dtype=np.int32)
    a[s, d] = a[d, s] = 1
    common = a @ a
    np.fill_diagonal(common, 0)
    deg = a.sum(axis=1)
    u, v = np.nonzero(common)
    c = common[u, v]
    out = pd.DataFrame(
        {
            "src": vids[u],
            "dst": vids[v],
            "common": c.astype(np.int64),
            "sim": np.round(c / (deg[u] + deg[v] - c), 8),
        }
    )
    out = out.sort_values(["src", "sim", "dst"], ascending=[True, False, True])
    return out.groupby("src", sort=False).head(k).reset_index(drop=True)


def cosine_topk(emb: pd.DataFrame, target: np.ndarray, k: int) -> pd.DataFrame:
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1) * np.linalg.norm(target)
    sim = np.round(np.where(norms > 0, m @ target / np.where(norms > 0, norms, 1), 0.0), 8)
    out = pd.DataFrame({"vec_id": emb["vec_id"].to_numpy(), "sim": sim})
    return out.sort_values(["sim", "vec_id"], ascending=[False, True]).head(k)


# ------------------------------------------------------------------ DuckDB


def _duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def ingest_edges(repos_path: str, scratch: str) -> pd.DataFrame:
    """The oracle SQL for ``ingest.build_edges``. It names its own fixture
    path (and writes a small fixture there), so the path is pointed at a
    scratch file and then swapped for the benchmark's input."""
    fixture = os.path.join(scratch, "oracle_fixture", "repos.parquet")
    entry._REPOS_FIXTURE = fixture
    sql = entry._ingest_sql().replace(fixture, repos_path)
    return _duck({}).execute(sql).df()


def corpus_clean(docs_path: str) -> pd.DataFrame:
    return _duck({"documents": docs_path}).execute(entry._corpus_clean_sql()).df()


def minhash_pairs(docs_path: str) -> pd.DataFrame:
    return _duck({"documents": docs_path}).execute(
        entry._minhash_sql(num_perm=16, bands=4, n=3)
    ).df()


def knn_join(emb_path: str, k: int) -> pd.DataFrame:
    return _duck({"embeddings": emb_path}).execute(entry._knn_join_sql(k=k)).df()


def canonical(edges: pd.DataFrame) -> pd.DataFrame:
    """src < dst orientation, no self-loops, parallel weights summed."""
    a = np.minimum(edges["src"], edges["dst"])
    b = np.maximum(edges["src"], edges["dst"])
    e = pd.DataFrame({"src": a, "dst": b, "weight": edges["weight"].astype(float)})
    e = e[e["src"] != e["dst"]]
    return e.groupby(["src", "dst"], as_index=False)["weight"].sum()


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], digits=None) -> bool:
    """Multiset equality of two frames on ``cols``, floats rounded to
    ``digits`` when given."""

    def rows(df):
        vals = []
        for c in cols:
            col = df[c]
            if digits is not None and col.dtype.kind == "f":
                col = col.round(digits)
            vals.append(col.tolist())
        return sorted(zip(*vals))

    return len(got) == len(want) and rows(got) == rows(want)
