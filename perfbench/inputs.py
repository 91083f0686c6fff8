"""Seeded benchmark inputs, cached on disk per (workload, seed).

Each workload's content comes from a fixed base (generated, or for
corpus_dedup read from ``perfbench/data``) and the benchmark seed only
relabels ids and shuffles row order. Two seeds
therefore give isomorphic inputs: the same edge, triangle and component
counts, different ids and different partition placement. That keeps the
work per run equal across seeds, so run-to-run spread measures the engine
and not the luck of the draw.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

# repo_links: ~10k files over 1,000 repos, two clusters with Zipf-skewed
# link targets (hubs), a planted 5-clique and one isolated repo.
REPOS_N = 1000
REPOS_FILES = 10
REPOS_BASE_SEED = 42
# long_chain: a path of 4-cliques; with unordered ids, min-label plus
# pointer jumping needs more than the default 50 rounds from ~100 cliques.
CHAIN_CLIQUES = 150
# corpus_dedup: the sf0.1 documents and embeddings tables
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

_LINK_RE = re.compile(r"repo(\d{5})")


def _seed_rng(seed: int, salt: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write_atomic(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def cached(path: str, build) -> str:
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write_atomic(build(), path)
    return path


# ---------------------------------------------------------------- repo_links


def _repos_base() -> pd.DataFrame:
    from graphanalytics_spark import fixtures

    return fixtures.generate_repos_pdf(
        n_repos=REPOS_N, files_per_repo=REPOS_FILES, seed=REPOS_BASE_SEED
    )


def repos_table(base: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Rename repo i to repo π(i) everywhere (names and link targets) and
    shuffle the rows. Ingest numbers vertices by repo name, so π permutes
    the vertex ids."""
    rng = _seed_rng(seed, "repos")
    perm = rng.permutation(REPOS_N)
    names = np.array([f"repo{p:05d}" for p in perm])
    old_idx = base["repo"].str.slice(4).astype(int).to_numpy()
    out = base.copy()
    out["repo"] = names[old_idx]
    out["content"] = base["content"].str.replace(
        _LINK_RE, lambda m: names[int(m.group(1))], regex=True
    )
    out["commit"] = [
        hashlib.sha256(f"{r}/{p}@{seed}".encode()).hexdigest()[:40]
        for r, p in zip(out["repo"], out["path"])
    ]
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def repo_links(cache: str, seed: int) -> dict:
    base = cached(os.path.join(cache, "repo_links", "base.parquet"), _repos_base)
    path = cached(
        os.path.join(cache, "repo_links", f"seed={seed}", "repos.parquet"),
        lambda: repos_table(pd.read_parquet(base), seed),
    )
    return {"repos": path}


# ---------------------------------------------------------------- long_chain


def chain_edges(seed: int, cliques: int = CHAIN_CLIQUES) -> pd.DataFrame:
    """A path of ``cliques`` 4-cliques (6 edges each) joined by one bridge
    edge between consecutive cliques, in canonical orientation (src < dst);
    vertex ids permuted by ``seed`` so they are unordered along the chain."""
    rng = _seed_rng(seed, "chain")
    perm = rng.permutation(4 * cliques).astype(np.int64)
    pairs = []
    for c in range(cliques):
        b = 4 * c
        pairs += [(b + i, b + j) for i in range(4) for j in range(i + 1, 4)]
        if c + 1 < cliques:
            pairs.append((b + 3, b + 4))
    p = np.array(pairs, dtype=np.int64)
    a, b = perm[p[:, 0]], perm[p[:, 1]]
    e = pd.DataFrame(
        {"src": np.minimum(a, b), "dst": np.maximum(a, b), "weight": np.ones(len(p))}
    )
    return e.iloc[rng.permutation(len(e))].reset_index(drop=True)


def long_chain(cache: str, seed: int) -> dict:
    path = cached(
        os.path.join(cache, "long_chain", f"seed={seed}", "edges.parquet"),
        lambda: chain_edges(seed),
    )
    return {"edges": path}


# -------------------------------------------------------------- corpus_dedup


def _shuffled(path: str, seed: int, salt: str) -> pd.DataFrame:
    rng = _seed_rng(seed, salt)
    base = pd.read_parquet(path)
    return base.iloc[rng.permutation(len(base))].reset_index(drop=True)


def corpus_dedup(cache: str, seed: int) -> dict:
    """The sf0.1 ``documents`` (5,000 rows) and ``embeddings`` (2,000 rows)
    of the repo's test data, copied into ``perfbench/data``; the seed
    shuffles their row order."""
    d = os.path.join(cache, "corpus_dedup", f"seed={seed}")
    out = {}
    for table, salt in (("documents", "docs"), ("embeddings", "emb")):
        out[table] = cached(
            os.path.join(d, f"{table}.parquet"),
            lambda t=table, s=salt: _shuffled(os.path.join(DATA, f"{t}.parquet"), seed, s),
        )
    return out


GENERATORS = {
    "repo_links": repo_links,
    "long_chain": long_chain,
    "corpus_dedup": corpus_dedup,
}
