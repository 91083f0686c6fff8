"""Deterministic synthetic 'repos' table generator (FIXTURES.md §1).

The engine's external-facing input is a table of source-code repository
files with columns (repo: string, path: string, commit: string,
lang: string, content: string) — per BASELINE.json:input_hint. At
production scale this is an Iceberg table with 10^12 rows; here we
synthesize it deterministically (seed=42, numpy PCG64) at small scale for
tests and benchmarks. No external data.

Planted structure (so graph-operator oracles are exact):
- link targets drawn Zipf-skewed toward hub repos (skew fixture);
- ≥2 disjoint repo clusters → known connected components;
- a dense clique of ``clique_size`` repos → known triangle count;
- one isolated repo (no links in or out).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["py", "js", "go", "java", "rs"]
LANG_WEIGHTS = [0.4, 0.25, 0.15, 0.1, 0.1]
IMPORT_TEMPLATES = {
    "py": "import {target}",
    "js": 'require("{target}")',
    "go": 'import "{target}"',
    "java": "import {target};",
    "rs": "use {target};",
}
FILLER_WORDS = (
    "graph vertex edge rank label partition shuffle batch column row "
    "scan filter join agg window state frontier block csr arrow".split()
)


def generate_repos_pdf(
    n_repos: int = 50,
    files_per_repo: int = 10,
    seed: int = 42,
    n_clusters: int = 2,
    clique_size: int = 5,
) -> pd.DataFrame:
    """One row per file. Cluster c owns repos [c*K, (c+1)*K) where
    K = n_repos // n_clusters; links never cross clusters. The last repo of
    cluster 0 is isolated (degree 0: no outgoing links, never a target).
    Repos [0, clique_size) form a clique: every pair linked both ways.
    """
    rng = np.random.default_rng(seed)
    k = n_repos // n_clusters
    rows = []
    for i in range(n_repos):
        repo = f"repo{i:05d}"
        cluster = min(i // k, n_clusters - 1)
        lo, hi = cluster * k, min((cluster + 1) * k, n_repos)
        isolated = i == hi - 1 and cluster == 0
        # Zipf-skewed targets within the cluster (hub = low ids in cluster),
        # excluding self and the cluster's isolated repo.
        candidates = [
            t for t in range(lo, hi) if t != i and not (cluster == 0 and t == hi - 1)
        ]
        zipf_w = np.array([1.0 / (1 + t - lo) for t in candidates])
        zipf_w /= zipf_w.sum()
        for j in range(files_per_repo):
            lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
            path = f"src/mod{j % 3}/file{j}.{lang}"
            commit = hashlib.sha256(f"{repo}/{path}@{seed}".encode()).hexdigest()[:40]
            lines = []
            if not isolated:
                n_links = int(rng.integers(1, 4))
                targets = set(rng.choice(candidates, size=n_links, p=zipf_w))
                # plant the clique: file 0 of each clique repo links all others
                if i < clique_size and j == 0:
                    targets |= {t for t in range(clique_size) if t != i}
                for t in sorted(targets):
                    tmpl = IMPORT_TEMPLATES[lang]
                    lines.append(tmpl.format(target=f"repo{t:05d}/src/lib"))
            n_fill = int(rng.integers(3, 8))
            for _ in range(n_fill):
                w = rng.choice(FILLER_WORDS, size=int(rng.integers(4, 9)))
                lines.append(" ".join(w))
            rows.append(
                {
                    "repo": repo,
                    "path": path,
                    "commit": commit,
                    "lang": lang,
                    "content": "\n".join(lines),
                }
            )
    return pd.DataFrame(rows)


def expected_sha256(pdf: pd.DataFrame) -> pd.Series:
    """Generation-time sha256(content) for the per-row ingest invariant
    (BASELINE.json:input_hint)."""
    return pdf["content"].map(lambda s: hashlib.sha256(s.encode()).hexdigest())


# tiny literal graphs for unit oracles (FIXTURES.md §3)
TWO_TRIANGLES_BRIDGE = [
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)
]
TWO_COMPONENTS_PLUS_ISOLATE = [(0, 1), (1, 2), (3, 4)]  # vertex 5 isolated
STAR_HUB = [(0, i) for i in range(1, 21)]


def edges_df(spark, pairs, weight: float = 1.0):
    return spark.createDataFrame(
        [(int(a), int(b), float(weight)) for a, b in pairs],
        "src long, dst long, weight double",
    )
