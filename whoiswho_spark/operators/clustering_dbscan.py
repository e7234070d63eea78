"""DBSCAN-per-block clustering — the reference-parity path.

The reference clusters each name block with
DBSCAN(eps=0.2, min_samples=4, metric='precomputed') over a blended
distance matrix (/root/reference/whoiswho/loadmodel/ClusterModels.py:5-23,
invoked AutoTrainSND.py:245-246), then reattaches -1 outliers via
post_match. Our default path replaces this with threshold-graph +
connected components (clustering.py) — this module keeps the exact
DBSCAN semantics as a per-block ``applyInPandas`` operator for parity
testing and for workloads whose blocks fit in executor memory (the same
operating envelope the reference assumes).

The DBSCAN itself is a dependency-free numpy implementation matching
sklearn's semantics on precomputed distances: core point = ≥ min_samples
neighbors within eps (self included); clusters grow from cores; border
points join the first core's cluster that reaches them; rest are -1.
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def dbscan_precomputed(D: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    n = D.shape[0]
    labels = np.full(n, -1, dtype=np.int64)
    visited = np.zeros(n, dtype=bool)
    cluster = 0
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        neigh = np.where(D[i] <= eps)[0]
        if len(neigh) < min_samples:
            continue
        labels[i] = cluster
        queue = deque(int(j) for j in neigh if j != i)
        while queue:
            j = queue.popleft()
            if labels[j] == -1:
                labels[j] = cluster
            if visited[j]:
                continue
            visited[j] = True
            nj = np.where(D[j] <= eps)[0]
            if len(nj) >= min_samples:
                queue.extend(int(x) for x in nj)
        cluster += 1
    return labels


def cluster_blocks_dbscan(
    blocks_payload: DataFrame,
    eps: float = 0.2,
    min_samples: int = 4,
    id_col: str = "url",
    emb_col: str = "embedding",
) -> DataFrame:
    """(block_key, url, embedding) → (block_key, url, label BIGINT).

    Distance = cosine distance of embeddings (the reference's semantic
    matrix, semantic_features.py:149-156; its relational blend is an
    additive refinement with the same shape). label = -1 → outlier,
    feeding clustering.post_match exactly like AutoTrainSND.py:245-249.

    Memory contract: one block materializes as a dense N×N matrix inside
    a single task — cap block sizes upstream (blocking.cap_block_size),
    exactly as the reference caps papers per author.
    """

    def _cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        embs = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[emb_col]])
        norms = np.maximum(np.linalg.norm(embs, axis=1, keepdims=True), 1e-12)
        sims = (embs / norms) @ (embs / norms).T
        D = 1.0 - sims
        labels = dbscan_precomputed(D, eps, min_samples)
        return pd.DataFrame(
            {
                "block_key": pdf["block_key"],
                id_col: pdf[id_col],
                "label": labels,
            }
        )

    return (
        blocks_payload.select("block_key", id_col, emb_col)
        .groupBy("block_key")
        .applyInPandas(_cluster, schema=f"block_key string, {id_col} string, label bigint")
    )
