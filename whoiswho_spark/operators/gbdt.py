"""Gradient-boosted decision trees — the reference's GBDT ensemble
scorer (SURVEY.md §2.9), dependency-free.

The reference fits sklearn/CatBoost-style GBDT ensembles over the 36-dim
hand-feature vectors (/root/reference/whoiswho/whoiswhograph_extend/
ClassficationModels.py — model zoo + 5-fold voting). Those libraries are
absent here, so this is a from-scratch numpy implementation with the
standard second-order (XGBoost-style) histogram algorithm:

- fit: DRIVER-SIDE over a bounded deterministic sample (same discipline
  as scoring.fit_logistic_scorer — the model is a tiny artifact; the
  DATA never needs to leave the executors for inference). Quantile-bin
  each feature once, then per node pick the (feature, bin) split with the
  best gain  gl²/(hl+λ) + gr²/(hr+λ) − G²/(H+λ)  on logloss
  gradients/hessians. Fully deterministic (fixed traversal order,
  first-index tie-break).
- predict: TWO equivalent paths, pytest-verified identical —
  (a) ``gbdt_score_col``: the ensemble compiled to a nested Catalyst
      ``when`` expression → JVM-side, whole-stage-codegen, zero Python
      in the hot path (the scale path);
  (b) ``gbdt_predict_udf``: vectorized numpy traversal (Arrow-batched),
      for quick scoring outside a Spark plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _quantile_edges(X: np.ndarray, n_bins: int) -> list[np.ndarray]:
    qs = np.linspace(0.0, 1.0, n_bins + 1)[1:-1]
    return [np.unique(np.quantile(X[:, j], qs)) for j in range(X.shape[1])]


def _bin_matrix(X: np.ndarray, edges: list[np.ndarray]) -> np.ndarray:
    B = np.empty(X.shape, dtype=np.int32)
    for j, e in enumerate(edges):
        B[:, j] = np.searchsorted(e, X[:, j], side="right")
    return B


def _fit_tree(
    B: np.ndarray,
    edges: list[np.ndarray],
    g: np.ndarray,
    h: np.ndarray,
    max_depth: int,
    reg_lambda: float,
    min_child_weight: float,
) -> dict:
    def build(idx: np.ndarray, depth: int) -> dict:
        G, H = float(g[idx].sum()), float(h[idx].sum())
        leaf = {"leaf": -G / (H + reg_lambda)}
        if depth >= max_depth or len(idx) < 2:
            return leaf
        base_score = G * G / (H + reg_lambda)
        best_gain, best_j, best_k = 1e-12, -1, -1
        for j in range(B.shape[1]):
            e = edges[j]
            if len(e) == 0:
                continue
            nb = len(e) + 1
            gb = np.bincount(B[idx, j], weights=g[idx], minlength=nb)
            hb = np.bincount(B[idx, j], weights=h[idx], minlength=nb)
            gl = np.cumsum(gb)[:-1]
            hl = np.cumsum(hb)[:-1]
            gr, hr = G - gl, H - hl
            valid = (hl >= min_child_weight) & (hr >= min_child_weight)
            gains = np.where(
                valid,
                gl * gl / (hl + reg_lambda) + gr * gr / (hr + reg_lambda) - base_score,
                -np.inf,
            )
            k = int(np.argmax(gains))
            if gains[k] > best_gain:
                best_gain, best_j, best_k = float(gains[k]), j, k
        if best_j < 0:
            return leaf
        thr = float(edges[best_j][best_k])  # left ⇔ x < thr
        mask = B[idx, best_j] <= best_k
        return {
            "feat": best_j,
            "thr": thr,
            "left": build(idx[mask], depth + 1),
            "right": build(idx[~mask], depth + 1),
        }

    return build(np.arange(len(g)), 0)


def _predict_tree(tree: dict, X: np.ndarray) -> np.ndarray:
    out = np.empty(len(X))

    def walk(node: dict, idx: np.ndarray) -> None:
        if "leaf" in node:
            out[idx] = node["leaf"]
            return
        mask = X[idx, node["feat"]] < node["thr"]
        walk(node["left"], idx[mask])
        walk(node["right"], idx[~mask])

    walk(tree, np.arange(len(X)))
    return out


def deterministic_fit_sample(
    df: DataFrame, cols: list[str], n: int, seed: int = 42
) -> DataFrame:
    """Bounded deterministic UNIFORM sample: order by a seeded xxhash64
    of the row and take the head (TakeOrderedAndProject — per-partition
    top-K + merge, no full sort). The sampled multiset is a pure
    function of the data and the seed, independent of partitioning or
    task order, and — unlike an orderBy(cols) head — not biased toward
    lexicographically small rows. Columns tie-break hash collisions so
    the boundary stays deterministic."""
    h = F.xxhash64(*[F.col(c) for c in cols], F.lit(seed))
    return df.select(*cols).orderBy(h, *cols).limit(n)


def fit_gbdt(
    pairs: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    n_trees: int = 30,
    max_depth: int = 3,
    learning_rate: float = 0.2,
    n_bins: int = 32,
    reg_lambda: float = 1.0,
    min_child_weight: float = 1e-3,
    sample_n: int = 100_000,
    sample_seed: int = 42,
) -> dict:
    """Fit the boosted ensemble on a bounded deterministic UNIFORM
    sample — ``orderBy(xxhash64(row, seed)).limit(sample_n)``, which
    Spark executes as TakeOrderedAndProject (per-partition top-K +
    merge, no full sort), so the sampled MULTISET is a pure function of
    the data: a bare limit() returns whichever tasks answer first and
    would make the fit (and the gbdt_scores DuckDB oracle) run-dependent
    whenever the input exceeds the bound. Ordering by the seeded hash
    (not by the feature columns themselves) keeps the same physical plan
    while sampling uniformly — a feature-ordered head would
    systematically take the lexicographically smallest rows, a biased
    training set at scale. The row columns tie-break hash collisions, so
    the boundary is still deterministic. The DuckDB oracles re-fit from
    the full parquet, which equals this fit whenever rows ≤ sample_n
    (fit_gbdt_numpy is row-order-invariant).

    Returns a plain-dict model artifact."""
    cols = [*feature_cols, label_col]
    # Arrow toPandas, not collect (round 6, guide §6 "Arrow for driver
    # transfers"): collect() materializes 100k Row objects and the
    # per-field name lookups below it ran in interpreted Python — ~1-2 s
    # per fold fit, ×6 fits in the rnd_ensemble_scores cell loop. The
    # Arrow path lands the same rows columnar; the fit is row-order-
    # invariant (docstring above), so the model artifact is identical.
    pdf = deterministic_fit_sample(pairs, cols, sample_n, sample_seed).toPandas()
    # to_numpy(dtype=float) turns a NULL into NaN, which would train on
    # NaN gradients without a word — refuse it here instead
    for c in cols:
        if pdf[c].isna().any():
            raise ValueError(f"fit_gbdt: column {c!r} has null or NaN values")
    X = pdf[list(feature_cols)].to_numpy(dtype=float)
    y = pdf[label_col].to_numpy(dtype=float)
    return fit_gbdt_numpy(
        X, y, feature_cols,
        n_trees=n_trees, max_depth=max_depth, learning_rate=learning_rate,
        n_bins=n_bins, reg_lambda=reg_lambda, min_child_weight=min_child_weight,
    )


def fit_gbdt_numpy(
    X: np.ndarray,
    y: np.ndarray,
    feature_cols: list[str],
    n_trees: int = 30,
    max_depth: int = 3,
    learning_rate: float = 0.2,
    n_bins: int = 32,
    reg_lambda: float = 1.0,
    min_child_weight: float = 1e-3,
) -> dict:
    """The numpy fit core (row-order-invariant: quantile edges, bincount
    histograms, and (feature, bin) argmax don't depend on row order).
    Shared by fit_gbdt and the DuckDB oracle builder, which re-fits the
    identical model from the parquet directly."""
    edges = _quantile_edges(X, n_bins)
    B = _bin_matrix(X, edges)
    mean = min(max(float(y.mean()), 1e-6), 1 - 1e-6)
    base = float(np.log(mean / (1 - mean)))
    margin = np.full(len(y), base)
    trees: list[dict] = []
    for _ in range(n_trees):
        p = 1.0 / (1.0 + np.exp(-margin))
        g = p - y
        h = p * (1.0 - p)
        tree = _fit_tree(B, edges, g, h, max_depth, reg_lambda, min_child_weight)
        margin += learning_rate * _predict_tree(tree, X)
        trees.append(tree)
    return {
        "base": base,
        "lr": float(learning_rate),
        "trees": trees,
        "features": list(feature_cols),
    }


def gbdt_margin(model: dict, X: np.ndarray) -> np.ndarray:
    m = np.full(len(X), model["base"])
    for t in model["trees"]:
        m += model["lr"] * _predict_tree(t, X)
    return m


def gbdt_score_col(model: dict) -> "F.Column":
    """Compile the ensemble to a Catalyst expression (nested ``when``
    cascades, one per tree) → sigmoid(margin). Stays inside whole-stage
    codegen: GBDT inference with zero Python in the hot path. Null
    features take the right branch (x < thr is null-false), matching a
    missing-value-goes-right convention."""

    def node_expr(node: dict):
        if "leaf" in node:
            return F.lit(float(node["leaf"]))
        cond = F.col(model["features"][node["feat"]]) < F.lit(node["thr"])
        return F.when(cond, node_expr(node["left"])).otherwise(
            node_expr(node["right"])
        )

    margin = F.lit(model["base"])
    for t in model["trees"]:
        margin = margin + F.lit(model["lr"]) * node_expr(t)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


def gbdt_score_sql(model: dict, feature_sql: dict[str, str]) -> str:
    """Compile the ensemble to ANSI SQL (nested CASE WHEN per tree) —
    the DuckDB twin of gbdt_score_col, literal-for-literal: Python
    ``repr(float)`` round-trips exactly to the same double, and both
    engines evaluate the same left-associated double sum, so scores are
    bit-identical up to the final round. ``feature_sql`` maps each model
    feature name to the SQL expression that computes it."""

    def node_sql(node: dict) -> str:
        if "leaf" in node:
            return repr(float(node["leaf"]))
        f = feature_sql[model["features"][node["feat"]]]
        return (
            f"(CASE WHEN ({f}) < {repr(float(node['thr']))} "
            f"THEN {node_sql(node['left'])} ELSE {node_sql(node['right'])} END)"
        )

    margin = repr(float(model["base"]))
    for t in model["trees"]:
        margin = f"{margin} + {repr(float(model['lr']))} * {node_sql(t)}"
    return f"1.0 / (1.0 + exp(-({margin})))"


def gbdt_features_col(model: dict):
    """The feature vector as one ARRAY<DOUBLE> column, in model order —
    the input to gbdt_predict_udf."""
    return F.array(*[F.col(c).cast("double") for c in model["features"]])


def gbdt_predict_udf(model: dict):
    """Arrow-batched numpy traversal over the packed feature array — the
    non-plan twin of gbdt_score_col (pytest-verified equal). Call as
    ``udf(gbdt_features_col(model))``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def predict(feats):
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in feats])
        m = gbdt_margin(model, X)
        return pd.Series(1.0 / (1.0 + np.exp(-m)))

    # real type objects (PEP-563 string hints from __future__ annotations
    # are not resolvable by pandas_udf here)
    predict.__annotations__ = {"feats": pd.Series, "return": pd.Series}
    return pandas_udf(predict, DoubleType())


def fit_predict_gbdt_per_group(
    df: DataFrame,
    group_col: str,
    feature_cols: list[str],
    label_col: str = "label",
    id_col: str = "url",
    n_trees: int = 30,
    max_depth: int = 3,
    learning_rate: float = 0.2,
    n_bins: int = 32,
    min_rows: int = 8,
) -> DataFrame:
    """Per-group GBDT fit+predict via ``groupBy().applyInPandas`` — the
    grouped-ML scale pattern (same shape as the per-block DBSCAN twin,
    clustering_dbscan.py): each group's model is fit ON the executor
    holding that group, so nothing but the grouping shuffle moves and
    model count scales with groups, not with a driver loop.

    Use when score distributions differ per block/domain (the reference
    fits ONE global GBDT over all blocks, ClassficationModels.py:138-148;
    a per-name-block variant is the natural extension its per-block
    DBSCAN already implies). Groups smaller than ``min_rows`` get the
    base-rate score (their label mean) instead of a degenerate tree fit.

    Returns (group_col, id_col, gbdt_score DOUBLE) — deterministic:
    fit_gbdt_numpy is row-order-invariant and each group is complete in
    one pandas frame.
    """
    import pandas as pd

    gtype = df.schema[group_col].dataType.simpleString()
    itype = df.schema[id_col].dataType.simpleString()
    out_schema = f"{group_col} {gtype}, {id_col} {itype}, gbdt_score double"

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        y = pdf[label_col].to_numpy(dtype=np.float64)
        if len(pdf) < min_rows or y.min() == y.max():
            score = np.full(len(pdf), float(y.mean()) if len(y) else 0.0)
        else:
            model = fit_gbdt_numpy(
                X, y, list(feature_cols),
                n_trees=n_trees, max_depth=max_depth,
                learning_rate=learning_rate, n_bins=n_bins,
            )
            score = 1.0 / (1.0 + np.exp(-gbdt_margin(model, X)))
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                id_col: pdf[id_col],
                "gbdt_score": score,
            }
        )

    return (
        df.select(group_col, id_col, label_col, *feature_cols)
        .groupBy(group_col)
        .applyInPandas(fit_predict, out_schema)
    )


def ensemble_vote_col(score_cols, weights=None):
    """Cell-weighted ensemble vote (AutoTrainRND.py:36-48): the final
    assignment score accumulates ``score_i * cell_weight_i /
    cell_weight_sum`` across model cells. With ``weights=None`` (equal
    weights) this is the fold/model mean the reference applies inside
    ``GBDTModel.predict`` (ClassficationModels.py:303-331). Pure
    Catalyst column arithmetic over per-cell score columns."""
    cols = [F.col(c) if isinstance(c, str) else c for c in score_cols]
    if weights is None:
        weights = [1.0] * len(cols)
    if len(weights) != len(cols):
        raise ValueError("score_cols and weights must align")
    total = float(sum(weights))
    if total == 0.0:
        raise ValueError("weights sum to zero")
    expr = None
    for c, w in zip(cols, weights):
        term = c * F.lit(float(w) / total)
        expr = term if expr is None else expr + term
    return expr
