"""Pair-level similarity kernels (SURVEY.md §2.5).

Catalyst-expressible kernels stay Catalyst (JVM, codegen): set
intersection counts, Jaccard/Tanimoto, array-cosine. Only genuinely
non-relational kernels (Jaro-Winkler, char-3gram TF-IDF cosine, KNRM
Gaussian kernel pooling) drop to Arrow-batched pandas UDFs — never
row-at-a-time Python.

Reference semantics reproduced:
- tanimoto over token SETS: |A∩B| / (|A|+|B|-|A∩B|)
  (/root/reference/whoiswho/training/AutoTrainSND.py:24-32, duplicated
  bond/training/generate_pair.py:7-9).
- common-token counts ×weights (AutoTrainSND.py:150-157).
- KNRM kernel pooling: normalized embedding dot products → Gaussian
  kernels → log-sum pooling (whoiswho/featureGenerator/rndFeature/
  model.py:103-135, 202-241).
- Jaro-Winkler max/min/mean aggregates (whoiswho/character/
  feature_process.py:363-386).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

# ---------------------------------------------------------------------------
# Catalyst kernels
# ---------------------------------------------------------------------------


def intersect_count_col(a: Column, b: Column) -> Column:
    """|set(a) ∩ set(b)| (AutoTrainSND.py:150-157 'ca'/'ct' counts)."""
    return F.size(F.array_intersect(a, b)).cast("double")


def tanimoto_col(a: Column, b: Column) -> Column:
    """Tanimoto over token sets — |∩| / (|∪|); 0.0 when both empty
    (the reference never calls it on two empties; we define 0.0)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two ARRAY<FLOAT/DOUBLE> columns, pure Catalyst."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero vectors (reference flags zero-vector
    papers as outliers instead — handled at the pipeline level)."""
    denom = norm_col(a) * norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Pandas-UDF kernels (Arrow batches)
# ---------------------------------------------------------------------------


def _jaro(s1: str, s2: str) -> float:
    len1, len2 = len(s1), len(s2)
    # empty-side convention: 0.0 even for two empties (matches DuckDB's
    # jaro_winkler_similarity; the reference never compares empties —
    # feature_process.py:357-363 guards them out)
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(len2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def _common_prefix_len(s1: str, s2: str, max_prefix: int = 4) -> int:
    prefix = 0
    for c1, c2 in zip((s1 or "")[:max_prefix], (s2 or "")[:max_prefix]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return prefix


def jaro_winkler(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Standard Jaro-Winkler with the canonical 0.7 boost threshold —
    bit-parity with DuckDB's jaro_winkler_similarity (property-tested):
    the prefix boost applies only when the Jaro score exceeds 0.7."""
    j = _jaro(s1 or "", s2 or "")
    if j <= 0.7:
        return j
    return j + _common_prefix_len(s1 or "", s2 or "", max_prefix) * p * (1.0 - j)


def get_jaro_distance(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """pyjarowinkler.distance.get_jaro_distance parity — the EXACT
    function the reference calls at feature_process.py:368: the Winkler
    boost is applied UNCONDITIONALLY (no 0.7 threshold) and the result is
    rounded to 2 decimals (the library's round(x*100)/100 quirk). The
    reference guards empty strings out before calling
    (feature_process.py:357-363); empties here return 0.0."""
    j = _jaro(s1 or "", s2 or "")
    boosted = j + _common_prefix_len(s1 or "", s2 or "", max_prefix) * p * (1.0 - j)
    return round(boosted * 100.0) / 100.0


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler(x, y) for x, y in zip(a.fillna(""), b.fillna(""))],
        dtype="float64",
    )


def _char_ngrams(s: str, n: int = 3) -> list[str]:
    s = s or ""
    if len(s) < n:
        return [s] if s else []
    return [s[i : i + n] for i in range(len(s) - n + 1)]


@pandas_udf(DoubleType())
def ngram_cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """char-3gram TF cosine per pair (the north-star 'char-3gram TF-IDF
    cosine'; IDF weighting is applied upstream by joining token_idf)."""
    out = np.zeros(len(a))
    for i, (x, y) in enumerate(zip(a.fillna(""), b.fillna(""))):
        ga, gb = _char_ngrams(x), _char_ngrams(y)
        if not ga or not gb:
            continue
        ca: dict[str, int] = {}
        for g in ga:
            ca[g] = ca.get(g, 0) + 1
        cb: dict[str, int] = {}
        for g in gb:
            cb[g] = cb.get(g, 0) + 1
        dot = sum(v * cb.get(k, 0) for k, v in ca.items())
        na = np.sqrt(sum(v * v for v in ca.values()))
        nb = np.sqrt(sum(v * v for v in cb.values()))
        out[i] = dot / (na * nb) if na and nb else 0.0
    return pd.Series(out)


# KNRM kernel family (model.py:103-135): mu spans [-1,1] in 0.05 steps plus
# the exact-match kernel at 1.0; sigma 0.1 (0.001 for exact-match).
_KNRM_MUS = np.concatenate([np.arange(-0.975, 1.0, 0.05), [1.0]])
_KNRM_SIGMAS = np.where(_KNRM_MUS >= 0.999, 0.001, 0.1)
KNRM_DIM = len(_KNRM_MUS)


def knrm_pool(sim_matrix: np.ndarray) -> np.ndarray:
    """Gaussian-kernel pooling of a cosine-similarity matrix → KNRM_DIM
    feature vector: exp(-(S-mu)^2/(2 sigma^2)) summed over docs, log1p,
    summed over query terms (model.py:202-241, vectorized)."""
    if sim_matrix.size == 0:
        return np.zeros(KNRM_DIM)
    k = np.exp(
        -((sim_matrix[..., None] - _KNRM_MUS) ** 2) / (2.0 * _KNRM_SIGMAS**2)
    )
    pooled = np.log1p(k.sum(axis=1))  # over doc axis
    return pooled.sum(axis=0)  # over query axis


@pandas_udf(ArrayType(DoubleType()))
def knrm_udf(emb_a: pd.Series, emb_b: pd.Series) -> pd.Series:
    """KNRM features for pairs of embedding SETS (array<array<float>>):
    normalized dot-product matrix → kernel pooling. Arrow-batched; the
    inner math is one numpy einsum per pair."""
    out = []
    for va, vb in zip(emb_a, emb_b):
        if va is None or vb is None or len(va) == 0 or len(vb) == 0:
            out.append([0.0] * KNRM_DIM)
            continue
        ma = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
        mb = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
        ma /= np.maximum(np.linalg.norm(ma, axis=1, keepdims=True), 1e-12)
        mb /= np.maximum(np.linalg.norm(mb, axis=1, keepdims=True), 1e-12)
        out.append(knrm_pool(ma @ mb.T).tolist())
    return pd.Series(out)
