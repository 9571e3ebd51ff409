"""Weighted fuzzy-rough selector (WFRS) numeric core.

Semantics follow the reference (/root/reference/ficaria/feature_selection.py:
644–1316): hybrid numeric/categorical distance (HEC) with missing→1.0, same-
class kNN density and local-density-factor to pick the high-density region H,
Gaussian fuzzy relations vs H, fuzzy-rough POS/NOG lower/upper approximations,
relevance/redundancy → logistic feature weights, and a greedy separability
ranking. Fresh, vectorized implementation.

Scale structure: every Rel(B) is an X×H computation — local while the n×|H|
block fits the selector's driver budget, otherwise the Spark path broadcasts
(H, W, α) and computes per-batch POS/NOG partial sums inside mapInPandas (see
operators/select.py); the m² scalar bookkeeping stays on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def hec_distance(
    A: np.ndarray, B: np.ndarray, is_num: np.ndarray, weights: np.ndarray | None = None
) -> np.ndarray:
    """Hybrid distance between rows of A (n1,d) and B (n2,d) (object arrays
    allowed for nominal cols). numeric: |Δ| with missing→1; nominal:
    inequality with missing→1; combined as sqrt(Σ w_f · diff_f²)."""
    n1, n2, d = len(A), len(B), A.shape[1]
    if weights is None:
        weights = np.ones(d)
    total = np.zeros((n1, n2))
    for f in range(d):
        if is_num[f]:
            a = A[:, f].astype(np.float64)
            b = B[:, f].astype(np.float64)
            diff = np.abs(a[:, None] - b[None, :])
            miss = np.isnan(a)[:, None] | np.isnan(b)[None, :]
            diff = np.where(miss, 1.0, diff)
        else:
            a, b = A[:, f], B[:, f]
            miss = pd.isna(a)[:, None] | pd.isna(b)[None, :]
            diff = (a[:, None] != b[None, :]).astype(np.float64)
            diff = np.where(miss, 1.0, diff)
        total += weights[f] * diff**2
    return np.sqrt(total)


def knn_same_class(
    X: np.ndarray, is_num: np.ndarray, y: np.ndarray, k: int, *, block: int = 512
) -> tuple[np.ndarray, np.ndarray]:
    """(n, k) indices of the k nearest same-class neighbors (−1 padded) and
    their distances (NaN padded), sorted ascending.

    Memory-blocked: per class, distances are computed ``block`` query rows at
    a time against the class — peak O(block · n_c) instead of the full n×n
    matrix (at fit_cap=10k the dense path allocated several ~800 MB float64
    temporaries per expression on the driver)."""
    n = len(y)
    out = np.full((n, k), -1, dtype=np.int64)
    dout = np.full((n, k), np.nan)
    for c in np.unique(y):
        idx = np.where(y == c)[0]
        if len(idx) < 2:
            continue
        Xc = X[idx]
        take = min(k, len(idx) - 1)
        for s in range(0, len(idx), block):
            e = min(s + block, len(idx))
            d = hec_distance(Xc[s:e], Xc, is_num)
            d[np.arange(e - s), np.arange(s, e)] = np.inf  # self
            order = np.argsort(d, axis=1, kind="mergesort")[:, :take]
            out[idx[s:e], :take] = idx[order]
            dout[idx[s:e], :take] = np.take_along_axis(d, order, axis=1)
    return out, dout


def density_and_ldf(knn: np.ndarray, dknn: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """ρ(x) = (1+|N|)/(1+Σ d(x,N)); LDF(x) = mean(ρ_nbr / ρ_x). Works from the
    kNN distance rows directly (same ascending order the dense path produced,
    so sums are bit-identical) — no n×n matrix needed."""
    n = len(knn)
    rho = np.zeros(n)
    for i in range(n):
        m = knn[i] >= 0
        rho[i] = (1 + m.sum()) / (1 + dknn[i][m].sum()) if m.any() else 0.0
    ldf = np.full(n, np.inf)
    for i in range(n):
        nb = knn[i][knn[i] >= 0]
        if len(nb) and rho[i] != 0:
            ldf[i] = float(np.mean(rho[nb] / rho[i]))
    return rho, ldf


def high_density_region(X: np.ndarray, is_num: np.ndarray, y: np.ndarray, k: int,
                        *, block: int = 512) -> np.ndarray:
    """Indices of the high-density region H (unique kNN of low-LDF rows)."""
    knn, dknn = knn_same_class(X, is_num, y, k, block=block)
    _, ldf = density_and_ldf(knn, dknn)
    picked = np.where(ldf <= 1)[0]
    H = np.unique(knn[picked].ravel())
    return H[H >= 0]


def gaussian_relation(
    X: np.ndarray, XH: np.ndarray, is_num: np.ndarray, alpha: float,
    weights: np.ndarray | None = None,
) -> np.ndarray:
    """R(x, h) = exp(−d²(x,h) / (2α²)) over the given feature slice."""
    d = hec_distance(X, XH, is_num, weights)
    return np.exp(-(d**2) / (2.0 * alpha**2))


def pos_nog(R: np.ndarray, yH: np.ndarray, classes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized fuzzy-rough lower/upper approximation per row:
    POS(x) = max_c min_h max(1−R(x,h), [y_h=c]);
    NOG(x) = max_c max_h min(R(x,h), [y_h=c])."""
    n = R.shape[0]
    lowers = np.empty((n, len(classes)))
    uppers = np.empty((n, len(classes)))
    inv = 1.0 - R
    for ci, c in enumerate(classes):
        D = (yH == c).astype(np.float64)[None, :]
        lowers[:, ci] = np.maximum(inv, D).min(axis=1)
        uppers[:, ci] = np.minimum(R, D).max(axis=1)
    return lowers.max(axis=1), uppers.max(axis=1)


def relevance_of(R: np.ndarray, yH: np.ndarray, classes: np.ndarray) -> float:
    p, g = pos_nog(R, yH, classes)
    return float(np.mean(p + g))


def feature_weights(relevance: dict[int, float], redundancy: dict[tuple, float]) -> dict[int, float]:
    """w_a = NRel(a) − mean_b NRed(a,b) (min-max normalized)."""
    feats = sorted(relevance)
    rel = np.array([relevance[a] for a in feats])
    dr = rel.max() - rel.min()
    nrel = {a: (relevance[a] - rel.min()) / (dr if dr > 0 else 1.0) for a in feats}
    if redundancy:
        red = np.array(list(redundancy.values()))
        drd = red.max() - red.min()
        nred = {k: (v - red.min()) / (drd if drd > 0 else 1.0) for k, v in redundancy.items()}
    else:
        nred = {}
    out = {}
    m = len(feats)
    for a in feats:
        s = sum(nred.get((min(a, b), max(a, b)), 0.0) for b in feats if b != a)
        out[a] = nrel[a] - s / max(m - 1, 1)
    return out


def logistic_sq(w: float) -> float:
    return float(1.0 / (1.0 + np.exp(-w))) ** 2
