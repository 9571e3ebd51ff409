"""FIGFS numeric core (fuzzy implication granularity feature selection).

Semantics follow the reference selector (/root/reference/ficaria/
feature_selection.py:111–563) — adaptive-radius fuzzy similarity, granule
δ row-sums, implication entropies, global/local granularity consistency, and
the greedy J = W·cor − sim loop — implemented fresh and fully vectorized.

The KEY structural insight used by the Spark path (operators/select.py): the
n×n similarity matrices are never needed as such — every score consumes only
  * δ_B(i)        = Σ_j min_{c∈B} sim_c(i, j)           (granule row-sums)
  * tdiff_B(i)    = Σ_j |min_{c∈B} sim_c(i, j) − [y_i = y_j]|
so both reduce to blocked pairwise row-sum aggregates (see
operators/pairwise.py), shuffling O(n·nb) rows and returning n scalars. The
selector takes that route only when the fit's n×n float64 block exceeds its
driver budget; below it the same sums run here in NumPy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def column_stats(series: pd.Series, eps: float) -> dict:
    """Per-column typing + adaptive radius (std/eps for numeric)."""
    if pd.api.types.is_numeric_dtype(series):
        sd = float(series.std(ddof=0)) if len(series) > 1 else 0.0
        return {"type": "numeric", "sd": sd, "radius": (sd / eps if eps != 0 else 0.0)}
    return {"type": "nominal", "sd": None, "radius": None}


def pair_similarity(
    left: np.ndarray, right: np.ndarray, stat: dict, *, is_target: bool = False
) -> np.ndarray:
    """Similarity block between two value vectors of one column.

    numeric: clip(1 − |Δ|/(1+sd), 0, 1), zeroed where sim < 1 − radius.
    nominal / target: exact equality.
    """
    if is_target or stat["type"] != "numeric":
        return (left[:, None] == right[None, :]).astype(np.float64)
    sim = 1.0 - np.abs(left[:, None].astype(float) - right[None, :].astype(float)) / (1.0 + stat["sd"])
    np.clip(sim, 0.0, 1.0, out=sim)
    radius = stat["radius"]
    if radius is not None:
        sim = np.where(sim >= 1.0 - radius, sim, 0.0)
    return sim


def granule_block(
    left: pd.DataFrame, right: pd.DataFrame, cols: list[str], stats: dict[str, dict],
    target_name: str | None = None,
) -> np.ndarray:
    """min over cols of the per-column similarity blocks → (n_left, n_right)."""
    out = None
    for c in cols:
        blk = pair_similarity(
            left[c].to_numpy(), right[c].to_numpy(), stats[c],
            is_target=(c == target_name),
        )
        out = blk if out is None else np.minimum(out, blk)
    return out


class FigfsCore:
    """Driver-side FIGFS over a bounded pandas frame.

    ``delta_provider``: optional callable ``(subsets: dict[key, list[cols]])
    -> dict[key, np.ndarray]`` returning δ row-sum vectors — the selector
    injects the Spark blocked-pairwise evaluator here when the fit set is too
    big for the driver; defaults to local NumPy.
    """

    def __init__(self, U: pd.DataFrame, target_name: str, *, eps: float = 2.0,
                 max_features: int | None = None, delta_provider=None):
        self.U = U.reset_index(drop=True)
        self.target = target_name
        self.n = len(U)
        self.feature_cols = [c for c in U.columns if c != target_name]
        self.stats = {c: column_stats(self.U[c], eps) for c in U.columns}
        self.max_features = max_features or len(self.feature_cols)
        self._delta_cache: dict[tuple, np.ndarray] = {}
        self._entropy_cache: dict = {}
        self._delta_provider = delta_provider
        y = self.U[target_name].to_numpy()
        self.classes_ = pd.unique(self.U[target_name])
        self._y = y

    # -- δ machinery ---------------------------------------------------------
    def delta_sums(self, B: tuple[str, ...]) -> np.ndarray:
        if B in self._delta_cache:
            return self._delta_cache[B]
        if self._delta_provider is not None:
            res = self._delta_provider({B: list(B)})[B]
        else:
            g = granule_block(self.U, self.U, list(B), self.stats, self.target)
            res = g.sum(axis=1)
        self._delta_cache[B] = res
        return res

    def target_diff_sums(self, B: tuple[str, ...]) -> np.ndarray:
        """Σ_j |granule(i,j) − [y_i = y_j]| per row (global consistency F5)."""
        g = granule_block(self.U, self.U, list(B), self.stats, self.target)
        t = (self._y[:, None] == self._y[None, :]).astype(np.float64)
        return np.abs(g - t).sum(axis=1)

    # -- scores ---------------------------------------------------------------
    def entropy(self, B: tuple[str, ...], kind: str = "basic",
                T: tuple[str, ...] = ()) -> float:
        key = (B, kind, T)
        if key in self._entropy_cache:
            return self._entropy_cache[key]
        if len(B) == 0:
            self._entropy_cache[key] = 0.0
            return 0.0
        dB = self.delta_sums(B)
        dT = self.delta_sums(T) if len(T) else np.zeros_like(dB)
        n = max(self.n, 1.0)
        if kind == "basic":
            out = float(np.sum(1.0 - dB / n) / n)
        elif kind == "conditional":
            out = float(np.sum(np.maximum(dB, dT) - dB) / (self.n**2 if self.n > 0 else 1.0))
        elif kind == "joint":
            out = float(np.sum(1.0 + np.maximum(dB, dT) / n - (dB + dT) / n) / n)
        else:  # mutual
            out = float(np.sum(1.0 - np.maximum(dB, dT) / n) / n)
        self._entropy_cache[key] = out
        return out

    def global_consistency(self, B: tuple[str, ...]) -> float:
        if len(B) == 0:
            return 0.0
        td = self.target_diff_sums(B)
        return float(np.mean(1.0 - td / self.n))

    def local_consistency(self, B: tuple[str, ...]) -> float:
        """Mean over class partitions of mean(local δ / global δ) per row.

        Row identity is positional; the reference matches each local row to
        the FIRST global occurrence of its value tuple instead
        (feature_selection.py:471–483). The two are numerically identical even
        with duplicate rows: δ_B is a pure function of the row's B-values, so
        every occurrence of a tuple has the same global δ as its first
        occurrence (NaNs, the one case where tuple lookup would diverge, are
        rejected by the selector's allow_nan=False input check).
        """
        if len(B) == 0:
            return 0.0
        d_global = self.delta_sums(B)
        total = 0.0
        n_parts = 0
        for v in self.classes_:
            mask = self._y == v
            if not mask.any():
                continue
            part = self.U[mask]
            g = granule_block(part, part, list(B), self.stats, self.target)
            d_local = g.sum(axis=1)
            dg = d_global[mask]
            ratios = np.where(dg == 0.0, 1.0, d_local / np.where(dg == 0, 1.0, dg))
            total += float(np.mean(ratios))
            n_parts += 1
        return total / n_parts if n_parts else 0.0

    # -- greedy ----------------------------------------------------------------
    def run(self) -> list[str]:
        remaining = list(self.feature_cols)
        cor = {
            c: self.global_consistency((c,)) + self.local_consistency((c,))
            for c in remaining
        }
        seed = max(remaining, key=lambda c: cor[c])
        S = [seed]
        remaining.remove(seed)

        while remaining and len(S) < self.max_features:
            tgt = (self.target,)
            denom = self.entropy(tuple(S), "conditional", tgt) + 0.01
            best, best_j = None, -np.inf
            for c in remaining:
                sim = 0.0
                for s in S:
                    sim += (
                        self.entropy(tgt, "mutual", (c,))
                        + self.entropy((c,), "mutual", (s,))
                        - self.entropy((c,), "mutual", (self.target, s))
                    )
                sim /= len(S)
                W = 1.0 + (
                    self.entropy(tuple(S), "conditional", tgt)
                    - self.entropy(tuple(S), "conditional", tuple(S) + (c,))
                ) / denom
                j = W * cor[c] - sim
                if j > best_j:
                    best, best_j = c, j
            S.append(best)
            remaining.remove(best)
        return S
