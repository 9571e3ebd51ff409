"""Feature selectors, Spark-native.

Two selectors mirroring the reference's surface
(/root/reference/ficaria/feature_selection.py):

* :class:`FuzzyGranularitySelector` (FIGFS) — greedy driver loop; per-round
  candidate scores consume only granule δ row-sums, which are computed either
  locally or DISTRIBUTED via the blocked pairwise kernel: one shuffle per
  batch of candidate subsets, never materializing n×n.
* :class:`WeightedFuzzyRoughSelector` (WFRS) — (H, weights, α) of the
  high-density region H are computed on the driver; every subset relevance
  Rel(B) is either a local X×H pass or a DISTRIBUTED map-only pass computing
  per-batch POS/NOG partial sums with (H, weights, α) broadcast once,
  followed by one scalar aggregate.

Each fit picks its engine from the fit size: the Spark engine runs when the
float64 pairwise block the driver route would build (n·n for FIGFS, n·|H| for
WFRS) exceeds the selector's byte budget below, and the choice is recorded
as ``engine_`` ("driver" or "spark"). Both engines give the same selection.

``transform`` for both is pure projection (``df.select``) — zero cost at any
scale.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from ficaria_spark.functions import fuzzyrough as fr
from ficaria_spark.functions import granularity as gr
from ficaria_spark.functions.validation import check_feature_frame, validate_params
from ficaria_spark.operators.impute import NotFittedError
from ficaria_spark.operators.pairwise import block_pair_sums

# Driver-route budgets, in bytes of the float64 pairwise block the driver
# engine builds per subset: n·n·8 for FIGFS, n·|H|·8 for WFRS. Above the
# budget the fit runs on the Spark engine. Set from the crossover measured on
# 4 cores, local[4], 4 features + binary label (table in CHANGES.md): FIGFS's
# driver wins at n=4k (122 MiB) and loses at 6k (275 MiB); WFRS's wins at 2k
# (23 MiB), ties at 2.5k (35 MiB) and loses from 3k (53 MiB).
_FIGFS_DRIVER_BYTES = 200 << 20
_WFRS_DRIVER_BYTES = 40 << 20


class FuzzyGranularitySelector:
    """FIGFS: rank features by fuzzy-implication granularity (reference:
    feature_selection.py:32–563). fit over the bounded fit set, with local
    or distributed δ-sums chosen from its size; transform = projection."""

    def __init__(self, k: int = 2, eps: float = 2.0, max_features: int | None = None,
                 feature_cols: Sequence[str] | None = None, fit_cap: int = 10_000,
                 fit_order_col: str | None = None):
        # reference validation shape (feature_selection.py:84–92): the repo's
        # `k` is the reference's `n_features` (count of features to keep)
        validate_params({"n_features": k, "eps": eps,
                         **({"max_features": max_features} if max_features is not None else {})})
        if max_features is not None and k > max_features:
            raise ValueError(
                f"n_features must be <= max_features: {max_features}, got {k} instead")
        self.k, self.eps, self.max_features = k, eps, max_features
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.fit_cap = fit_cap
        self.fit_order_col = fit_order_col
        self.S_: list[str] | None = None

    def fit(self, df: DataFrame, target_col: str | None = None):
        cols = self.feature_cols or [c for c in df.columns if c != target_col]
        check_feature_frame(df, cols, require_numeric=False, allow_nan=False)
        sel_cols = [*cols] + ([target_col] if target_col else [])
        # fit_order_col makes the capped fit set canonical (first fit_cap rows
        # in key order) — partition-layout invariant and twin-reproducible
        src = df.orderBy(self.fit_order_col) if self.fit_order_col else df
        sub = src.select(*sel_cols)
        if self.fit_cap is not None:
            sub = sub.limit(self.fit_cap)
        pdf = sub.toPandas()
        tname = target_col or "__target"
        if target_col is None:
            pdf[tname] = 0  # unsupervised: single dummy class
        n = len(pdf)
        self.engine_ = "spark" if n * n * 8 > _FIGFS_DRIVER_BYTES else "driver"
        provider = (self._spark_delta_provider(df.sparkSession, pdf, tname)
                    if self.engine_ == "spark" else None)
        core = gr.FigfsCore(
            pdf, tname, eps=self.eps, max_features=self.max_features,
            delta_provider=provider)
        self.S_ = core.run()
        self.feature_names_in_ = cols
        self._release_fit_caches()
        return self

    def _release_fit_caches(self) -> None:
        """Fit-internal persisted frames are fully consumed by fit's own
        actions — drop them as soon as fit returns."""
        for h in getattr(self, "_fit_caches", []):
            h.unpersist(blocking=False)
        self._fit_caches = []

    def _spark_delta_provider(self, spark, pdf: pd.DataFrame, tname: str):
        """Distributed δ row-sums: per call, ONE blocked-pairwise job batching
        every requested subset."""
        stats = {c: gr.column_stats(pdf[c], self.eps) for c in pdf.columns}
        work = pdf.copy()
        work["__rid"] = np.arange(len(work))
        # plain persist (NOT tracked): fit fully consumes and releases
        # this frame itself before returning
        sdf = spark.createDataFrame(work).persist()
        self._fit_caches = getattr(self, "_fit_caches", []) + [sdf]

        def provider(subsets: dict) -> dict:
            names = {key: f"d{i}" for i, key in enumerate(subsets)}

            def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> dict[str, np.ndarray]:
                out = {}
                for key, cols in subsets.items():
                    g = gr.granule_block(lpdf, rpdf, cols, stats, tname)
                    out[names[key]] = g.sum(axis=1)
                return out

            res = (
                block_pair_sums(sdf, "__rid", list(pdf.columns), kernel,
                                out_names=list(names.values()))
                .orderBy("__rid")
                .toPandas()
            )
            return {key: res[names[key]].to_numpy() for key in subsets}

        return provider

    def transform(self, df: DataFrame) -> DataFrame:
        if self.S_ is None:
            raise NotFittedError("FuzzyGranularitySelector is not fitted yet")
        missing = [c for c in self.feature_names_in_ if c not in df.columns]
        if missing:
            raise ValueError(
                f"X.columns must match the columns seen during fit "
                f"{self.feature_names_in_}, missing {missing} instead")
        return df.select(*self.S_[: self.k])

    def fit_transform(self, df: DataFrame, target_col: str | None = None) -> DataFrame:
        return self.fit(df, target_col).transform(df)


def wfrs_fit_pandas(pdf: pd.DataFrame, cols: list[str], target_col: str, *,
                    k: int, alpha: float, rel_eval_builder=None) -> dict:
    """The WFRS fit core over a bounded pandas frame — pure pandas/NumPy so
    the exact-oracle twin (oracle_fit) can reproduce the fit without Spark.
    ``rel_eval_builder(M, MH, yH, classes, is_num, W_diag)`` may inject the
    distributed Rel evaluator; when it is absent or returns None the local
    one runs."""
    X = pdf[cols]
    y = pdf[target_col].to_numpy()
    k = min(k, len(X) - 1)
    is_num = np.array([pd.api.types.is_numeric_dtype(X[c]) for c in cols])
    M = X.to_numpy()  # object array when nominal cols exist
    if is_num.all():
        M = M.astype(np.float64)

    classes = np.unique(y)
    H = fr.high_density_region(M, is_num, y, k)
    MH, yH = M[H], y[H]

    # single + pair relations → relevance / redundancy / weights
    m = len(cols)
    relations_single = {
        a: fr.gaussian_relation(M[:, [a]], MH[:, [a]], is_num[[a]], alpha)
        for a in range(m)
    }
    relevance = {
        a: fr.relevance_of(relations_single[a], yH, classes) for a in range(m)
    }
    redundancy = {}
    for a in range(m):
        for b in range(a + 1, m):
            R_ab = fr.gaussian_relation(
                M[:, [a, b]], MH[:, [a, b]], is_num[[a, b]], alpha)
            redundancy[(a, b)] = (
                relevance[a] + relevance[b] - fr.relevance_of(R_ab, yH, classes))
    weights = fr.feature_weights(relevance, redundancy)
    W_diag = np.array([fr.logistic_sq(weights[a]) for a in range(m)])

    def driver_eval(subsets: list[list[int]]) -> list[float]:
        out = []
        for B in subsets:
            R = fr.gaussian_relation(M[:, B], MH[:, B], is_num[B], alpha, W_diag[B])
            out.append(fr.relevance_of(R, yH, classes))
        return out

    rel_eval = (rel_eval_builder and rel_eval_builder(
        M, MH, yH, classes, is_num, W_diag)) or driver_eval

    # greedy separability ranking: sig(a) = Rel(B∪a) − Rel(B)
    selected: list[int] = []
    remaining = list(range(m))
    while remaining:
        base = rel_eval([selected])[0] if selected else 0.0
        cands = [selected + [a] for a in remaining]
        rels = rel_eval(cands)
        sig = {a: rels[i] - base for i, a in enumerate(remaining)}
        best = max(sig, key=sig.get)
        selected.append(best)
        remaining.remove(best)
    return {"H": H, "W_diag": W_diag, "selected": selected}


class WeightedFuzzyRoughSelector:
    """WFRS: weighted fuzzy-rough relevance/redundancy ranking (reference:
    feature_selection.py:566–1316). The Rel(B) engine is chosen per fit
    from n·|H| (see the module docstring)."""

    def __init__(self, n_features: int = 2, k: int = 5, alpha: float = 0.5,
                 feature_cols: Sequence[str] | None = None, fit_cap: int = 10_000,
                 fit_order_col: str | None = None):
        # reference validation (feature_selection.py:623–632)
        validate_params({"n_features": n_features, "k": k})
        if not isinstance(alpha, (int, float)) or isinstance(alpha, bool):
            raise TypeError(f"alpha must be int or float, got {type(alpha).__name__} instead")
        if not (0 < alpha <= 1):
            raise ValueError(f"alpha must be in range (0, 1], got {alpha} instead")
        self.n_features, self.k, self.alpha = n_features, k, alpha
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.fit_cap = fit_cap
        self.fit_order_col = fit_order_col
        self.feature_sequence_: list[int] | None = None

    def fit(self, df: DataFrame, target_col: str):
        cols = self.feature_cols or [c for c in df.columns if c != target_col]
        if self.n_features > len(cols):
            raise ValueError(
                f"n_features must be ≤ number of columns in X: ({len(cols)}), "
                f"got {self.n_features} instead")
        null_y = df.where(F.col(target_col).isNull()).limit(1).count()
        if null_y:
            raise ValueError("y must not contain missing values")

        src = df.orderBy(self.fit_order_col) if self.fit_order_col else df
        sub = src.select(*cols, target_col)
        if self.fit_cap is not None:
            sub = sub.limit(self.fit_cap)
        pdf = sub.toPandas()

        res = wfrs_fit_pandas(
            pdf, cols, target_col, k=self.k, alpha=self.alpha,
            rel_eval_builder=self._spark_rel_eval_builder(df.sparkSession))
        self.H_ = res["H"]
        self.W_ = np.diag(res["W_diag"])
        selected = res["selected"]
        self.feature_sequence_ = selected
        self.Rw_ = np.diag([self.W_[f, f] for f in selected])
        self.feature_names_in_ = cols
        self.feature_importances_ = (
            pd.DataFrame({
                "feature": [cols[i] for i in selected],
                "importance": np.diag(self.Rw_),
            })
            .sort_values("importance", ascending=False)
            .reset_index(drop=True)
        )
        for h in getattr(self, "_fit_caches", []):
            h.unpersist(blocking=False)
        self._fit_caches = []
        return self

    def _spark_rel_eval_builder(self, spark):
        """Distributed Rel: X streams through mapInPandas; (H slice, weights)
        broadcast; per-batch partial sums of POS+NOG per subset → one agg.
        The builder returns None (the local evaluator) while the n×|H|
        block fits the driver budget."""
        alpha = self.alpha

        def builder(M, MH, yH, classes, is_num, W_diag):
            big = len(M) * len(MH) * 8 > _WFRS_DRIVER_BYTES
            self.engine_ = "spark" if big else "driver"
            if not big:
                return None
            pdf_all = pd.DataFrame(M)
            # plain persist (NOT tracked): released at the end of fit
            sdf = spark.createDataFrame(pdf_all.rename(columns=str)).persist()
            self._fit_caches = getattr(self, "_fit_caches", []) + [sdf]
            n_rows = len(M)
            bc = spark.sparkContext.broadcast(
                {"MH": MH, "yH": yH, "classes": classes, "is_num": is_num,
                 "alpha": alpha, "Wd": W_diag})

            def spark_eval(subsets: list[list[int]]) -> list[float]:
                subs = [list(B) for B in subsets]

                def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    st = bc.value
                    for b in batches:
                        if not len(b):
                            continue
                        Mb = b.to_numpy()
                        sums = []
                        for B in subs:
                            R = fr.gaussian_relation(
                                Mb[:, B], st["MH"][:, B], st["is_num"][B],
                                st["alpha"], st["Wd"][B])
                            p, g = fr.pos_nog(R, st["yH"], st["classes"])
                            sums.append(float((p + g).sum()))
                        yield pd.DataFrame([sums], columns=[f"s{i}" for i in range(len(subs))])

                schema = ", ".join(f"s{i} double" for i in range(len(subs)))
                res = (
                    sdf.mapInPandas(run, schema)
                    .agg(*[F.sum(f"s{i}").alias(f"s{i}") for i in range(len(subs))])
                    .collect()[0]
                )
                return [float(res[f"s{i}"]) / n_rows for i in range(len(subs))]

            return spark_eval

        return builder

    def transform(self, df: DataFrame) -> DataFrame:
        if self.feature_sequence_ is None:
            raise NotFittedError("WeightedFuzzyRoughSelector is not fitted yet")
        missing = [c for c in self.feature_names_in_ if c not in df.columns]
        if missing:
            raise ValueError(
                f"X.columns must match the columns seen during fit "
                f"{self.feature_names_in_}, missing {missing} instead")
        picked = [self.feature_names_in_[i] for i in self.feature_sequence_[: self.n_features]]
        return df.select(*picked)

    def fit_transform(self, df: DataFrame, target_col: str) -> DataFrame:
        return self.fit(df, target_col).transform(df)
