"""Literal-embedded DuckDB oracles for driver-side-fitted operators.

Every imputer/ANN fit in this engine is a *driver-side, seeded, deterministic*
NumPy computation over a canonically-ordered bounded sample (see
operators/impute.py `_ImputerBase._collect_complete`). That makes the fitted
state reproducible WITHOUT Spark: this module re-runs the identical fit from
the same parquet via DuckDB/pandas and emits transform SQL with the fitted
state (centers, side means, hyperplanes) embedded as double literals.

The emitted SQL mirrors the engine's transform kernels expression-for-
expression (same masked-distance shape, same 1e-10 floor, same first-min
tie-break, same membership formula) so the driver's typed value-hash matches
bit-for-bit — filled cells are either center-component *literals* (exact) or
short arithmetic rounded to 4dp (Spark query rounds identically).

Reference semantics being twinned: missing_imputation.py:156-163 (centroid
fill), 312-319 (parameter fill), 525-657 (rough side choice), 1192-1197
(IIFCM fill) in /root/reference/ficaria.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ficaria_spark import datagen
from ficaria_spark.functions import fcm as fcmk

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

# deterministic masked feature matrix over `part` — single source of truth,
# imported by queries.py for both the Spark builder and the oracles
PART_MATRIX_SQL = """
SELECT p_partkey AS row_id,
       CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_retailprice END AS f0,
       CASE WHEN p_partkey % 11 = 3 THEN NULL ELSE cast(p_size AS DOUBLE) END AS f1,
       cast(length(p_name) AS DOUBLE) AS f2,
       cast(p_partkey % 97 AS DOUBLE) AS f3
FROM part
"""

FEATS = ["f0", "f1", "f2", "f3"]
_FIT_CAP = 200_000
#: bounded fit set for the MEMBER-STATE imputers (rough / FCKI), whose
#: transform cost is O(n_missing × fit_members) — shared with queries.py so
#: both engines cap identically (binds only beyond the driver-verified
#: scales: sf0.1 has ~17k complete part rows)
MEMBER_FIT_CAP = 20_000

# deterministic feature matrix over `customer` for the selector queries —
# twin of queries._customer_matrix
CUSTOMER_MATRIX_SQL = """
SELECT c_custkey AS row_id,
       c_acctbal AS f_bal,
       cast(length(c_name) AS DOUBLE) AS f_namelen,
       cast(c_nationkey AS DOUBLE) AS f_nation,
       cast(c_custkey % 7 AS DOUBLE) AS f_mod,
       c_mktsegment AS label
FROM customer
"""

SEL_FEATS = ["f_bal", "f_namelen", "f_nation", "f_mod"]


def _lit(x: float) -> str:
    """Shortest round-trip double literal (DuckDB parses back the same bits)."""
    return repr(float(x))


def _vec_lit(v: np.ndarray) -> str:
    return "[" + ", ".join(_lit(x) for x in v) + "]"


def _duck(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@lru_cache(maxsize=8)
def _part_matrix_pdf(sf_dir: str):
    con = _duck(sf_dir, ("part",))
    return con.execute(PART_MATRIX_SQL).df()


def _complete_sorted(pdf, cols: list[str], cap: int = _FIT_CAP) -> np.ndarray:
    """Twin of `_ImputerBase._collect_complete`: complete rows in canonical
    (feature-tuple) order, capped. Full-tuple duplicates are interchangeable
    for every downstream fit, so the order is engine-invariant."""
    comp = pdf.dropna(subset=cols)[cols].sort_values(cols, kind="mergesort").head(cap)
    return comp.to_numpy(dtype=np.float64)


# ---------------------------------------------------------------------------
# fits (exact twins of the Spark-side driver fits)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=8)
def fit_fcm_centers(sf_dir: str) -> np.ndarray:
    """FCMCentroidImputer/FCMParameterImputer fit twin (n_clusters=3, rs=42)."""
    X = _complete_sorted(_part_matrix_pdf(sf_dir), FEATS)
    centers, _ = fcmk.fuzzy_c_means(X, 3, m=2.0, max_iter=100, tol=1e-5, random_state=42)
    return centers


@lru_cache(maxsize=8)
def fit_iifcm_centers(sf_dir: str) -> np.ndarray:
    """FCMInterpolationIterativeImputer fit twin (order_col=row_id, rs=42)."""
    from ficaria_spark.operators.impute import _ifcm

    pdf = _part_matrix_pdf(sf_dir).sort_values("row_id").head(_FIT_CAP)
    sub = pdf[FEATS].reset_index(drop=True)
    miss_mask = sub.isna().to_numpy()
    filled = sub.interpolate(method="linear", axis=0, limit_direction="both")
    centers, _ = _ifcm(
        filled.to_numpy(dtype=np.float64), miss_mask, n_clusters=3, m=2.0,
        alpha=2.0, use_sigma=False, max_iter=100, tol=1e-5, random_state=42)
    return centers


@lru_cache(maxsize=8)
def fit_rough_state(sf_dir: str):
    """FCMRoughParameterImputer fit twin. Returns (rough_centers (3,4),
    per-cluster [(lower_row_ids, upper_row_ids, mean_lower, mean_upper)])."""
    from ficaria_spark.operators.impute import _rough_kmeans

    pdf = _part_matrix_pdf(sf_dir)
    comp = pdf.dropna(subset=FEATS).sort_values(
        FEATS, kind="mergesort").head(MEMBER_FIT_CAP)
    X = comp[FEATS].to_numpy(dtype=np.float64)
    rids = comp["row_id"].to_numpy()
    centers0, u = fcmk.fuzzy_c_means(X, 3, m=2.0, max_iter=100, tol=1e-5, random_state=42)
    lower, upper, centers = _rough_kmeans(
        X, u, centers0, wl=0.6, wb=0.4, tau=0.5, max_iter=100, tol=1e-5)
    clusters = []
    for j in range(3):
        lo, up = lower[:, j], upper[:, j]
        clusters.append((
            rids[lo],
            rids[up],
            X[lo].mean(axis=0) if lo.any() else None,
            X[up].mean(axis=0) if up.any() else None,
        ))
    return centers, clusters


# backfill CTEs shared with the flagship oracle in queries.py
_FLAGSHIP_FEAT_CTE = f"""WITH grid AS ({datagen.FEATURE_GRID_SQL}),
feat AS (
  SELECT event_id, entity_id, ts,
         coalesce(
           f_value,
           last_value(f_value IGNORE NULLS) OVER (
             PARTITION BY entity_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ) AS g0,
         cast(entity_id % 17 AS DOUBLE) AS g1
  FROM grid
)"""


@lru_cache(maxsize=8)
def fit_flagship_centers(sf_dir: str) -> np.ndarray:
    """pipeline_flagship_fcm fit twin: FCMParameterImputer(n_clusters=3,
    rs=42) over the (g0, g1) matrix derived from the backfilled grid."""
    con = _duck(sf_dir, ("events",))
    pdf = con.execute(_FLAGSHIP_FEAT_CTE + "\nSELECT g0, g1 FROM feat").df()
    X = _complete_sorted(pdf, ["g0", "g1"])
    centers, _ = fcmk.fuzzy_c_means(X, 3, m=2.0, max_iter=100, tol=1e-5, random_state=42)
    return centers


# ---------------------------------------------------------------------------
# FCKI / DT full-output driver twins (VALUES-literal oracles)
#
# Both transforms are sequential per group (in-cluster kNN+II; leaf-local FCM
# refinement) — not expressible as a SQL formula. But given the seeded fit
# and the canonical in-group order (features + row_id tiebreak, matching
# order_cols=("row_id",) in the registered queries), the whole OUTPUT RELATION
# is a deterministic driver-side computation: re-run it here in pandas/NumPy
# and emit it as a `SELECT ... FROM (VALUES ...)` oracle.
# Reference semantics: missing_imputation.py:891–1024 (KI), 1427–1698 (DT).
# ---------------------------------------------------------------------------

@lru_cache(maxsize=8)
def fit_fcki_state(sf_dir: str, cap_row_id: int | None = None):
    """FCMKIterativeImputer(n_clusters=3, rs=42) fit twin. The engine's
    _collect_all orders by the feature tuple ASC NULLS FIRST (Spark's asc
    default) — replicated here so the seeded FCM init sees identical rows.
    ``cap_row_id`` twins the bench-sized capped variant (row_id ≤ cap)."""
    con = _duck(sf_dir, ("part",))
    order = ", ".join(f"{c} ASC NULLS FIRST" for c in FEATS)
    where = f"WHERE row_id <= {cap_row_id}" if cap_row_id else ""
    X = con.execute(
        f"WITH m AS ({PART_MATRIX_SQL}) SELECT {', '.join(FEATS)} FROM m "
        f"{where} ORDER BY {order} LIMIT {MEMBER_FIT_CAP}"
    ).df().to_numpy(dtype=np.float64)
    means = np.nanmean(X, axis=0)
    filled = np.where(np.isnan(X), means[None, :], X)
    centers, u = fcmk.fuzzy_c_means(filled, 3, m=2.0, max_iter=100,
                                    tol=1e-5, random_state=42)
    return {
        "centers": centers, "m": 2.0, "means": means, "train": X,
        "labels": u.argmax(axis=1), "seed": 42, "max_k": 10, "max_ii": 10,
        "vmin": float(np.nanmin(X)), "vmax": float(np.nanmax(X)),
    }


@lru_cache(maxsize=8)
def fcki_expected(sf_dir: str, cap_row_id: int | None = None):
    """Driver twin of q_impute_fcki's full output (row_id, f0..f3 raw doubles):
    cluster tagging by fcm_predict over mean-filled rows, canonical
    (features, row_id) in-group order, sequential _ki_impute_group per cluster
    — the exact code the executors run, minus Spark."""
    import pandas as pd

    from ficaria_spark.operators.impute import _ki_impute_group

    st = fit_fcki_state(sf_dir, cap_row_id)
    pdf = _part_matrix_pdf(sf_dir)
    if cap_row_id:
        pdf = pdf[pdf["row_id"] <= cap_row_id]
    pdf = pdf.reset_index(drop=True)
    X = pdf[FEATS].to_numpy(np.float64)
    filled = np.where(np.isnan(X), st["means"][None, :], X)
    labels = fcmk.fcm_predict(filled, st["centers"], st["m"]).argmax(axis=1)
    out = pdf[["row_id", *FEATS]].copy()
    for cl in np.unique(labels):
        rows = np.where(labels == cl)[0]
        sub = pdf.iloc[rows].sort_values([*FEATS, "row_id"], kind="mergesort")
        M = sub[FEATS].to_numpy(np.float64)
        res = _ki_impute_group(
            M, st["train"][st["labels"] == cl], means=st["means"],
            seed=st["seed"], max_k=st["max_k"], max_ii_iter=st["max_ii"],
            vmin=st["vmin"], vmax=st["vmax"])
        out.loc[sub.index, FEATS] = res
    assert isinstance(out, pd.DataFrame)
    return out


@lru_cache(maxsize=8)
def fit_dt_state(sf_dir: str, *, min_samples_leaf: int = 5):
    """FCMDTIterativeImputer fit twin: per-column regression trees over the
    canonically-ordered complete rows (engine fit, minus Spark)."""
    from ficaria_spark.functions.mice import RegressionTree

    Xc = _complete_sorted(_part_matrix_pdf(sf_dir), FEATS)
    means = Xc.mean(axis=0)
    trees, leaf_ids = {}, {}
    for j in range(len(FEATS)):
        others = np.delete(Xc, j, axis=1)
        t = RegressionTree(min_samples_leaf=min_samples_leaf).fit(others, Xc[:, j])
        trees[j] = t
        leaf_ids[j] = t.apply(others)
    return {"Xc": Xc, "means": means, "trees": trees, "leaf_ids": leaf_ids}


@lru_cache(maxsize=8)
def dt_expected(sf_dir: str, *, lr: float = 0.3, stop_threshold: float = 1e-3,
                max_iter: int = 1, max_clusters: int = 3, m: float = 2.0,
                alpha: float = 1.0, max_FCM_iter: int = 100, tol: float = 1e-5,
                random_state: int = 42):
    """Driver twin of q_impute_dt's full output: initial tree fill + leaf
    tagging, then per-sweep per-column leaf-grouped FCM refinement in the
    canonical (features, row_id) order, with the same Δ-aggregate stop."""
    import pandas as pd

    from ficaria_spark.operators.impute import _pick_k_by_fsi

    st = fit_dt_state(sf_dir)
    pdf = _part_matrix_pdf(sf_dir).reset_index(drop=True)
    d = len(FEATS)
    X = pdf[FEATS].to_numpy(np.float64)
    was_nan = np.isnan(X)
    mis = was_nan.any(axis=1)
    W = X.copy()
    leaves = np.full((len(pdf), d), -1, dtype=np.int64)
    for j in range(d):
        rows = np.where(was_nan[:, j])[0]
        if not len(rows):
            continue
        feats = np.delete(W[rows], j, axis=1)
        om = np.delete(st["means"], j)
        feats = np.where(np.isnan(feats), om[None, :], feats)
        W[rows, j] = st["trees"][j].predict(feats)
        leaves[rows, j] = st["trees"][j].apply(feats)

    work = pd.DataFrame(W[mis], columns=FEATS)
    work["row_id"] = pdf.loc[mis, "row_id"].to_numpy()
    wleaves = leaves[mis]
    wmask = was_nan[mis]
    params = dict(max_clusters=max_clusters, m=m, alpha=alpha,
                  max_iter=max_FCM_iter, tol=tol, random_state=random_state)
    prev_sum, prev_cnt, tot_sum, tot_cnt = 0.0, 0, 0.0, 0
    for _ in range(max_iter):
        for j in range(d):
            for leaf in np.unique(wleaves[:, j]):
                if leaf < 0:
                    continue
                sel = np.where(wleaves[:, j] == leaf)[0]
                if not wmask[sel, j].any():
                    continue
                ord_idx = work.iloc[sel].sort_values(
                    [*FEATS, "row_id"], kind="mergesort").index
                M = work.loc[ord_idx, FEATS].to_numpy(np.float64)
                comp = st["Xc"][st["leaf_ids"][j] == leaf]
                stacked = np.vstack([comp, M]) if len(comp) else M
                if len(stacked) < 2:
                    continue
                k = _pick_k_by_fsi(stacked, **params)
                centers, u = fcmk.fuzzy_c_means(
                    stacked, k, m=m, max_iter=max_FCM_iter, tol=tol,
                    random_state=random_state)
                pred = u[len(comp):] @ centers[:, j]
                cur = M[:, j]
                mk = wmask[ord_idx.to_numpy(), j]
                upd = np.where(mk, cur + lr * (pred - cur), cur)
                work.loc[ord_idx, FEATS[j]] = upd
                tot_sum += float(np.abs(upd - cur).sum())
                tot_cnt += int(mk.sum())
        av_num, av_den = tot_sum - prev_sum, tot_cnt - prev_cnt
        prev_sum, prev_cnt = tot_sum, tot_cnt
        if av_den == 0 or av_num / av_den <= stop_threshold:
            break

    out = pdf[["row_id", *FEATS]].copy()
    out.loc[np.where(mis)[0], FEATS] = work[FEATS].to_numpy()
    return out


def values_impute_oracle_sql(expected, *, nd: int = 6) -> str:
    """Emit a full expected output relation as a VALUES oracle. Raw doubles go
    in as shortest-round-trip literals; DuckDB applies the same round(·, nd)
    the Spark query applies, so cross-engine rounding behavior is identical
    to every other oracle here."""
    rows = ",\n    ".join(
        "(" + ", ".join([str(int(r[0]))] + [_lit(v) for v in r[1:]]) + ")"
        for r in expected.itertuples(index=False))
    cols = ",\n       ".join(
        f"round(CAST({f} AS DOUBLE), {nd}) AS {f}" for f in FEATS)
    return f"""SELECT CAST(row_id AS BIGINT) AS row_id,
       {cols}
FROM (VALUES
    {rows}
) AS t(row_id, {", ".join(FEATS)})
"""


@lru_cache(maxsize=8)
def _embeddings_sorted(sf_dir: str) -> np.ndarray:
    con = _duck(sf_dir, ("embeddings",))
    pdf = con.execute("SELECT embedding FROM embeddings ORDER BY vec_id").df()
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


@lru_cache(maxsize=8)
def fit_ivf_centers(sf_dir: str, n_lists: int = 8, iters: int = 10,
                    seed: int = 11, sample_cap: int = 20_000) -> np.ndarray:
    """ivf_assign fit twin: k-means over the canonically-ordered sample."""
    from ficaria_spark.operators.similarity import _kmeans

    X = _embeddings_sorted(sf_dir)[:sample_cap]
    return _kmeans(X, n_lists, iters, seed)


# ---------------------------------------------------------------------------
# SQL builders
# ---------------------------------------------------------------------------

def _masked_d2_terms(centers_row: np.ndarray, feats: list[str]) -> str:
    """Sum of NaN-masked squared diffs, same term order as the engine kernel."""
    terms = [
        f"(CASE WHEN {f} IS NULL THEN 0.0 "
        f"ELSE ({f} - {_lit(c)}) * ({f} - {_lit(c)}) END)"
        for f, c in zip(feats, centers_row)
    ]
    return " + ".join(terms)


def _masked_dist_expr(centers_row: np.ndarray, feats: list[str]) -> str:
    return f"greatest(sqrt({_masked_d2_terms(centers_row, feats)}), 1e-10)"


def _nearest3_expr(d=("d0", "d1", "d2")) -> str:
    """First-min argmin over 3 distances (np.argmin tie semantics)."""
    return (f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0 "
            f"WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END")


def _center_pick(centers: np.ndarray, j: int, cl: str = "cl") -> str:
    return (f"CASE {cl} WHEN 0 THEN {_lit(centers[0, j])} "
            f"WHEN 1 THEN {_lit(centers[1, j])} ELSE {_lit(centers[2, j])} END")


def centroid_oracle_sql(centers: np.ndarray, *, nd: int = 6) -> str:
    """Transform twin of FCMCentroidImputer (and IIFCM with its centers):
    fill each NULL cell from the masked-distance-nearest center."""
    d_exprs = ",\n         ".join(
        f"{_masked_dist_expr(centers[k], FEATS)} AS d{k}" for k in range(3))
    fills = ",\n       ".join(
        f"round(coalesce({f}, {_center_pick(centers, j)}), {nd}) AS {f}"
        for j, f in enumerate(FEATS))
    return f"""WITH m AS ({PART_MATRIX_SQL}),
d AS (
  SELECT row_id, f0, f1, f2, f3,
         {d_exprs}
  FROM m
),
n AS (SELECT *, {_nearest3_expr()} AS cl FROM d)
SELECT row_id,
       {fills}
FROM n
"""


def _membership_est_exprs(centers: np.ndarray, dcols=("d0", "d1", "d2")) -> tuple[list[str], list[str]]:
    """u_k = 1/Σ_l (d_k/d_l)² and est_j = Σ_k u_k·c_kj — identical op order to
    memberships_from_dist + u @ centers (m=2)."""
    u_exprs = []
    for k in range(3):
        ratio_sum = " + ".join(
            f"(({dcols[k]} / {dcols[l]}) * ({dcols[k]} / {dcols[l]}))" for l in range(3))
        u_exprs.append(f"1.0 / ({ratio_sum})")
    est_exprs = []
    for j in range(centers.shape[1]):
        est_exprs.append(" + ".join(f"u{k} * {_lit(centers[k, j])}" for k in range(3)))
    return u_exprs, est_exprs


def parameter_oracle_sql(centers: np.ndarray, *, nd: int = 4) -> str:
    """Transform twin of FCMParameterImputer: membership-weighted centroid mix.
    Arithmetic (not literal) fills → rounded to 4dp on both sides."""
    d_exprs = ",\n         ".join(
        f"{_masked_dist_expr(centers[k], FEATS)} AS d{k}" for k in range(3))
    u_exprs, est_exprs = _membership_est_exprs(centers)
    u_sql = ",\n         ".join(f"{e} AS u{k}" for k, e in enumerate(u_exprs))
    est_sql = ",\n         ".join(f"{e} AS est{j}" for j, e in enumerate(est_exprs))
    fills = ",\n       ".join(
        f"round(coalesce({f}, est{j}), {nd}) AS {f}" for j, f in enumerate(FEATS))
    return f"""WITH m AS ({PART_MATRIX_SQL}),
d AS (
  SELECT row_id, f0, f1, f2, f3,
         {d_exprs}
  FROM m
),
u AS (
  SELECT *,
         {u_sql}
  FROM d
),
e AS (
  SELECT *,
         {est_sql}
  FROM u
)
SELECT row_id,
       {fills}
FROM e
"""


def rough_oracle_sql(centers: np.ndarray, clusters, *, nd: int = 6) -> str:
    """Transform twin of FCMRoughParameterImputer: nearest rough cluster by
    masked distance, then the better-matching side (mean member distance),
    fill from that side's column means (literals)."""
    d_exprs = ",\n         ".join(
        f"{_masked_dist_expr(centers[k], FEATS)} AS d{k}" for k in range(3))
    mem_rows = []
    for j, (lo_ids, up_ids, _, _) in enumerate(clusters):
        lo_set = set(lo_ids.tolist())
        for rid in up_ids.tolist():
            mem_rows.append(f"({rid}, {j}, {str(rid in lo_set).upper()})")
        # lower ⊆ upper by construction; rows only in lower would be a bug
    mem_values = ",\n    ".join(mem_rows)
    n_lo = [len(c[0]) for c in clusters]
    n_up = [len(c[1]) for c in clusters]
    n_lo_case = f"CASE n.cl WHEN 0 THEN {n_lo[0]} WHEN 1 THEN {n_lo[1]} ELSE {n_lo[2]} END"
    n_up_case = f"CASE n.cl WHEN 0 THEN {n_up[0]} WHEN 1 THEN {n_up[1]} ELSE {n_up[2]} END"

    def mean_pick(j_feat: int) -> str:
        branches = []
        for j, (_, _, mlo, mup) in enumerate(clusters):
            lo_lit = _lit(mlo[j_feat]) if mlo is not None else "NULL"
            up_lit = _lit(mup[j_feat]) if mup is not None else "NULL"
            branches.append(f"WHEN s.cl = {j} AND s.side = 0 THEN {lo_lit}")
            branches.append(f"WHEN s.cl = {j} AND s.side = 1 THEN {up_lit}")
        return "CASE " + " ".join(branches) + " END"

    # member distance uses the member vector columns v0..v3 as the "center"
    terms = " + ".join(
        f"(CASE WHEN n.{f} IS NULL THEN 0.0 "
        f"ELSE (n.{f} - v.{v}) * (n.{f} - v.{v}) END)"
        for f, v in zip(FEATS, ["v0", "v1", "v2", "v3"]))
    member_dist = f"greatest(sqrt({terms}), 1e-10)"

    fills = ",\n       ".join(
        f"round(coalesce(m.{f}, {mean_pick(j)}), {nd}) AS {f}"
        for j, f in enumerate(FEATS))
    return f"""WITH m AS ({PART_MATRIX_SQL}),
mem AS (
  SELECT * FROM (VALUES
    {mem_values}
  ) AS t(row_id, cl, is_lower)
),
memv AS (
  SELECT mem.cl, mem.is_lower, m.f0 AS v0, m.f1 AS v1, m.f2 AS v2, m.f3 AS v3
  FROM mem JOIN m USING (row_id)
),
mis AS (
  SELECT row_id, f0, f1, f2, f3,
         {d_exprs}
  FROM m
  WHERE f0 IS NULL OR f1 IS NULL OR f2 IS NULL OR f3 IS NULL
),
n AS (SELECT *, {_nearest3_expr()} AS cl FROM mis),
sd AS (
  SELECT n.row_id,
         avg(CASE WHEN v.is_lower THEN {member_dist} END) AS dl,
         avg({member_dist}) AS du
  FROM n JOIN memv v ON v.cl = n.cl
  GROUP BY n.row_id
),
sides AS (
  SELECT n.row_id, n.cl,
         CASE WHEN {n_lo_case} = 0 THEN 1
              WHEN {n_up_case} = 0 THEN 0
              WHEN sd.dl <= sd.du THEN 0 ELSE 1 END AS side
  FROM n JOIN sd USING (row_id)
)
SELECT m.row_id,
       {fills}
FROM m LEFT JOIN sides s USING (row_id)
"""


def flagship_fcm_oracle_sql(centers: np.ndarray, *, nd: int = 4) -> str:
    """pipeline_flagship_fcm twin: backfill, then FCMParameterImputer fill of
    residual g0 gaps from the fitted (g0, g1) centers."""
    g = ["g0", "g1"]
    d_exprs = ",\n         ".join(
        f"{_masked_dist_expr(centers[k], g)} AS d{k}" for k in range(3))
    u_exprs, est_exprs = _membership_est_exprs(centers)
    u_sql = ",\n         ".join(f"{e} AS u{k}" for k, e in enumerate(u_exprs))
    return f"""{_FLAGSHIP_FEAT_CTE},
d AS (
  SELECT event_id, entity_id, ts, g0, g1,
         {d_exprs}
  FROM feat
),
u AS (
  SELECT *,
         {u_sql}
  FROM d
)
SELECT event_id, entity_id, epoch_us(ts) AS ts_us,
       round(coalesce(g0, {est_exprs[0]}), {nd}) AS f_value_filled
FROM u
"""


_COS_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (s, v) -> s + v)"
    " / (sqrt(list_reduce(list_transform({a}, y -> y * y), (s, t) -> s + t))"
    " * sqrt(list_reduce(list_transform({b}, y -> y * y), (s, t) -> s + t)))"
)


def ivf_oracle_sql(centers: np.ndarray, *, nprobe: int = 2, k: int = 3) -> str:
    """ivf_ann_topk twin: literal coarse centers, stable-argsort probe lists,
    exact cosine re-rank within probed lists (list_reduce fold — the
    dot/(|a||b|) shape the engine's dgemm kernels reproduce to ≲1e-15)."""
    cent_rows = ",\n    ".join(
        f"({j}, CAST({_vec_lit(centers[j])} AS DOUBLE[]))" for j in range(len(centers)))
    cos = _COS_SQL.format(a="q.vec", b="n.vec")
    return f"""WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS vec
  FROM embeddings
),
cent AS (
  SELECT * FROM (VALUES
    {cent_rows}
  ) AS t(list_id, cv)
),
dist AS (
  SELECT r.vec_id, c.list_id,
         list_reduce(list_transform(list_zip(r.vec, c.cv),
                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (s, v) -> s + v) AS d
  FROM raw r CROSS JOIN cent c
),
rk AS (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS r
  FROM dist
),
assign AS (SELECT vec_id, list_id FROM rk WHERE r = 1),
probes AS (SELECT vec_id, list_id FROM rk WHERE r <= {nprobe}),
pairs AS (
  SELECT p.vec_id AS qid, a.vec_id AS nid
  FROM probes p JOIN assign a ON a.list_id = p.list_id AND a.vec_id != p.vec_id
),
scored AS (
  SELECT pr.qid, pr.nid, {cos} AS cosine
  FROM pairs pr
  JOIN raw q ON q.vec_id = pr.qid
  JOIN raw n ON n.vec_id = pr.nid
),
ranked AS (
  SELECT qid AS query_id, nid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def lsh_oracle_sql(planes: np.ndarray, *, k: int = 3) -> str:
    """lsh_ann_topk twin: literal hyperplanes, sign-bit buckets per table,
    candidates share any (table, bucket), exact cosine re-rank."""
    n_tables, n_planes, _ = planes.shape
    plane_rows = ",\n    ".join(
        f"({t}, {p}, CAST({_vec_lit(planes[t, p])} AS DOUBLE[]))"
        for t in range(n_tables) for p in range(n_planes))
    cos = _COS_SQL.format(a="q.vec", b="n.vec")
    return f"""WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS vec
  FROM embeddings
),
planes AS (
  SELECT * FROM (VALUES
    {plane_rows}
  ) AS t(tbl, plane, w)
),
bits AS (
  SELECT r.vec_id, pl.tbl,
         CASE WHEN list_reduce(list_transform(list_zip(r.vec, pl.w),
                                              p -> p[1] * p[2]),
                               (s, v) -> s + v) > 0
              THEN cast(pow(2, pl.plane) AS BIGINT) ELSE 0 END AS bit
  FROM raw r CROSS JOIN planes pl
),
buckets AS (SELECT vec_id, tbl, sum(bit) AS bucket FROM bits GROUP BY vec_id, tbl),
cands AS (
  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
  FROM buckets x JOIN buckets y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id != y.vec_id
),
scored AS (
  SELECT c.qid, c.nid, {cos} AS cosine
  FROM cands c
  JOIN raw q ON q.vec_id = c.qid
  JOIN raw n ON n.vec_id = c.nid
),
ranked AS (
  SELECT qid AS query_id, nid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def minhash_portable_oracle_sql(*, k: int = 3, num_hashes: int = 64,
                                bands: int = 16, threshold: float = 0.5,
                                seed: int = 13) -> str:
    """Exact twin of minhash_dedup_pairs(shingle_hash='md5',
    hash_buckets=False): every stage — md5 shingle ints, pmod hash family,
    band slices, signature-agreement estimate — is reproduced in DuckDB.
    Data-independent (the a/b hash params derive from the seed alone), so
    this is a STATIC oracle."""
    from ficaria_spark.operators.dedup import _MERSENNE, _hash_params

    a, b = _hash_params(num_hashes, seed)
    p = _MERSENNE
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(sh, x -> (x * {int(a[i])} + {int(b[i])}) % {p}))"
        for i in range(num_hashes))
    rpb = num_hashes // bands
    return f"""WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
shg AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - {k}, 0) + 2),
           i -> (('0x' || substr(md5(array_to_string(w[i:i+{k - 1}], ' ')), 1, 15))::BIGINT) % {p}
         )) AS sh
  FROM w
),
sigs AS (
  SELECT doc_id,
         [{sig_exprs}] AS sig
  FROM shg
),
banded AS (
  SELECT s.doc_id, t.band, s.sig[(t.band * {rpb} + 1):(t.band * {rpb} + {rpb})] AS bucket
  FROM sigs s CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) t
),
cands AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         list_reduce(list_transform(list_zip(sa.sig, sb.sig),
                                    q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END),
                     (s, v) -> s + v) / len(sa.sig) AS est_jaccard
  FROM cands c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard
FROM est WHERE est_jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# xxhash64 dedup driver twins (VALUES-literal oracles)
#
# The scale-path dedup queries hash with Spark's native xxhash64, which no
# other SQL engine implements — but xxHash64 is a public spec, so
# functions/xxh.py re-implements it bit-for-bit (pytest-verified against
# F.xxhash64). These twins re-run the full MinHash-LSH / SimHash pipelines
# driver-side and emit the expected pair relation as VALUES oracles.
# ---------------------------------------------------------------------------

@lru_cache(maxsize=8)
def _documents_pdf(sf_dir: str):
    con = _duck(sf_dir, ("documents",))
    return con.execute("SELECT doc_id, text FROM documents").df()


def _popcount64(x: np.ndarray) -> np.ndarray:
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    return lut[x.view(np.uint8).reshape(-1, 8)].sum(axis=1).astype(np.int64)


@lru_cache(maxsize=8)
def minhash_xxhash_expected(sf_dir: str, *, k: int = 3, num_hashes: int = 64,
                            bands: int = 16, threshold: float = 0.5,
                            seed: int = 13) -> tuple:
    """Twin of minhash_dedup_pairs(shingle_hash='xxhash64',
    hash_buckets=True): word xxhash64 → positional shingle combo → distinct →
    (a·x+b) mod p signature minima → xxhash64(band slice) buckets →
    signature-agreement estimate ≥ threshold. Null-text docs carry NULL
    signatures and never become candidates."""
    import re

    from ficaria_spark.functions.xxh import (
        spark_xxhash64_long_array,
        spark_xxhash64_str,
    )
    from ficaria_spark.operators.dedup import _MERSENNE, _hash_params

    p = _MERSENNE
    a, b = _hash_params(num_hashes, seed)
    coefs = np.random.default_rng(seed + 101).integers(1, p, size=k, dtype=np.int64)
    pdf = _documents_pdf(sf_dir)
    ids: list[int] = []
    sig_rows = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        if text is None or (isinstance(text, float) and np.isnan(text)):
            continue
        # mirror the ENGINE's tokenization exactly: F.trim strips ASCII
        # spaces only, and Java's \s is the ASCII class — Python's unicode
        # defaults would diverge on NBSP/tab-led text
        wh = np.array([spark_xxhash64_str(w) % p
                       for w in re.split("[ \t\n\x0b\f\r]+", text.strip(" "))],
                      dtype=np.int64)
        n = len(wh)
        if n >= k:
            m = n - k + 1
            tot = np.zeros(m, dtype=np.int64)
            for j in range(k):
                tot += (wh[j:j + m] * coefs[j]) % p
            sh = tot % p
        else:
            sh = wh[:1]
        sh = np.unique(sh)
        ids.append(int(doc_id))
        sig_rows.append(((sh[:, None] * a[None, :] + b[None, :]) % p).min(axis=0))
    S = np.vstack(sig_rows)
    rpb = num_hashes // bands
    buckets: dict[tuple[int, int], list[int]] = {}
    for i in range(len(ids)):
        for bd in range(bands):
            key = (bd, spark_xxhash64_long_array(S[i, bd * rpb:(bd + 1) * rpb]))
            buckets.setdefault(key, []).append(i)
    pairs: set[tuple[int, int]] = set()
    for grp in buckets.values():
        for x in range(len(grp)):
            for y in range(x + 1, len(grp)):
                i1, i2 = grp[x], grp[y]
                pairs.add((i1, i2) if ids[i1] < ids[i2] else (i2, i1))
    rows = []
    for ia, ib in pairs:
        est = int((S[ia] == S[ib]).sum()) / num_hashes
        if est >= threshold:
            rows.append((ids[ia], ids[ib], est))
    return tuple(sorted(rows))


@lru_cache(maxsize=8)
def simhash_xxhash_expected(sf_dir: str, *, max_hamming: int = 10,
                            seed: int = 29) -> tuple:
    """Twin of simhash_near_pairs(word_hash='xxhash64'): 64-bit signatures
    from chained xxhash64(lower(word), seed), integer bit-majority votes,
    bands = max_hamming + 1 pigeonhole buckets, popcount(xor) ≤ radius."""
    import re

    from ficaria_spark.functions.xxh import spark_xxhash64_str_int
    from ficaria_spark.operators.dedup import simhash_band_layout

    nbits = 64
    shifts = np.arange(nbits, dtype=np.uint64)
    pdf = _documents_pdf(sf_dir)
    ids, sig_list = [], []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        if text is None or (isinstance(text, float) and np.isnan(text)):
            sig = 0  # the kernel leaves null-token rows at 0
        else:
            hs = np.array(
                [spark_xxhash64_str_int(w.lower(), seed)
                 for w in re.split("[ \t\n\x0b\f\r]+", text.strip(" "))],
                dtype=np.int64).view(np.uint64)
            votes = 2 * ((hs[:, None] >> shifts[None, :]) & np.uint64(1)) \
                .astype(np.int32).sum(axis=0) - len(hs)
            sig = int(((votes > 0).astype(np.uint64) << shifts)
                      .sum(dtype=np.uint64))
        ids.append(int(doc_id))
        sig_list.append(sig)
    sigs_u = np.array(sig_list, dtype=np.uint64)
    id_arr = np.array(ids, dtype=np.int64)
    assert (id_arr >= 0).all() and (id_arr < (1 << 32)).all()
    widths, offsets = simhash_band_layout(max_hamming, nbits)
    pair_keys = []
    for bd in range(len(widths)):
        bucket = (sigs_u >> np.uint64(offsets[bd])) & np.uint64((1 << widths[bd]) - 1)
        order = np.argsort(bucket, kind="mergesort")
        bs = bucket[order]
        starts = np.flatnonzero(np.r_[True, bs[1:] != bs[:-1]])
        ends = np.r_[starts[1:], len(bs)]
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            gi = id_arr[order[s:e]]
            ii, jj = np.triu_indices(len(gi), k=1)
            lo = np.minimum(gi[ii], gi[jj]).astype(np.int64)
            hi = np.maximum(gi[ii], gi[jj]).astype(np.int64)
            pair_keys.append((lo << 32) + hi)
    if not pair_keys:
        return ()
    keys = np.unique(np.concatenate(pair_keys))
    lo = (keys >> 32).astype(np.int64)
    hi = (keys & ((1 << 32) - 1)).astype(np.int64)
    sid = np.argsort(id_arr, kind="mergesort")
    pos_lo = sid[np.searchsorted(id_arr[sid], lo)]
    pos_hi = sid[np.searchsorted(id_arr[sid], hi)]
    hm = _popcount64(sigs_u[pos_lo] ^ sigs_u[pos_hi])
    keep = hm <= max_hamming
    return tuple(zip(lo[keep].tolist(), hi[keep].tolist(),
                     hm[keep].astype(int).tolist()))


@lru_cache(maxsize=8)
def dedup_clusters_expected(sf_dir: str) -> tuple:
    """Driver twin of dedup_clusters over the minhash pair list: union-find
    with min-id representatives (the pair list itself is the oracle-verified
    minhash_xxhash_expected relation)."""
    rows = minhash_xxhash_expected(sf_dir)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    ids = set()
    for ia, ib, _ in rows:
        ids.add(ia)
        ids.add(ib)
        ra, rb = find(ia), find(ib)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for i in ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    return tuple(sorted((i, comp_min[find(i)]) for i in ids))


def clusters_both_oracle_sql(rows) -> str:
    """Twin for the folded dedup_clusters query: the operator's driver
    union-find route and its large-star/small-star route must resolve the
    SAME components, so one union-find result pins both output columns."""
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS BIGINT) AS cluster_rep, "
                "CAST(NULL AS BIGINT) AS cluster_rep_star WHERE FALSE")
    vals = ",\n    ".join(f"({i}, {r})" for i, r in rows)
    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_rep AS BIGINT) AS cluster_rep,
       CAST(cluster_rep AS BIGINT) AS cluster_rep_star
FROM (VALUES
    {vals}
) AS t(doc_id, cluster_rep)
"""


def media_features_expected():
    """media_features driver twin: read the same media fixture
    (multimodal.media_fixture) and compute the image/audio/video features
    with the SAME numpy expressions the mapInPandas kernels use
    (multimodal.py image_features/audio_features/video_features) —
    identical ops on identical arrays give bit-identical float64, the
    structural-parity pattern the FCKI/DT twins established."""
    from ficaria_spark.operators.multimodal import (
        _decode_image_real, decode_wav, media_fixture, phash64)

    from ficaria_spark.operators.gif import decode_gif

    fx = media_fixture().to_pydict()
    out = []
    for item_id, kind, payload in zip(fx["item_id"], fx["kind"],
                                      fx["payload"]):
        if kind == "video":
            # same numpy expressions as multimodal.video_features
            frames, delays = decode_gif(bytes(payload))
            lums = np.array([f.astype(np.float64).mean() for f in frames])
            motion = float(np.mean([
                np.abs(b.astype(np.float64) - a.astype(np.float64)).mean()
                / 255.0 for a, b in zip(frames, frames[1:])])) \
                if len(frames) > 1 else 0.0
            out.append((item_id, kind, "n_frames", float(len(frames))))
            out.append((item_id, kind, "duration_s", sum(delays) / 100.0))
            out.append((item_id, kind, "frame_lum_mean", float(lums.mean())))
            out.append((item_id, kind, "frame_lum_std", float(lums.std())))
            out.append((item_id, kind, "motion", motion))
        elif kind == "image":
            # dispatch-by-magic, same as the Spark kernel: PPM/PNG/JPEG rows
            img = _decode_image_real(bytes(payload))
            px = img.reshape(-1, img.shape[-1]).astype(np.float64)
            means, stds = px.mean(axis=0), px.std(axis=0)
            lum = px.mean(axis=1)
            hist = np.histogram(lum, bins=8, range=(0, 256))[0] / max(len(lum), 1)
            for j in range(3):
                out.append((item_id, kind, f"chan_mean_{j}", float(means[j])))
                out.append((item_id, kind, f"chan_std_{j}", float(stds[j])))
            for j in range(8):
                out.append((item_id, kind, f"lum_hist_{j}", float(hist[j])))
            # same shared phash64; unsigned view split into exact 16-bit
            # quarters (mirrors the Spark shiftrightunsigned/mask — small
            # enough to survive both engines' round(x, 6) exactly)
            u = phash64(img) & ((1 << 64) - 1)
            for q in range(4):
                out.append((item_id, kind, f"phash_q{q}",
                            float((u >> (16 * q)) & 0xFFFF)))
        else:
            x, rate = decode_wav(bytes(payload))
            mono = x.mean(axis=1)
            zc = np.signbit(mono[1:]) != np.signbit(mono[:-1])
            out.append((item_id, kind, "duration_s", len(mono) / rate))
            out.append((item_id, kind, "rms",
                        float(np.sqrt((mono ** 2).mean())) if len(mono) else 0.0))
            out.append((item_id, kind, "peak",
                        float(np.abs(mono).max()) if len(mono) else 0.0))
            out.append((item_id, kind, "zcr",
                        float(zc.mean()) if len(mono) > 1 else 0.0))
    return out


def media_oracle_sql(rows, *, nd: int = 6) -> str:
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) AS item_id, "
                "CAST(NULL AS VARCHAR) AS kind, "
                "CAST(NULL AS VARCHAR) AS feature, "
                "CAST(NULL AS DOUBLE) AS value WHERE FALSE")
    vals = ",\n    ".join(
        f"({i}, '{k}', '{f}', {_lit(v)})" for i, k, f, v in rows)
    return f"""SELECT CAST(item_id AS BIGINT) AS item_id, kind, feature,
       round(CAST(value AS DOUBLE), {nd}) AS value
FROM (VALUES
    {vals}
) AS t(item_id, kind, feature, value)
"""


def minhash_xxhash_oracle_sql(rows) -> str:
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS DOUBLE) AS est_jaccard WHERE FALSE")
    vals = ",\n    ".join(f"({ia}, {ib}, {_lit(est)})" for ia, ib, est in rows)
    return f"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(CAST(est_jaccard AS DOUBLE), 6) AS est_jaccard
FROM (VALUES
    {vals}
) AS t(id_a, id_b, est_jaccard)
"""


def simhash_xxhash_oracle_sql(rows) -> str:
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS INTEGER) AS hamming WHERE FALSE")
    vals = ",\n    ".join(f"({ia}, {ib}, {hm})" for ia, ib, hm in rows)
    return f"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES
    {vals}
) AS t(id_a, id_b, hamming)
"""


@lru_cache(maxsize=8)
def _customer_matrix_sorted(sf_dir: str):
    con = _duck(sf_dir, ("customer",))
    return con.execute(CUSTOMER_MATRIX_SQL + " ORDER BY row_id").df()


@lru_cache(maxsize=8)
def fit_figfs_selected(sf_dir: str, *, k: int = 2, fit_cap: int = 2000) -> tuple[str, ...]:
    """FuzzyGranularitySelector fit twin (driver-side FigfsCore over the
    canonically-ordered capped frame) → the selected feature names."""
    from ficaria_spark.functions.granularity import FigfsCore

    pdf = _customer_matrix_sorted(sf_dir).head(fit_cap)
    sub = pdf[[*SEL_FEATS, "label"]].reset_index(drop=True)
    core = FigfsCore(sub, "label", eps=2.0, max_features=None)
    return tuple(core.run()[:k])


@lru_cache(maxsize=8)
def fit_wfrs_selected(sf_dir: str, *, n_features: int = 2, k: int = 5,
                      alpha: float = 0.5, fit_cap: int = 1000) -> tuple[str, ...]:
    """WeightedFuzzyRoughSelector fit twin (wfrs_fit_pandas over the
    canonically-ordered capped frame) → the selected feature names."""
    from ficaria_spark.operators.select import wfrs_fit_pandas

    pdf = _customer_matrix_sorted(sf_dir).head(fit_cap).reset_index(drop=True)
    res = wfrs_fit_pandas(pdf, SEL_FEATS, "label", k=k, alpha=alpha)
    return tuple(SEL_FEATS[i] for i in res["selected"][:n_features])


def selector_oracle_sql(selected: tuple[str, ...], *, nd: int = 6) -> str:
    """Projection oracle: given the twin-fitted selection (the small fitted
    state, like the imputers' centers), the transform is a plain projection."""
    cols = ",\n       ".join(f"round({c}, {nd}) AS {c}" for c in selected)
    return f"""WITH m AS ({CUSTOMER_MATRIX_SQL})
SELECT row_id,
       {cols}
FROM m
"""


def simhash_portable_oracle_sql(*, max_hamming: int = 10, seed: int = 29) -> str:
    """Exact twin of simhash_near_pairs(word_hash='md5'): 60-bit signatures
    from md5 word hashes, integer bit-majority voting, the same
    ``bands = max_hamming + 1`` pigeonhole layout, bit_count(xor) filter.
    Data-independent → STATIC oracle."""
    from ficaria_spark.operators.dedup import simhash_band_layout

    nbits = 60
    widths, offsets = simhash_band_layout(max_hamming, nbits)
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * coalesce(list_sum(list_transform(hs, v -> (v >> {b}) & 1)), 0)"
        f" - n > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(nbits))
    band_rows = ",\n    ".join(
        f"({b}, {offsets[b]}, {(1 << widths[b]) - 1})" for b in range(len(widths)))
    return f"""WITH w AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS wl
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(wl, x -> (('0x' || substr(md5(x || ':{seed}'), 1, 15))::BIGINT)) AS hs,
         len(wl) AS n
  FROM w
),
sig AS (
  SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
  FROM h
),
bandspec AS (
  SELECT * FROM (VALUES
    {band_rows}
  ) AS t(band, off, mask)
),
banded AS (
  SELECT s.doc_id, b.band, (s.simhash >> b.off) & b.mask AS bucket
  FROM sig s CROSS JOIN bandspec b
),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         sx.simhash AS sh_a, sy.simhash AS sh_b
  FROM banded x
  JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
  JOIN sig sx ON sx.doc_id = x.doc_id
  JOIN sig sy ON sy.doc_id = y.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


def build_dynamic_oracles(sf_dir: str = DEFAULT_SF_DIR) -> dict[str, str]:
    """All fit-dependent oracles for one sf dir. Each builder is independent;
    a failure in one (e.g. missing table) skips only that oracle."""
    from ficaria_spark.operators.similarity import _hyperplanes

    out: dict[str, str] = {}
    builders = {
        "impute_fcm_centroid": lambda: centroid_oracle_sql(fit_fcm_centers(sf_dir)),
        "impute_fcm_parameter": lambda: parameter_oracle_sql(fit_fcm_centers(sf_dir)),
        "impute_iifcm": lambda: centroid_oracle_sql(fit_iifcm_centers(sf_dir)),
        "impute_fcm_rough": lambda: rough_oracle_sql(*fit_rough_state(sf_dir)),
        "pipeline_flagship_fcm": lambda: flagship_fcm_oracle_sql(fit_flagship_centers(sf_dir)),
        "ann_ivf": lambda: ivf_oracle_sql(fit_ivf_centers(sf_dir), nprobe=2, k=3),
        "ann_lsh": lambda: lsh_oracle_sql(_hyperplanes(64, 8, 4, 7), k=3),
        "select_figfs": lambda: selector_oracle_sql(fit_figfs_selected(sf_dir)),
        "select_wfrs": lambda: selector_oracle_sql(fit_wfrs_selected(sf_dir)),
        "impute_fcki": lambda: values_impute_oracle_sql(fcki_expected(sf_dir)),
        "impute_fcki_capped": lambda: values_impute_oracle_sql(
            fcki_expected(sf_dir, 2000)),
        "impute_dt": lambda: values_impute_oracle_sql(dt_expected(sf_dir)),
        "dedup_minhash_lsh": lambda: minhash_xxhash_oracle_sql(
            minhash_xxhash_expected(sf_dir)),
        "dedup_simhash": lambda: simhash_xxhash_oracle_sql(
            simhash_xxhash_expected(sf_dir)),
        "dedup_clusters": lambda: clusters_both_oracle_sql(
            dedup_clusters_expected(sf_dir)),
        "media_features": lambda: media_oracle_sql(media_features_expected()),
    }
    for name, build in builders.items():
        try:
            out[name] = build()
        except Exception as ex:  # pragma: no cover - degrade to rows-only check
            import sys

            print(f"[oracle_fit] WARNING: {name} oracle builder failed "
                  f"({type(ex).__name__}: {ex}) — query degrades to a "
                  f"rows-only check", file=sys.stderr)
    return out
