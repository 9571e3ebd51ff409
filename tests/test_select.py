"""Selector tests: invariants from the reference suite + driver/distributed
engine equivalence (the blocked pairwise kernel must reproduce the NumPy
δ-sums exactly)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ficaria_spark.functions import fuzzyrough as fr
from ficaria_spark.functions import granularity as gr
from ficaria_spark.operators.select import (
    FuzzyGranularitySelector,
    WeightedFuzzyRoughSelector,
)

COLS = ["a", "b", "c", "d"]


def _dataset(seed=0, n=80):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 2, n)
    a = y * 3.0 + rng.normal(0, 0.3, n)        # informative
    b = rng.normal(0, 1, n)                    # noise
    c = y * 2.0 + rng.normal(0, 0.5, n)        # informative, redundant with a
    d = rng.normal(5, 2, n)                    # noise
    pdf = pd.DataFrame({"a": a, "b": b, "c": c, "d": d})
    pdf["label"] = y
    return pdf


def test_figfs_selects_informative_feature_first(spark):
    pdf = _dataset()
    sdf = spark.createDataFrame(pdf)
    sel = FuzzyGranularitySelector(k=2, feature_cols=COLS)
    out = sel.fit(sdf, "label").transform(sdf)
    assert sel.S_[0] in ("a", "c")
    assert out.columns == sel.S_[:2]
    assert out.count() == len(pdf)


def test_figfs_deterministic(spark):
    pdf = _dataset(3)
    sdf = spark.createDataFrame(pdf)
    s1 = FuzzyGranularitySelector(k=2, feature_cols=COLS).fit(sdf, "label").S_
    s2 = FuzzyGranularitySelector(k=2, feature_cols=COLS).fit(sdf, "label").S_
    assert s1 == s2


def test_figfs_spark_delta_engine_matches_driver(spark, monkeypatch):
    """A fit whose n×n block is under the driver budget runs locally; with
    the budget at 0 the same fit takes the blocked Spark δ-sums and picks
    the same features."""
    from ficaria_spark.operators import select

    pdf = _dataset(7, n=60)
    sdf = spark.createDataFrame(pdf)
    driver = FuzzyGranularitySelector(k=3, feature_cols=COLS).fit(sdf, "label")
    assert driver.engine_ == "driver"
    monkeypatch.setattr(select, "_FIGFS_DRIVER_BYTES", 0)
    spark_fit = FuzzyGranularitySelector(k=3, feature_cols=COLS).fit(sdf, "label")
    assert spark_fit.engine_ == "spark"
    assert driver.S_ == spark_fit.S_


def test_delta_sums_block_kernel_equals_dense(spark):
    pdf = _dataset(11, n=50)
    pdf["label"] = pdf["label"].astype(np.int64)
    stats = {c: gr.column_stats(pdf[c], 2.0) for c in pdf.columns}
    dense = gr.granule_block(pdf, pdf, ["a", "b"], stats, "label").sum(axis=1)

    from ficaria_spark.operators.pairwise import block_pair_sums

    work = pdf.copy()
    work["__rid"] = np.arange(len(work))
    sdf = spark.createDataFrame(work)

    def kernel(l, r):
        return {"s": gr.granule_block(l, r, ["a", "b"], stats, "label").sum(axis=1)}

    got = (
        block_pair_sums(sdf, "__rid", list(pdf.columns), kernel)
        .orderBy("__rid").toPandas()["s"].to_numpy()
    )
    assert np.allclose(got, dense)


def test_figfs_unsupervised_mode(spark):
    pdf = _dataset(5).drop(columns=["label"])
    sdf = spark.createDataFrame(pdf)
    sel = FuzzyGranularitySelector(k=2, feature_cols=COLS).fit(sdf)
    assert len(sel.S_) == len(COLS)


def test_entropy_invariants():
    pdf = _dataset(13, n=40)
    core = gr.FigfsCore(pdf, "label")
    h_basic = core.entropy(("a",), "basic")
    h_mutual = core.entropy(("a",), "mutual", ("label",))
    assert 0.0 <= h_basic <= 1.0
    assert 0.0 <= h_mutual <= 1.0
    # conditional entropy of a set given itself is 0
    assert core.entropy(("a",), "conditional", ("a",)) == 0.0


def test_wfrs_pos_nog_in_unit_interval():
    pdf = _dataset(17, n=60)
    M = pdf[COLS].to_numpy(float)
    y = pdf["label"].to_numpy()
    is_num = np.array([True] * 4)
    H = fr.high_density_region(M, is_num, y, 5)
    assert len(H) > 0
    R = fr.gaussian_relation(M, M[H], is_num, 0.5)
    p, g = fr.pos_nog(R, y[H], np.unique(y))
    assert (p >= 0).all() and (p <= 1).all()
    assert (g >= 0).all() and (g <= 1).all()


def test_wfrs_selects_and_projects(spark):
    pdf = _dataset(19)
    sdf = spark.createDataFrame(pdf)
    sel = WeightedFuzzyRoughSelector(n_features=2, k=5, feature_cols=COLS)
    out = sel.fit(sdf, "label").transform(sdf)
    assert len(out.columns) == 2
    assert set(out.columns) <= set(COLS)
    assert len(sel.feature_sequence_) == 4
    assert len(sel.feature_importances_) == 4


def test_wfrs_spark_rel_engine_matches_driver(spark, monkeypatch):
    """A fit whose n×|H| block is under the driver budget runs locally;
    with the budget at 0 the same fit takes the distributed Rel(B) pass and
    ranks the features the same way."""
    from ficaria_spark.operators import select

    pdf = _dataset(23, n=50)
    sdf = spark.createDataFrame(pdf)
    a = WeightedFuzzyRoughSelector(n_features=2, k=4, feature_cols=COLS).fit(sdf, "label")
    assert a.engine_ == "driver"
    monkeypatch.setattr(select, "_WFRS_DRIVER_BYTES", 0)
    b = WeightedFuzzyRoughSelector(n_features=2, k=4, feature_cols=COLS).fit(sdf, "label")
    assert b.engine_ == "spark"
    assert a.feature_sequence_ == b.feature_sequence_


def test_wfrs_rejects_null_target(spark):
    pdf = _dataset(29)
    pdf.loc[3, "label"] = None
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="y must not contain missing values"):
        WeightedFuzzyRoughSelector(n_features=2, feature_cols=COLS).fit(sdf, "label")


def test_wfrs_n_features_too_large(spark):
    pdf = _dataset(31)
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="n_features"):
        WeightedFuzzyRoughSelector(n_features=9, feature_cols=COLS).fit(sdf, "label")


def test_high_density_region_block_invariant():
    """The memory-blocked kNN/H-discovery must be invariant to block size
    (bit-identical distances and stable order regardless of blocking)."""
    import numpy as np

    from ficaria_spark.functions import fuzzyrough as fr

    rng = np.random.default_rng(11)
    X = rng.normal(size=(300, 5))
    X[rng.random((300, 5)) < 0.05] = np.nan
    y = rng.integers(0, 3, size=300)
    is_num = np.ones(5, dtype=bool)
    h_small = fr.high_density_region(X, is_num, y, k=5, block=7)
    h_full = fr.high_density_region(X, is_num, y, k=5, block=1000)
    assert np.array_equal(h_small, h_full)
    assert len(h_full) > 0


def test_figfs_duplicate_rows_local_consistency():
    """Duplicate-row identity parity with the reference: δ_B is a pure
    function of the row's values, so positional matching equals the
    reference's first-occurrence tuple matching — scores must be finite and
    the selection unchanged when rows are duplicated wholesale."""
    import numpy as np
    import pandas as pd

    from ficaria_spark.functions.granularity import FigfsCore

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "a": rng.normal(size=40), "b": rng.normal(size=40),
        "c": rng.integers(0, 3, 40).astype(float),
        "y": rng.integers(0, 2, 40),
    })
    dup = pd.concat([pdf, pdf.iloc[:10]], ignore_index=True)  # planted dups

    lc_plain = FigfsCore(pdf, "y").local_consistency(("a", "b"))
    lc_dup = FigfsCore(dup, "y").local_consistency(("a", "b"))
    assert np.isfinite(lc_plain) and np.isfinite(lc_dup)
    # per-duplicate ratios equal their originals' (value-pure δ): check by
    # comparing against an explicit first-occurrence recomputation
    core = FigfsCore(dup, "y")
    d_global = core.delta_sums(("a", "b"))
    vals = dup[["a", "b", "c", "y"]].to_numpy()
    first = {}
    for i in range(len(dup)):
        first.setdefault(tuple(vals[i]), i)
    ref_map = np.array([first[tuple(vals[i])] for i in range(len(dup))])
    assert np.allclose(d_global, d_global[ref_map])


def test_figfs_mixed_numeric_and_nominal(spark):
    """FIGFS over mixed numeric + nominal feature columns (reference
    test_mixed_numerical_and_categorical): nominal similarity is exact
    equality, numeric is the adaptive-radius band; selection runs and
    transform projects the picked columns."""
    import numpy as np
    import pandas as pd

    from ficaria_spark.operators.select import FuzzyGranularitySelector

    rng = np.random.default_rng(6)
    n = 120
    pdf = pd.DataFrame({
        "num1": rng.normal(size=n),
        "num2": rng.normal(size=n) * 5,
        "cat1": rng.choice(["a", "b", "c"], size=n),
        "y": rng.integers(0, 2, size=n),
        "row_id": np.arange(n),
    })
    # make cat1 perfectly predictive so it should rank first
    pdf["cat1"] = np.where(pdf["y"] == 1, "pos", pdf["cat1"])
    pdf.loc[pdf.y == 0, "cat1"] = "neg"
    sdf = spark.createDataFrame(pdf)
    sel = FuzzyGranularitySelector(k=2, feature_cols=["num1", "num2", "cat1"],
                                   fit_order_col="row_id")
    out = sel.fit(sdf, "y").transform(sdf)
    assert sel.S_[0] == "cat1"            # the predictive nominal wins
    assert len(out.columns) == 2
    assert out.count() == n


def test_block_pair_sums_probe_runs_no_spark_jobs(spark):
    """out_names=None discovers the kernel's output names via an empty LOCAL
    pandas probe — plan construction must trigger zero Spark jobs
    (VERDICT r3 #6: the old limit(0).toPandas() probe ran two)."""
    import numpy as np

    from ficaria_spark.operators.pairwise import block_pair_sums

    pdf = _dataset(13, n=30)
    work = pdf.copy()
    work["__rid"] = np.arange(len(work))
    sdf = spark.createDataFrame(work)

    def kernel(l, r):
        return {"s": np.ones(len(l)) * len(r)}

    sc = spark.sparkContext
    sc.setJobGroup("pair-probe", "plan construction must be job-free")
    try:
        plan = block_pair_sums(sdf, "__rid", list(pdf.columns), kernel)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("pair-probe") == [], \
        "plan construction ran Spark jobs"
    out = plan.orderBy("__rid").toPandas()
    assert np.allclose(out["s"].to_numpy(), len(work))
