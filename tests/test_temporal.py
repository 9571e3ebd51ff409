"""Temporal kernel tests: differential vs pandas oracles + leakage invariants."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ficaria_spark.operators.temporal import (
    asof_join,
    interpolate_linear,
    lag_lead,
    pit_backfill,
    sessionize,
    tumble,
)


def _mk_events(spark, n_entities=7, n_rows=400, seed=3):
    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n_rows):
        e = int(rng.integers(0, n_entities))
        ts = base + dt.timedelta(seconds=int(rng.integers(0, 3_000_000)))
        v = float(np.round(rng.normal(10, 3), 3)) if rng.random() > 0.3 else None
        rows.append((e, ts, i, v))
    pdf = pd.DataFrame(rows, columns=["entity", "ts", "rid", "v"])
    # make (entity, ts) ties exercise the tiebreak path
    pdf.loc[5, ["entity", "ts"]] = pdf.loc[4, ["entity", "ts"]]
    return spark.createDataFrame(pdf), pdf


def test_pit_backfill_matches_pandas_ffill_shift(spark):
    sdf, pdf = _mk_events(spark)
    got = (
        pit_backfill(sdf, "entity", "ts", ["v"], strict=True, tiebreak=["rid"])
        .orderBy("rid")
        .toPandas()
    )
    pdf = pdf.sort_values(["entity", "ts", "rid"], kind="mergesort")
    # strictly-earlier ffill == shift(1) then ffill of the shifted series
    exp = pdf.assign(
        prev=pdf.groupby("entity")["v"].transform(lambda s: s.shift(1).ffill())
    )
    exp["v_filled"] = exp["v"].combine_first(exp["prev"])
    exp = exp.sort_values("rid")
    assert np.allclose(
        got["v_filled"].to_numpy(dtype=float),
        exp["v_filled"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_pit_backfill_zero_leakage_under_future_shuffle(spark):
    """Filled values must not change if all strictly-future rows change."""
    sdf, pdf = _mk_events(spark)
    poisoned = sdf.withColumn(
        "v", F.when(F.col("rid") >= 300, F.lit(999999.0)).otherwise(F.col("v"))
    )
    # rid >= 300 rows also have later ts? Not guaranteed — instead poison by ts.
    cutoff = dt.datetime(2024, 1, 15)
    poisoned = sdf.withColumn(
        "v", F.when(F.col("ts") >= F.lit(cutoff), F.lit(999999.0)).otherwise(F.col("v"))
    )
    a = (
        pit_backfill(sdf, "entity", "ts", ["v"], tiebreak=["rid"])
        .where(F.col("ts") < F.lit(cutoff))
        .orderBy("rid")
        .toPandas()
    )
    b = (
        pit_backfill(poisoned, "entity", "ts", ["v"], tiebreak=["rid"])
        .where(F.col("ts") < F.lit(cutoff))
        .orderBy("rid")
        .toPandas()
    )
    assert np.allclose(
        a["v_filled"].to_numpy(float), b["v_filled"].to_numpy(float), equal_nan=True
    )


def test_lag_lead_matches_pandas(spark):
    sdf, pdf = _mk_events(spark)
    got = lag_lead(sdf, "entity", "ts", ["v"], tiebreak=["rid"]).orderBy("rid").toPandas()
    pdf = pdf.sort_values(["entity", "ts", "rid"], kind="mergesort")
    g = pdf.groupby("entity")["v"]
    exp = pdf.assign(lag=g.shift(1), lead=g.shift(-1)).sort_values("rid")
    assert np.allclose(got["v_lag_1"].to_numpy(float), exp["lag"].to_numpy(float), equal_nan=True)
    assert np.allclose(got["v_lead_1"].to_numpy(float), exp["lead"].to_numpy(float), equal_nan=True)


def test_sessionize_matches_pandas(spark):
    """Both sessionize routes against pandas, on the random grid and on
    rows at t0, t0+100,000 µs and t0+100,001 µs with a 0.1 s gap: a gap
    exactly equal to a fractional ``gap_seconds`` does not split (a
    double-cast comparison reads this t0's gap as just over 0.1 s). The
    same holds for numeric epoch-second ``ts`` (1.000001 → 1.300001 at
    0.3 s)."""
    from ficaria_spark.operators.temporal import sessionize_blocked

    sdf, pdf = _mk_events(spark)
    t0 = dt.datetime(2023, 11, 16, 15, 53, 1, 445288)
    exact_pdf = pd.DataFrame({
        "entity": [1, 1, 1], "rid": [0, 1, 2],
        "ts": [t0, t0 + dt.timedelta(microseconds=100_000),
               t0 + dt.timedelta(microseconds=100_001)]})
    num_pdf = pd.DataFrame({"entity": [1, 1, 1], "rid": [0, 1, 2],
                            "ts": [1.000001, 1.300001, 1.300002]})
    for sdf, pdf, gap in ((sdf, pdf, 86400.0),
                          (spark.createDataFrame(exact_pdf), exact_pdf, 0.1),
                          (spark.createDataFrame(num_pdf), num_pdf, 0.3)):
        pdf = pdf.sort_values(["entity", "ts", "rid"], kind="mergesort")
        if pd.api.types.is_numeric_dtype(pdf["ts"]):
            ep = (pdf["ts"] * 1e6).round().astype("int64")
        else:
            ep = (pdf["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
        gap_us = round(gap * 1e6)

        def sess(s):
            d = s.diff()
            return (d.isna() | (d > gap_us)).cumsum()

        exp = pdf.assign(sess=ep.groupby(pdf["entity"]).transform(sess)) \
            .sort_values("rid")["sess"].to_numpy()
        for got in (
            sessionize(sdf, "entity", "ts", gap_seconds=gap, tiebreak=["rid"]),
            sessionize_blocked(sdf, "entity", "ts", gap_seconds=gap,
                               block_seconds=7 * 86400.0, tiebreak=["rid"]),
        ):
            got = got.orderBy("rid").toPandas()["session_seq"].to_numpy()
            assert (got == exp).all(), (gap, got, exp)


def test_tumble_buckets(spark):
    sdf, pdf = _mk_events(spark)
    got = tumble(sdf, "ts", width_seconds=3600).orderBy("rid").toPandas()
    exp = (pdf.sort_values("rid")["ts"].astype("int64") // 10**9 // 3600 * 3600).to_numpy()
    assert (got["window_start"].to_numpy() == exp).all()


def test_asof_join_window_vs_cogroup_merge_asof(spark):
    left_sdf, left_pdf = _mk_events(spark, seed=11)
    right_sdf, right_pdf = _mk_events(spark, seed=12)
    right_sdf = right_sdf.withColumnRenamed("v", "rv").drop("rid")
    for strict in (False, True):
        got = (
            asof_join(
                left_sdf,
                right_sdf.withColumnRenamed("rv", "v"),
                on="ts", by="entity", value_cols=["v"], strict=strict,
            )
            .orderBy("rid")
            .toPandas()
        )
        exp_parts = []
        for e, lg in left_pdf.sort_values("ts", kind="mergesort").groupby("entity"):
            rg = right_pdf[right_pdf.entity == e].sort_values("ts", kind="mergesort")
            m = pd.merge_asof(
                lg, rg[["ts", "v"]].rename(columns={"v": "v_asof"}),
                on="ts", allow_exact_matches=not strict, direction="backward",
            )
            exp_parts.append(m)
        exp = pd.concat(exp_parts).sort_values("rid")
        assert np.allclose(
            got["v_asof"].to_numpy(float), exp["v_asof"].to_numpy(float), equal_nan=True
        )


def test_interpolate_linear_matches_pandas_positional(spark):
    """Parity with DataFrame.interpolate(axis=0, limit_direction='both') —
    the reference's only ordered op (missing_imputation.py:1141)."""
    rng = np.random.default_rng(7)
    vals = rng.normal(size=(60, 2))
    mask = rng.random((60, 2)) < 0.35
    vals[mask] = np.nan
    vals[0, 0] = np.nan  # leading-edge case
    vals[-1, 1] = np.nan  # trailing-edge case
    pdf = pd.DataFrame(vals, columns=["a", "b"])
    pdf["rid"] = np.arange(60)
    sdf = spark.createDataFrame(pdf)
    got = (
        interpolate_linear(sdf, None, "rid", ["a", "b"])
        .orderBy("rid")
        .toPandas()
    )
    exp = pdf[["a", "b"]].interpolate(method="linear", axis=0, limit_direction="both")
    for c in ["a", "b"]:
        assert np.allclose(
            got[c + "_interp"].to_numpy(float), exp[c].to_numpy(float), equal_nan=True
        ), c


def test_asof_join_tolerance(spark):
    left_sdf, left_pdf = _mk_events(spark, seed=41)
    right_sdf, right_pdf = _mk_events(spark, seed=42)
    right_sdf = right_sdf.drop("rid")
    tol = 86400.0 * 3
    got = (
        asof_join(left_sdf, right_sdf, on="ts", by="entity", value_cols=["v"],
                  tolerance_seconds=tol)
        .orderBy("rid").toPandas()
    )
    exp_parts = []
    for e, lg in left_pdf.sort_values("ts", kind="mergesort").groupby("entity"):
        rg = right_pdf[right_pdf.entity == e].sort_values("ts", kind="mergesort")
        m = pd.merge_asof(
            lg, rg[["ts", "v"]].rename(columns={"v": "v_asof"}),
            on="ts", direction="backward", tolerance=pd.Timedelta(seconds=tol),
        )
        exp_parts.append(m)
    exp = pd.concat(exp_parts).sort_values("rid")
    assert np.allclose(
        got["v_asof"].to_numpy(float), exp["v_asof"].to_numpy(float), equal_nan=True)

    # A right row exactly at the (inclusive) bound must match. In double
    # seconds 1700149981.545288 - 1700149981.445288 > 0.1, so a float
    # staleness test drops it; integer microseconds keep it.
    t_r = dt.datetime(2023, 11, 16, 15, 53, 1, 445288)
    left = spark.createDataFrame(pd.DataFrame({
        "rid": [0], "entity": [1],
        "ts": [t_r + dt.timedelta(microseconds=100_000)]}))
    right = spark.createDataFrame(
        pd.DataFrame({"entity": [1], "ts": [t_r], "v": [7.0]}))
    edge = asof_join(left, right, on="ts", by="entity", value_cols=["v"],
                     tolerance_seconds=0.1).collect()
    assert [r["v_asof"] for r in edge] == [7.0]
    tight = asof_join(left, right, on="ts", by="entity", value_cols=["v"],
                      tolerance_seconds=0.099999).collect()
    assert [r["v_asof"] for r in tight] == [None]


def test_tumble_sliding_windows(spark):
    sdf, pdf = _mk_events(spark)
    got = tumble(sdf, "ts", width_seconds=7200, slide_seconds=3600)
    out = got.select("rid", "window_start", "ts").toPandas()
    # sliding windows: each row lands in width/slide = 2 windows
    assert len(out) == 2 * len(pdf)
    assert (out.groupby("rid").size() == 2).all()
    # every tagged window actually contains its row
    ts_epoch = (out.ts.astype("int64") // 10**9).to_numpy()
    ws = out.window_start.to_numpy()
    assert ((ts_epoch - ws) >= 0).all()
    assert ((ts_epoch - ws) < 7200).all()
    assert (ws % 3600 == 0).all()  # starts on the slide grid


def test_interval_join_bucketed_equals_broadcast(spark):
    """The bucketed equi-join range path, at every width and in auto mode,
    must equal a pure-Python range check for every (event, interval)
    relation — including intervals spanning multiple buckets, empty
    intervals, and boundary timestamps (start inclusive, end exclusive)."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from ficaria_spark.operators.temporal import interval_join

    rng = np.random.default_rng(6)
    t0 = dt.datetime(2024, 3, 1)
    ev = pd.DataFrame({
        "event_id": range(300),
        "ts": [t0 + dt.timedelta(minutes=int(rng.integers(0, 10_000)))
               for _ in range(300)],
    })
    iv_rows = []
    for i in range(40):
        s = t0 + dt.timedelta(minutes=int(rng.integers(0, 9_000)))
        dur = int(rng.integers(-30, 600))  # includes empty/negative intervals
        iv_rows.append((i, s, s + dt.timedelta(minutes=dur)))
    # boundary case: interval exactly [ts, ts+1min) of event 0
    iv_rows.append((99, ev.ts[0], ev.ts[0] + dt.timedelta(minutes=1)))
    iv = pd.DataFrame(iv_rows, columns=["win_id", "ws", "we"])
    exp = {(e, i) for e, t in zip(ev.event_id, ev.ts)
           for i, s, x in zip(iv.win_id, iv.ws, iv.we) if s <= t < x}
    # start inclusive / end exclusive: the boundary interval matches event 0
    assert {e for e, i in exp if i == 99} == {0}

    sev, siv = spark.createDataFrame(ev), spark.createDataFrame(iv)
    for W in (None, 60, 3600, 86400):
        fast = interval_join(sev, siv, ts="ts", start="ws", end="we",
                             bucket_width_seconds=W) \
            .select("event_id", "win_id").toPandas()
        assert set(zip(fast.event_id, fast.win_id)) == exp, W


def test_interval_join_rejects_sub_second_width(spark):
    """A width under 1 s raises at the call; 0.5 used to truncate to a
    0 µs bucket and fail at action time with DIVIDE_BY_ZERO."""
    from ficaria_spark.operators.temporal import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame({"event_id": [0], "ts": [dt.datetime(2024, 3, 1)]}))
    iv = spark.createDataFrame(pd.DataFrame({
        "win_id": [0], "ws": [dt.datetime(2024, 3, 1)],
        "we": [dt.datetime(2024, 3, 2)]}))
    for w in (0.5, 0, -60):
        with pytest.raises(ValueError, match="bucket_width_seconds"):
            interval_join(ev, iv, ts="ts", start="ws", end="we",
                          bucket_width_seconds=w).collect()


def test_hypertable_rollup_reaggregation_is_exact(spark, sf_dir):
    """Coarser rollup levels are computed FROM the finer level; for algebraic
    aggregates that must equal aggregating the raw data directly, at every
    level — and exactly (decimal sums compose associatively)."""
    from pyspark.sql import functions as F

    from ficaria_spark import datagen
    from ficaria_spark.operators.temporal import hypertable_rollup

    ev = datagen.load(spark, sf_dir, "events")
    got = hypertable_rollup(ev, ts="ts", keys=["event_type"],
                            value_col="value",
                            levels=("hour", "day", "week")).toPandas()
    for lv in ("hour", "day", "week"):
        direct = (
            ev.groupBy(F.unix_micros(F.date_trunc(lv, "ts")).alias("b"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s"))
            .toPandas()
        )
        g = got[got.level == lv]
        a = {(r.b, r.event_type): (r.n, r.s) for r in direct.itertuples()}
        b = {(r.bucket_start_us, r.event_type): (r.n_rows, r.sum_value)
             for r in g.itertuples()}
        assert a == b, lv


def test_hypertable_rollup_misaligned_neighbours_use_aligned_source(spark, sf_dir):
    """("day", "week", "month"): month must NOT re-agg week (weeks straddle
    month boundaries) — it re-aggs day, and every level is still exact vs
    aggregating raw directly. A level that nests in nothing computed before
    it (month in a week-rooted chain) still raises at plan time."""
    import pytest
    from pyspark.sql import functions as F

    from ficaria_spark import datagen
    from ficaria_spark.operators.temporal import hypertable_rollup

    ev = datagen.load(spark, sf_dir, "events")
    got = hypertable_rollup(ev, ts="ts", value_col="value",
                            levels=("day", "week", "month")).toPandas()
    for lv in ("day", "week", "month"):
        direct = (
            ev.groupBy(F.unix_micros(F.date_trunc(lv, "ts")).alias("b"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s"))
            .toPandas()
        )
        g = got[got.level == lv]
        a = {r.b: (r.n, r.s) for r in direct.itertuples()}
        b = {r.bucket_start_us: (r.n_rows, r.sum_value) for r in g.itertuples()}
        assert a == b, lv

    with pytest.raises(ValueError, match="not boundary-aligned"):
        hypertable_rollup(ev, ts="ts", value_col="value",
                          levels=("week", "month"))
    with pytest.raises(ValueError, match="unknown rollup level"):
        hypertable_rollup(ev, ts="ts", value_col="value",
                          levels=("day", "fortnight"))


def test_interval_join_auto_mode_picks_safe_plan(spark):
    """bucket_width_seconds=None (default) sizes the width from the median
    interval length and takes the bucketed equi-join: no
    BroadcastNestedLoopJoin in the plan; the small interval side is
    broadcast by the planner as a hash join; the output equals an explicit
    width's."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from ficaria_spark.operators.temporal import interval_join

    rng = np.random.default_rng(12)
    t0 = dt.datetime(2024, 3, 1)
    ev = pd.DataFrame({
        "event_id": range(200),
        "ts": [t0 + dt.timedelta(minutes=int(rng.integers(0, 5_000)))
               for _ in range(200)],
    })
    iv_rows = []
    for i in range(60):
        s = t0 + dt.timedelta(minutes=int(rng.integers(0, 4_500)))
        iv_rows.append((i, s, s + dt.timedelta(minutes=int(rng.integers(1, 300)))))
    iv = pd.DataFrame(iv_rows, columns=["win_id", "ws", "we"])
    sev, siv = spark.createDataFrame(ev), spark.createDataFrame(iv)

    auto = interval_join(sev, siv, ts="ts", start="ws", end="we")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan

    fixed = interval_join(sev, siv, ts="ts", start="ws", end="we",
                          bucket_width_seconds=3600)
    a = set(map(tuple, auto.select("event_id", "win_id").toPandas().to_numpy()))
    b = set(map(tuple, fixed.select("event_id", "win_id").toPandas().to_numpy()))
    assert a == b and len(a) > 0


def test_asof_cogroup_null_entity_one_side(spark):
    """A null entity on only ONE side (a nullable key column, as Arrow
    hands it over from pandas ``Int64``): the null-key right row matches
    nothing and non-null entities join exactly. The name is kept from the
    retired pandas cogroup variant, where this case once crashed."""
    t0 = dt.datetime(2024, 5, 1)
    left = pd.DataFrame({
        "rid": [0, 1, 2],
        "entity": pd.array([1, 2, 2], dtype="Int64"),
        "ts": [t0 + dt.timedelta(minutes=m) for m in (5, 7, 9)],
    })
    right = pd.DataFrame({
        "entity": pd.array([1, 2, None], dtype="Int64"),
        "ts": [t0, t0 + dt.timedelta(minutes=6), t0 + dt.timedelta(minutes=1)],
        "v": [10.0, 20.0, 99.0],
    })
    out = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="ts", by="entity", value_cols=["v"],
    ).orderBy("rid").toPandas()
    assert out.v_asof.tolist() == [10.0, 20.0, 20.0]


def test_asof_cogroup_null_entity_both_sides(spark):
    """Null entities on BOTH sides: SQL null-join semantics are pinned — a
    null-key left row stays in the output with a null as-of value (it must
    NOT pick up a null-key right row, although ``Window.partitionBy`` puts
    both sides' null keys in one partition), and non-null entities join
    exactly as before. The name is kept from the retired pandas cogroup
    variant."""
    t0 = dt.datetime(2024, 5, 1)
    left = pd.DataFrame({
        "rid": [0, 1, 2],
        "entity": pd.array([1, None, None], dtype="Int64"),
        "ts": [t0 + dt.timedelta(minutes=m) for m in (5, 7, 9)],
    })
    right = pd.DataFrame({
        "entity": pd.array([1, None, None], dtype="Int64"),
        "ts": [t0, t0 + dt.timedelta(minutes=1), t0 + dt.timedelta(minutes=2)],
        "v": [10.0, 98.0, 99.0],
    })
    out = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="ts", by="entity", value_cols=["v"],
    ).orderBy("rid").toPandas()
    assert out.v_asof.tolist()[0] == 10.0
    assert pd.isna(out.v_asof.tolist()[1]) and pd.isna(out.v_asof.tolist()[2])
    # the null keys themselves survive
    assert pd.isna(out.entity[1]) and pd.isna(out.entity[2])

    # all-null right side + null left keys: nothing matches
    right2 = right.assign(entity=pd.array([None, None, None], dtype="Int64"))
    out2 = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right2),
        on="ts", by="entity", value_cols=["v"],
    ).orderBy("rid").toPandas()
    assert out2.v_asof.isna().all()


def test_rollup_source_is_coarsest_by_rank(spark, sf_dir):
    """An out-of-order level chain must still re-agg each level from the
    COARSEST aligned finer level by granularity rank, not list position
    (review r4: ('minute','day','hour','month') must feed month from day,
    not hour) — and stay exact."""
    from pyspark.sql import functions as F

    from ficaria_spark import datagen
    from ficaria_spark.operators.temporal import hypertable_rollup

    ev = datagen.load(spark, sf_dir, "events")
    got = hypertable_rollup(ev, ts="ts", value_col="value",
                            levels=("minute", "day", "hour", "month")).toPandas()
    for lv in ("minute", "day", "hour", "month"):
        direct = (
            ev.groupBy(F.unix_micros(F.date_trunc(lv, "ts")).alias("b"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s"))
            .toPandas()
        )
        g = got[got.level == lv]
        assert {r.b: (r.n, r.s) for r in direct.itertuples()} == \
            {r.bucket_start_us: (r.n_rows, r.sum_value) for r in g.itertuples()}, lv


def test_hot_entity_window_ops_stay_linear(spark):
    """VERDICT r5 #3 (hot-entity window skew): one entity's whole history
    runs inside ONE task, so the per-entity cost of the ordered-window
    kernels must be LINEAR in that entity's row count — quadratic behavior
    multiplies the already-serial hot term. This exact probe caught a real
    O(n²): interpolate_linear's next-non-null used a (1, unboundedFollowing)
    frame, which Spark recomputes from scratch per row (25k→100k rows went
    27 s → 429 s) — now a running last(ignorenulls) over the reversed
    ordering. Cost curve + mitigation recipe: BENCH/BASELINE.md
    'Hot-entity window skew'; sweep tool: tools/probe_hot_entity.py."""
    import time

    from pyspark.sql import functions as F

    from ficaria_spark.operators.temporal import (
        interpolate_linear, pit_backfill, sessionize)
    from tools.probe_hot_entity import build

    ops = {
        "pit_backfill": lambda d: pit_backfill(
            d, "entity_id", "ts", ["f_value"], tiebreak=["event_id"]
        ).agg(F.sum("f_value_filled")),
        "sessionize": lambda d: sessionize(
            d, "entity_id", "ts", gap_seconds=600.0, tiebreak=["event_id"]
        ).agg(F.max("session_seq")),
        "interpolate_linear": lambda d: interpolate_linear(
            d, "entity_id", "ts", ["f_value"], tiebreak=["event_id"]
        ).agg(F.sum("f_value_interp")),
    }
    walls: dict[str, dict[int, float]] = {k: {} for k in ops}
    for n in (12_500, 50_000):  # 4× the single hot entity's rows
        df = build(spark, n, 1.0).persist()
        df.count()
        for name, op in ops.items():
            op(df).collect()  # warm plan/codegen for this size
            t0 = time.perf_counter()
            op(df).collect()
            walls[name][n] = time.perf_counter() - t0
        df.unpersist()
    for name, w in walls.items():
        ratio = w[50_000] / max(w[12_500], 1e-6)
        # linear → ~4× (less when fixed overhead dominates); the removed
        # quadratic measured ~14× on this exact pair. 10× splits them with
        # wide noise margins on a steal-prone host.
        assert ratio < 10.0, (name, w)


def test_blocked_variants_equal_exact_on_hot_entity_corpus(spark):
    """The hot-entity MITIGATION operators (sessionize_blocked,
    pit_backfill_bounded method='blocked') on the probe corpus itself —
    one entity holding 90% of 100k rows, the exact shape the recipe exists
    for. Row-for-row equality vs the exact single-window paths; the blocked
    session path must also split the hot entity across >1 time block
    (otherwise the test exercises nothing)."""
    from pyspark.sql import functions as F

    from ficaria_spark.operators.temporal import (
        pit_backfill_bounded, sessionize, sessionize_blocked)
    from tools.probe_hot_entity import build

    df = build(spark, 100_000, 0.9).persist()
    df.count()
    try:
        exact = sessionize(df, "entity_id", "ts", gap_seconds=600.0,
                           tiebreak=["event_id"])
        blocked = sessionize_blocked(
            df, "entity_id", "ts", gap_seconds=600.0, block_seconds=3600.0,
            tiebreak=["event_id"], session_col="session_blk")
        j = exact.select("event_id", "session_seq").join(
            blocked.select("event_id", "session_blk"), "event_id")
        assert j.where(~F.col("session_seq").eqNullSafe(F.col("session_blk"))).count() == 0

        # the hot entity really spans multiple blocks (parallelism exists)
        n_blocks = (df.where("entity_id = 0")
                    .select(F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)))
                    .distinct().count())
        assert n_blocks > 1, n_blocks

        w = pit_backfill_bounded(df, "entity_id", "ts", ["f_value"],
                                 tolerance_seconds=1800.0, tiebreak=["event_id"])
        b = pit_backfill_bounded(df, "entity_id", "ts", ["f_value"],
                                 tolerance_seconds=1800.0, tiebreak=["event_id"],
                                 method="blocked", block_seconds=3600.0)
        jj = w.select("event_id", F.col("f_value_filled").alias("x")).join(
            b.select("event_id", F.col("f_value_filled").alias("y")), "event_id")
        assert jj.where(~F.col("x").eqNullSafe(F.col("y"))).count() == 0
    finally:
        df.unpersist()
