"""Physical-plan audits: the engine must produce the plans we designed for —
filters pushed to the scan, small dims broadcast, chained windows sharing one
exchange, no Python in JVM-only operators."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ficaria_spark import datagen
from ficaria_spark.operators.temporal import lag_lead, pit_backfill, sessionize

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark):
    li = datagen.load(spark, SF, "lineitem")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan)
    # column pruning: scan reads only the 3 needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "l_orderkey:bigint", "l_quantity:double"}


def test_dimension_join_is_broadcast(spark):
    from ficaria_spark.queries import QUERIES

    plan = _plan(QUERIES["top_customers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chained_windows_share_one_exchange(spark):
    """pit_backfill → lag_lead → sessionize over the same (entity, ts)
    ordering must sort/shuffle ONCE: one Exchange, one Sort."""
    grid = datagen.feature_grid(spark, SF)
    chained = sessionize(
        lag_lead(
            pit_backfill(grid, "entity_id", "ts", ["f_value"], tiebreak=["event_id"]),
            "entity_id", "ts", ["f_value_filled"], tiebreak=["event_id"],
        ),
        "entity_id", "ts", gap_seconds=1800.0, tiebreak=["event_id"],
    )
    plan = _plan(chained)
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    n_sort = len(re.findall(r"\bSort \[", plan))
    assert n_exchange == 1, plan
    assert n_sort == 1, plan


def test_temporal_kernel_has_no_python(spark):
    """The temporal kernel is pure JVM: no operator in
    operators/temporal.py plans a Python/Arrow eval or pandas/Arrow map
    node, on any of its routes."""
    from ficaria_spark.operators import temporal as tp

    grid = datagen.feature_grid(spark, SF)
    ev = datagen.load(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    windows = ev.select(F.col("event_id").alias("win_id"),
                        F.col("ts").alias("ws"),
                        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("we"))
    key = ("entity_id", "ts")
    plans = {
        "pit_backfill": pit_backfill(grid, *key, ["f_value"]),
        **{f"asof_join strict={st}": tp.asof_join(
            clicks, views, on="ts", by="user_id", value_cols=["value"],
            strict=st) for st in (True, False)},
        **{f"pit_backfill_bounded {m}": tp.pit_backfill_bounded(
            grid, *key, ["f_value"], tolerance_seconds=3600.0,
            tiebreak=["event_id"], method=m) for m in ("window", "blocked")},
        "sessionize": sessionize(grid, *key, gap_seconds=1800.0),
        "sessionize_blocked": tp.sessionize_blocked(
            grid, *key, gap_seconds=1800.0, block_seconds=86400.0),
        "lag_lead": lag_lead(grid, *key, ["f_value"]),
        "interpolate_linear": tp.interpolate_linear(grid, *key, ["f_value"]),
        "tumble": tp.tumble(grid, "ts", width_seconds=3600),
        **{f"interval_join W={w}": tp.interval_join(
            ev, windows, ts="ts", start="ws", end="we",
            bucket_width_seconds=w) for w in (None, 3600)},
        "hypertable_rollup": tp.hypertable_rollup(
            ev, ts="ts", keys=["event_type"], value_col="value"),
    }
    python_nodes = ("ArrowEvalPython", "BatchEvalPython",
                    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                    "MapInPandas", "MapInArrow")
    for name, df in plans.items():
        plan = _plan(df)
        for node in python_nodes:
            assert node not in plan, (name, node, plan)


def test_asof_join_single_shuffle(spark):
    from ficaria_spark.operators.temporal import asof_join

    ev = datagen.load(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(clicks, views, on="ts", by="user_id", value_cols=["value"])
    plan = _plan(joined)
    # union-window as-of: exactly one hash exchange (the window), no join node
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_whole_stage_codegen_covers_q1(spark):
    from ficaria_spark.queries import QUERIES

    df = QUERIES["tpch_q1"](spark, SF)
    df.collect()  # AQE: codegen spans appear in the FINAL plan
    plan = _plan(df)
    # codegen stages render as "*(n) Operator" in the executed-plan string;
    # both partial and final aggregates must be inside codegen spans
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan


def test_map_imputer_complete_rows_stay_jvm(spark):
    """The map-only imputer plan must be a union of (JVM-only complete
    branch) and (one Python-eval incomplete branch): exactly ONE
    MapInPandas/ArrowEval node, and the complete branch is a plain
    filter — complete rows never pay the Arrow round-trip."""
    import numpy as np
    import pandas as pd

    from ficaria_spark.operators.impute import FCMCentroidImputer

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(rng.normal(size=(80, 3)), columns=["a", "b", "c"])
    pdf.loc[::7, "a"] = np.nan
    pdf["row_id"] = np.arange(80)
    sdf = spark.createDataFrame(pdf)
    imp = FCMCentroidImputer(n_clusters=2, random_state=0,
                             feature_cols=["a", "b", "c"]).fit(sdf)
    plan = _plan(imp.transform(sdf))
    n_python = len(re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
    assert n_python == 1, plan
    assert "Union" in plan


def test_aqe_skew_join_split_engages(spark):
    """North-rule evidence: AQE skew-join splitting (enabled in session.py)
    actually splits a hot join key at runtime. A 25:1-skewed join is run
    with skewJoin on and off (thresholds lowered to test scale); with it ON
    the join stage runs MORE tasks than spark.sql.shuffle.partitions (the
    hot partition is split into partial-reducer tasks), with it OFF it
    cannot exceed the shuffle partition count."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    left = spark.range(0, 500_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias("payload"))
    right = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))

    tuning = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in tuning}
    saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def max_stage_tasks(group: str, enabled: bool) -> int:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(enabled).lower())
        sc.setJobGroup(group, "skew probe")
        try:
            left.join(right, "k").count()
        finally:
            sc.setJobGroup(None, None)
        st = sc.statusTracker()
        tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si:
                    tasks = max(tasks, si.numTasks)
        return tasks

    try:
        for k, v in tuning.items():
            spark.conf.set(k, v)
        with_split = max_stage_tasks("skew-on", True)
        without = max_stage_tasks("skew-off", False)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert without <= n_shuffle, (without, n_shuffle)
    assert with_split > n_shuffle, (
        f"skew join did not split: {with_split} tasks <= {n_shuffle} partitions")


def test_bloom_decontaminate_plan_has_no_join(spark, sf_dir):
    """decontaminate's join shape is the planner's: the benchmark shingle
    set broadcasts under the default threshold, a shuffle join runs with
    the threshold off, and both plans give the same rows. The name is kept
    from when a Bloom probe was a caller-chosen, join-free method."""
    from ficaria_spark import datagen
    from ficaria_spark.operators.dedup import decontaminate

    docs = datagen.load(spark, sf_dir, "documents")
    train = docs.where("doc_id % 17 != 0")
    bench = docs.where("doc_id % 17 = 0")

    bcast = decontaminate(train, bench, k=3, min_shared=2)
    assert "BroadcastHashJoin" in \
        bcast._jdf.queryExecution().executedPlan().toString()
    rows = sorted(bcast.collect())

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuf = decontaminate(train, bench, k=3, min_shared=2)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert sorted(shuf.collect()) == rows
    finally:
        spark.conf.set(key, saved)
