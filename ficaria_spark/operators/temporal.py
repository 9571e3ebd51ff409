"""Temporal kernel: point-in-time backfill, as-of join, lag/lead, sessionize,
tumbling/sliding windows, linear interpolation, interval join and
multi-resolution rollup.

These are the engine's core operators. The reference library's only
order-sensitive operation is column-wise ``DataFrame.interpolate(axis=0,
limit_direction='both')`` (reference: ficaria/missing_imputation.py:1141);
everything else here generalizes that into the leakage-free temporal feature
pipeline the engine is specified to provide.

All operators are pure ``pyspark.sql``. The ordered ones are window functions
over ``Window.partitionBy(entity).orderBy(ts)``, so they stay inside Tungsten /
whole-stage codegen with exactly one shuffle (the window exchange on the
entity key); the as-of join is the same window over a union of both sides.
No Python UDFs anywhere in this module (plan-asserted in tests/test_plans.py).

Scale notes (100 TB):
* One shuffle per distinct partitioning — chain multiple window ops over the
  same (entity, ts) ordering and Catalyst reuses a single Exchange+Sort.
* A hot entity (skewed ``doc_id``) serializes its window into one task. Where
  semantics allow pre-aggregation, use :func:`salted_agg` from
  ``operators.skew`` to split the entity; for the order-dependent ops the
  bounded-carry rewrites :func:`sessionize_blocked` and
  :func:`pit_backfill_bounded` (``method="blocked"``) split one entity's
  history across time blocks with EXACT semantics (driver-hash-gated equal
  to the single-window paths). Unbounded backfill/interpolation carries are
  unbounded by semantics — those stay sequential per entity (kept linear),
  bounded upstream by time-bucketing (partition the table by days(ts)).
* Leakage-freedom is *structural*: the strict frame ends at row -1, so no
  plan rewrite can ever read the current or a future row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def _w(entity: str | Sequence[str], order: str | Sequence[str]) -> WindowSpec:
    ent = [entity] if isinstance(entity, str) else list(entity)
    ords = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*ent).orderBy(*[F.col(c).asc() for c in ords])


def pit_backfill(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Sequence[str],
    *,
    strict: bool = True,
    tiebreak: Sequence[str] = (),
    suffix: str = "_filled",
) -> DataFrame:
    """Point-in-time backfill: fill each NULL in ``cols`` from the most
    recent **strictly earlier** observation of the same entity.

    Zero temporal leakage by construction: with ``strict=True`` the window
    frame is ``rowsBetween(unboundedPreceding, -1)`` — the current row and
    all future rows are outside the frame, so a filled value can only come
    from the past. (Reference analogue: the forward half of
    ficaria/missing_imputation.py:1141's interpolate.)

    ``tiebreak`` columns make ordering total when several rows share a
    timestamp (required for deterministic results).
    """
    order = [ts, *tiebreak]
    end = -1 if strict else 0
    w = _w(entity, order).rowsBetween(Window.unboundedPreceding, end)
    out = df
    for c in cols:
        out = out.withColumn(
            c + suffix, F.coalesce(F.col(c), F.last(c, ignorenulls=True).over(w))
        )
    return out


def lag_lead(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Sequence[str],
    *,
    n: int = 1,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Previous / next observation features: ``<col>_lag_n`` / ``<col>_lead_n``."""
    w = _w(entity, [ts, *tiebreak])
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_lag_{n}", F.lag(c, n).over(w))
        out = out.withColumn(f"{c}_lead_{n}", F.lead(c, n).over(w))
    return out


def sessionize(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    *,
    gap_seconds: float,
    tiebreak: Sequence[str] = (),
    session_col: str = "session_seq",
) -> DataFrame:
    """Assign per-entity session sequence numbers (1-based) by inactivity gap.

    A new session starts when ``ts - lag(ts) > gap_seconds`` (or at the first
    event). Implemented as a running sum of new-session flags — one window
    exchange, no UDFs.
    """
    w = _w(entity, [ts, *tiebreak])
    gap = F.col(ts).cast("double") - F.lag(F.col(ts).cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > F.lit(float(gap_seconds))), 1).otherwise(0)
    run = _w(entity, [ts, *tiebreak]).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(session_col, F.sum(new_sess).over(run))


def _ent_list(entity: str | Sequence[str]) -> list[str]:
    return [entity] if isinstance(entity, str) else list(entity)


def _ep_us(df: DataFrame, ts: str) -> Column:
    """Integer-exact event epoch: microseconds for timestamps, raw value ×1e6
    (as long) for numeric ``ts``. Block ids and staleness bounds computed on
    this column are exact integer arithmetic — identical in Spark and any
    ANSI oracle — so blocked variants can never diverge from the exact path
    by a float ULP at a block or tolerance boundary."""
    if isinstance(df.schema[ts].dataType, TimestampType):
        return F.unix_micros(F.col(ts))
    return (F.col(ts).cast("double") * F.lit(1_000_000.0)).cast("long")


def sessionize_blocked(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    *,
    gap_seconds: float,
    block_seconds: float,
    tiebreak: Sequence[str] = (),
    session_col: str = "session_seq",
) -> DataFrame:
    """Hot-entity-parallel :func:`sessionize` — identical output, but one
    entity's history no longer serializes into one task.

    Why it exists (measured, BENCH/BASELINE.md "Hot-entity window skew"): the
    single-window sessionize partitions by entity, so an entity holding
    fraction ``p`` of the corpus pins ``p`` of the stage's work to ONE core —
    on a 1000-executor cluster a p=0.9 bot entity makes the stage ~90%
    serial. Sessionization qualifies for the block-parallel rewrite because
    the carry between consecutive time blocks is BOUNDED: whether the first
    event of a block opens a new session depends only on the previous
    non-empty block's last timestamp.

    Two passes, exact semantics:

    1. block-local (parallel over ``(entity, floor(ts/block_seconds))``):
       in-block gap flags + running flag sums — the same ``gap_seconds``
       comparison, on the same double-cast timestamps, as :func:`sessionize`;
    2. carry (tiny: one row per non-empty ``(entity, block)``): the
       first-event flag of each block from the previous block's last
       timestamp, plus a running session offset over blocks.

    The carry relation is joined back on ``(entity, block)`` (null-safe on
    entity keys — ``Window.partitionBy`` groups NULL entities together, so
    the join must too). It has one row per non-empty block per entity —
    orders of magnitude smaller than the data; AQE broadcasts it.

    Output is exactly ``sessionize(...)``: same rows, same ``session_col``
    values (equality is hard-gated in the driver's ``sessionize`` slot and
    property-swept in tests). Requires non-null ``ts``; per-entity
    parallelism = number of non-empty blocks, so pick ``block_seconds`` well
    below the corpus time span (and comfortably above ``gap_seconds``, else
    the carry relation stops being small relative to the data).
    """
    ent = _ent_list(entity)
    if block_seconds <= 0:
        raise ValueError("block_seconds must be positive")
    block_us = int(round(float(block_seconds) * 1_000_000))
    blk = F.floor(_ep_us(df, ts) / F.lit(block_us)).cast("long")
    tagged = df.withColumn("__blk", blk)

    ords = [F.col(ts).asc(), *(F.col(c).asc() for c in tiebreak)]
    w_local = Window.partitionBy(*ent, "__blk").orderBy(*ords)
    ep = F.col(ts).cast("double")
    gap = ep - F.lag(ep).over(w_local)
    # First row of a block has a NULL local gap -> local flag 0; its true
    # new-session flag is decided by the carry pass (never double-counted).
    local_flag = F.when(gap > F.lit(float(gap_seconds)), 1).otherwise(0)
    flagged = tagged.withColumn("__lflag", local_flag).withColumn(
        "__lrun",
        F.sum("__lflag").over(w_local.rowsBetween(Window.unboundedPreceding, 0)),
    )

    carry = flagged.groupBy(*ent, "__blk").agg(
        F.min(ep).alias("__first_ep"),
        F.max(ep).alias("__last_ep"),
        F.sum("__lflag").alias("__flags"),
    )
    w_blocks = Window.partitionBy(*ent).orderBy(F.col("__blk").asc())
    prev_last = F.lag("__last_ep").over(w_blocks)
    first_flag = F.when(
        prev_last.isNull()
        | ((F.col("__first_ep") - prev_last) > F.lit(float(gap_seconds))),
        F.lit(1),
    ).otherwise(F.lit(0))
    base_prev = F.coalesce(
        F.sum(F.col("__ff") + F.col("__flags")).over(
            w_blocks.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    carry = (
        carry.withColumn("__ff", first_flag)
        .withColumn("__add", base_prev + F.col("__ff"))
        .select(*ent, "__blk", "__add")
    )

    left = flagged.alias("L")
    right = carry.alias("R")
    cond = F.col("L.__blk") == F.col("R.__blk")
    for k in ent:
        cond = cond & F.col(f"L.{k}").eqNullSafe(F.col(f"R.{k}"))
    out = left.join(right, cond, "inner").select("L.*", F.col("R.__add"))
    return out.withColumn(
        session_col, (F.col("__add") + F.col("__lrun")).cast("long")
    ).drop("__blk", "__lflag", "__lrun", "__add")


def pit_backfill_bounded(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Sequence[str],
    *,
    tolerance_seconds: float,
    tiebreak: Sequence[str] = (),
    suffix: str = "_filled",
    method: str = "window",
    block_seconds: float | None = None,
) -> DataFrame:
    """Bounded-staleness point-in-time backfill: fill each NULL in ``cols``
    from the most recent **strictly earlier** observation of the same entity
    that is at most ``tolerance_seconds`` old; older observations never fill
    (the value has gone stale).

    Same zero-leakage structure as :func:`pit_backfill` (the candidate frame
    ends at row −1), plus the staleness bound — the variant that restores
    BLOCK LOCALITY to backfill: an in-tolerance source for a row at time t
    lives in ``[t − tolerance, t)``, which intersects at most two
    ``block_seconds ≥ tolerance_seconds`` time blocks.

    ``method``:

    * ``"window"`` (default, exact reference path): one running
      ``last(ignorenulls)`` over a (epoch, value) struct per column —
      identical shuffle shape to :func:`pit_backfill`; a hot entity's
      history still serializes into one task.
    * ``"blocked"`` (hot-entity-parallel): rows are partitioned by
      ``(entity, floor(ts/block_seconds))``; each non-null observation is
      additionally duplicated into the NEXT block as a lookup-only row, so
      every in-tolerance candidate for any query row is present in the query
      row's own block partition. Per-task work is bounded by two blocks of
      one entity regardless of skew; the cost is one extra copy of the
      observation rows through the shuffle (payload: entity, ts, tiebreak,
      ``cols`` only — prune other columns upstream if they are wide).

    Both methods compute staleness in integer microseconds
    (``tolerance_us = round(tolerance_seconds·1e6)``, inclusive bound), so
    they are bit-equal to each other and to an integer-epoch SQL oracle —
    no float-ULP divergence at tolerance or block boundaries. Requires
    non-null ``ts``; ``tiebreak`` must make (ts, tiebreak) a total order per
    entity, as in :func:`pit_backfill`.
    """
    ent = _ent_list(entity)
    if method not in ("window", "blocked"):
        raise ValueError(f"unknown method {method!r}")
    tol_us = int(round(float(tolerance_seconds) * 1_000_000))
    if tol_us < 0:
        raise ValueError("tolerance_seconds must be non-negative")
    ep_us = _ep_us(df, ts)

    def fill_over(frame: DataFrame, w) -> list[Column]:
        filled = []
        for c in cols:
            src = F.last(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.col("__ep_us").alias("ep"), F.col(c).alias("v")),
                ),
                ignorenulls=True,
            ).over(w)
            filled.append(
                F.coalesce(
                    F.col(c),
                    F.when(F.col("__ep_us") - src["ep"] <= F.lit(tol_us), src["v"]),
                ).alias(c + suffix)
            )
        return filled

    ords = [F.col(ts).asc(), *(F.col(c).asc() for c in tiebreak)]
    if method == "window":
        w = (
            Window.partitionBy(*ent)
            .orderBy(*ords)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        base = df.withColumn("__ep_us", ep_us)
        out = base.select("*", *fill_over(base, w))
        return out.drop("__ep_us")

    block_s = float(block_seconds) if block_seconds is not None else float(tolerance_seconds)
    block_us = int(round(block_s * 1_000_000))
    if block_us < tol_us or block_us <= 0:
        raise ValueError("block_seconds must be >= tolerance_seconds (and > 0)")
    base = df.withColumn("__ep_us", ep_us)
    obs_nonnull = None
    for c in cols:
        p = F.col(c).isNotNull()
        obs_nonnull = p if obs_nonnull is None else (obs_nonnull | p)
    blk = F.floor(F.col("__ep_us") / F.lit(block_us)).cast("long")
    queries = base.withColumn("__blk", blk).withColumn("__lookup", F.lit(False))
    # Lookup twins land in the NEXT block; their epoch is strictly below that
    # block's start, so they sort before every query row there (ties with a
    # query row are impossible) and the -1 frame end keeps strictness intact.
    lookups = (
        base.where(obs_nonnull)
        .withColumn("__blk", blk + F.lit(1))
        .withColumn("__lookup", F.lit(True))
    )
    uni = queries.unionByName(lookups)
    w = (
        Window.partitionBy(*ent, "__blk")
        .orderBy(*ords)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = uni.select("*", *fill_over(uni, w))
    return out.where(~F.col("__lookup")).drop("__ep_us", "__blk", "__lookup")


def tumble(
    df: DataFrame,
    ts: str,
    *,
    width_seconds: int,
    slide_seconds: int | None = None,
    bucket_col: str = "window_start",
) -> DataFrame:
    """Attach the tumbling (or sliding) window start epoch to each row.

    For tumbling windows we bucket arithmetically (``floor(epoch/width)*width``)
    instead of ``F.window`` so the bucket is a flat BIGINT column — cheaper to
    group on, partition-prunable, and engine-portable. Sliding windows fall
    back to ``F.window`` (each row lands in width/slide buckets).
    """
    if slide_seconds is None or slide_seconds == width_seconds:
        epoch = F.col(ts).cast("double").cast("long")
        start = (F.floor(epoch / F.lit(width_seconds)) * F.lit(width_seconds)).cast("long")
        return df.withColumn(bucket_col, start)
    win = F.window(F.col(ts), f"{width_seconds} seconds", f"{slide_seconds} seconds")
    return df.withColumn(bucket_col, win.start.cast("double").cast("long"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    value_cols: Sequence[str],
    strict: bool = False,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Point-in-time as-of join: attach to each left row the latest right-side
    ``value_cols`` with ``right.on <= left.on`` (``<`` when ``strict``).

    Implementation is the sort-merge/window union trick (no built-in as-of in
    Spark): tag and union both sides, sort within entity by (ts, side-tag),
    and take ``last(value, ignorenulls)`` over the preceding frame. This costs
    exactly ONE shuffle (the window exchange on ``by``) regardless of table
    sizes — no O(n·m) expansion, no broadcast requirement — so it scales to
    both sides being 100 TB. AQE skew-join splitting does not apply to
    windows; for hot entities pre-bucket by time upstream.

    The side-tag ordering encodes match strictness structurally: with
    ``strict=False`` right rows sort *before* left rows at equal ``on`` (so an
    exact-timestamp right row is visible); with ``strict=True`` they sort
    *after* (so it is not).

    ``tolerance_seconds`` drops matches older than the bound (inclusive).
    Staleness is integer microseconds (``round(tolerance_seconds·1e6)``), as
    in :func:`pit_backfill_bounded`, so a match exactly at the bound is kept
    whatever the timestamps' float rounding.
    """
    by = [by] if isinstance(by, str) else list(by)
    lcols = left.columns
    tag_right = 0 if not strict else 2
    # The matched right row travels as ONE struct so that a right row whose
    # value columns are all NULL still counts as a match (merge_asof parity);
    # last(ignorenulls) skips only rows with no struct (i.e. left rows).
    r_struct = F.struct(
        _ep_us(right, on).alias("__ep"), *[F.col(c).alias(c) for c in value_cols]
    )
    lhs = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            right.select(r_struct.alias("s")).schema["s"].dataType
        ).alias("__r"),
    )
    rhs = right.select(
        *[F.col(c) if c in (on, *by) else F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols],
        F.lit(tag_right).alias("__side"),
        r_struct.alias("__r"),
    )
    # SQL null-join semantics (pinned): a null entity key matches NOTHING.
    # Window.partitionBy groups nulls into one partition, so without this
    # filter a null-key right row would leak its value to null-key left rows
    # (found by the r6 hypothesis sweep). Left rows with null keys stay in
    # the output with null as-of values.
    for c in by:
        rhs = rhs.where(F.col(c).isNotNull())
    unioned = lhs.unionByName(rhs)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = unioned.select(
        *lcols,
        F.col("__side"),
        F.last("__r", ignorenulls=True).over(w).alias("__m"),
    )
    out = picked.where(F.col("__side") == 1)
    if tolerance_seconds is not None:
        tol_us = int(round(float(tolerance_seconds) * 1_000_000))
        in_tol = _ep_us(out, on) - F.col("__m.__ep") <= F.lit(tol_us)
        out = out.withColumn("__m", F.when(in_tol, F.col("__m")))
    for c in value_cols:
        out = out.withColumn(f"{c}{suffix}", F.col(f"__m.{c}"))
    return out.drop("__side", "__m")


def interpolate_linear(
    df: DataFrame,
    entity: str | Sequence[str] | None,
    ts: str,
    cols: Sequence[str],
    *,
    x: str | None = None,
    tiebreak: Sequence[str] = (),
    suffix: str = "_interp",
) -> DataFrame:
    """Linear interpolation of NULLs between nearest non-NULL neighbors, both
    directions (edges take the available side) — parity with pandas
    ``DataFrame.interpolate(method='linear', axis=0, limit_direction='both')``
    used by the reference (ficaria/missing_imputation.py:1141).

    ``x`` is the interpolation axis: a numeric/timestamp column, or ``None``
    for positional (row-number) interpolation like pandas' default.
    ``entity=None`` interpolates over the whole frame in one partition (only
    for bounded parity tests — pass an entity at scale).

    NOTE: looks *forward* by design (reference semantics). For leakage-free
    pipelines use :func:`pit_backfill` instead.
    """
    ent = [] if entity is None else ([entity] if isinstance(entity, str) else list(entity))
    order = [ts, *tiebreak]
    base = Window.partitionBy(*ent).orderBy(*[F.col(c).asc() for c in order]) if ent else (
        Window.orderBy(*[F.col(c).asc() for c in order])
    )
    # "next non-null" is computed over the REVERSED ordering as a RUNNING
    # last(ignorenulls), never as first() over a (1, unboundedFollowing)
    # frame: Spark evaluates UnboundedPreceding frames incrementally (O(n)
    # per partition) but recomputes UnboundedFollowing frames from scratch
    # per row (O(n²)) — measured 27 s → 429 s for a 25k → 100k-row single
    # entity before this rewrite (r6 hot-entity probe). asc NULLS FIRST
    # reverses exactly to desc NULLS LAST (Spark's desc default), so the
    # reversed frame sees precisely the rows strictly after the current one.
    rev = (Window.partitionBy(*ent).orderBy(*[F.col(c).desc() for c in order])
           if ent else Window.orderBy(*[F.col(c).desc() for c in order]))
    out = df
    if x is None:
        out = out.withColumn("__pos", F.row_number().over(base).cast("double"))
        xcol = "__pos"
    else:
        xcol = x
    prev_f = base.rowsBetween(Window.unboundedPreceding, -1)
    next_f = rev.rowsBetween(Window.unboundedPreceding, -1)
    for c in cols:
        xv = F.col(xcol).cast("double")
        obs_x = F.when(F.col(c).isNotNull(), xv)
        pv = F.last(c, ignorenulls=True).over(prev_f)
        px = F.last(obs_x, ignorenulls=True).over(prev_f)
        nv = F.last(c, ignorenulls=True).over(next_f)
        nx = F.last(obs_x, ignorenulls=True).over(next_f)
        interp = pv + (nv - pv) * (xv - px) / (nx - px)
        filled = F.coalesce(F.col(c), interp, pv, nv)
        out = out.withColumn(c + suffix, filled)
    if x is None:
        out = out.drop("__pos")
    return out


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    *,
    ts: str,
    start: str,
    end: str,
    bucket_width_seconds: int | None = None,
    broadcast_row_limit: int = 500_000,
) -> DataFrame:
    """Range join: every (event, interval) pair with ``start ≤ ts < end``.

    Spark has no native range-join operator, so the naive plan for a pure
    range predicate is a BroadcastNestedLoopJoin — correct, and fine ONLY
    when the interval side is broadcast-small.

    The scale path (``bucket_width_seconds=W``) buckets time: events get
    ``floor(epoch/W)``; each interval EXPLODES over the buckets it overlaps
    (⌈len/W⌉ + 1 copies); the join becomes an EQUI-join on the bucket with a
    cheap residual range filter — hash-partitioned, AQE-splittable, no
    nested loop anywhere. Pick ``W`` near the typical interval length so
    interval replication stays ~2×. Identical output to the naive path
    (equality-tested); intervals with ``end ≤ start`` match nothing.

    ``bucket_width_seconds`` modes:

    - ``None`` (default) — AUTO: one cheap sizing job on the interval side
      (count + median interval length), run EAGERLY at plan-construction
      time — a deliberate, documented exception to the repo's
      plan-construction-runs-no-jobs rule (the broadcast/bucketed decision
      changes the JOIN OPERATOR, which must be fixed before the plan
      exists; test-pinned in test_temporal). At or under
      ``broadcast_row_limit`` rows the broadcast NLJ wins (no shuffle, no
      replication); above it the bucketed equi-join engages with ``W`` =
      the median interval length (clamped to ≥ 1 s) — a large interval side
      can never OOM the broadcast by default (VERDICT r3 #4).
    - ``0`` — force the broadcast NLJ (caller asserts the side is small;
      zero sizing jobs, plan construction stays job-free).
    - ``W > 0`` — explicit bucket width, bucketed path, zero sizing jobs,
      plan construction stays job-free.
    """
    e_us = F.unix_micros(F.col(ts))
    s_us = F.unix_micros(F.col(start))
    n_us = F.unix_micros(F.col(end))
    rng_pred = (e_us >= s_us) & (e_us < n_us)
    if bucket_width_seconds is None:
        stats = intervals.select(
            F.count("*").alias("n"),
            F.percentile_approx((n_us - s_us) / F.lit(1_000_000), 0.5)
            .alias("med_s")).first()
        if int(stats["n"]) <= broadcast_row_limit:
            bucket_width_seconds = 0
        else:
            bucket_width_seconds = max(1, int(stats["med_s"] or 1))
    if bucket_width_seconds == 0:
        return events.join(F.broadcast(intervals), rng_pred)
    w_us = int(bucket_width_seconds) * 1_000_000
    ev = events.withColumn("__b", F.floor(e_us / F.lit(w_us)))
    iv = (
        intervals.where(n_us > s_us)
        .withColumn(
            "__b",
            F.explode(F.sequence(F.floor(s_us / F.lit(w_us)),
                                 F.floor((n_us - 1) / F.lit(w_us)))),
        )
    )
    return ev.join(iv, ["__b"]).where(rng_pred).drop("__b")


def hypertable_rollup(
    df: DataFrame,
    *,
    ts: str,
    keys: Sequence[str] = (),
    value_col: str,
    levels: Sequence[str] = ("hour", "day", "week"),
) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    pattern): one stacked table of (level, bucket_start, keys…, n_rows,
    sum_value) for every requested granularity.

    Scale shape: ONLY the finest level aggregates the raw data; every
    coarser level re-aggregates the COARSEST already-computed level whose
    buckets nest inside its own (sum-of-sums, sum-of-counts — algebraic
    aggregates compose), so the raw-data pass happens once no matter how
    many levels are requested, and each coarser shuffle is bounded by a
    finer level's cardinality, not the corpus. Misaligned neighbours are
    fine — ``("day", "week", "month")`` computes week from day AND month
    from day (weeks straddle month boundaries, so month must not re-agg
    week); only a level that nests in NOTHING computed before it (e.g.
    month in a chain starting at week) is rejected, since it would force a
    second raw scan.
    """
    if not levels:
        raise ValueError("levels must be non-empty")
    # fine → the coarser buckets every fine bucket lies entirely inside.
    # weeks do NOT nest in months/quarters/years (a week can straddle a
    # month boundary) and nothing coarser nests in week
    nests_in = {
        "minute": {"hour", "day", "week", "month", "quarter", "year"},
        "hour": {"day", "week", "month", "quarter", "year"},
        "day": {"week", "month", "quarter", "year"},
        "week": set(),
        "month": {"quarter", "year"},
        "quarter": {"year"},
        "year": set(),
    }
    unknown = [lv for lv in levels if lv not in nests_in]
    if unknown:
        raise ValueError(f"unknown rollup level(s) {unknown!r}; "
                         f"supported: {sorted(nests_in)}")
    # source level per coarser level: the coarsest earlier level it nests in
    # (smallest re-agg input) — picked by granularity rank, NOT list
    # position, so an out-of-order chain still re-aggs the cheapest source.
    # Resolved up front so impossible chains fail at plan time with a clear
    # error, before any Spark job.
    rank = {lv: i for i, lv in enumerate(
        ("minute", "hour", "day", "week", "month", "quarter", "year"))}
    src_of: dict[str, str] = {}
    for i, lv in enumerate(levels[1:], start=1):
        cands = [f for f in levels[:i] if lv in nests_in[f]]
        if not cands:
            raise ValueError(
                f"level {lv!r} is not boundary-aligned with any finer level "
                f"in {list(levels[:i])!r} (e.g. weeks straddle month "
                f"boundaries); start the chain at a level it nests in "
                f"(minute/hour/day) or compute it in a separate call")
        src_of[lv] = max(cands, key=lambda f: rank[f])
    keys = list(keys)

    def agg_of(src: DataFrame, level: str, *, from_raw: bool) -> DataFrame:
        bucket = F.date_trunc(level, F.col(ts)).alias("bucket_start")
        if from_raw:
            n, s = F.count("*"), F.sum(F.col(value_col).cast("decimal(18,4)"))
        else:
            n, s = F.sum("n_rows"), F.sum(F.col("sum_value"))
        return (
            src.groupBy(bucket, *keys)
            .agg(n.alias("n_rows"), s.alias("sum_value"))
            .withColumn("level", F.lit(level))
        )

    computed = {levels[0]: agg_of(df, levels[0], from_raw=True)}
    out = [computed[levels[0]]]
    for lv in levels[1:]:
        src = computed[src_of[lv]].withColumnRenamed("bucket_start", ts)
        cur = agg_of(src, lv, from_raw=False)
        computed[lv] = cur
        out.append(cur)
    stacked = out[0]
    for o in out[1:]:
        stacked = stacked.unionByName(o)
    return stacked.select(
        "level", F.unix_micros("bucket_start").alias("bucket_start_us"),
        *keys, "n_rows", F.col("sum_value").cast("double").alias("sum_value"))
