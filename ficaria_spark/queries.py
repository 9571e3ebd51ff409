"""Driver-contract query registry.

Each entry returns a Spark DataFrame given (spark, sf_dir); ORACLE holds the
DuckDB-equivalent ANSI SQL over the same parquet tables. Column names are
aliased identically on both sides (the driver sorts columns by name before
value-hashing).

Cross-engine float hygiene (Spark vs DuckDB must hash-match bit-for-bit):
* aggregates of money/quantity doubles go through DECIMAL (exact, order-
  independent) and are cast to double only at the end;
* timestamps are emitted as epoch MICROSECONDS (bigint) — never as raw
  timestamps or fractional-second doubles;
* scalar double arithmetic keeps the identical expression shape on both
  sides (same operation order → bit-identical IEEE results).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ficaria_spark import datagen
from ficaria_spark.operators.temporal import (
    asof_join,
    interpolate_linear,
    lag_lead,
    pit_backfill,
    pit_backfill_bounded,
    sessionize,
    sessionize_blocked,
    tumble,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _us(col: str) -> F.Column:
    return F.unix_micros(F.col(col))


_GRID_CTE = f"WITH grid AS ({datagen.FEATURE_GRID_SQL})"


# ---------------------------------------------------------------------------
# Temporal kernel (SURVEY §2.2) over the events-derived feature grid
# ---------------------------------------------------------------------------

@register(
    "pit_backfill",
    # The bounded column is the staleness-tolerant variant (most recent
    # strictly-earlier observation at most 7200 s old; integer-microsecond
    # bound). The blocked column is the hot-entity-parallel implementation of
    # the SAME semantics (operators/temporal.py pit_backfill_bounded,
    # method="blocked") — the oracle emits the exact bounded value for both,
    # so the driver hash-gates blocked == exact.
    oracle=f"""{_GRID_CTE},
bounded AS (
  SELECT *, last_value(
           CASE WHEN f_value IS NOT NULL
                THEN struct_pack(ep := epoch_us(ts), v := f_value) END
           IGNORE NULLS) OVER (
           PARTITION BY entity_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s
  FROM grid
)
SELECT event_id, entity_id, epoch_us(ts) AS ts_us,
       coalesce(
         f_value,
         last_value(f_value IGNORE NULLS) OVER (
           PARTITION BY entity_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       ) AS f_value_filled,
       coalesce(f_value,
                CASE WHEN epoch_us(ts) - s.ep <= 7200000000 THEN s.v END)
         AS f_value_filled_bounded,
       coalesce(f_value,
                CASE WHEN epoch_us(ts) - s.ep <= 7200000000 THEN s.v END)
         AS f_value_filled_blocked
FROM bounded
""",
)
def q_pit_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = datagen.feature_grid(spark, sf_dir)
    out = pit_backfill(grid, "entity_id", "ts", ["f_value"], strict=True, tiebreak=["event_id"])
    out = pit_backfill_bounded(
        out, "entity_id", "ts", ["f_value"], tolerance_seconds=7200.0,
        tiebreak=["event_id"], suffix="_filled_bounded", method="window",
    )
    out = pit_backfill_bounded(
        out, "entity_id", "ts", ["f_value"], tolerance_seconds=7200.0,
        tiebreak=["event_id"], suffix="_filled_blocked", method="blocked",
    )
    return out.select(
        "event_id", "entity_id", _us("ts").alias("ts_us"),
        F.col("f_value_filled"),
        F.col("f_value_filled_bounded"),
        F.col("f_value_filled_blocked"),
    )


@register(
    "lag_lead",
    oracle=f"""{_GRID_CTE}
SELECT event_id, entity_id,
       lag(f_value)  OVER w AS f_value_lag_1,
       lead(f_value) OVER w AS f_value_lead_1
FROM grid
WINDOW w AS (PARTITION BY entity_id ORDER BY ts, event_id)
""",
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = datagen.feature_grid(spark, sf_dir)
    out = lag_lead(grid, "entity_id", "ts", ["f_value"], tiebreak=["event_id"])
    return out.select("event_id", "entity_id", "f_value_lag_1", "f_value_lead_1")


@register(
    "sessionize",
    oracle=f"""{_GRID_CTE},
flagged AS (
  SELECT entity_id, ts, event_id, f_value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM grid
  WINDOW w AS (PARTITION BY entity_id ORDER BY ts, event_id)
),
sess AS (
  SELECT entity_id, ts, f_value,
         cast(sum(new_sess) OVER (PARTITION BY entity_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT entity_id, session_seq,
       count(*) AS n_events,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us,
       cast(sum(cast(f_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       session_seq AS blocked_min,
       session_seq AS blocked_max
FROM sess
GROUP BY entity_id, session_seq
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked_min/max: the hot-entity-parallel sessionize_blocked assigns the
    # SAME session id to every row (operators/temporal.py) — per exact-session
    # group, min == max == session_seq. The oracle emits session_seq for both,
    # so any single-row divergence of the blocked path from the exact path
    # moves the min or max of that row's group and fails the hash gate.
    grid = datagen.feature_grid(spark, sf_dir)
    sess = sessionize(grid, "entity_id", "ts", gap_seconds=1800.0, tiebreak=["event_id"])
    blk = sessionize_blocked(
        grid, "entity_id", "ts", gap_seconds=1800.0, block_seconds=7200.0,
        tiebreak=["event_id"], session_col="session_seq_blocked",
    ).select("event_id", "session_seq_blocked")
    sess = sess.join(blk, "event_id")
    return sess.groupBy("entity_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        F.sum(F.col("f_value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.min("session_seq_blocked").alias("blocked_min"),
        F.max("session_seq_blocked").alias("blocked_max"),
    )


@register(
    "tumble",
    oracle="""
SELECT cast(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = datagen.load(spark, sf_dir, "events")
    bucketed = tumble(ev, "ts", width_seconds=3600)
    return bucketed.groupBy("window_start", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@register(
    "slide",
    oracle="""
WITH e AS (SELECT epoch(ts) AS ep, event_type, value FROM events),
x AS (
  SELECT cast(floor(ep / 900) * 900 - 900 * i AS BIGINT) AS window_start,
         event_type, value
  FROM e, unnest([0, 1, 2, 3]) AS t(i)
)
SELECT window_start, event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM x
GROUP BY 1, 2
""",
)
def q_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (width 1h, slide 15m): every row lands in exactly
    width/slide = 4 windows; Spark's F.window explode vs a DuckDB unnest
    bucket expansion."""
    ev = datagen.load(spark, sf_dir, "events")
    bucketed = tumble(ev, "ts", width_seconds=3600, slide_seconds=900)
    return bucketed.groupBy("window_start", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


_ROLLUP_LEVEL_SQL = """SELECT '{lv}' AS level,
       epoch_us(date_trunc('{lv}', ts)) AS bucket_start_us, event_type,
       count(*) AS n_rows,
       cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3"""


@register(
    "rollup_events",
    oracle="\nUNION ALL\n".join(
        _ROLLUP_LEVEL_SQL.format(lv=lv)
        for lv in ("hour", "day", "week", "month")),
)
def q_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour/day/week/month rollups.
    Each coarser level re-aggregates the coarsest finer level it nests in —
    week AND month both re-agg day (weeks straddle month boundaries), so the
    misaligned pair coexists in one call with one raw scan; algebraic
    aggregates compose exactly, so the oracle computes every level from
    raw."""
    from ficaria_spark.operators.temporal import hypertable_rollup

    ev = datagen.load(spark, sf_dir, "events")
    return hypertable_rollup(ev, ts="ts", keys=["event_type"], value_col="value",
                             levels=("hour", "day", "week", "month"))


@register(
    "range_join_weeks",
    oracle="""
WITH w AS (SELECT DISTINCT date_trunc('week', o_orderdate) AS ws FROM orders),
j AS (
  SELECT epoch_us(w.ws) AS week_start_us, l.l_quantity
  FROM lineitem l
  JOIN w ON l.l_shipdate >= w.ws AND l.l_shipdate < w.ws + INTERVAL 4 DAY
)
SELECT week_start_us,
       count(*) AS n_ship,
       cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM j
GROUP BY week_start_us
""",
)
def q_range_join_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (Spark has no native one): lineitem ship dates against the
    distinct Mon–Thu order-week windows via the bucketed equi-join path
    (time buckets + residual filter — no nested loop)."""
    from ficaria_spark.operators.temporal import interval_join

    li = datagen.load(spark, sf_dir, "lineitem")
    orders = datagen.load(spark, sf_dir, "orders")
    wins = orders.select(
        F.date_trunc("week", "o_orderdate").alias("ws")).distinct() \
        .withColumn("we", F.col("ws") + F.expr("INTERVAL 4 DAYS"))
    # r7 (guide §2.3, aggregate before the join): collapse the fact side to
    # one row per distinct ship DATE before the interval join — the join
    # then ranges ~2.5k date rows against the week windows instead of
    # probing every lineitem row, and the week totals re-aggregate the
    # per-date partials (counts sum; DECIMAL sums are exact, so regrouping
    # is bit-identical). Same interval_join operator, same results.
    per_day = li.groupBy("l_shipdate").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__q"),
    )
    j = interval_join(per_day, wins, ts="l_shipdate", start="ws", end="we",
                      bucket_width_seconds=7 * 86400)
    return j.groupBy(F.unix_micros("ws").alias("week_start_us")).agg(
        F.sum("__n").alias("n_ship"),
        F.sum("__q").cast("double").alias("sum_qty"),
    )


@register(
    "asof_join",
    oracle="""
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, r.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts > r.ts
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = datagen.load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(
        clicks, views, on="ts", by="user_id", value_cols=["value"], strict=True
    )
    return joined.select(
        "event_id", "user_id", _us("ts").alias("ts_us"),
        F.col("value_asof"),
    )


@register(
    "interpolate_linear",
    oracle=f"""{_GRID_CTE},
g2 AS (SELECT *, cast(epoch_us(ts) AS DOUBLE) AS x FROM grid),
w AS (
  SELECT event_id, entity_id, f_value, x,
    last_value(f_value IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN f_value IS NOT NULL THEN x END IGNORE NULLS) OVER wp AS px,
    first_value(f_value IGNORE NULLS) OVER wn AS nv,
    first_value(CASE WHEN f_value IS NOT NULL THEN x END IGNORE NULLS) OVER wn AS nx
  FROM g2
  WINDOW
    wp AS (PARTITION BY entity_id ORDER BY x, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wn AS (PARTITION BY entity_id ORDER BY x, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_id, entity_id,
       round(coalesce(f_value, pv + (nv - pv) * (x - px) / (nx - px), pv, nv), 6)
         AS f_value_interp
FROM w
""",
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = datagen.feature_grid(spark, sf_dir).withColumn(
        "x", _us("ts").cast("double")
    )
    out = interpolate_linear(
        grid, "entity_id", "x", ["f_value"], x="x", tiebreak=["event_id"]
    )
    return out.select(
        "event_id", "entity_id",
        F.round(F.col("f_value_interp"), 6).alias("f_value_interp"),
    )


# ---------------------------------------------------------------------------
# Relational coverage (scan → filter → agg → join → top-k)
# ---------------------------------------------------------------------------

@register(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  cast(round(sum(cast(l_extendedprice AS DECIMAL(18,4)) * (1 - cast(l_discount AS DECIMAL(9,4)))), 2) AS DOUBLE) AS sum_disc_price,
  cast(round(sum(cast(l_extendedprice AS DECIMAL(18,4)) * (1 - cast(l_discount AS DECIMAL(9,4))) * (1 + cast(l_tax AS DECIMAL(9,4)))), 2) AS DOUBLE) AS sum_charge,
  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
  cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
  cast(sum(cast(l_discount AS DECIMAL(9,4))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = datagen.load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(9,4)")
    tax = F.col("l_tax").cast("decimal(9,4)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # round the high-scale decimal sums to money scale BEFORE the
            # double cast: a scale-12 decimal can land between adjacent
            # doubles and Spark/DuckDB round the conversion differently
            F.round(F.sum(price * (F.lit(1) - disc)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)), 2).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "top_customers",
    oracle="""
SELECT c_custkey, c_name,
       cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = datagen.load(spark, sf_dir, "orders")
    cust = datagen.load(spark, sf_dir, "customer")
    # r7 (guide §2.3, aggregate before the join): c_custkey is unique, so
    # grouping by (c_custkey, c_name) after the join equals grouping orders
    # by o_custkey first and attaching the name after — the map-side combine
    # then reduces the fact side to one row per customer BEFORE any join or
    # exchange. DECIMAL sums are exact integer arithmetic, so the regrouped
    # revenue is bit-identical. customer broadcasts (no shuffle of orders).
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("__rev"),
        F.count("*").alias("n_orders"),
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name",
                F.col("__rev").cast("double").alias("revenue"), "n_orders")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Tokenized-sequence table (the engine's canonical input) — token passthrough
# invariant: tokens survive the pipeline bit-for-bit.
# ---------------------------------------------------------------------------

@register(
    "tokens_passthrough",
    oracle=f"""
SELECT cast(doc_id AS VARCHAR) AS doc_id,
       cast(len({datagen.token_sql()}) AS INT) AS n_tok,
       array_to_string({datagen.token_sql()}, ',') AS tokens_str,
       cast(list_sum({datagen.token_sql()}) AS BIGINT) AS tok_sum,
       source
FROM documents
""",
)
def q_tokens_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = datagen.tokenized_sequences(spark, sf_dir)
    return seqs.select(
        "doc_id",
        "n_tok",
        F.array_join(F.expr("transform(tokens, t -> cast(t as string))"), ",").alias("tokens_str"),
        F.expr("aggregate(tokens, cast(0 as bigint), (a, t) -> a + t)").alias("tok_sum"),
        "source",
    )


_PACK_L = 256


def _pack_cte_body(rel: str) -> str:
    """The t/o/seg/segc packing CTE chain reading (doc_id, text, source)
    from ``rel`` — shared by the standalone pack queries and the composed
    pipeline_tokens oracle."""
    return f"""t AS (
  SELECT cast(doc_id AS VARCHAR) AS doc_id, source,
         {datagen.token_sql()} AS tokens,
         cast(len({datagen.token_sql()}) AS BIGINT) AS n
  FROM {rel}
),
o AS (
  SELECT doc_id, source, tokens, n,
         coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off
  FROM t WHERE n > 0
),
seg AS (
  SELECT source, doc_id, tokens, n, off, cast(u.p AS BIGINT) AS pack_id
  FROM o, unnest(generate_series(cast(floor(off / {_PACK_L}) AS BIGINT),
                                 cast(floor((off + n - 1) / {_PACK_L}) AS BIGINT))) AS u(p)
),
segc AS (
  SELECT source, pack_id, doc_id, tokens,
         cast(greatest(off, pack_id * {_PACK_L}) - off AS BIGINT) AS doc_off,
         cast(greatest(off, pack_id * {_PACK_L}) - pack_id * {_PACK_L} AS BIGINT) AS pack_off,
         cast(least(off + n, (pack_id + 1) * {_PACK_L})
              - greatest(off, pack_id * {_PACK_L}) AS BIGINT) AS seg_len
  FROM seg
)"""


_PACK_SEG_CTE = "WITH " + _pack_cte_body("documents")


@register(
    "pack_segments",
    oracle=_PACK_SEG_CTE + """
SELECT source, pack_id, doc_id, doc_off, pack_off, seg_len
FROM segc
""",
)
def q_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence-packing plan (context 256): the all-integer
    doc→pack segment map, one window exchange per source group."""
    from ficaria_spark.operators.tokens import pack_segments

    seqs = datagen.tokenized_sequences(spark, sf_dir, widen=True)
    return pack_segments(seqs, context_len=_PACK_L)


@register(
    "pack_sequences",
    oracle=_PACK_SEG_CTE + """
, p AS (
  SELECT source, pack_id, pack_off,
         list_slice(tokens, doc_off + 1, doc_off + seg_len) AS piece
  FROM segc
),
a AS (
  SELECT source, pack_id, flatten(list(piece ORDER BY pack_off)) AS toks
  FROM p GROUP BY source, pack_id
)
SELECT source, pack_id, cast(len(toks) AS BIGINT) AS n_tok,
       array_to_string(toks, ',') AS tokens_str
FROM a
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training examples: every pack except each source's
    last carries exactly 256 tokens; token-array equality is exact (integer
    slices, no reordering within a doc)."""
    from ficaria_spark.operators.tokens import pack_sequences

    # r7: the tokenize HOF runs twice (offsets pass + the slice join side)
    # over a 1-2 partition scan — widen (below the projection) so both
    # passes use the cluster
    seqs = datagen.tokenized_sequences(spark, sf_dir, widen=True)
    packed = pack_sequences(seqs, context_len=_PACK_L)
    return packed.select(
        "source", "pack_id", "n_tok",
        F.array_join(F.expr("transform(tokens, t -> cast(t as string))"), ",")
        .alias("tokens_str"),
    )


# repetition-gate threshold for the composed pipeline: picked against the
# sf0.01 corpus dup_word_frac distribution (median ≈ 0.54, p90 ≈ 0.68) so
# the gate genuinely drops the most repetitive docs. NOTE the synthetic
# corpus's dup_word_frac GROWS with doc length (small fixed vocab), so the
# drop rate is scale-dependent (~15% at sf0.01, most docs at sf0.1) — the
# oracle twin keeps the comparison exact at every scale regardless; a real
# corpus would tune this like any Gopher-style threshold
_REP_GATE = 0.65


def _pii_total_sql(col: str) -> str:
    """DuckDB total-PII-span count generated from the shared PII_PATTERNS
    table (same source of truth as the Spark operator)."""
    from ficaria_spark.operators.text import PII_PATTERNS

    return " + ".join(
        f"len(regexp_extract_all({col}, '{pat}'))" for _, pat, _ in PII_PATTERNS)


_PIPE_TOKENS_ORACLE = f"""WITH train AS (
  SELECT * FROM documents WHERE doc_id % 17 != 0
),
bench_docs AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
-- ① exact dedup over the training split (min id per normalized text)
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM train
  GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
),
-- ② n-gram decontamination vs the benchmark split
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(w) - 3, 0) + 2),
                          i -> md5(array_to_string(w[i:i+2], ' '))))) AS shingle
  FROM words
),
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
flagged AS (
  SELECT sh.doc_id
  FROM sh JOIN bench_sh USING (shingle)
  WHERE sh.doc_id % 17 != 0
  GROUP BY sh.doc_id
  HAVING count(*) >= 2
),
-- ③ quality gate
qw AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS qwords,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x != '')) AS n_words
  FROM train
),
qf AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE (n_chars - (n_words - 1)) / cast(greatest(n_words, 1) AS DOUBLE)
         END AS mwl,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
           / cast(greatest(n_chars, 1) AS DOUBLE) AS punct,
         len(list_filter(qwords, x -> list_contains(
               ['the','a','of','and','to','in','is','that'], lower(x))))
           / cast(greatest(n_words, 1) AS DOUBLE) AS stopr
  FROM qw
),
qkeep AS (
  SELECT doc_id
  FROM qf
  WHERE (CASE WHEN n_words < 5 THEN 0.0 ELSE 1.0 END)
        * (CASE WHEN mwl > 12.0 THEN 0.5 ELSE 1.0 END)
        * (1.0 - least(punct * 2.0, 1.0) * 0.5)
        * (0.5 + least(stopr * 4.0, 1.0) * 0.5) >= 0.5
),
-- ③b intra-doc repetition gate (Gopher-style dup-word fraction)
repk AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       x -> x != '') AS wf
    FROM train)
  WHERE CASE WHEN len(wf) > 0
             THEN 1.0 - len(list_distinct(wf)) / cast(len(wf) AS DOUBLE)
             ELSE 0.0 END <= {_REP_GATE}
),
-- ③c PII gate: drop any doc carrying a redactable span
piik AS (
  SELECT doc_id FROM train WHERE {_pii_total_sql("text")} = 0
),
-- ④ deterministic per-source mix weights
surv AS (
  SELECT t.doc_id, t.text, t.source
  FROM train t
  JOIN keep USING (doc_id)
  JOIN qkeep USING (doc_id)
  JOIN repk USING (doc_id)
  JOIN piik USING (doc_id)
  LEFT JOIN flagged f ON f.doc_id = t.doc_id
  WHERE f.doc_id IS NULL
    AND ('0x' || substr(md5(cast(t.doc_id AS VARCHAR) || ':3'), 1, 15))::BIGINT
        < CASE t.source WHEN 'src1' THEN {int(0.75 * (1 << 60))}
                        WHEN 'src2' THEN {int(0.5 * (1 << 60))}
                        ELSE {int(0.25 * (1 << 60))} END
),
-- ⑤ tokenize + pack
{_pack_cte_body("surv")},
p AS (
  SELECT source, pack_id, pack_off,
         list_slice(tokens, doc_off + 1, doc_off + seg_len) AS piece
  FROM segc
),
a AS (
  SELECT source, pack_id, flatten(list(piece ORDER BY pack_off)) AS toks
  FROM p GROUP BY source, pack_id
)
SELECT source, pack_id, cast(len(toks) AS BIGINT) AS n_tok,
       array_to_string(toks, ',') AS tokens_str
FROM a
"""


@register("pipeline_tokens", oracle=_PIPE_TOKENS_ORACLE)
def q_pipeline_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end with ONE exact oracle
    — the full pre-training scrub (VERDICT r4 #7): exact dedup → n-gram
    decontamination vs a benchmark split → quality gate → intra-doc
    repetition gate (dup_word_frac) → PII gate (any redactable span drops
    the doc) → deterministic per-source mix weights → tokenize →
    fixed-context sequence packing. Every stage is the engine's own
    operator; only ids and small flag tables cross stage boundaries (text
    never re-shuffles between stages — the survivors join is id-keyed)."""
    from ficaria_spark.operators.dedup import decontaminate, exact_dedup
    from ficaria_spark.operators.sampling import stratified_sample
    from ficaria_spark.operators.text import (
        quality_score, redact_pii, repetition_features)
    from ficaria_spark.operators.tokens import pack_sequences

    # r7, measured and deliberately NOT widened here: Catalyst pushes each
    # gate's FILTER (with the full regex predicate substituted) below a
    # bare repartition, so a widen before the branches just adds an
    # exchange while the regex work stays on the scan partitions — and the
    # three pushed-down predicate stages overlap each other on the free
    # cores anyway (event-log waterfall). A/B at sf1: no-widen ≈ 3.1 s
    # median vs widen 3.5 s vs widen+persist 4.9 s (the persist serializes
    # AQE stage waves). The shingle/tokenize sides below widen themselves
    # internally where it does pay.
    docs = datagen.load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)

    keep = exact_dedup(train).select(F.col("keep_id").alias("doc_id"))
    flagged = decontaminate(train, bench, k=3, min_shared=2).select("doc_id")
    qkeep = quality_score(train).where("quality_keep").select("doc_id")
    repk = (repetition_features(train)
            .where(F.col("dup_word_frac") <= _REP_GATE).select("doc_id"))
    # kind list derived from PII_PATTERNS — the same source of truth that
    # generates the DuckDB side (_pii_total_sql), so adding a pattern can
    # never desynchronize the two gates (review r5)
    from ficaria_spark.operators.text import PII_PATTERNS
    pii_counts = [f"pii_{kind}_count" for kind, _, _ in PII_PATTERNS]
    piik = (redact_pii(train, with_counts=True)
            .where(sum(F.col(c) for c in pii_counts) == 0).select("doc_id"))
    surv = (
        train.join(keep, "doc_id")
        .join(qkeep, "doc_id")
        .join(repk, "doc_id")
        .join(piik, "doc_id")
        .join(flagged, "doc_id", "left_anti")
    )
    surv = stratified_sample(surv, {"src1": 0.75, "src2": 0.5},
                             default_rate=0.25, key_col="doc_id",
                             seed=3, method="md5")
    seqs = datagen.tokenized_sequences(spark, sf_dir, widen=True) \
        .withColumnRenamed("doc_id", "doc_id_str")
    surv_seqs = (
        seqs.join(surv.select(F.col("doc_id").cast("string").alias("doc_id_str")),
                  "doc_id_str")
        .withColumnRenamed("doc_id_str", "doc_id")
    )
    packed = pack_sequences(surv_seqs, context_len=_PACK_L)
    return packed.select(
        "source", "pack_id", "n_tok",
        F.array_join(F.expr("transform(tokens, t -> cast(t as string))"), ",")
        .alias("tokens_str"),
    )


@register(
    "token_bigrams",
    oracle=f"""
WITH t AS (SELECT doc_id, {datagen.token_sql()} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                               i -> toks[i:i+1])) AS ngram
  FROM t
)
SELECT array_to_string(ngram, ',') AS ngram_str,
       count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM g WHERE len(ngram) = 2
GROUP BY ngram
""",
)
def q_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table over the token arrays (array-valued group keys —
    shuffle bounded by the bigram vocabulary). The group key is projected to
    a string for the gate: the driver's pandas canonicalizer cannot sort
    list-valued cells (token_ngrams itself stays array-valued)."""
    from ficaria_spark.operators.tokens import token_ngrams

    seqs = datagen.tokenized_sequences(spark, sf_dir)
    out = token_ngrams(seqs, n=2)
    return out.select(
        F.array_join(F.expr("transform(ngram, t -> cast(t as string))"), ",")
        .alias("ngram_str"),
        "n_occurrences", "n_docs",
    )


@register(
    "cms_token_counts",
    oracle=f"""
WITH tok AS (SELECT unnest({datagen.token_sql()}) AS token FROM documents),
tc AS (SELECT token, count(*) AS exact_count FROM tok GROUP BY token),
probes AS (
  SELECT token, r,
         (('0x' || substr(md5(cast(token AS VARCHAR) || ':' ||
                              cast(9 + r AS VARCHAR)), 1, 15))::BIGINT) % 256 AS bucket
  FROM tok, unnest([0, 1, 2, 3]) AS t(r)
),
counters AS (SELECT r, bucket, count(*) AS cnt FROM probes GROUP BY r, bucket),
est AS (
  SELECT p.token, min(c.cnt) AS est_count
  FROM (SELECT DISTINCT token, r, bucket FROM probes) p
  JOIN counters c USING (r, bucket)
  GROUP BY p.token
)
SELECT tc.token, tc.exact_count, est.est_count
FROM tc JOIN est USING (token)
""",
)
def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (d=4, w=256) queried for every
    distinct token, side by side with the exact counts — the sketch never
    underestimates (CMS guarantee, also asserted by pytest)."""
    from ficaria_spark.operators.sketch import cms_estimate, count_min_sketch

    seqs = datagen.tokenized_sequences(spark, sf_dir, widen=True)
    tok = seqs.select(F.explode("tokens").alias("token"))
    # r7: ONE explode + aggregation pass over the token stream. The exact
    # per-token counts feed the sketch as weights (counter values are
    # identical — integer sums are associative), the estimate probes the
    # same distinct-token table, and the old plan's three independent
    # full-stream passes (sketch build, tok.distinct, exact counts)
    # collapse into derivations of this one tiny aggregate.
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    sk = count_min_sketch(exact, item_col="token", weight_col="exact_count",
                          d=4, w=256, seed=9, hash_method="md5")
    est = cms_estimate(sk, exact.select("token"), item_col="token", d=4,
                       w=256, seed=9, hash_method="md5")
    return exact.join(est, "token").select("token", "exact_count", "est_count")


@register(
    "vocab_stats",
    oracle=f"""
SELECT token,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({datagen.token_sql()}) AS token FROM documents)
GROUP BY token
""",
)
def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.tokens import vocab_stats

    seqs = datagen.tokenized_sequences(spark, sf_dir)
    return vocab_stats(seqs)


# ---------------------------------------------------------------------------
# Imputation surface (SURVEY §2.1 I1–I17). The FCM-family fits are iterative
# and not SQL-expressible — those queries get rows-only driver checks; their
# value correctness is covered by the differential pytest oracles in
# tests/test_impute.py. Mean imputation IS SQL-expressible and anchors the
# imputation path in the exact-match gate.
# ---------------------------------------------------------------------------

# deterministic masked feature matrix over `part`: 4 numeric features with
# NULLs injected on arithmetic masks (engine-portable). Single source of truth
# lives in oracle_fit (shared with the fit-twin oracle builders).
from ficaria_spark.oracle_fit import PART_MATRIX_SQL as _PART_MATRIX_SQL  # noqa: E402
from ficaria_spark.oracle_fit import MEMBER_FIT_CAP  # noqa: E402

_IMPUTE_FEATS = ["f0", "f1", "f2", "f3"]


def _part_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = datagen.load(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("row_id"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("p_retailprice")).alias("f0"),
        F.when(F.col("p_partkey") % 11 == 3, F.lit(None).cast("double"))
        .otherwise(F.col("p_size").cast("double")).alias("f1"),
        F.length("p_name").cast("double").alias("f2"),
        (F.col("p_partkey") % 97).cast("double").alias("f3"),
    )


@register(
    "impute_mean",
    oracle=f"""WITH m AS ({_PART_MATRIX_SQL}),
stats AS (
  SELECT cast(sum(cast(f0 AS DECIMAL(18,4))) AS DOUBLE) / count(f0) AS m0,
         cast(sum(cast(f1 AS DECIMAL(18,4))) AS DOUBLE) / count(f1) AS m1
  FROM m
)
SELECT row_id,
       round(coalesce(f0, m0), 6) AS f0_filled,
       round(coalesce(f1, m1), 6) AS f1_filled
FROM m, stats
""",
)
def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _part_matrix(spark, sf_dir)
    stats = m.agg(
        (F.sum(F.col("f0").cast("decimal(18,4)")).cast("double") / F.count("f0")).alias("m0"),
        (F.sum(F.col("f1").cast("decimal(18,4)")).cast("double") / F.count("f1")).alias("m1"),
    )
    return m.crossJoin(F.broadcast(stats)).select(
        "row_id",
        F.round(F.coalesce("f0", "m0"), 6).alias("f0_filled"),
        F.round(F.coalesce("f1", "m1"), 6).alias("f1_filled"),
    )


def _impute_query(make_imputer, nd: int = 6):
    # nd: literal-fill transforms round 6dp; arithmetic fills (parameter mix)
    # round 4dp so cross-engine last-ulp drift can't straddle a round boundary
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        m = _part_matrix(spark, sf_dir)
        imp = make_imputer()
        out = imp.fit(m).transform(m)
        return out.select(
            "row_id", *[F.round(F.col(c), nd).alias(c) for c in _IMPUTE_FEATS]
        )
    return run


def _register_imputers():
    from ficaria_spark.operators.impute import (
        FCMCentroidImputer,
        FCMInterpolationIterativeImputer,
        FCMKIterativeImputer,
        FCMParameterImputer,
        FCMRoughParameterImputer,
    )

    QUERIES["impute_fcm_centroid"] = _impute_query(
        lambda: FCMCentroidImputer(n_clusters=3, random_state=42, feature_cols=_IMPUTE_FEATS))
    QUERIES["impute_fcm_parameter"] = _impute_query(
        lambda: FCMParameterImputer(n_clusters=3, random_state=42, feature_cols=_IMPUTE_FEATS),
        nd=4)
    # MEMBER-STATE imputers get an explicit bounded fit_cap (r6 sf1 soak):
    # their TRANSFORM cost is O(n_missing × fit_members) — rough compares
    # each gap row to every lower/upper member, FCKI pools fit rows into
    # every cluster's candidate set — so an uncapped fit makes the sf0.1→sf1
    # exponent ~1.55 (measured 3.1 s → 112 s rough, 9.6 s → 321 s fcki).
    # 20 000 exceeds every complete-row count the driver verifies
    # (sf ≤ 0.1 has ≤ ~17k), so verified results are bit-identical; beyond
    # that the cap bounds the broadcast state and restores linear scaling.
    # The twins (oracle_fit.fit_rough_state / fit_fcki_state) share the
    # constant.
    QUERIES["impute_fcm_rough"] = _impute_query(
        lambda: FCMRoughParameterImputer(n_clusters=3, random_state=42,
                                         feature_cols=_IMPUTE_FEATS,
                                         fit_cap=MEMBER_FIT_CAP))
    QUERIES["impute_fcki"] = _impute_query(
        lambda: FCMKIterativeImputer(n_clusters=3, random_state=42,
                                     feature_cols=_IMPUTE_FEATS,
                                     order_cols=("row_id",),
                                     fit_cap=MEMBER_FIT_CAP))

    def fcki_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bench-sized FCKI (row_id ≤ 2000): the sequential kernel's cost
        grows superlinearly with rows-per-cluster, so the tracked perf number
        uses a fixed-size input across scale factors (the full-input variant
        stays in the gate as impute_fcki)."""
        m = _part_matrix(spark, sf_dir).where(F.col("row_id") <= 2000)
        # bucket_size=0 (exact-reference mode, no sizing job): the input is
        # capped small BY CONSTRUCTION, which is precisely when the caller
        # should pin exact mode; impute_fcki keeps the auto default so the
        # gate also exercises the default path
        imp = FCMKIterativeImputer(n_clusters=3, random_state=42,
                                   feature_cols=_IMPUTE_FEATS,
                                   order_cols=("row_id",), bucket_size=0)
        out = imp.fit(m).transform(m)
        return out.select(
            "row_id", *[F.round(F.col(c), 6).alias(c) for c in _IMPUTE_FEATS])

    QUERIES["impute_fcki_capped"] = fcki_capped
    QUERIES["impute_iifcm"] = _impute_query(
        lambda: FCMInterpolationIterativeImputer(
            n_clusters=3, random_state=42, feature_cols=_IMPUTE_FEATS, order_col="row_id"))


_register_imputers()


# ---------------------------------------------------------------------------
# Feature-selection surface (SURVEY §2.1 F1–F17). Greedy fits are iterative →
# rows-only driver checks; engine-equivalence (driver vs distributed scoring)
# is covered by tests/test_select.py.
# ---------------------------------------------------------------------------

_SEL_FEATS = ["f_bal", "f_namelen", "f_nation", "f_mod"]


def _customer_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = datagen.load(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("row_id"),
        F.col("c_acctbal").alias("f_bal"),
        F.length("c_name").cast("double").alias("f_namelen"),
        F.col("c_nationkey").cast("double").alias("f_nation"),
        (F.col("c_custkey") % 7).cast("double").alias("f_mod"),
        F.col("c_mktsegment").alias("label"),
    )


@register("select_figfs")
def q_select_figfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.select import FuzzyGranularitySelector

    m = _customer_matrix(spark, sf_dir)
    # fit_order_col makes the capped fit set canonical → the oracle twin
    # (oracle_fit.fit_figfs_selected) reproduces the selection exactly
    sel = FuzzyGranularitySelector(k=2, feature_cols=_SEL_FEATS, fit_cap=2000,
                                   fit_order_col="row_id")
    sel.fit(m, "label")
    ranked = sel.S_
    return m.select(
        "row_id", *[F.round(F.col(c), 6).alias(c) for c in ranked[:2]]
    )


@register("select_wfrs")
def q_select_wfrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.select import WeightedFuzzyRoughSelector

    m = _customer_matrix(spark, sf_dir)
    sel = WeightedFuzzyRoughSelector(n_features=2, k=5, feature_cols=_SEL_FEATS,
                                     fit_cap=1000, fit_order_col="row_id")
    sel.fit(m, "label")
    picked = [sel.feature_names_in_[i] for i in sel.feature_sequence_[:2]]
    return m.select(
        "row_id", *[F.round(F.col(c), 6).alias(c) for c in picked]
    )


# ---------------------------------------------------------------------------
# Training-data pipeline surface: dedup / similarity / text analysis.
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.dedup import exact_dedup

    docs = datagen.load(spark, sf_dir, "documents")
    return exact_dedup(docs)


@register(
    "decontaminate",
    oracle="""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(w) - 3, 0) + 2),
                          i -> md5(array_to_string(w[i:i+2], ' '))))) AS shingle
  FROM words
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
tr AS (SELECT * FROM sh WHERE doc_id % 17 != 0)
SELECT tr.doc_id, count(*) AS n_shared
FROM tr JOIN bench USING (shingle)
GROUP BY tr.doc_id
HAVING count(*) >= 2
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram benchmark decontamination: every 17th doc plays the benchmark
    set; training docs sharing ≥2 distinct 3-gram shingles with it are
    flagged (broadcast semi-join — no text shuffles)."""
    from ficaria_spark.operators.dedup import decontaminate

    docs = datagen.load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(train, bench, k=3, min_shared=2)


@register(
    "hash_split",
    oracle=f"""
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
                 < {int(0.9 * (1 << 60))} THEN 'train'
            WHEN ('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
                 < {int(0.9 * (1 << 60)) + int(0.05 * (1 << 60))} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from the md5-portable
    key hash (the xxhash64 scale path shares the code; tests pin it to the
    pure-Python XXH64 twin)."""
    from ficaria_spark.operators.sampling import hash_split

    docs = datagen.load(spark, sf_dir, "documents")
    out = hash_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05},
                     key_col="doc_id", seed=7, method="md5")
    return out.select("doc_id", "split")


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, source
FROM documents
WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':3'), 1, 15))::BIGINT
      < CASE source WHEN 'src1' THEN {int(0.75 * (1 << 60))}
                    WHEN 'src2' THEN {int(0.5 * (1 << 60))}
                    ELSE {int(0.25 * (1 << 60))} END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mix weights: deterministic hash thresholds per group (one
    projection + filter, no shuffle, no RNG state)."""
    from ficaria_spark.operators.sampling import stratified_sample

    docs = datagen.load(spark, sf_dir, "documents")
    out = stratified_sample(docs, {"src1": 0.75, "src2": 0.5},
                            default_rate=0.25, key_col="doc_id",
                            seed=3, method="md5")
    return out.select("doc_id", "source")


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(w) - 3, 0) + 2),
                          i -> md5(array_to_string(w[i:i+2], ' '))))) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.4
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.dedup import ngram_jaccard_pairs

    docs = datagen.load(spark, sf_dir, "documents")
    # max_shingle_freq guards the hot-shingle quadratic blowup at corpus scale;
    # at sf0.01 (500 docs) no shingle can exceed it, so the unguarded oracle is
    # still exact.
    return ngram_jaccard_pairs(docs, k=3, threshold=0.4, max_shingle_freq=1000)


@register("dedup_minhash_lsh")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.dedup import minhash_dedup_pairs

    docs = datagen.load(spark, sf_dir, "documents")
    out = minhash_dedup_pairs(docs, k=3, num_hashes=64, bands=16, threshold=0.5)
    return out.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def _register_minhash_portable():
    from ficaria_spark.oracle_fit import minhash_portable_oracle_sql

    @register("dedup_minhash_portable", oracle=minhash_portable_oracle_sql())
    def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash-LSH with the engine-portable md5 shingle hash and raw band
        slices as bucket keys — exact DuckDB twin of every stage. The
        xxhash64 variant above is the fast scale path (rows-only check)."""
        from ficaria_spark.operators.dedup import minhash_dedup_pairs

        docs = datagen.load(spark, sf_dir, "documents")
        out = minhash_dedup_pairs(docs, k=3, num_hashes=64, bands=16, threshold=0.5,
                                  shingle_hash="md5", hash_buckets=False)
        return out.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def _register_simhash_portable():
    from ficaria_spark.oracle_fit import simhash_portable_oracle_sql

    @register("dedup_simhash_portable", oracle=simhash_portable_oracle_sql())
    def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Banded-pigeonhole SimHash with the engine-portable md5 word hash
        (60-bit signatures) — exact DuckDB twin of every stage. The xxhash64
        variant below is the fast scale path (rows-only check)."""
        from ficaria_spark.operators.dedup import simhash_near_pairs

        docs = datagen.load(spark, sf_dir, "documents")
        out = simhash_near_pairs(docs, max_hamming=10, word_hash="md5")
        return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_register_minhash_portable()
_register_simhash_portable()


@register("dedup_clusters")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution, BOTH routes of ``dedup_clusters`` from
    one MinHash pair relation: `cluster_rep` from the default call (the
    driver union-find at gate scales) and `cluster_rep_star` from the
    distributed large-star/small-star loop (``small_graph_rows=None``).
    They must resolve identical components — the driver-twin union-find
    oracle pins both columns to the same values, so the gate checks each
    route against the twin AND against each other."""
    from ficaria_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs
    from ficaria_spark.plans.cache import tracked_persist

    docs = datagen.load(spark, sf_dir, "documents")
    pairs = tracked_persist(minhash_dedup_pairs(
        docs, k=3, num_hashes=64, bands=16, threshold=0.5))
    a = dedup_clusters(pairs)
    b = dedup_clusters(pairs, small_graph_rows=None).withColumnRenamed(
        "cluster_rep", "cluster_rep_star")
    return a.join(b, "doc_id")


def pit_backfill_prod_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the PRODUCTION pit_backfill shape — identical to what the
    r≤5 headline measured under the name ``pit_backfill``. The registered
    gate query now additionally computes the bounded-staleness fill twice
    (exact window + hot-entity-blocked) so the driver hash-gates
    blocked == exact; that deliberate cross-check work stays in the gate,
    not in the headline (same hygiene as dedup_clusters_star_bench)."""
    grid = datagen.feature_grid(spark, sf_dir)
    out = pit_backfill(grid, "entity_id", "ts", ["f_value"], strict=True,
                       tiebreak=["event_id"])
    return out.select("event_id", "entity_id", _us("ts").alias("ts_us"),
                      F.col("f_value_filled"))


def sessionize_prod_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the PRODUCTION sessionize shape (r≤5 headline work) —
    the registered gate query now also runs sessionize_blocked and joins it
    back for the equality hash-gate; the headline keeps timing the
    single-window production path under the same slot name."""
    grid = datagen.feature_grid(spark, sf_dir)
    sess = sessionize(grid, "entity_id", "ts", gap_seconds=1800.0,
                      tiebreak=["event_id"])
    return sess.groupBy("entity_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        F.sum(F.col("f_value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def dedup_clusters_star_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (NOT in the driver registry — VERDICT r5 #5): the
    production path of cluster resolution, one default ``dedup_clusters``
    call (the size probe picks the route). The gate query above deliberately
    runs BOTH routes to cross-check them, which doubles its wall; this is
    the shape the headline bench should track. The name predates the
    single operator and stays because bench.py imports it."""
    from ficaria_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs

    docs = datagen.load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, k=3, num_hashes=64, bands=16, threshold=0.5)
    return dedup_clusters(pairs)


@register("media_features")
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal driver-gate row (VERDICT r4 #1): the 32-row media
    fixture (package data, read by multimodal.media_fixture: netpbm, PNG,
    JPEG, WebP and TIFF images, PCM/G.711/ADPCM WAV and FLAC audio, GIF
    video) through the REAL decoders — image_features (with the perceptual
    hash), audio_features and video_features — emitted in long form
    (item_id, kind, feature, value). Oracle = driver-twin VALUES relation
    computed by oracle_fit.media_features_expected from the same fixture
    and decoders (pure numpy/stdlib, no Spark)."""
    from ficaria_spark.operators.multimodal import (
        audio_features, image_features, synthetic_media_table, video_features)

    media = synthetic_media_table(spark)
    # with_phash: the perceptual hash comes out of the SAME decode pass as
    # the channel features — one decode per payload, not two
    img = image_features(media.where("kind = 'image'"), with_phash=True)
    au = audio_features(media.where("kind = 'audio'"))
    vid = video_features(media.where("kind = 'video'"))

    img_feats = []
    for j in range(3):
        img_feats.append(F.struct(
            F.lit(f"chan_mean_{j}").alias("feature"),
            F.element_at("chan_mean", j + 1).alias("value")))
        img_feats.append(F.struct(
            F.lit(f"chan_std_{j}").alias("feature"),
            F.element_at("chan_std", j + 1).alias("value")))
    for j in range(8):
        img_feats.append(F.struct(
            F.lit(f"lum_hist_{j}").alias("feature"),
            F.element_at("lum_hist", j + 1).alias("value")))
    # the 64-bit perceptual hash rides the gate as four exact 16-bit
    # quarters: values ≤ 65535 survive both engines' round(x, 6) exactly,
    # where 32-bit halves hit a DuckDB 1-ULP rounding artifact (the
    # round-scale-vs-magnitude trap from the float-hygiene notes)
    ph_feats = [
        F.struct(F.lit(f"phash_q{q}").alias("feature"),
                 F.shiftrightunsigned("phash", 16 * q)
                 .bitwiseAND(F.lit(0xFFFF)).cast("double").alias("value"))
        for q in range(4)
    ]
    au_feats = [
        F.struct(F.lit(c).alias("feature"), F.col(c).alias("value"))
        for c in ("duration_s", "rms", "peak", "zcr")]
    vid_feats = [
        F.struct(F.lit(c).alias("feature"), F.col(c).alias("value"))
        for c in ("n_frames", "duration_s", "frame_lum_mean",
                  "frame_lum_std", "motion")]

    def long_form(df, feats):
        return df.select(
            "item_id", "kind", F.explode(F.array(*feats)).alias("f")
        ).select("item_id", "kind", F.col("f.feature").alias("feature"),
                 F.round(F.col("f.value"), 6).alias("value"))

    # r7: one branch for ALL image-derived rows — a second long_form(img,…)
    # union branch re-ran the in-plan payload generation AND the full image
    # decode (PNG/JPEG/WebP/TIFF) a second time; rows are identical because
    # the driver's gate hash is order-insensitive
    return (long_form(img, img_feats + ph_feats)
            .unionByName(long_form(au, au_feats))
            .unionByName(long_form(vid, vid_feats)))


@register("dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.dedup import simhash_near_pairs

    docs = datagen.load(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, max_hamming=10)


_COS_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (s, v) -> s + v)"
)

_COS_FULL_SQL = (
    "(" + _COS_DOT_SQL + ")"
    " / (sqrt(list_reduce(list_transform({a}, y -> y * y), (s, t) -> s + t))"
    " * sqrt(list_reduce(list_transform({b}, y -> y * y), (s, t) -> s + t)))"
)


@register(
    "dedup_embedding",
    oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS vec
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COS_FULL_SQL.format(a='a.vec', b='b.vec')}, 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_COS_FULL_SQL.format(a='a.vec', b='b.vec')} >= 0.4
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact blocked all-pairs sweep)."""
    from ficaria_spark.operators.dedup import embedding_near_pairs

    emb = datagen.load(spark, sf_dir, "embeddings")
    out = embedding_near_pairs(emb, threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


_KNN_COSINE_ORACLE = f"""
WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS rv
  FROM embeddings
),
v AS (
  -- normalize ONCE per row with the same expression shape as the engine
  SELECT vec_id,
         list_transform(rv, x -> x / sqrt(
           list_reduce(list_transform(rv, y -> y * y), (s, t) -> s + t))) AS vec
  FROM raw
),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_COS_DOT_SQL.format(a='q.vec', b='n.vec')} AS cosine
  FROM v q JOIN v n ON q.vec_id != n.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 3
"""


@register("knn_cosine", oracle=_KNN_COSINE_ORACLE)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (`cosine_topk`). Every shipped corpus fits the
    broadcast budget, so this runs the broadcast route; the blocked
    shuffle route is pinned to the same (query, neighbor, rank) output,
    exact ties included, by pytest
    test_cosine_topk_broadcast_path_equals_shuffle_path. The dgemm dot
    differs from the oracle's list_reduce dot by ≲1e-15, far inside the
    6dp rounding, so the exact-value hash matches."""
    from ficaria_spark.operators.similarity import cosine_topk

    emb = datagen.load(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, k=3)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@register("ann_lsh")
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.similarity import lsh_ann_topk

    emb = datagen.load(spark, sf_dir, "embeddings")
    out = lsh_ann_topk(emb, dim=64, k=3, n_planes=8, n_tables=4)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@register("ann_ivf")
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.similarity import ivf_ann_topk

    emb = datagen.load(spark, sf_dir, "embeddings")
    out = ivf_ann_topk(emb, k=3, n_lists=8, nprobe=2)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _pii_patterns():
    from ficaria_spark.operators.text import PII_PATTERNS

    return PII_PATTERNS


def _pii_redact_sql(col: str) -> str:
    """DuckDB redaction chain generated from the SAME ``PII_PATTERNS`` table
    the Spark operator uses — one source of truth for both engines. The
    patterns are RE2/Java-portable by construction (tests pin dialect
    equivalence on a planted-span corpus)."""
    out = col
    for _, pat, token in _pii_patterns():
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def _pii_count_sql(col: str) -> str:
    from ficaria_spark.operators.text import PII_PATTERNS

    return ",\n       ".join(
        f"len(regexp_extract_all({col}, '{pat}')) AS pii_{kind}_count"
        for kind, pat, _ in PII_PATTERNS)


@register(
    "text_stats",
    oracle=rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS words,
         length(text) AS n_chars,
         -- count only non-empty words: split emits empty edge tokens on
         -- degenerate docs (and trim strips SPACES only, so tab/newline-only
         -- docs still yield empties) — mirrors the Spark expression exactly
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x != '')) AS n_words
  FROM documents
),
feats AS (
  SELECT doc_id, text, n_chars, n_words,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE (n_chars - (n_words - 1)) / cast(greatest(n_words, 1) AS DOUBLE)
         END AS mwl,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g'))
           / cast(greatest(n_chars, 1) AS DOUBLE) AS punct,
         len(list_filter(words, x -> list_contains(
               ['the','a','of','and','to','in','is','that'], lower(x))))
           / cast(greatest(n_words, 1) AS DOUBLE) AS stopr
  FROM w
),
rep AS (
  SELECT doc_id,
         CASE WHEN len(wf) > 0
              THEN 1.0 - len(list_distinct(wf)) / cast(len(wf) AS DOUBLE)
              ELSE 0.0 END AS dup_w,
         -- grams joined to strings: DuckDB's list_distinct rejects nested
         -- lists; the join is injective (words never contain whitespace)
         list_transform(
           list_filter(list_transform(range(1, greatest(len(wf) - 4, 1) + 1),
                                      i -> wf[i:i+4]),
                       g -> len(g) = 5),
           g -> array_to_string(g, ' ')) AS grams
  FROM (SELECT doc_id, list_filter(words, x -> x != '') AS wf FROM w)
)
SELECT feats.doc_id,
       n_words,
       len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe_tokens,
       round(mwl, 6) AS mean_word_len,
       round(stopr, 6) AS stopword_ratio,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) / cast(greatest(n_chars, 1) AS DOUBLE), 6) AS digit_ratio,
       round(rep.dup_w, 6) AS dup_word_frac,
       round(CASE WHEN len(rep.grams) > 0
                  THEN 1.0 - len(list_distinct(rep.grams))
                       / cast(len(rep.grams) AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_kgram_frac,
       round((CASE WHEN n_words < 5 THEN 0.0 ELSE 1.0 END)
             * (CASE WHEN mwl > 12.0 THEN 0.5 ELSE 1.0 END)
             * (1.0 - least(punct * 2.0, 1.0) * 0.5)
             * (0.5 + least(stopr * 4.0, 1.0) * 0.5), 6) AS quality_score,
       (CASE WHEN n_words < 5 THEN 0.0 ELSE 1.0 END)
       * (CASE WHEN mwl > 12.0 THEN 0.5 ELSE 1.0 END)
       * (1.0 - least(punct * 2.0, 1.0) * 0.5)
       * (0.5 + least(stopr * 4.0, 1.0) * 0.5) >= 0.5 AS quality_keep,
       {_pii_count_sql("text")},
       length({_pii_redact_sql("text")}) AS redacted_len
FROM feats JOIN rep ON feats.doc_id = rep.doc_id
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text statistics, the C4/Gopher-style quality gate, the intra-doc
    repetition signals, AND the PII-redaction audit (per-kind span counts +
    post-redaction length) in one scan (absorbs the former `quality_filter`
    and gives `redact_pii` its driver-gate row without spending a registry
    slot; all are narrow projections over the same scan, so the merges are
    free)."""
    from ficaria_spark.operators.text import (
        quality_score, redact_pii, repetition_features, token_count)

    from ficaria_spark.plans.layout import widen_thin_input

    docs = widen_thin_input(datagen.load(spark, sf_dir, "documents"))
    q = redact_pii(repetition_features(quality_score(docs)), with_counts=True)
    return q.select(
        "doc_id",
        F.col("n_words"),
        token_count("text", mode="bpe").alias("n_bpe_tokens"),
        F.round(F.col("mean_word_len"), 6).alias("mean_word_len"),
        F.round(F.col("stopword_ratio"), 6).alias("stopword_ratio"),
        F.round(F.col("digit_ratio"), 6).alias("digit_ratio"),
        F.round(F.col("dup_word_frac"), 6).alias("dup_word_frac"),
        F.round(F.col("dup_kgram_frac"), 6).alias("dup_kgram_frac"),
        F.round(F.col("quality_score"), 6).alias("quality_score"),
        "quality_keep",
        # derived from PII_PATTERNS like the oracle's _pii_count_sql — one
        # source of truth for both engines (review r5)
        *[f"pii_{kind}_count" for kind, _, _ in _pii_patterns()],
        F.length("text_redacted").alias("redacted_len"),
    )


@register(
    "doc_fingerprint",
    oracle=r"""
WITH w AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents
)
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS doc_fingerprint,
       greatest(len(words) - 5, 0) + 1 AS n_shingles,
       array_to_string(
         list_transform(range(1, greatest(len(words) - 5, 0) + 2),
                        i -> md5(array_to_string(words[i:i+4], ' '))), ',') AS fps
FROM w
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint plus winnowing-style rolling shingle
    fingerprints, one scan (absorbs the former `rolling_fingerprints`
    registry entry; both operators are pure projections, so chaining them
    adds zero shuffles)."""
    from ficaria_spark.operators.text import fingerprint, rolling_fingerprints

    docs = datagen.load(spark, sf_dir, "documents")
    out = rolling_fingerprints(fingerprint(docs), window=5)
    return out.select(
        "doc_id", "doc_fingerprint",
        F.size("shingle_fps").alias("n_shingles"),
        F.array_join("shingle_fps", ",").alias("fps"),
    )


@register(
    "lang_profile",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS words
  FROM documents
),
hits AS (
  SELECT doc_id,
    len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS hits_en,
    len(list_filter(words, x -> list_contains(['der','die','das','und','nicht','ist','ich'], x))) AS hits_de,
    len(list_filter(words, x -> list_contains(['le','la','les','et','est','une','que'], x))) AS hits_fr,
    len(list_filter(words, x -> list_contains(['el','la','los','y','es','una','que'], x))) AS hits_es
  FROM w
)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
  CASE
    WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
    WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
    WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
    WHEN hits_es > 0 THEN 'es'
    ELSE 'und'
  END AS lang_pred
FROM hits
""",
)
def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.text import _STOPWORDS, word_tokens

    docs = datagen.load(spark, sf_dir, "documents")
    words = F.transform(word_tokens(F.col("text")), lambda x: F.lower(x))
    hit_cols = {}
    for lang, stops in _STOPWORDS.items():
        arr = F.array(*[F.lit(s) for s in stops])
        hit_cols[lang] = F.size(F.filter(words, lambda x: F.array_contains(arr, x)))
    he, hd, hf, hs = (hit_cols[lang] for lang in ("en", "de", "fr", "es"))
    pred = (
        F.when((he >= hd) & (he >= hf) & (he >= hs) & (he > 0), "en")
        .when((hd >= hf) & (hd >= hs) & (hd > 0), "de")
        .when((hf >= hs) & (hf > 0), "fr")
        .when(hs > 0, "es")
        .otherwise("und")
    )
    return docs.select(
        "doc_id",
        he.alias("hits_en"), hd.alias("hits_de"),
        hf.alias("hits_fr"), hs.alias("hits_es"),
        pred.alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# FLAGSHIP pipeline (the north rule end-to-end): tokenized sequences +
# entity×timestamp grid → strictly-earlier point-in-time backfill (zero
# temporal leakage) → residual fill from broadcast fit state → tokens pass
# through bit-for-bit.
#
# Exact-oracle variant uses the global-mean residual fill (SQL-expressible);
# the FCM-state variant (rows-only) broadcasts fitted centroids instead.
# ---------------------------------------------------------------------------

@register(
    "pipeline_flagship",
    oracle=f"""{_GRID_CTE},
filled AS (
  SELECT event_id, entity_id, ts, f_value,
         coalesce(
           f_value,
           last_value(f_value IGNORE NULLS) OVER (
             PARTITION BY entity_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ) AS f_bf
  FROM grid
),
gmean AS (
  SELECT cast(sum(cast(f_value AS DECIMAL(18,4))) AS DOUBLE) / count(f_value) AS m
  FROM grid
),
toks AS (
  SELECT cast(doc_id AS VARCHAR) AS doc_id,
         doc_id AS doc_key,
         array_to_string({datagen.token_sql()}, ',') AS tokens_str,
         cast(len({datagen.token_sql()}) AS INT) AS n_tok,
         source
  FROM documents
),
ndocs AS (SELECT count(*) AS n FROM documents)
SELECT f.event_id, f.entity_id, epoch_us(f.ts) AS ts_us,
       round(coalesce(f.f_bf, g.m), 6) AS f_value_filled,
       CASE WHEN f.f_value IS NULL THEN 1 ELSE 0 END AS was_missing,
       t.tokens_str, t.n_tok, t.source
FROM filled f, gmean g, ndocs d
JOIN toks t ON t.doc_key = f.entity_id % d.n
""",
)
def q_pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = datagen.feature_grid(spark, sf_dir)
    # ① leakage-free backfill (strict frame — structurally cannot see future)
    bf = pit_backfill(grid, "entity_id", "ts", ["f_value"], strict=True,
                      tiebreak=["event_id"])
    # ② residual fill: exact decimal global mean, broadcast
    gmean = grid.agg(
        (F.sum(F.col("f_value").cast("decimal(18,4)")).cast("double")
         / F.count("f_value")).alias("m"))
    # ③ attach tokenized sequences (deterministic doc mapping); tokens pass
    #    through untouched — per-row token-array equality is checked in tests
    toks = datagen.tokenized_sequences(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_key"),
        F.array_join(F.expr("transform(tokens, t -> cast(t as string))"), ",").alias("tokens_str"),
        "n_tok", "source",
    )
    # doc count rides along as a broadcast scalar (no driver-side action at
    # plan build — mirrors the oracle's ndocs CTE)
    ndocs = toks.agg(F.count("*").alias("__n"))
    out = (
        bf.crossJoin(F.broadcast(gmean))
        .crossJoin(F.broadcast(ndocs))
        .withColumn("doc_key", F.col("entity_id") % F.col("__n"))
        .join(F.broadcast(toks), "doc_key")
    )
    return out.select(
        "event_id", "entity_id", _us("ts").alias("ts_us"),
        F.round(F.coalesce("f_value_filled", "m"), 6).alias("f_value_filled"),
        F.when(F.col("f_value").isNull(), 1).otherwise(0).alias("was_missing"),
        "tokens_str", "n_tok", "source",
    )


@register("pipeline_flagship_fcm")
def q_pipeline_flagship_fcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FCM-state variant: residual gaps (no earlier observation) filled from
    broadcast fuzzy-c-means centroids fit on observed feature vectors.
    Exact oracle generated per sf-dir by oracle_fit (fit twin + literal
    centers); see dynamic_oracles()."""
    from ficaria_spark.operators.impute import FCMParameterImputer

    grid = datagen.feature_grid(spark, sf_dir)
    bf = pit_backfill(grid, "entity_id", "ts", ["f_value"], strict=True,
                      tiebreak=["event_id"])
    # feature matrix for the fit: backfilled value + entity/type stats
    feat = bf.select(
        "event_id", "entity_id", "ts",
        F.col("f_value_filled").alias("g0"),
        (F.col("entity_id") % 17).cast("double").alias("g1"),
    )
    imp = FCMParameterImputer(n_clusters=3, random_state=42,
                              feature_cols=["g0", "g1"])
    out = imp.fit(feat).transform(feat)
    return out.select(
        "event_id", "entity_id", _us("ts").alias("ts_us"),
        # 4dp: the fill is a membership-weighted mix (arithmetic, not literal)
        F.round("g0", 4).alias("f_value_filled"),
    )


# ---------------------------------------------------------------------------
# Remaining coverage: skew-safe aggregation (exact oracle — salting must not
# change results), non-strict as-of join, DT imputer.
# ---------------------------------------------------------------------------

@register(
    "salted_agg",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       cast(sum(cast(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the skewed `source` key — must be
    bit-identical to the plain groupBy (the oracle)."""
    from ficaria_spark.operators.skew import salted_agg

    docs = datagen.load(spark, sf_dir, "documents")
    out = salted_agg(
        docs, ["source"],
        {"n_docs": ("count", "doc_id"),
         "total_chars": ("sum", "n_chars"),
         "max_chars": ("max", "n_chars")},
        n_salts=8,
    )
    return out.select("source", "n_docs",
                      F.col("total_chars").cast("long").alias("total_chars"),
                      "max_chars")


@register(
    "asof_join_cogroup",
    oracle="""
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, r.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def q_asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-strict as-of join (``strict=False`` ⇔ DuckDB ``>=``); the
    ``asof_join`` slot runs the strict form. The slot keeps its name from
    the retired pandas cogroup variant."""
    ev = datagen.load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(
        clicks, views, on="ts", by="user_id", value_cols=["value"], strict=False)
    return joined.select("event_id", "user_id", _us("ts").alias("ts_us"),
                         F.col("value_asof"))


@register("impute_dt")
def q_impute_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ficaria_spark.operators.impute import FCMDTIterativeImputer

    m = _part_matrix(spark, sf_dir)
    imp = FCMDTIterativeImputer(random_state=42, feature_cols=_IMPUTE_FEATS,
                                max_iter=1, max_clusters=3,
                                order_cols=("row_id",))
    out = imp.fit(m).transform(m)
    return out.select("row_id", *[F.round(F.col(c), 6).alias(c) for c in _IMPUTE_FEATS])




def dynamic_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Fit-dependent exact oracles (imputer transforms, ANN): the fitted state
    is a seeded deterministic driver-side computation, so oracle_fit re-runs
    it from the same parquet (pandas/DuckDB, no Spark) and embeds the state as
    SQL literals. Falls back silently per-oracle → the driver then records a
    rows-only check for that query instead of an error."""
    import os

    from ficaria_spark.oracle_fit import DEFAULT_SF_DIR, build_dynamic_oracles

    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", DEFAULT_SF_DIR)
    return build_dynamic_oracles(sf_dir)
