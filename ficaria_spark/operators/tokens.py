"""Token-sequence operators for training-data pipelines.

The canonical input is the pre-tokenized corpus table
``(doc_id string, tokens array<int>, n_tok int, source string)``
(datagen.tokenized_sequences). Everything here is pure ``pyspark.sql``
column expressions — no UDFs, no Python in the hot path.

* :func:`pack_segments` — concat-and-chunk sequence packing PLAN: each doc
  gets an exclusive prefix-sum offset within its ``by`` group, packs are the
  ``context_len``-sized chunks of that concatenated token stream, and the
  output maps every (doc × pack) overlap to an integer segment. ONE exchange
  (the per-group window); deterministic total order (group, order_col).
* :func:`pack_sequences` — materializes the packs: slices each doc's token
  array per segment and reassembles the packed ``array<int>`` per pack.
  Token-array equality with the oracle is exact (integer arithmetic only).
* :func:`vocab_stats` — corpus vocabulary table (token, n_occurrences,
  n_docs): explode + one hash aggregation (map-side partial agg).

Scale notes. The prefix sum partitions by ``by`` (e.g. ``source``) — many
groups parallelize; one monster group serializes its window like any
hot-entity window chain (same mitigation as temporal.py: time/id-bucketed
two-level offsets — per-bucket totals are tiny, prefix them driver-side and
broadcast). Packing is the standard "greedy concat then chunk" scheme used
by LLM data pipelines; documents never reorder, so lineage stays per-doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _offsets_window(base: DataFrame, by: str, order_col: str) -> DataFrame:
    """Exclusive prefix sum via a per-group window — one exchange; a single
    monster group serializes its window sort."""
    w = (Window.partitionBy(by).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return base.withColumn("__off", F.coalesce(F.sum("__n").over(w), F.lit(0)))


def _offsets_two_level(base: DataFrame, by: str, order_col: str,
                       num_buckets: int) -> DataFrame:
    """Exclusive prefix sum WITHOUT a per-group window: range-partition by
    (group, order), per-partition partial sums to the driver (tiny:
    num_buckets × groups rows), prefix them, broadcast the per-partition
    bases, then one sorted map pass adds base + local cumsum. No group ever
    serializes through a single window sort — the 100× path for skewed
    group distributions."""
    # localCheckpoint BEFORE the totals collect: range boundaries are
    # sample-based, so re-executing the repartitionByRange plan in a second
    # job could assign boundary rows to different partitions than the
    # totals saw — pin ONE materialized partitioning for both passes
    part = (
        base.repartitionByRange(num_buckets, F.col(by), F.col(order_col))
        .sortWithinPartitions(by, order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = (
        part.groupBy("__pid", by).agg(F.sum("__n").alias("__t"))
        .collect()
    )
    bases: dict[tuple[int, object], int] = {}
    acc: dict[object, int] = {}
    # only the pid order WITHIN a group matters for the prefix; str() keys
    # make the sort total for ANY group-key type (a falsy non-string key
    # like numeric 0 must not collapse to "" and mix int/str comparison)
    for r in sorted(totals,
                    key=lambda r: (r[by] is None, str(r[by]), r["__pid"])):
        g = r[by]
        bases[(int(r["__pid"]), g)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + int(r["__t"])
    spark = base.sparkSession
    bc = spark.sparkContext.broadcast(bases)

    import numpy as np
    import pandas as pd

    out_schema = part.withColumn("__off", F.lit(0).cast("long")).drop("__pid").schema
    names = [f.name for f in out_schema.fields]

    def add_offsets(it):
        b = bc.value
        run: dict[object, int] = {}  # per-group cumsum carried ACROSS arrow batches

        def norm(g):
            return None if pd.isna(g) else g

        for pdf in it:
            if not len(pdf):
                continue
            # rows arrive sorted by (by, order) within the partition; batches
            # arrive in partition order, so the carry dict stays consistent.
            # factorize keys NULL groups too (plain groupby drops them), and
            # all grouping runs on the integer codes.
            codes, uniques = pd.factorize(pdf[by], use_na_sentinel=False)
            key_of = [norm(u) for u in uniques]
            local = (pdf["__n"].groupby(codes).cumsum() - pdf["__n"]).to_numpy()
            row_keys = [key_of[c] for c in codes]
            carry = np.array([run.get(g, 0) for g in row_keys], dtype=np.int64)
            base_off = np.array(
                [b[(int(p), g)] for p, g in zip(pdf["__pid"], row_keys)],
                dtype=np.int64)
            pdf = pdf.assign(__off=(local + carry + base_off).astype("int64"))
            for code, s in pdf["__n"].groupby(codes).sum().items():
                g = key_of[code]
                run[g] = run.get(g, 0) + int(s)
            yield pdf[names]

    return part.mapInPandas(add_offsets, out_schema)


def pack_segments(df: DataFrame, *, context_len: int,
                  n_tok_col: str = "n_tok", id_col: str = "doc_id",
                  by: str = "source", order_col: str | None = None,
                  num_buckets: int | None = None) -> DataFrame:
    """(by, pack_id, doc_id, doc_off, pack_off, seg_len) — every overlap of a
    doc's token span with a ``context_len``-sized pack of the concatenated
    per-group stream. Docs with ``n_tok <= 0`` contribute nothing.

    All-integer output → exact cross-engine oracle. ``sum(seg_len)`` over a
    pack equals ``context_len`` for every pack except each group's last.

    ``num_buckets=None`` computes offsets with a per-group window (one
    exchange — right when groups are plentiful); ``num_buckets=N`` switches
    to the two-level range-partitioned prefix sum (identical output, tested),
    which never funnels a whole group through one window sort — use it when
    a single ``by`` group can dominate the corpus.
    """
    if context_len < 1:
        raise ValueError(f"context_len must be >= 1, got {context_len}")
    order_col = order_col or id_col
    L = F.lit(context_len)
    extra = [order_col] if order_col != id_col else []
    # r7: empty/null docs are neutralized with __n = 0 instead of a
    # ``where(n_tok > 0)`` — Catalyst pushes that filter (with the caller's
    # whole tokenize expression substituted into the predicate) below any
    # repartition, pinning the tokenizer to the raw scan partitions. A
    # zero-__n row contributes 0 to every prefix sum and the conditional
    # explode below emits nothing for it, so the output is identical. A
    # negative count clamps to 0 too: left negative it would pull every
    # later doc's offset back into packs already filled.
    pre = df.select(by, id_col, *extra,
                    F.greatest(F.coalesce(F.col(n_tok_col).cast("long"),
                                          F.lit(0)), F.lit(0)).alias("__n"))
    base = (_offsets_two_level(pre, by, order_col, num_buckets)
            if num_buckets else _offsets_window(pre, by, order_col))
    first = F.floor(F.col("__off") / L)
    last = F.floor((F.col("__off") + F.col("__n") - 1) / L)
    seg = base.select(
        by, id_col, "__n", "__off",
        F.explode(
            F.when(F.col("__n") > 0, F.sequence(first, last))
            .otherwise(F.array().cast("array<bigint>"))).alias("pack_id"),
    )
    g0 = F.greatest(F.col("__off"), F.col("pack_id") * L)
    g1 = F.least(F.col("__off") + F.col("__n"), (F.col("pack_id") + 1) * L)
    return seg.select(
        by,
        F.col("pack_id").cast("long").alias("pack_id"),
        id_col,
        (g0 - F.col("__off")).cast("long").alias("doc_off"),
        (g0 - F.col("pack_id") * L).cast("long").alias("pack_off"),
        (g1 - g0).cast("long").alias("seg_len"),
    )


def pack_sequences(df: DataFrame, *, context_len: int,
                   tokens_col: str = "tokens", n_tok_col: str = "n_tok",
                   id_col: str = "doc_id", by: str = "source",
                   order_col: str | None = None,
                   num_buckets: int | None = None) -> DataFrame:
    """(by, pack_id, n_tok, tokens) — the materialized packed examples.

    Join the segment plan back to the token arrays, slice each doc's
    contribution, and reassemble per pack in ``pack_off`` order (array_sort
    on (pack_off, piece) structs — pack_off is unique per pack, so the order
    is total). Every pack but each group's last has exactly ``context_len``
    tokens; per-row token-array equality against the reference stream holds
    by construction (slices never reorder within a doc)."""
    segs = pack_segments(df, context_len=context_len, n_tok_col=n_tok_col,
                         id_col=id_col, by=by, order_col=order_col,
                         num_buckets=num_buckets)
    toks = df.select(id_col, F.col(tokens_col).alias("__toks"))
    pieces = segs.join(toks, id_col).select(
        by, "pack_id", "pack_off",
        F.slice("__toks", F.col("doc_off").cast("int") + 1,
                F.col("seg_len").cast("int")).alias("piece"),
    )
    assembled = (
        pieces.groupBy(by, "pack_id")
        .agg(F.array_sort(F.collect_list(F.struct("pack_off", "piece"))).alias("ps"))
        .select(
            by, "pack_id",
            F.flatten(F.transform("ps", lambda x: x["piece"])).alias(tokens_col),
        )
    )
    return assembled.withColumn("n_tok", F.size(tokens_col).cast("long")) \
        .select(by, "pack_id", "n_tok", tokens_col)


def token_ngrams(df: DataFrame, *, n: int = 2, tokens_col: str = "tokens",
                 id_col: str = "doc_id") -> DataFrame:
    """(ngram array<int>, n_occurrences, n_docs) — corpus n-gram frequency
    table over the token arrays (the statistical-LM / contamination-audit
    building block). Pure column expressions: per-row n-gram slices →
    explode → one hash aggregation; shuffle is bounded by the distinct
    n-gram vocabulary, not the corpus."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = F.col(tokens_col)
    # lower bound 1 (not 0): sequence(1, 0) would DESCEND through the illegal
    # slice start 0; short docs instead emit one partial slice that the
    # size filter drops
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.slice(toks, i, n))
    ex = (
        df.select(id_col, F.explode(grams).alias("ngram"))
        .where(F.size("ngram") == n)  # drops partial slices of too-short docs
    )
    return ex.groupBy("ngram").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )


def vocab_stats(df: DataFrame, *, tokens_col: str = "tokens",
                id_col: str = "doc_id") -> DataFrame:
    """(token, n_occurrences, n_docs) over the whole corpus — explode + one
    hash aggregation (map-side combine keeps the shuffle at vocab size)."""
    ex = df.select(id_col, F.explode(tokens_col).alias("token"))
    return ex.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
