"""Skew handling: salted two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) handles skewed *joins* at
runtime, but skewed *aggregations* (a hot ``doc_id`` or ``source`` absorbing
most rows of a groupBy) still serialize into one task. :func:`salted_agg`
does the classic two-phase rewrite: partial-aggregate on (key, salt), then
final-aggregate on key — turning one hot reducer into ``n_salts`` parallel
ones at the cost of a second (tiny) shuffle. The salt is
``pmod(xxhash64(row), n_salts)``, so results are deterministic and equal to
the plain groupBy (the ``salted_agg`` gate slot's oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Aggregates that re-combine with themselves (partial = final function).
_SELF_COMBINING = {"sum", "min", "max", "count"}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    *,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name -> (fn, input column) with fn in
    {sum, min, max, count, avg}. ``avg`` is rewritten to sum/count so it
    re-combines exactly.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    work = df.withColumn("__salt", salt)

    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            partial_exprs += [
                F.sum(col).alias(f"__s_{out}"),
                F.count(col).alias(f"__c_{out}"),
            ]
            final_exprs.append(
                (F.sum(f"__s_{out}") / F.sum(f"__c_{out}")).alias(out)
            )
        elif fn in _SELF_COMBINING:
            partial_exprs.append(getattr(F, fn)(col).alias(f"__p_{out}"))
            refn = "sum" if fn == "count" else fn
            final_exprs.append(getattr(F, refn)(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"unsupported salted aggregate: {fn}")

    partial = work.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)
