"""Deterministic hash sampling / splitting for training-data pipelines.

Sampling a 100 TB corpus cannot use RNG state: re-runs, resumes, and
per-partition retries must all agree on every row. These operators derive a
uniform integer in [0, 2⁶⁰) from a key column's hash and compare against
precomputed integer thresholds — pure column expressions, exact and
engine-portable (no float comparisons cross the engine boundary).

* :func:`hash_split` — assign disjoint named splits by cumulative weights
  (train/val/test); a row's split never changes when other rows appear.
* :func:`stratified_sample` — per-group rates (mix weights by ``source``);
  ``stratified_sample(df, {}, default_rate=r)`` is a plain deterministic
  ``r``-fraction sample.

``method="xxhash64"`` is the scale path (native JVM hash);
``method="md5"`` is the engine-portable twin used by the exact oracles —
both give a uniform key-derived integer, they just disagree on WHICH rows
(different hash families), so pick one per pipeline and stick with it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNIT = 1 << 60  # hash values are uniform in [0, UNIT)


def hash_unit_int(key, *, seed: int = 0, method: str = "xxhash64") -> Column:
    """Uniform integer in [0, 2⁶⁰) derived from (key, seed)."""
    col = F.col(key) if isinstance(key, str) else key
    if method == "md5":
        return F.conv(
            F.substring(F.md5(F.concat_ws(":", col.cast("string"), F.lit(str(seed)))), 1, 15),
            16, 10,
        ).cast("long")
    if method == "xxhash64":
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(UNIT))
    raise ValueError(f"method must be 'xxhash64' or 'md5', got {method!r}")


def _threshold(rate: float) -> int:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return int(rate * UNIT)


def hash_split(df: DataFrame, weights: dict[str, float], *,
               key_col: str = "doc_id", seed: int = 0,
               method: str = "xxhash64", split_col: str = "split") -> DataFrame:
    """Attach a ``split`` column assigning each row to exactly one named
    split with the given weights (must sum to 1): cumulative threshold CASE
    over the key hash. Order of ``weights`` fixes the threshold layout —
    use the same dict order everywhere.

    Thresholds accumulate in EXACT integers: the k-th boundary is
    Σ_{i≤k} int(wᵢ·2⁶⁰), a pure function of the individual weights — no
    float-order sensitivity, so an oracle (or a re-run on other hardware)
    reproduces every boundary from the weights alone (ADVICE r3)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    h = hash_unit_int(key_col, seed=seed, method=method)
    expr = None
    acc = 0
    items = list(weights.items())
    for name, wgt in items[:-1]:
        acc += _threshold(wgt)
        cond = h < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def stratified_sample(df: DataFrame, rates: dict[str, float], *,
                      by: str = "source", key_col: str = "doc_id",
                      default_rate: float = 0.0, seed: int = 0,
                      method: str = "xxhash64") -> DataFrame:
    """Per-group sampling rates (training-mix weights): row kept iff
    hash(key, seed) < rate[group]·2⁶⁰; groups absent from ``rates`` use
    ``default_rate``. One projection + filter, no shuffle."""
    h = hash_unit_int(key_col, seed=seed, method=method)
    th = None
    for g, rate in rates.items():
        cond = F.col(by) == F.lit(g)
        t = F.lit(_threshold(rate))
        th = F.when(cond, t) if th is None else th.when(cond, t)
    th = F.lit(_threshold(default_rate)) if th is None else th.otherwise(
        F.lit(_threshold(default_rate)))
    return df.where(h < th)
