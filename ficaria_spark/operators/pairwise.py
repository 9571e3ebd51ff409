"""Blocked all-pairs aggregation — the distributed backbone for O(n²)
similarity machinery (FIGFS granule δ-sums, consistency sums, FSI-style
statistics) WITHOUT ever materializing an n×n matrix cluster-wide.

Scheme: rows are hashed into ``nb`` blocks; each side is replicated nb times
(explode over partner-block ids) and cogrouped on the (block, partner) pair —
so task (x, y) holds left-block x and right-block y as two pandas frames,
computes an (|x|, |y|) NumPy kernel locally, and emits only per-left-row
partial sums. A final groupBy(row_id).sum() reduces the partials.

Cost model: shuffle O(n·nb) rows, n_blocks² tasks, each O((n/nb)²·|cols|)
vectorized work, output O(n·nb) partial rows → scales out with executors;
choose nb ≈ sqrt(target task count). This is how a 10⁸-row granule pass runs
on a 1000-executor cluster while the reference's pandas version dies at 10⁵.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pair_groups(df: DataFrame, right_df: DataFrame | None, row_id: str,
                 cols: Sequence[str], nb: int | None = None):
    """Shared blocked-pair plumbing: one tagged UNION grouped by the
    (block, partner) key — task (x, y) receives left-block-x rows
    (``__side``=0) together with right-block-y rows (``__side``=1) in a
    single frame.

    ``nb=None`` sizes the block grid to the cluster: nb(nb+1)/2 pair tasks
    should give ~4 waves of parallelism (measured: 136 small tasks beat 36
    big ones 2× at 16 cores — load balance outweighs the extra shuffle
    duplication until nb² shuffle copies dominate).

    Deliberately avoids ``cogroup``: a self-cogroup whose two sides share a
    file-scan subtree makes Catalyst's plan deduplication mis-resolve one
    side's expressions (observed over parquet sources as pruned payload
    columns, corrupted hash keys, and silently wrong group contents —
    createDataFrame inputs never trigger it, so only source-backed data was
    affected). A union of two branches of the same scan has no such hazard.
    """
    if nb is None:
        cores = df.sparkSession.sparkContext.defaultParallelism
        # nb(nb+1)/2 ≈ 4·cores → nb ≈ sqrt(8·cores); clamp to a sane band
        nb = int(min(64, max(8, round(math.sqrt(8 * cores)))))
    right_df = right_df if right_df is not None else df
    sel = [row_id, *cols]
    blocks = F.pmod(F.xxhash64(F.col(row_id)), F.lit(nb))
    partner = F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))

    left = (
        df.select(*sel)
        .withColumn("__b", blocks)
        .withColumn("__p", partner)
        .withColumn("__side", F.lit(0))
    )
    right = (
        right_df.select(*sel)
        .withColumn("__p", blocks)
        .withColumn("__b", partner)
        .withColumn("__side", F.lit(1))
    )
    return left.unionByName(right).groupBy("__b", "__p"), sel


def block_pair_apply(
    df: DataFrame,
    row_id: str,
    cols: Sequence[str],
    kernel: Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame],
    out_schema: str,
) -> DataFrame:
    """Generic blocked self-pairs map: ``kernel(left_block, right_block)``
    returns an arbitrary output frame (e.g. candidate pairs above a
    threshold). The block grid is sized to the cluster."""
    grouped, sel = _pair_groups(df, None, row_id, cols)
    out_cols = [c.strip().split()[0].strip("`") for c in out_schema.split(",")]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = pdf[pdf["__side"] == 0]
        rpdf = pdf[pdf["__side"] == 1]
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({c: [] for c in out_cols})
        return kernel(lpdf, rpdf)

    return grouped.applyInPandas(run, out_schema)


def block_pair_sums(
    df: DataFrame,
    row_id: str,
    cols: Sequence[str],
    kernel: Callable[[pd.DataFrame, pd.DataFrame], dict[str, np.ndarray]],
    *,
    nb: int = 8,
    right_df: DataFrame | None = None,
    out_names: Sequence[str] | None = None,
) -> DataFrame:
    """For every left row i: Σ over ALL right rows j of kernel values.

    ``kernel(left_pdf, right_pdf)`` returns {name: (len(left),) partial sums
    against this right block}. Result: DataFrame(row_id, *names) with the
    partials summed over all right blocks.
    """
    grouped, sel = _pair_groups(df, right_df, row_id, cols, nb)

    if out_names is not None:
        names = list(out_names)
    else:
        # discover output names by probing the kernel with an empty LOCAL
        # pandas frame — plan construction must never run a Spark job (the
        # old limit(0).toPandas() probe ran two). Dtypes approximate what
        # Arrow->pandas hands the kernel at runtime so the common
        # dtype-sensitive kernels (.dt accessors, integer keys) behave in
        # the probe too — but the mirror is best-effort, NOT exact: integer
        # columns probe int64 yet arrive float64 when the batch contains
        # nulls (Arrow null promotion). A kernel that branches on those
        # dtypes should pass ``out_names`` explicitly instead of relying on
        # the probe.
        from pyspark.sql import types as _T

        def _pd_dtype(dt):
            if isinstance(dt, (_T.TimestampType, _T.TimestampNTZType)):
                return "datetime64[ns]"
            if isinstance(dt, _T.DateType):
                # Arrow->pandas yields object(datetime.date) at runtime,
                # not datetime64[ns]
                return object
            if isinstance(dt, (_T.ByteType, _T.ShortType, _T.IntegerType,
                               _T.LongType)):
                return "int64"
            if isinstance(dt, (_T.FloatType, _T.DoubleType)):
                return "float64"
            if isinstance(dt, _T.BooleanType):
                return "bool"
            return object  # strings, decimals, arrays, structs

        sel_fields = {f.name: f.dataType for f in df.select(*sel).schema.fields}
        empty = pd.DataFrame({
            name: pd.Series(dtype=_pd_dtype(dt))
            for name, dt in sel_fields.items()})
        probe = kernel(empty, empty.copy())
        names = sorted(probe.keys())
    out_schema = f"{row_id} long, " + ", ".join(f"`{n}` double" for n in names)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = pdf[pdf["__side"] == 0]
        rpdf = pdf[pdf["__side"] == 1]
        if not len(lpdf):
            return pd.DataFrame({row_id: [], **{n: [] for n in names}})
        if not len(rpdf):
            parts = {n: np.zeros(len(lpdf)) for n in names}
        else:
            parts = kernel(lpdf, rpdf)
        return pd.DataFrame({row_id: lpdf[row_id].to_numpy(), **{n: parts[n] for n in names}})

    partials = grouped.applyInPandas(run, schema=out_schema)
    return partials.groupBy(row_id).agg(*[F.sum(n).alias(n) for n in names])
