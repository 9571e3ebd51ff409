"""ficaria_spark — a PySpark-native feature-engineering engine.

Re-expresses the fit/transform surface of the reference library
(szostkawron/ficaria: fuzzy-c-means / kNN imputation + fuzzy-rough feature
selection, see /root/reference) as a point-in-time / as-of join + windowed
backfill/lag/lead/sessionize pipeline over Spark DataFrames, with all
row-wise math in vectorized pandas/Arrow UDFs (no per-row Python), plus the
operators a large-scale training-data pipeline needs (dedup, ANN similarity,
text analysis, multimodal columns).
"""

from ficaria_spark.session import get_spark


def __getattr__(name):
    # reference-named estimators resolve at the package top level too
    # (lazy, so `import ficaria_spark` stays light):
    #   from ficaria_spark import FCMCentroidImputer
    import importlib

    compat = importlib.import_module("ficaria_spark.compat")
    if name == "compat" or name in compat.__all__:
        return compat if name == "compat" else getattr(compat, name)
    raise AttributeError(f"module 'ficaria_spark' has no attribute {name!r}")


__all__ = [
    "get_spark",
    "compat",  # reference-named drop-in surface (see compat.__all__)
    # operator modules (import as ficaria_spark.operators.<x>)
    # - temporal: pit_backfill, pit_backfill_bounded, asof_join, lag_lead,
    #             sessionize, sessionize_blocked, tumble, interpolate_linear,
    #             interval_join, hypertable_rollup
    # - impute:   FCMCentroidImputer, FCMParameterImputer,
    #             FCMRoughParameterImputer, FCMKIterativeImputer,
    #             FCMInterpolationIterativeImputer, FCMDTIterativeImputer
    # - select:   FuzzyGranularitySelector, WeightedFuzzyRoughSelector
    # - dedup / similarity / text / tokens / sampling / sketch / pairwise
    # - multimodal: image_features (+ phash64), audio_features,
    #               video_features
    # - skew:     salted_agg
    # plus: pipeline.Pipeline, plans.lineage
]
__version__ = "0.1.0"
