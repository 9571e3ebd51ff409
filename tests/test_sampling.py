"""Deterministic sampling/splitting + decontamination: rate accuracy,
stability, xxhash64-path parity with the pure-Python XXH64 twin, and a
Python differential oracle for the decontaminator."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ficaria_spark.operators.dedup import decontaminate
from ficaria_spark.operators.sampling import (
    UNIT,
    hash_split,
    stratified_sample,
)


def _docs(spark, n=400, seed=1):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "text": [" ".join(f"w{int(x)}" for x in rng.integers(0, 30, size=12))
                 for _ in range(n)],
        "source": [f"s{i % 4}" for i in range(n)],
    })
    return spark.createDataFrame(pdf), pdf


def _rate_sample(sdf, rate, seed):
    """A plain deterministic ``rate``-fraction sample: no groups, every row
    takes the default rate."""
    return stratified_sample(sdf, {}, default_rate=rate, seed=seed)


def test_hash_sample_rate_and_determinism(spark):
    sdf, _ = _docs(spark, n=2000)
    kept = _rate_sample(sdf, 0.3, seed=5).select("doc_id").toPandas()
    # deterministic: identical on re-run and under different partitioning
    kept2 = _rate_sample(sdf.repartition(13), 0.3, seed=5).select("doc_id").toPandas()
    assert sorted(kept.doc_id) == sorted(kept2.doc_id)
    assert 0.25 < len(kept) / 2000 < 0.35
    # subset property: raising the rate only ADDS rows
    more = _rate_sample(sdf, 0.5, seed=5).select("doc_id").toPandas()
    assert set(kept.doc_id) <= set(more.doc_id)


def test_hash_sample_xxhash_matches_python_twin(spark):
    from ficaria_spark.functions.xxh import _signed, xxh64_int, xxh64_long

    sdf, pdf = _docs(spark, n=500)
    kept = sorted(_rate_sample(sdf, 0.4, seed=9).select("doc_id").toPandas().doc_id)
    exp = [int(d) for d in pdf.doc_id
           if _signed(xxh64_int(9, xxh64_long(int(d), 42))) % UNIT < int(0.4 * UNIT)]
    assert kept == exp


def test_hash_split_partitions_everything_disjointly(spark):
    sdf, _ = _docs(spark, n=2000)
    out = hash_split(sdf, {"train": 0.8, "val": 0.1, "test": 0.1},
                     seed=2).select("doc_id", "split").toPandas()
    assert len(out) == 2000 and out.doc_id.is_unique
    frac = out.split.value_counts(normalize=True)
    assert 0.75 < frac["train"] < 0.85
    assert 0.06 < frac["val"] < 0.14
    assert 0.06 < frac["test"] < 0.14
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(sdf, {"a": 0.5, "b": 0.3})


def test_stratified_sample_respects_group_rates(spark):
    sdf, pdf = _docs(spark, n=4000)
    out = stratified_sample(sdf, {"s0": 1.0, "s1": 0.5, "s2": 0.0},
                            default_rate=0.25, seed=4).toPandas()
    counts = out.source.value_counts()
    n_per = 1000
    assert counts.get("s0", 0) == n_per          # rate 1.0 keeps all
    assert "s2" not in counts.index               # rate 0.0 drops all
    assert 0.4 < counts.get("s1", 0) / n_per < 0.6
    assert 0.18 < counts.get("s3", 0) / n_per < 0.33   # default_rate


def test_decontaminate_matches_python_oracle(spark):
    _, pdf = _docs(spark, n=120, seed=7)
    # plant real contamination: several train docs embed a benchmark doc's
    # text verbatim (the scenario the guard exists for)
    leak = pdf.loc[pdf.doc_id == 10, "text"].iloc[0]
    for did in (3, 41, 77):
        pdf.loc[pdf.doc_id == did, "text"] = leak + " extra tail tokens"
    sdf = spark.createDataFrame(pdf)
    bench = sdf.where("doc_id % 10 = 0")
    train = sdf.where("doc_id % 10 != 0")
    got = decontaminate(train, bench, k=3, min_shared=2).toPandas()

    def sh(t, k=3):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}

    bench_sh = set()
    for _, r in pdf[pdf.doc_id % 10 == 0].iterrows():
        bench_sh |= sh(r.text)
    exp = {}
    for _, r in pdf[pdf.doc_id % 10 != 0].iterrows():
        n = len(sh(r.text) & bench_sh)
        if n >= 2:
            exp[r.doc_id] = n
    assert dict(zip(got.doc_id, got.n_shared)) == exp
    assert exp, "fixture must actually plant contamination"


def test_decontaminate_xxhash_shingles_flag_same_docs(spark):
    """The xxhash64 positional-combo shingle path (no per-shingle string
    building — the corpus-scale hash) must flag the same docs as md5:
    k-gram equality is hash-family independent."""
    _, pdf = _docs(spark, n=100, seed=9)
    leak = pdf.loc[pdf.doc_id == 20, "text"].iloc[0]
    for did in (7, 33):
        pdf.loc[pdf.doc_id == did, "text"] = "prefix " + leak
    sdf = spark.createDataFrame(pdf)
    bench = sdf.where("doc_id % 10 = 0")
    train = sdf.where("doc_id % 10 != 0")
    a = decontaminate(train, bench, k=3, min_shared=2).toPandas()
    b = decontaminate(train, bench, k=3, min_shared=2,
                      shingle_hash="xxhash64").toPandas()
    assert dict(zip(a.doc_id, a.n_shared)) == dict(zip(b.doc_id, b.n_shared))
    assert {7, 33} <= set(a.doc_id)


def test_shingle_width_and_min_shared_below_one_are_rejected(spark):
    """k < 1 used to shingle every doc to md5("") (or crash the xxhash64
    plan), so decontaminate flagged docs sharing no word with the benchmark
    and ngram_jaccard_pairs scored disjoint docs 1.0; min_shared=0 returned
    only docs with a shared shingle, not every doc. All are rejected before
    any plan is built."""
    from ficaria_spark.operators.dedup import (
        minhash_signatures, ngram_jaccard_pairs, shingles)

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"],
    }))
    train = docs.where("doc_id < 3")
    bench = docs.where("doc_id = 3")
    for k in (0, -2):
        for fam in ("md5", "xxhash64"):
            with pytest.raises(ValueError, match="k must be >= 1"):
                decontaminate(train, bench, k=k, min_shared=1, shingle_hash=fam)
            with pytest.raises(ValueError, match="k must be >= 1"):
                shingles(docs, k=k, shingle_hash=fam)
            with pytest.raises(ValueError, match="k must be >= 1"):
                minhash_signatures(docs, k=k, shingle_hash=fam)
        with pytest.raises(ValueError, match="k must be >= 1"):
            ngram_jaccard_pairs(train, k=k)
    with pytest.raises(ValueError, match="min_shared must be >= 1"):
        decontaminate(train, bench, k=1, min_shared=0)
    # the smallest legal width still flags nothing here: no shared word
    assert decontaminate(train, bench, k=1, min_shared=1).count() == 0
