"""Sequence packing + vocab stats: structural invariants and a pure-Python
differential oracle over the deterministic tokenized corpus."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ficaria_spark.operators.tokens import pack_segments, pack_sequences, vocab_stats

L = 16


def _seqs(spark, n=40, seed=2):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        m = int(rng.integers(0, 40))  # include empty docs
        rows.append({
            "doc_id": f"d{i:03d}",
            "tokens": [int(x) for x in rng.integers(0, 50, size=m)],
            "n_tok": m,
            "source": f"s{i % 3}",
        })
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf), pdf


def test_pack_segments_invariants(spark):
    sdf, pdf = _seqs(spark)
    segs = pack_segments(sdf, context_len=L).toPandas()
    # per-pack coverage: every pack except each source's last is exactly L
    per_pack = segs.groupby(["source", "pack_id"])["seg_len"].sum()
    for src, grp in per_pack.groupby(level=0):
        sizes = grp.droplevel(0).sort_index()
        assert (sizes.iloc[:-1] == L).all(), src
        assert 0 < sizes.iloc[-1] <= L
    # per-doc coverage: segments tile each doc's tokens exactly
    per_doc = segs.groupby("doc_id")["seg_len"].sum().to_dict()
    for _, r in pdf.iterrows():
        if r.n_tok > 0:
            assert per_doc[r.doc_id] == r.n_tok
        else:
            assert r.doc_id not in per_doc


def test_pack_sequences_matches_python_concat(spark):
    """The packed stream per source must equal the plain Python concatenation
    of the docs' token arrays in doc_id order, chunked by L — token-array
    equality, per pack."""
    sdf, pdf = _seqs(spark, seed=9)
    got = pack_sequences(sdf, context_len=L).toPandas()
    for src in sorted(pdf.source.unique()):
        stream = []
        for _, r in pdf[pdf.source == src].sort_values("doc_id").iterrows():
            stream.extend(r.tokens)
        exp_chunks = [stream[i:i + L] for i in range(0, len(stream), L)]
        g = got[got.source == src].sort_values("pack_id")
        assert list(g.pack_id) == list(range(len(exp_chunks)))
        for toks, exp in zip(g.tokens, exp_chunks):
            assert list(toks) == exp, src
        assert (g.n_tok.to_numpy() == [len(c) for c in exp_chunks]).all()


def test_pack_sequences_partitioning_invariant(spark):
    sdf, pdf = _seqs(spark, seed=5)
    a = pack_sequences(sdf.repartition(7), context_len=L) \
        .orderBy("source", "pack_id").toPandas()
    b = pack_sequences(sdf.coalesce(1), context_len=L) \
        .orderBy("source", "pack_id").toPandas()
    assert list(map(list, a.tokens)) == list(map(list, b.tokens))


def test_vocab_stats_matches_python(spark):
    sdf, pdf = _seqs(spark, seed=3)
    got = vocab_stats(sdf).toPandas().set_index("token").sort_index()
    from collections import Counter
    occ, docs = Counter(), Counter()
    for _, r in pdf.iterrows():
        occ.update(r.tokens)
        docs.update(set(r.tokens))
    assert got.n_occurrences.to_dict() == dict(occ)
    assert got.n_docs.to_dict() == dict(docs)


def test_pack_rejects_bad_context_len(spark):
    sdf, _ = _seqs(spark, n=4)
    with pytest.raises(ValueError, match="context_len"):
        pack_segments(sdf, context_len=0)


def test_pack_segments_two_level_offsets_match_window(spark):
    """The range-partitioned two-level prefix sum must produce EXACTLY the
    window path's segments — exercised with a tiny arrow batch size so the
    per-partition cumsum carry across batches is actually used."""
    sdf, _ = _seqs(spark, n=200, seed=13)
    key = ["source", "pack_id", "doc_id"]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        a = pack_segments(sdf, context_len=L).orderBy(*key).toPandas()
        for nb in (1, 5, 13):
            b = pack_segments(sdf, context_len=L, num_buckets=nb) \
                .orderBy(*key).toPandas()
            pd.testing.assert_frame_equal(a, b, check_like=True)
        # monster-source case: ONE group spanning every range partition —
        # exactly the skew the two-level path exists for
        import pyspark.sql.functions as F
        one = sdf.withColumn("source", F.lit("only"))
        a1 = pack_segments(one, context_len=L).orderBy(*key).toPandas()
        b1 = pack_segments(one, context_len=L, num_buckets=13) \
            .orderBy(*key).toPandas()
        pd.testing.assert_frame_equal(a1, b1, check_like=True)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_token_ngrams_matches_python(spark):
    from collections import Counter

    from ficaria_spark.operators.tokens import token_ngrams

    sdf, pdf = _seqs(spark, n=60, seed=21)
    got = token_ngrams(sdf, n=3).toPandas()
    occ, docs = Counter(), Counter()
    for _, r in pdf.iterrows():
        grams = [tuple(r.tokens[i:i + 3]) for i in range(len(r.tokens) - 2)]
        occ.update(grams)
        docs.update(set(grams))
    got_map = {tuple(g): (int(o), int(d))
               for g, o, d in zip(got.ngram, got.n_occurrences, got.n_docs)}
    assert got_map == {g: (occ[g], docs[g]) for g in occ}
    # short/empty docs contribute nothing and never crash the slice
    assert all(len(g) == 3 for g in got.ngram)


def test_pack_segments_two_level_handles_null_groups(spark):
    """NULL `source` values form their own packing group in BOTH offset
    paths (the two-level path used to crash on null group keys)."""
    sdf, _ = _seqs(spark, n=60, seed=31)
    import pyspark.sql.functions as F
    sdf = sdf.withColumn(
        "source", F.when(F.col("doc_id").substr(2, 3).cast("int") % 4 == 0,
                         F.lit(None)).otherwise(F.col("source")))
    key = ["source", "pack_id", "doc_id"]
    a = pack_segments(sdf, context_len=L).orderBy(*key).toPandas()
    b = pack_segments(sdf, context_len=L, num_buckets=5).orderBy(*key).toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)
    assert a.source.isna().any()  # the null group actually exists


def test_pack_segments_two_level_handles_numeric_groups(spark):
    """A non-string `by` column whose keys include falsy values (0) must not
    crash the two-level driver-side prefix sort (ADVICE r3: the old sort key
    collapsed 0 to "" and mixed int/str comparison raised TypeError)."""
    import pyspark.sql.functions as F
    sdf, _ = _seqs(spark, n=80, seed=41)
    sdf = sdf.withColumn(
        "src_num", (F.col("doc_id").substr(2, 3).cast("int") % 3).cast("long"))
    key = ["src_num", "pack_id", "doc_id"]
    a = pack_segments(sdf, context_len=L, by="src_num").orderBy(*key).toPandas()
    b = pack_segments(sdf, context_len=L, by="src_num", num_buckets=5) \
        .orderBy(*key).toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)
    assert (a.src_num == 0).any()  # the falsy group actually exists


def test_pack_segments_negative_count_contributes_nothing(spark):
    """A doc with n_tok < 0 must pack exactly like n_tok = 0 on both offset
    routes: left negative, it pulled the next doc's offset back into a pack
    already filled (d3 landed at pack_off 2 inside pack 0, overlapping d1)."""
    def frame(n2):
        return spark.createDataFrame(
            [("s", "d1", 5), ("s", "d2", n2), ("s", "d3", 4)],
            "source string, doc_id string, n_tok long")

    key = ["source", "pack_id", "doc_id"]
    for nb in (None, 2):
        got = pack_segments(frame(-3), context_len=4, num_buckets=nb) \
            .orderBy(*key).toPandas()
        exp = pack_segments(frame(0), context_len=4, num_buckets=nb) \
            .orderBy(*key).toPandas()
        pd.testing.assert_frame_equal(got, exp, check_like=True)
        assert (got.groupby("pack_id")["seg_len"].sum() <= 4).all()
        assert "d2" not in set(got.doc_id)
