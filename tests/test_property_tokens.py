"""Property-based tests (hypothesis): packing and splitting invariants must
hold for ARBITRARY corpora, not just the seeded fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ficaria_spark.operators.sampling import hash_split
from ficaria_spark.operators.tokens import pack_sequences

_corpus = st.lists(
    st.tuples(
        st.lists(st.integers(min_value=0, max_value=99), min_size=0, max_size=30),
        st.sampled_from(["a", "b"]),
    ),
    min_size=1, max_size=25,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_corpus, ctx=st.integers(min_value=1, max_value=17))
def test_pack_sequences_is_exact_chunking_of_the_stream(spark, docs, ctx):
    """For any corpus and context length: per source, the packed examples are
    EXACTLY the doc_id-ordered concatenation of token arrays chunked by ctx —
    full packs everywhere except each source's last, nothing lost, nothing
    reordered."""
    pdf = pd.DataFrame({
        "doc_id": [f"d{i:03d}" for i in range(len(docs))],
        "tokens": [list(t) for t, _ in docs],
        "n_tok": [len(t) for t, _ in docs],
        "source": [s for _, s in docs],
    })
    sdf = spark.createDataFrame(pdf, "doc_id string, tokens array<int>, n_tok int, source string")
    got = pack_sequences(sdf, context_len=ctx).toPandas()
    for src in sorted(pdf.source.unique()):
        stream: list[int] = []
        for _, r in pdf[pdf.source == src].sort_values("doc_id").iterrows():
            stream.extend(r.tokens)
        exp = [stream[i:i + ctx] for i in range(0, len(stream), ctx)]
        g = got[got.source == src].sort_values("pack_id")
        assert [list(t) for t in g.tokens] == exp, (src, ctx)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=60, unique=True),
       seed=st.integers(min_value=0, max_value=1000))
def test_hash_split_total_disjoint_and_seed_stable(spark, ids, seed):
    """Every row lands in exactly one split; the assignment depends only on
    (key, seed) — adding or removing OTHER rows never moves a row."""
    pdf = pd.DataFrame({"doc_id": ids})
    sdf = spark.createDataFrame(pdf)
    w = {"train": 0.7, "val": 0.2, "test": 0.1}
    full = hash_split(sdf, w, seed=seed).toPandas().set_index("doc_id")["split"]
    assert len(full) == len(ids)
    # subset invariance: the same rows get the same split in a half-corpus
    half_ids = ids[: max(1, len(ids) // 2)]
    half = hash_split(spark.createDataFrame(pd.DataFrame({"doc_id": half_ids})),
                      w, seed=seed).toPandas().set_index("doc_id")["split"]
    assert all(full.loc[i] == half.loc[i] for i in half_ids)


_intervals = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5000),   # start minute
              st.integers(min_value=-10, max_value=600)),  # duration minutes
    min_size=1, max_size=25,
)
_events = st.lists(st.integers(min_value=0, max_value=6000),
                   min_size=1, max_size=60)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events, ivs=_intervals,
       w=st.sampled_from([60, 300, 3600, 86400]))
def test_interval_join_paths_agree_on_arbitrary_relations(spark, evs, ivs, w):
    """For ANY event/interval relation: the bucketed equi-join at any width
    and in auto mode returns the pure-Python (event, interval) pair set —
    including empty/negative intervals and boundary timestamps."""
    import datetime as dt

    from ficaria_spark.operators.temporal import interval_join

    t0 = dt.datetime(2024, 6, 1)
    ev = pd.DataFrame({
        "event_id": range(len(evs)),
        "ts": [t0 + dt.timedelta(minutes=m) for m in evs],
    })
    iv = pd.DataFrame(
        [(i, t0 + dt.timedelta(minutes=s),
          t0 + dt.timedelta(minutes=s + d)) for i, (s, d) in enumerate(ivs)],
        columns=["win_id", "ws", "we"])
    sev, siv = spark.createDataFrame(ev), spark.createDataFrame(iv)

    def pairs(**kw):
        out = interval_join(sev, siv, ts="ts", start="ws", end="we", **kw) \
            .select("event_id", "win_id").toPandas()
        return set(zip(out.event_id, out.win_id))

    # python oracle: start inclusive, end exclusive
    exp = {(e, i) for e, t in zip(ev.event_id, ev.ts)
           for i, s, x in zip(iv.win_id, iv.ws, iv.we) if s <= t < x}
    assert pairs(bucket_width_seconds=w) == exp
    assert pairs() == exp  # auto: median width


_texts = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=40),
    min_size=1, max_size=20,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_texts)
def test_repetition_features_property(spark, texts):
    """dup_word_frac / dup_kgram_frac equal the python definition for ANY
    whitespace-tokenizable text, including empty/whitespace-only strings
    (both score 0 via the single-empty-token path, never crash)."""
    from ficaria_spark.operators.text import repetition_features

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (repetition_features(spark.createDataFrame(pdf))
           .orderBy("doc_id").toPandas())
    for i, t in enumerate(texts):
        words = t.strip().split() or [""]  # Spark split(trim(''),\s+) -> ['']
        exp_w = 1.0 - len(set(words)) / len(words)
        grams = [tuple(words[j:j + 5]) for j in range(len(words) - 4)]
        exp_g = (1.0 - len(set(grams)) / len(grams)) if grams else 0.0
        assert abs(got.dup_word_frac[i] - exp_w) < 1e-12, repr(t)
        assert abs(got.dup_kgram_frac[i] - exp_g) < 1e-12, repr(t)
