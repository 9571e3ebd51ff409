"""Text analysis for large-scale training-data pipelines: tokenization &
token counting, quality scoring, repetition and PII gates, document
fingerprinting. All pure ``pyspark.sql`` column expressions (JVM-side,
whole-stage codegen) — no Python in the hot path.

These run over the ``documents`` table shape (doc_id, text, lang, source) and
compose with the dedup/similarity operators.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# GPT-ish pre-tokenizer regex: contractions, letter runs, digit runs, other
# symbols — a practical BPE front-end approximation that stays JVM-side.
BPE_SPLIT_REGEX = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ich"],
    "fr": ["le", "la", "les", "et", "est", "une", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}


def token_count(text: str | Column, *, mode: str = "whitespace") -> Column:
    """Token count: 'whitespace' (fast split) or 'bpe' (regex pre-tokenizer).

    Empty / whitespace-only text counts 0 tokens: ``split`` emits empty-string
    edge tokens (``split(trim(''), '\\s+')`` is ``[""]``, and ``trim`` strips
    SPACES only — a tab/newline-only doc still yields empties), so empties are
    filtered out of the count."""
    col = F.col(text) if isinstance(text, str) else text
    if mode == "whitespace":
        return F.size(F.filter(F.split(F.trim(col), r"\s+"),
                               lambda w: w != F.lit("")))
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_REGEX), 0))


def word_tokens(text: str | Column) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach quality-scoring features: n_chars, n_words, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio, digit ratio.
    One projection — no shuffle.

    Degenerate docs are first-class: an empty / whitespace-only document has
    ``n_words = 0`` and every ratio ``0.0``. All divisors are guarded with
    ``greatest(_, 1)`` — Spark 4 runs ANSI mode by default, where a plain
    ``x / 0`` THROWS and one empty doc in a 100-TB corpus would kill the
    stage.

    .. warning:: **English-centric heuristics.** ``stopword_ratio`` uses the
       English stopword list only and ``upper_ratio`` counts ASCII ``A-Z`` —
       non-English documents score near-zero stopword ratio regardless of
       quality, and :func:`quality_score` then penalizes them (its stopword
       term floors the score at 0.5×). On a multilingual corpus, first
       detect the language from per-language stopword hits (the
       ``lang_profile`` query's expression) and select the stopword list per
       detected language (``_STOPWORDS[lang]`` is the extension seam — the
       table already carries en/de/fr/es), or exclude the stopword term from
       the composite.
       The heuristic scope is deliberate here: the DuckDB oracle twin mirrors
       the same English list, so the parity contract pins the behavior."""
    t = F.col(text_col)
    words = word_tokens(t)
    n_chars = F.length(t)
    # split emits empty edge tokens on degenerate docs ([""] for empty text;
    # trim strips SPACES only, so tab/newline-only docs also yield empties) —
    # count only non-empty words
    n_words = F.size(F.filter(words, lambda w: w != F.lit("")))
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_words = F.greatest(n_words, F.lit(1))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_words", n_words)
        .withColumn(
            "mean_word_len",  # chars net of separators; 0.0 for empty docs
            F.when(n_words == 0, F.lit(0.0))
            .otherwise((n_chars - (n_words - F.lit(1))) / safe_words),
        )
        .withColumn(
            "punct_ratio",
            F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]-]", "")) / safe_chars,
        )
        .withColumn("stopword_ratio", n_stop / safe_words)
        .withColumn(
            "upper_ratio", F.length(F.regexp_replace(t, r"[^A-Z]", "")) / safe_chars
        )
        .withColumn(
            "digit_ratio", F.length(F.regexp_replace(t, r"[^0-9]", "")) / safe_chars
        )
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  *, min_words: int = 5, max_mean_word_len: float = 12.0) -> DataFrame:
    """Composite [0,1] quality score + keep flag (heuristics in the spirit of
    C4/Gopher text-quality filters).

    .. warning:: Inherits :func:`quality_features`' English-centric
       ``stopword_ratio`` — a fluent non-English doc lands at ~0.5× score
       from the stopword term alone. Gate on language first (see
       :func:`quality_features`) or swap in a per-language stopword list
       before shipping this on a multilingual corpus."""
    q = quality_features(df, text_col)
    score = (
        F.when(F.col("n_words") < min_words, 0.0).otherwise(1.0)
        * F.when(F.col("mean_word_len") > max_mean_word_len, 0.5).otherwise(1.0)
        * (1.0 - F.least(F.col("punct_ratio") * 2.0, F.lit(1.0)) * 0.5)
        * (0.5 + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.5)
    )
    return q.withColumn("quality_score", score).withColumn(
        "quality_keep", score >= 0.5
    )


def repetition_features(df: DataFrame, text_col: str = "text",
                        *, kgram: int = 5) -> DataFrame:
    """Gopher/C4-style intra-document repetition signals, as one projection
    (no shuffle, no UDF):

    * ``dup_word_frac``  — 1 − |distinct words| / |words|: high for pages
      that repeat the same tokens (nav boilerplate, keyword stuffing).
    * ``dup_kgram_frac`` — 1 − |distinct word k-grams| / |word k-grams|
      (k = ``kgram``, default 5): catches repeated SENTENCES/paragraphs a
      word-level ratio misses. Docs with < k words score 0.

    Both are pure array expressions over the whitespace tokens — at corpus
    scale this is a map-only pass that composes with quality_score for
    repetition-aware filtering.

    The word and k-gram arrays are materialized as intermediate columns
    before the HOFs that index into them: ``F.slice`` inside a ``transform``
    lambda re-evaluates an inline array expression once per element
    (O(words²)/doc), and sibling expressions sharing an inline HOF array get
    it re-inlined by CollapseProject — both measured pitfalls on this
    engine (BENCH/BASELINE.md tuning findings).

    Degenerate (empty / whitespace-only) docs score 0 on both signals: empty
    edge tokens from ``split`` are filtered out before counting, and the
    zero-word division is guarded (ANSI mode throws on ``/ 0``).

    The k-grams are joined to STRINGS before ``array_distinct`` — injective
    (words contain no whitespace), and load-bearing for scale:
    ``array_distinct`` over array-of-arrays has no hashable element type
    and falls back to O(n²) pairwise equality (measured: one 100k-word doc
    took 110 s — ×4 per doc-size doubling — vs ~1 s with the string form,
    whose string hash set is O(n))."""
    base = df.withColumn(
        "__rw", F.filter(word_tokens(F.col(text_col)), lambda w: w != F.lit("")))
    n_words = F.size("__rw")
    idx = F.sequence(F.lit(1), n_words - F.lit(kgram - 1))
    base = base.withColumn(
        "__rg",
        F.when(
            n_words >= kgram,
            F.transform(idx, lambda i: F.array_join(
                F.slice(F.col("__rw"), i, kgram), " ")),
        ).otherwise(F.array().cast("array<string>")))
    n_grams = F.size("__rg")
    dup_word = F.when(
        n_words > 0,
        F.lit(1.0) - F.size(F.array_distinct("__rw")) / n_words).otherwise(0.0)
    dup_kgram = F.when(
        n_grams > 0,
        F.lit(1.0) - F.size(F.array_distinct("__rg")) / n_grams).otherwise(0.0)
    return (base.withColumn("dup_word_frac", dup_word)
            .withColumn("dup_kgram_frac", dup_kgram)
            .drop("__rw", "__rg"))


# PII redaction patterns (ordered: more specific first so e.g. an SSN is not
# half-eaten by the phone pattern). Public regex shapes only — the standard
# pre-training scrub set (emails, phone numbers, SSN-shaped ids, IPv4).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"(?:\+?\d{1,2}[\s.-]?)?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}\b",
     "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", *,
               out_col: str | None = None, kinds: Sequence[str] | None = None,
               with_counts: bool = False) -> DataFrame:
    """Scrub PII spans from a text column — the standard pre-training
    redaction pass (emails, SSN-shaped ids, phone numbers, IPv4), as ONE
    chained ``regexp_replace`` projection: JVM-side, codegen, no shuffle,
    no UDF — at 100 TB this is a map-only pass like the other text ops.

    ``kinds`` restricts which patterns run (default: all, in
    :data:`PII_PATTERNS` order — order matters, specific patterns first).
    ``with_counts=True`` also emits an int ``pii_<kind>_count`` column per
    kind (audit/metrics) computed BEFORE redaction. Replacement tokens are
    angle-bracket markers (``<EMAIL>`` …) that survive whitespace
    tokenization as single words."""
    out_col = out_col or f"{text_col}_redacted"
    chosen = list(PII_PATTERNS) if kinds is None else [
        p for p in PII_PATTERNS if p[0] in set(kinds)]
    if kinds is not None and len(chosen) != len(set(kinds)):
        known = {p[0] for p in PII_PATTERNS}
        raise ValueError(f"unknown PII kind(s): {sorted(set(kinds) - known)}")
    out = df
    if with_counts:
        for kind, pat, _ in chosen:
            out = out.withColumn(
                f"pii_{kind}_count",
                F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)),
                           F.lit(0)))
    col = F.col(text_col)
    for _, pat, token in chosen:
        col = F.regexp_replace(col, pat, token)
    return out.withColumn(out_col, col)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "doc_fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 of the case/whitespace-
    normalized text. Engine-portable (same value in any SQL engine) with
    ONE pinned exception: ``lower()`` of the Turkish dotted capital İ
    (U+0130) differs across unicode libraries (Java expands to
    ``i`` + U+0307; utf8proc/DuckDB maps to plain ``i``), so fingerprints
    of İ-bearing docs are engine-local (test_text_hardening pins this)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(norm))


def rolling_fingerprints(df: DataFrame, text_col: str = "text", *, window: int = 5,
                         out_col: str = "shingle_fps", algo: str = "md5") -> DataFrame:
    """Winnowing-style per-document shingle fingerprints (array column) —
    basis for containment / partial-overlap detection; pure expressions.

    ``algo="md5"`` — 32-hex-char strings, engine-portable (the exact-oracle
    default). ``algo="xxhash64"`` — the corpus-scale path: one hash per WORD
    plus a positional linear combination per shingle (array<long>, no
    per-shingle string building — string allocation is what gates JVM scaling
    on fat boxes)."""
    if algo == "xxhash64":
        p = (1 << 31) - 1
        import numpy as _np

        coefs = _np.random.default_rng(137).integers(1, p, size=window, dtype=_np.int64)
        base = df.withColumn(
            "__wh",
            F.transform(word_tokens(F.col(text_col)),
                        lambda w: F.pmod(F.xxhash64(w), F.lit(p))),
        ).withColumn("__n", F.size("__wh"))
        idx = F.sequence(F.lit(0), F.greatest(F.col("__n") - F.lit(window), F.lit(0)))

        def fp_at(i):
            terms = [
                F.pmod(F.try_element_at("__wh", i + 1 + j) * F.lit(int(coefs[j])), F.lit(p))
                for j in range(window)
            ]
            total = terms[0]
            for t in terms[1:]:
                total = total + t
            return F.coalesce(F.pmod(total, F.lit(p)), F.try_element_at("__wh", i + 1))

        return base.withColumn(out_col, F.transform(idx, fp_at)).drop("__wh", "__n")

    base = df.withColumn("__w", word_tokens(F.col(text_col)))
    n = F.size("__w")
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(window), F.lit(0)))
    shingle = lambda i: F.md5(F.array_join(F.slice(F.col("__w"), i + 1, window), " "))  # noqa: E731
    return base.withColumn(out_col, F.transform(idx, shingle)).drop("__w")
