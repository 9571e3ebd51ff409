"""Deduplication for web-scale corpora: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale shapes (the whole point of each design):
* exact        — one hash-groupBy; map-side partial agg; no data movement of
                 texts (only 16-byte digests shuffle).
* ngram-jaccard — set-similarity join: explode distinct shingles → self-join
                 on shingle → count common → filter. Shuffles (doc, shingle)
                 pairs; prune super-common shingles (stopword shingles) to
                 kill the quadratic hot-key blowup.
* minhash+LSH  — signatures via one projection (all hash functions evaluated
                 per shingle in one pass), banding → candidates join only
                 within buckets: near-linear. Verification re-computes exact
                 Jaccard on candidates only.
* simhash      — 64-bit signature per doc via one chunked mapInArrow pass
                 (vectorized bit votes); near-dups = banded pigeonhole keys.
* embedding    — cosine over LSH/bucketed candidates (see similarity.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ficaria_spark.plans.cache import tracked_persist

from ficaria_spark.operators.text import word_tokens

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                *, normalize: bool = True) -> DataFrame:
    """Keep one representative (min id) per exact (normalized) text.

    Returns the group table (content_hash, keep_id, n_copies); join back on
    keep_id for the surviving rows. Digest-only shuffle.

    Normalization is ``lower`` + whitespace collapse — engine-portable with
    the one pinned ``lower('İ')`` (U+0130) divergence noted on
    :func:`ficaria_spark.operators.text.fingerprint`.
    """
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    return (
        df.select(F.md5(t).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact set-similarity join)
# ---------------------------------------------------------------------------

def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             *, k: int = 3, shingle_hash: str = "md5") -> DataFrame:
    """Distinct word k-gram digests per doc: (id, shingle).

    ``shingle_hash="md5"`` (default) builds each k-gram string and digests it
    — engine-portable, used by every exact oracle. ``"xxhash64"`` hashes each
    WORD once and combines the k word hashes positionally (Σ cⱼ·h[i+j] mod p,
    no per-shingle string allocation) — the corpus-scale path: k-gram
    equality is preserved (same words → same id; collisions are the usual
    hash-family caveat), shingle columns are 8-byte longs instead of 32-char
    hex strings."""
    from ficaria_spark.plans.layout import widen_thin_input

    # widen BELOW the tokenize projection (r7): the exchange then carries
    # the raw text (not the larger word arrays) and the split runs on the
    # widened partitions instead of the 1-2 scan cores
    base = widen_thin_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select("id", word_tokens(F.col("__t")).alias("__w"))
    n = F.size("__w")
    if shingle_hash == "md5":
        idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
        sh = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(F.col("__w"), i + 1, k), " ")))
        # null-text docs must emit NO rows, matching the xxhash64 branch's
        # NULL-array guard (ADVICE r3: the md5 path used to explode a [null]
        # array into an (id, NULL) shingle row, skewing shingles()/
        # hot_shingles() cardinalities across hash families)
        return (base.select("id", F.explode(F.array_distinct(sh)).alias("shingle"))
                .where(F.col("shingle").isNotNull()))
    if shingle_hash != "xxhash64":
        raise ValueError(f"shingle_hash must be 'md5' or 'xxhash64', got {shingle_hash!r}")
    coefs = np.random.default_rng(137).integers(1, _MERSENNE, size=k, dtype=np.int64)
    arrays = _positional_shingle_arrays(base, k=k, coefs=coefs)
    return arrays.select("id", F.explode("sh").alias("shingle"))


def hot_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 *, k: int = 3, max_shingle_freq: int = 1000,
                 shingle_hash: str = "md5") -> DataFrame:
    """Audit table of the shingles ``ngram_jaccard_pairs`` would prune:
    (shingle, count) for every shingle shared by more than ``max_shingle_freq``
    docs. Run this to see what the frequency guard drops."""
    sh = shingles(df, text_col, id_col, k=k, shingle_hash=shingle_hash)
    return sh.groupBy("shingle").count().where(F.col("count") > max_shingle_freq)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        *, k: int = 3, threshold: float = 0.8,
                        max_shingle_freq: int | None = 1000,
                        shingle_hash: str = "md5") -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(shingles_a, shingles_b) ≥ threshold.

    ``max_shingle_freq`` drops shingles shared by more than that many docs
    before the join — the standard guard against quadratic blowup on
    boilerplate shingles at corpus scale (a single shingle in N docs otherwise
    yields an N²-row self-join). The default is a finite guard; pass ``None``
    only for exact small-corpus runs. Pruning slightly *underestimates*
    Jaccard for docs containing hot shingles (they leave both the intersection
    and the union). Use :func:`hot_shingles` to audit exactly what is dropped
    — plan construction itself never runs hidden jobs.
    """
    # the shingle plan is referenced up to 4× (freq guard, sizes, both join
    # sides) — persist once instead of recomputing the scan per reference
    sh = tracked_persist(shingles(df, text_col, id_col, k=k, shingle_hash=shingle_hash))
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").count()
        keep = freq.where(F.col("count") <= max_shingle_freq)
        sh = sh.join(F.broadcast(keep.select("shingle")), "shingle")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def decontaminate(train: DataFrame, bench: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  min_shared: int = 1, shingle_hash: str = "md5",
                  method: str = "broadcast",
                  bloom_fpp: float = 1e-4) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ ``min_shared``
    distinct word ``k``-grams with ANY benchmark doc (the standard n-gram
    eval-leakage guard for LLM training corpora).

    Returns (id_col, n_shared) for flagged docs — anti-join the training set
    on it to drop them.

    ``method`` picks the scale shape (all three produce the same flag
    semantics; bloom adds a bounded one-sided error):

    - ``"broadcast"`` (default, exact): the benchmark's distinct shingle set
      is BROADCAST; the training side is one map-side shingle projection +
      a broadcast-hash semi-join + one hash agg — no all-pairs anything, no
      shuffle of document text. Right whenever the benchmark shingle set
      fits a broadcast (the usual case: eval sets are small).
    - ``"shuffle"`` (exact): a plain semi-join with no broadcast hint —
      Catalyst/AQE picks sort-merge or shuffled-hash. The fallback when the
      held-out corpus is too big to broadcast; costs a shuffle of the TRAIN
      shingle stream.
    - ``"bloom"``: a Bloom filter over the benchmark shingles replaces the
      set — CONSTANT broadcast state (sized by the optimal
      m = −n·ln(fpp)/ln²2 at ``bloom_fpp``) and a map-only probe: the
      multi-TB train shingle stream never shuffles for the membership test.
      Built distributed (per-partition numpy bitmaps via mapInArrow,
      OR-reduced on the driver — TWO bounded plan-time jobs, a sizing
      count then the bitmap build, the fit-state pattern and a documented
      exception to the plan-construction-runs-no-jobs rule like
      interval_join's auto mode), probed by a vectorized Arrow kernel
      against the broadcast bitmap. ONE-SIDED error: every truly-shared shingle hits (missed
      contamination is impossible — the error that matters), a false
      positive can only over-flag at ≤ ``bloom_fpp`` per probe, further
      damped by ``min_shared`` > 1 (FP hits are independent).
    """
    tr = shingles(train, text_col, id_col, k=k, shingle_hash=shingle_hash)
    if method == "bloom":
        be_sh = shingles(bench, text_col, id_col, k=k,
                         shingle_hash=shingle_hash).select(
            F.xxhash64("shingle").alias("h"))
        bits_bc = _bloom_build(be_sh, fpp=bloom_fpp)
        hits = _bloom_probe(
            tr.select("id", F.xxhash64("shingle").alias("h")), bits_bc)
        shared = (hits.where("hit").groupBy("id")
                  .agg(F.count("*").alias("n_shared")))
    elif method in ("broadcast", "shuffle"):
        be = shingles(bench, text_col, id_col, k=k,
                      shingle_hash=shingle_hash).select("shingle").distinct()
        if method == "broadcast":
            be = F.broadcast(be)
        shared = (
            tr.join(be, "shingle")
            .groupBy("id")
            .agg(F.count("*").alias("n_shared"))
        )
    else:
        raise ValueError(
            f"method must be 'broadcast', 'shuffle' or 'bloom', got {method!r}")
    return (
        shared.where(F.col("n_shared") >= min_shared)
        .withColumnRenamed("id", id_col)
    )


#: Bloom probe count k ≈ (m/n)·ln2 is fixed at build time; positions come
#: from double hashing h1 + i·h2 (Kirsch–Mitzenmatcher: k independent
#: functions are unnecessary — two suffice without hurting the FP bound)
_BLOOM_K_CAP = 16


def _bloom_positions(h: "np.ndarray", n_bits: int, n_hashes: int) -> "np.ndarray":
    """(len(h), n_hashes) bit positions via double hashing on the uint64
    xxhash64 values — identical math in build and probe (one function)."""
    hu = h.astype(np.uint64)
    h1 = hu & np.uint64(0xFFFFFFFF)
    h2 = (hu >> np.uint64(32)) | np.uint64(1)  # odd → full-period stride
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _bloom_build(hashed: DataFrame, *, fpp: float):
    """Distributed Bloom build over a (h long) column: each partition emits
    its local numpy bitmap (one binary row via mapInArrow), the driver ORs
    the bounded partials, and the result ships back as an sc.broadcast —
    the library's standard fit-state shape. Returns (broadcast, n_bits,
    n_hashes)."""
    import math

    import pyarrow as pa

    n_items = max(int(hashed.agg(
        F.approx_count_distinct("h").alias("n")).first()["n"]), 16)
    n_bits = max(1024, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    n_hashes = min(_BLOOM_K_CAP, max(1, round(n_bits / n_items * math.log(2))))
    n_bytes = (n_bits + 7) // 8

    def build(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        for batch in batches:
            col = batch.column(0)
            # NEVER to_numpy a nullable int64 hash column directly: one null
            # makes Arrow fall back to float64 and xxhash64 values beyond
            # 2^53 lose bits — every position in the batch would corrupt.
            # fill_null keeps the int64 buffer; the validity mask drops the
            # filled rows.
            h = np.asarray(col.fill_null(0))
            valid = np.asarray(col.is_valid())
            pos = _bloom_positions(h[valid], n_bits, n_hashes)
            np.bitwise_or.at(bits, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
        yield pa.RecordBatch.from_arrays(
            [pa.array([bits.tobytes()], type=pa.binary())], names=["bm"])

    # ≤ 256 partials keeps the partial COUNT bounded regardless of input
    # size. The OR-reduce must balance three constraints at the comment's
    # own pathological sizing (fpp=1e-4 over 100M items → ~240 MB/bitmap,
    # 256 partials ≈ 60 GB total): (a) a collect() needs ~60 GB of driver
    # heap; (b) a bare toLocalIterator computes the EXPENSIVE build tasks
    # serially, one per driver pull (r6 review); (c) a shuffle boundary
    # (repartition/treeReduce) parallelizes the builds but writes all
    # 60 GB of incompressible bitmaps to shuffle disk (r6 fix-review).
    # sc.runJob over chunked partition ranges threads the needle: each
    # wave computes `chunk` build partitions IN PARALLEL and ships only
    # their bitmaps to the driver, which ORs and drops them — no shuffle,
    # no disk, driver peak = chunk·bitmap + acc, bounded at ~2 GB.
    src = hashed.where(F.col("h").isNotNull())
    if src.rdd.getNumPartitions() > 256:
        src = src.repartition(256)
    rdd = src.mapInArrow(build, "bm binary").rdd
    nparts = rdd.getNumPartitions()
    chunk = max(1, min(nparts, int(2 * 2**30) // max(n_bytes, 1)))
    sc = hashed.sparkSession.sparkContext
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for start in range(0, nparts, chunk):
        wave = list(range(start, min(start + chunk, nparts)))
        for bm in sc.runJob(rdd, lambda it: [r["bm"] for r in it], wave):
            acc |= np.frombuffer(bm, dtype=np.uint8)
    return sc.broadcast(acc), n_bits, n_hashes


def _bloom_probe(df: DataFrame, bloom_state) -> DataFrame:
    """Vectorized membership probe: adds a boolean ``hit`` column testing
    the ``h`` column against the broadcast bitmap. Map-only."""
    import pyarrow as pa
    from pyspark.sql import types as T

    bits_bc, n_bits, n_hashes = bloom_state
    # NB: df.schema.add() would MUTATE the frame's live StructType — copy
    schema_out = T.StructType(
        df.schema.fields + [T.StructField("hit", T.BooleanType())])

    def probe(batches):
        bits = bits_bc.value
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("h"))
            # see build(): fill_null keeps int64 (a float64 fallback would
            # corrupt >2^53 hash values for the WHOLE batch); null h rows
            # stay hit=False via the validity mask
            h = np.asarray(col.fill_null(0))
            valid = np.asarray(col.is_valid())
            hit = np.zeros(len(h), dtype=bool)
            if valid.any():
                pos = _bloom_positions(h[valid], n_bits, n_hashes)
                probes = (bits[pos >> 3]
                          & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
                hit[valid] = probes.all(axis=1)
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(hit)],
                names=[*batch.schema.names, "hit"])

    # pass the StructType itself — a simpleString round-trip drops
    # nullability/metadata and breaks on names needing backtick quoting
    return df.mapInArrow(probe, schema_out)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 2³¹−1 (Mersenne prime): with a, b, x all < p the product a·x + b stays under
# 2⁶², so the whole hash evaluates in JVM longs WITHOUT overflow — ANSI-safe
# (Spark 4 default). 31-bit signatures are ample for min-wise hashing.
_MERSENNE = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def _positional_shingle_arrays(words: DataFrame, *, k: int, coefs) -> DataFrame:
    """(id, sh array<long>) — distinct positional-combo k-gram shingles over a
    tokenized ``__w`` column: hash each WORD once (xxhash64 → < p), shingle
    value = Σ cⱼ·h[i+j] mod p. No per-shingle string building; docs with < k
    words fall back to their first word hash; NULL word arrays (null text)
    yield NULL sh. Shared by shingles(shingle_hash="xxhash64") and
    minhash_signatures — ONE kernel, different coefficient seeds."""
    wh = words.select(
        "id", F.size("__w").alias("__n"),
        F.transform("__w", lambda w: F.pmod(F.xxhash64(w), F.lit(_MERSENNE))).alias("__wh"),
    )
    idx2 = F.sequence(F.lit(0), F.greatest(F.col("__n") - F.lit(k), F.lit(0)))

    def shingle_at(i):
        terms = [
            F.pmod(F.try_element_at("__wh", i + 1 + j) * F.lit(int(coefs[j])), F.lit(_MERSENNE))
            for j in range(k)
        ]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return F.pmod(total, F.lit(_MERSENNE))

    sh = F.transform(idx2, lambda i: F.coalesce(shingle_at(i), F.element_at("__wh", i + 1)))
    return wh.select(
        "id",
        F.when(F.col("__wh").isNull(), F.lit(None))
        .otherwise(F.array_distinct(sh)).alias("sh"))




def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       *, k: int = 3, num_hashes: int = 64, seed: int = 13,
                       shingle_hash: str = "xxhash64",
                       engine: str = "jvm") -> DataFrame:
    """(id, signature array<long>) — min over shingles of pmod(a·x + b, p) per
    hash function. Map-only; no shuffle. Both engines produce IDENTICAL
    values (same integer hash family); they trade latency vs throughput:

    * ``engine="jvm"`` — one aggregate/zip_with fold, no Python round-trip.
      Wins on small/latency-bound inputs (5k docs: 0.5 s vs 5.7 s — the Arrow
      worker round-trip dominates there), but the per-shingle accumulator
      allocation hits this box's DRAM/GC wall: 4×-core scaling ≈ 0.71.
    * ``engine="arrow"`` — Arrow-batched NumPy (flatten + one matrix op +
      segment-min). Allocation-light: scales ≈ 0.96 on 4× cores and wins at
      corpus scale (≥ ~100k docs). The 100 TB default for bulk jobs.

    ``shingle_hash``: "xxhash64" (native, fastest — the scale path) or "md5"
    (engine-portable: md5 hex → int, reproducible in any SQL engine; used by
    the exact-oracle twin)."""
    a_params, b_params = _hash_params(num_hashes, seed)
    # materialize the words array ONCE per row: referencing the split()
    # expression inside the shingle lambda would re-evaluate it per shingle
    # (measured O(words²) per doc — 9s for 5k docs)
    from ficaria_spark.plans.layout import widen_thin_input

    # widen below the split projection (r7 — see shingles())
    words = widen_thin_input(df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select("id", F.split(F.trim(F.col("__t")), r"\s+").alias("__w"))
    n = F.size("__w")
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    # shingle value: native xxhash64 of the joined k-gram — an order of
    # magnitude cheaper than md5→hex→conv and just as collision-safe for
    # signature purposes (deterministic within the engine)
    if shingle_hash == "md5":
        # engine-portable: md5 of the joined k-gram (string build per shingle
        # — slower, but reproducible in any SQL engine; the oracle twin)
        sh = F.transform(
            idx,
            lambda i: F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(F.col("__w"), i + 1, k), " ")),
                        1, 15,
                    ), 16, 10,
                ).cast("long"),
                F.lit(_MERSENNE),
            ),
        )
        # null text → null shingle list → NULL signature (both engines): a
        # sentinel signature would bucket every null doc together as fake
        # est_jaccard=1.0 candidates
        base = words.select(
            "id",
            F.when(F.col("__w").isNull(), F.lit(None))
            .otherwise(F.array_distinct(sh)).alias("sh"))
    else:
        # allocation-light scale path: the shared positional-combo kernel
        # (Σ cⱼ·h[i+j] mod p of per-word xxhash64) — no per-shingle string
        # building. Each cⱼ·h < 2⁶² and the k-term sum < k·p — ANSI-safe.
        coefs = np.random.default_rng(seed + 101).integers(
            1, _MERSENNE, size=k, dtype=np.int64)
        base = _positional_shingle_arrays(words, k=k, coefs=coefs)

    if engine == "arrow":
        a64 = a_params.astype(np.int64)
        b64 = b_params.astype(np.int64)
        # shingles per block, sized so the (chunk × num_hashes) hash matrix
        # stays ~2 MB (cache-resident per worker). One big batch-wide matrix
        # (~266 MB × temporaries per 10k-doc batch) saturates DRAM bandwidth
        # when many workers run — measured NEGATIVE scaling 4→16 cores.
        chunk = max(512, 2_000_000 // (num_hashes * 8))

        def sign(batches):
            # mapInArrow: the list column's flat child array + offsets come
            # ZERO-COPY — no per-row Python objects (the pandas conversion of
            # 1 M small lists measured as ~10 CPU-cores of pure overhead)
            import pyarrow as pa

            for rb in batches:
                n = rb.num_rows
                ids = rb.column(0)
                sh = rb.column(1)
                sigs = np.full((n, num_hashes), _MERSENNE, dtype=np.int64)
                nulls = np.zeros(n, dtype=bool)
                if n:
                    # null shingle lists (null-text docs) must yield NULL
                    # signatures — same as the JVM fold — so they fall out of
                    # banding instead of all-bucketing together as sentinels
                    if sh.null_count:
                        nulls = ~sh.is_valid().to_numpy(zero_copy_only=False)
                    offs = sh.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                    flat = sh.values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
                    lens = np.diff(offs)
                    lens[nulls] = 0
                    nz_idx = np.where(lens > 0)[0]
                    g0 = 0
                    while g0 < len(nz_idx):
                        g1 = g0 + 1
                        d0 = nz_idx[g0]
                        while (g1 < len(nz_idx)
                               and offs[nz_idx[g1]] + lens[nz_idx[g1]] - offs[d0] <= chunk):
                            g1 += 1
                        sel = nz_idx[g0:g1]
                        fl = flat[offs[sel[0]]:offs[sel[-1]] + lens[sel[-1]]]
                        hv = fl[:, None] * a64[None, :]
                        np.add(hv, b64[None, :], out=hv)
                        np.mod(hv, _MERSENNE, out=hv)
                        local_starts = offs[sel] - offs[sel[0]]
                        sigs[sel] = np.minimum.reduceat(hv, local_starts, axis=0)
                        g0 = g1
                if nulls.any():
                    row_lens = np.where(nulls, 0, num_hashes).astype(np.int64)
                    out_offs = np.concatenate([[0], np.cumsum(row_lens)]).astype(np.int32)
                    sig_col = pa.ListArray.from_arrays(
                        pa.array(out_offs, mask=np.concatenate([nulls, [False]])),
                        pa.array(sigs[~nulls].ravel(), type=pa.int64()))
                else:
                    sig_col = pa.FixedSizeListArray.from_arrays(
                        pa.array(sigs.ravel(), type=pa.int64()), num_hashes
                    ).cast(pa.list_(pa.int64()))
                yield pa.RecordBatch.from_arrays([ids, sig_col], ["id", "signature"])

        return base.mapInArrow(sign, "id long, signature array<long>")

    # ONE aggregate fold over the shingle array: acc (64 running minima) is
    # zip_with-updated per shingle against the literal (a, b) pairs. Critical:
    # the shingle expression is referenced exactly ONCE — with 64 separate
    # array_min(transform(sh, …)) expressions, projection collapse inlines
    # `sh` into every one and (HOFs being interpreted, outside codegen CSE)
    # re-evaluates the whole shingle pipeline 64× per row — measured 150×
    # slower on exploded inputs. x < p and a, b < p ⇒ a·x + b < 2⁶² — no
    # long overflow under ANSI.
    consts = F.array(*[
        F.struct(F.lit(int(a_params[i])).alias("a"), F.lit(int(b_params[i])).alias("b"))
        for i in range(num_hashes)
    ])
    sig = F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(_MERSENNE).cast("long"), num_hashes),
        lambda acc, x: F.zip_with(
            acc, consts,
            lambda m, c: F.least(m, F.pmod(x * c["a"] + c["b"], F.lit(_MERSENNE))),
        ),
    )
    return base.select("id", sig.alias("signature"))


def minhash_lsh_candidates(sigs: DataFrame, *, bands: int = 16,
                           hash_buckets: bool = True) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.
    Join happens ONLY within buckets → near-linear in corpus size.

    ``hash_buckets=True`` keys buckets by xxhash64 of the band slice (8-byte
    shuffle keys — the scale path); ``False`` joins on the raw slice arrays
    (engine-portable semantics for the exact-oracle twin)."""
    n_hashes_col = F.size("signature")
    rows_per_band = (n_hashes_col / bands).cast("int")

    def bucket_of(bi):
        sl = F.slice("signature", bi * rows_per_band + 1, rows_per_band)
        if not hash_buckets:
            return sl
        # NULL signatures must yield NULL buckets: F.xxhash64(NULL) returns
        # the SEED, which would collide every null-signature doc into one
        # bucket per band (O(m²) candidate blowup); a NULL bucket never
        # satisfies the equality join instead
        return F.when(F.col("signature").isNull(), F.lit(None).cast("long")) \
                .otherwise(F.xxhash64(sl))

    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), bucket_of(bi).alias("bucket")),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        *, k: int = 3, num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 13,
                        shingle_hash: str = "xxhash64",
                        hash_buckets: bool = True,
                        engine: str = "jvm") -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates → estimated
    Jaccard (signature agreement) filter ≥ threshold.

    Signatures are persisted: the plan references them four times (both sides
    of the banded self-join + both re-rank lookups), and recomputing the
    signature scan per reference measured 7× slower than one materialization.
    """
    sigs = minhash_signatures(df, text_col, id_col, k=k, num_hashes=num_hashes,
                              seed=seed, shingle_hash=shingle_hash,
                              engine=engine)
    sigs = tracked_persist(sigs)
    cands = minhash_lsh_candidates(sigs, bands=bands, hash_buckets=hash_buckets)
    s1 = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    s2 = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda p, q: (p == q).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.size("sig_a")
    return (
        cands.join(s1, "id_a").join(s2, "id_b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _bidir(edges: DataFrame) -> DataFrame:
    """Both orientations of the (already distinct, consistently oriented)
    edge set. No distinct needed (r7 — it cost one full exchange per star
    round): the CC loop's edge sets always satisfy src != dst with ONE
    orientation per pair — the initial input is distinct with id_a < id_b,
    large-star emits (v, m) with v > u >= m, and small-star emits (v, m) /
    (u, m) with m < v <= u and m < u, all followed by their own distinct —
    so the two unioned orientations can never overlap or self-duplicate."""
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")) \
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): every node u re-points its strictly-larger neighbors at
    m = min(Γ(u) ∪ {u})."""
    b = _bidir(edges)
    m = b.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # No trailing distinct (r7 — one exchange per round saved): each output
    # row maps 1:1 to a bidir row, so the result is bounded at 2·|edges|
    # even with duplicates (never quadratic), duplicate (v, m) rows do not
    # change the small-star min aggregates they feed, and the small-star
    # final distinct restores set semantics before the convergence probe —
    # per-round edge SETS are identical to the distinct version.
    return (
        b.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: over Γ⁻(u) = {v ∈ Γ(u): v ≤ u}, every node u re-points
    v ∈ Γ⁻(u) ∪ {u} at m = min(Γ⁻(u) ∪ {u}) — including the (u, m) edge,
    which keeps local-maximum nodes attached to their component."""
    b = _bidir(edges).where(F.col("v") <= F.col("u"))
    m = b.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    joined = b.join(m, "u")
    pointed = joined.select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_edges = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        pointed.unionByName(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _cc_union_find_driver(spark, tbl) -> DataFrame:
    """Driver-side connected components over a BOUNDED, Arrow-collected edge
    table (src, dst): union-find (path halving + union by root id), returns
    (doc_id, cluster_rep = component min id). Bounded-state driver work in
    the fit_cap / driver-k-means mold — the caller gates on the collected
    row count before calling. Duplicate and re-oriented edges are harmless
    (union is idempotent)."""
    src = tbl.column("src").to_numpy()
    dst = tbl.column("dst").to_numpy()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by root id: the smaller id becomes the root, so the
            # final root IS the component min (ids are the labels)
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    import pandas as pd

    if not parent:
        return spark.createDataFrame([], "doc_id long, cluster_rep long")
    ids = list(parent)
    out = pd.DataFrame({
        "doc_id": np.asarray(ids, dtype=np.int64),
        "cluster_rep": np.asarray([find(x) for x in ids], dtype=np.int64),
    })
    return spark.createDataFrame(out)


def dedup_clusters_star(pairs: DataFrame, *, id_a: str = "id_a",
                        id_b: str = "id_b", max_iter: int = 25,
                        small_graph_rows: int | None = 1_000_000) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions — O(log n) rounds regardless of component DIAMETER, the
    variant to use when dup chains can be adversarially long (label
    propagation needs O(diameter) rounds). Same output contract as
    :func:`dedup_clusters`: (doc_id, cluster_rep = component min id).

    ``small_graph_rows``: the RAW pair list is probed with a
    ``limit(threshold + 1)`` Arrow collect — one job, no distinct shuffle,
    no checkpoint — and when at most ``small_graph_rows`` rows come back
    (so the probe saw EVERY edge) the components are resolved with a
    driver-side union-find instead of the iterative star rounds (r7): each
    distributed round costs ~7 exchanges of per-stage latency, which
    dominates wall time outright for small graphs (sf1: 2.5k edges,
    2 rounds + verify ≈ 3 s of scheduling for <1 ms of actual union-find;
    duplicate pair rows are harmless — union is idempotent — they only
    make the threshold trigger conservatively). Driver state is bounded by
    the threshold (16 B/edge ≈ 16 MB at the default); pass ``None`` to
    force the distributed loop (the driver gate's dedup_clusters slot
    does, so both distributed CC algorithms stay oracle-checked
    end-to-end)."""
    raw = (
        pairs.select(F.col(id_a).cast("long").alias("src"),
                     F.col(id_b).cast("long").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    if small_graph_rows is not None:
        probe = raw.limit(small_graph_rows + 1).toArrow()
        if probe.num_rows <= small_graph_rows:
            return _cc_union_find_driver(pairs.sparkSession, probe)
    edges = raw.distinct().localCheckpoint()

    def _sig(e: DataFrame):
        # decimal(38) accumulator: a long hash-sum overflows under ANSI
        r = e.agg(F.count("*").alias("c"),
                  F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
                  .alias("h")).first()
        return int(r["c"]), (int(r["h"]) if r["h"] is not None else 0)

    prev_sig = _sig(edges)
    all_ids = (
        edges.select(F.col("src").alias("doc_id"))
        .unionByName(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # lazy checkpoint: the per-round convergence probe is the round's
        # ONE action (count + order-independent hash-sum — a map-side
        # combined agg, no extra shuffle) and it materializes the
        # checkpoint. The old probe ran TWO exceptAll anti-joins every
        # round — at small edge counts those co-partitioning shuffles, not
        # the contraction itself, dominated the wall. The hash-sum is the
        # GraphFrames-style practical check; the SOUND multiset-equality
        # test below still gates termination, it just runs once.
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        sig = _sig(nxt)
        stable = sig == prev_sig
        prev_sig = sig
        if stable:
            # sound verification at the (rare) metric fixpoint: star graphs
            # are fixed points of both contractions, so require exact edge
            # multiset equality before stopping — a hash-sum collision
            # (≈2⁻⁶⁴/round) just means one more round, never a wrong answer
            delta = (nxt.exceptAll(edges).limit(1)
                     .unionAll(edges.exceptAll(nxt).limit(1)).count())
            edges = nxt
            if not delta:
                break
        else:
            edges = nxt
    # stars point larger → smaller; a node's parent IS the component min.
    # min-aggregate defensively: if max_iter was exhausted before
    # convergence a node could still carry several parents, and the output
    # contract is one row per doc (min is also the correct limit value)
    parents = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("cluster_rep"))
    )
    return (
        all_ids.join(parents, "doc_id", "left")
        .select("doc_id",
                F.coalesce("cluster_rep", "doc_id").alias("cluster_rep"))
    )


def dedup_clusters(pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: (doc_id, cluster_rep) where
    cluster_rep = min id of the doc's connected component. The step that
    turns a pair list (minhash/simhash/jaccard/embedding) into an actual
    keep/drop decision (keep rows where doc_id == cluster_rep).

    Algorithm: min-label propagation — each iteration every node takes the
    min label among itself and its neighbors; converges in O(component
    diameter) rounds. Near-dup components are small and dense (diameter a
    few hops), so a handful of join+agg rounds suffice; each round is one
    shuffle on the node id and the frontier SHRINKS (only labels that
    changed propagate). ``localCheckpoint`` truncates lineage per round and
    the per-round convergence check is one tiny aggregate. For adversarial
    long-chain graphs use the two-phase large-star/small-star variant
    (Kiveris et al.) — same join primitives, O(log n) rounds.

    Output covers every id appearing in ``pairs`` (isolated docs never enter
    the pair list — they are their own representative by definition).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # candidate label per node: min over neighbors' labels
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "id")
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select("id", F.least("label", F.coalesce("nbr_label", "label")).alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if not changed:
            break
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_rep"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            *, seed: int = 29, word_hash: str = "xxhash64") -> DataFrame:
    """SimHash per doc (vectorized bit-count over word hashes).

    ``word_hash``: "xxhash64" → 64-bit signature (native, the scale path);
    "md5" → 60-bit signature from md5 hex → int — engine-portable, used by
    the exact-oracle twin (the bit voting itself is integer arithmetic,
    identical in any engine)."""
    if word_hash == "md5":
        nbits = 60
        hash_expr = lambda w: F.conv(  # noqa: E731
            F.substring(F.md5(F.concat(F.lower(w), F.lit(f":{seed}"))), 1, 15), 16, 10
        ).cast("long")
    else:
        nbits = 64
        hash_expr = lambda w: F.xxhash64(F.lower(w), F.lit(seed))  # noqa: E731
    from ficaria_spark.plans.layout import widen_thin_input

    # widen below the hash projection (r7 — see shingles())
    base = widen_thin_input(df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id", F.transform(word_tokens(F.col("__t")), hash_expr).alias("hashes"))

    shifts = np.arange(nbits, dtype=np.uint64)
    # words per block: the (chunk × nbits) int32 bit matrix stays ~1 MB —
    # same cache-blocked mapInArrow pattern as the MinHash signing engine
    # (zero-copy flat child array + offsets; no per-row Python objects; no
    # batch-wide DRAM-saturating temporaries)
    chunk = 4096

    def sig(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            ids = rb.column(0)
            hs = rb.column(1)
            out = np.zeros(n, dtype=np.int64)
            if n:
                offs = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                flat = hs.values.to_numpy(zero_copy_only=False) \
                    .astype(np.int64, copy=False).view(np.uint64)
                lens = np.diff(offs)
                nz_idx = np.where(lens > 0)[0]
                g0 = 0
                while g0 < len(nz_idx):
                    g1 = g0 + 1
                    d0 = nz_idx[g0]
                    while (g1 < len(nz_idx)
                           and offs[nz_idx[g1]] + lens[nz_idx[g1]] - offs[d0] <= chunk):
                        g1 += 1
                    sel = nz_idx[g0:g1]
                    fl = flat[offs[sel[0]]:offs[sel[-1]] + lens[sel[-1]]]
                    bits = ((fl[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
                    local_starts = offs[sel] - offs[sel[0]]
                    ones = np.add.reduceat(bits, local_starts, axis=0)
                    votes = 2 * ones - lens[sel][:, None]
                    packed = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
                        axis=1, dtype=np.uint64)
                    out[sel] = packed.astype(np.int64)
                    g0 = g1
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, type=pa.int64())], ["id", "simhash"])

    return base.mapInArrow(sig, "id long, simhash long")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_pairs(df: DataFrame, *, id_col: str = "vec_id",
                         vec_col: str = "embedding", threshold: float = 0.95,
                         dim: int | None = None, n_planes: int = 8,
                         n_tables: int = 4, seed: int = 7,
                         exact: bool = False) -> DataFrame:
    """All pairs (id_a < id_b) with cosine(embedding_a, embedding_b) ≥
    threshold — semantic near-duplicates over an embedding column.

    ``exact=True`` — blocked-dgemm all-pairs sweep (operators/pairwise
    block scheme: each task scores one (block, block) cosine matrix in BLAS
    and emits only the pairs over threshold): the correctness baseline and
    the exact-oracle query path. A per-pair JVM cosine fold here would run
    interpreted — measured 64 s vs ~2 s on a 6k×6k sweep.
    ``exact=False`` — candidates share a random-hyperplane LSH bucket in ANY
    table, exact cosine verified on candidates only: near-linear, the corpus
    scale path (high-cosine pairs collide in some table w.h.p.; recall is
    tunable via n_planes/n_tables).
    """
    from ficaria_spark.operators.similarity import _as_double, lsh_bucketize

    vecs = _as_double(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec")
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    if exact:
        import pandas as pd

        from ficaria_spark.operators.pairwise import block_pair_apply

        thr = float(threshold)
        # preserve the caller's id type (the pre-blocked path joined on any
        # orderable id; hardcoding long would Arrow-cast-fail string ids)
        id_type = df.schema[id_col].dataType.simpleString()

        def near_block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            A = np.stack(lpdf["vec"].to_numpy())
            B = np.stack(rpdf["vec"].to_numpy())
            A = A / np.sqrt((A * A).sum(axis=1))[:, None]
            B = B / np.sqrt((B * B).sum(axis=1))[:, None]
            S = A @ B.T
            ia = lpdf["id"].to_numpy()
            ib = rpdf["id"].to_numpy()
            # id_a < id_b keeps each unordered pair in exactly ONE of the
            # (x,y)/(y,x) block tasks — no dedup shuffle needed
            m = (S >= thr) & (ia[:, None] < ib[None, :])
            r, c = np.nonzero(m)
            return pd.DataFrame({"id_a": ia[r], "id_b": ib[c],
                                 "cosine": S[r, c]})

        return block_pair_apply(
            vecs, "id", ["vec"], near_block,
            f"id_a {id_type}, id_b {id_type}, cosine double")
    else:
        if dim is None:
            raise ValueError("dim is required for the LSH path (exact=False)")
        buckets = lsh_bucketize(df, id_col=id_col, vec_col=vec_col, dim=dim,
                                n_planes=n_planes, n_tables=n_tables,
                                seed=seed)
        buckets = tracked_persist(buckets)
        x, y = buckets.alias("x"), buckets.alias("y")
        cands = (
            x.join(y, (F.col("x.table") == F.col("y.table"))
                   & (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        pairs = cands.join(va, "id_a").join(vb, "id_b")
    # exact cosine verify on candidates — vectorized Arrow pair kernel, not
    # a per-pair interpreted JVM fold (see similarity._pair_cosine_arrow)
    from ficaria_spark.operators.similarity import _pair_cosine_arrow

    return (
        _pair_cosine_arrow(pairs, "vec_a", "vec_b")
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def simhash_band_layout(max_hamming: int, nbits: int) -> tuple[list[int], list[int]]:
    """(widths, offsets) of the ``max_hamming + 1`` pigeonhole bands over
    ``nbits`` signature bits (shared with the oracle twin builder)."""
    bands = max_hamming + 1
    base_w, extra = divmod(nbits, bands)
    widths = [base_w + (1 if b < extra else 0) for b in range(bands)]
    offsets = np.concatenate([[0], np.cumsum(widths)[:-1]]).tolist()
    return widths, [int(o) for o in offsets]


def hamming_near_pairs(sigs: DataFrame, *, id_col: str = "id",
                       hash_col: str = "simhash", max_hamming: int = 3,
                       nbits: int = 64) -> DataFrame:
    """Pairs with Hamming(hash) ≤ max_hamming over ANY integer-signature
    frame — banded pigeonhole: the ``nbits`` signature bits split into
    ``max_hamming + 1`` contiguous slices, so any pair within the radius
    agrees on at least one full band; candidates join only inside band
    buckets (guaranteed recall), then an exact ``bit_count(xor)`` verify.
    Shared by the text (simhash) and image (phash) near-dup operators —
    returns (id_a, id_b, hamming). Input should be persisted by the
    caller when the signature is expensive (both sides of the self-join
    reference it)."""
    if not 0 <= max_hamming <= 31:
        # bands must be ≥ 2 bits wide for the bucket key to prune anything
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}.")
    widths, offsets = simhash_band_layout(max_hamming, nbits)
    bands = max_hamming + 1

    def _band_struct(b: int):
        bucket = F.shiftrightunsigned(hash_col, int(offsets[b]))
        if widths[b] < 64:
            # a full-width band (max_hamming=0, 64-bit hash) needs no mask —
            # and (1 << 64) - 1 would overflow the long literal
            bucket = bucket.bitwiseAND(F.lit((1 << int(widths[b])) - 1))
        return F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))

    band_structs = [_band_struct(b) for b in range(bands)]
    banded = sigs.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("_h"),
        F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "_h", "bb.band", "bb.bucket")
    x, y = banded.alias("x"), banded.alias("y")
    pairs = (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                F.col("x._h").alias("sh_a"), F.col("y._h").alias("sh_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       *, max_hamming: int = 3, seed: int = 29,
                       word_hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via banded pigeonhole
    (see :func:`hamming_near_pairs` — the banding/verify core is shared with
    the image-phash near-dup operator).

    Cost/recall contract: wider radii mean narrower bands (nbits // bands),
    i.e. coarser buckets and more candidates. That is the price of exact recall;
    callers wanting cheaper approximate behaviour should lower ``max_hamming``.
    """
    if not 0 <= max_hamming <= 31:
        # validate BEFORE persisting the signature plan — an invalid call
        # must not leave an orphaned persist handle in the cache registry
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}.")
    nbits = 60 if word_hash == "md5" else 64
    # both sides of the banded self-join reference the signature plan
    sigs = tracked_persist(simhash(df, text_col, id_col, seed=seed, word_hash=word_hash))
    return hamming_near_pairs(sigs, id_col="id", hash_col="simhash",
                              max_hamming=max_hamming, nbits=nbits)
