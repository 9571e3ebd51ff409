"""Lineage manifests + checkpoint resume + streaming sessionize."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ficaria_spark.plans.lineage import (
    bucket_of,
    read_manifests,
    read_output,
    run_with_manifests,
)
from ficaria_spark.streaming.sessionize import streaming_sessionize, streaming_tumble


def _events(spark, n=500, seed=2):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "entity": rng.integers(0, 40, n),
        "v": rng.normal(size=n).round(4),
        "rid": np.arange(n),
    })
    return spark.createDataFrame(pdf), pdf


def test_manifest_run_completes_and_audits(spark, tmp_path):
    sdf, pdf = _events(spark)
    out = str(tmp_path / "run1")
    summary = run_with_manifests(
        sdf.withColumn("v2", F.col("v") * 2),
        entity_col="entity", out_dir=out, n_buckets=4,
    )
    assert summary["failed"] == []
    assert summary["rows"] == len(pdf)
    manifests = read_manifests(out)
    assert len(manifests) == 4
    assert all(m["status"] == "ok" for m in manifests.values())
    assert sum(m["row_count"] for m in manifests.values()) == len(pdf)
    back = read_output(spark, out)
    assert back.count() == len(pdf)
    assert np.isclose(
        back.agg(F.sum("v2")).collect()[0][0], 2 * pdf.v.sum(), atol=1e-6)


def test_resume_recomputes_only_failed_buckets(spark, tmp_path):
    sdf, pdf = _events(spark, seed=5)
    out = str(tmp_path / "run2")
    # first run: bucket 2 crashes
    s1 = run_with_manifests(
        sdf, entity_col="entity", out_dir=out, n_buckets=4,
        fail_on=lambda b: b == 2,
    )
    assert s1["failed"] == [2]
    assert sorted(s1["completed"]) == [0, 1, 3]
    # resume: only bucket 2 is recomputed
    s2 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    assert s2["completed"] == [2]
    assert s2["skipped"] == [0, 1, 3]
    assert read_output(spark, out).count() == len(pdf)
    # idempotent third run does nothing
    s3 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    assert s3["completed"] == [] and sorted(s3["skipped"]) == [0, 1, 2, 3]


def test_manifests_match_direct_bucket_aggregate(spark, tmp_path):
    """Each manifest's (row_count, checksum) is exactly the input's own
    count and bit_xor(xxhash64(columns)) over the rows of that bucket."""
    sdf, _ = _events(spark, seed=7)
    out = str(tmp_path / "audit")
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=8)
    want = {
        r["b"]: (r["n"], r["c"])
        for r in sdf.groupBy(bucket_of("entity", 8).alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*sdf.columns)).alias("c")).collect()
    }
    got = {b: (m["row_count"], m["checksum"])
           for b, m in read_manifests(out).items()}
    assert got == {b: want.get(b, (0, 0)) for b in range(8)}


def test_empty_buckets_get_ok_manifests(spark, tmp_path):
    """64 buckets over 40 entities: every empty bucket still gets an ok
    manifest with row_count 0, and read_output returns every row."""
    sdf, pdf = _events(spark)
    out = str(tmp_path / "sparse")
    s = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=64)
    assert s["failed"] == [] and s["completed"] == list(range(64))
    manifests = read_manifests(out)
    assert all(m["status"] == "ok" for m in manifests.values())
    empty = [b for b, m in manifests.items() if m["row_count"] == 0]
    assert len(empty) >= 64 - 40
    assert sum(m["row_count"] for m in manifests.values()) == len(pdf)
    assert read_output(spark, out).count() == len(pdf)


def test_failed_write_marks_every_pending_bucket(spark, tmp_path):
    """A frame whose write raises on one entity fails every pending bucket
    and leaves none of their directories; a resume on the clean frame then
    completes all of them."""
    import os

    from ficaria_spark.functions.xxh import xxh64_long

    sdf, pdf = _events(spark, seed=3)
    out = str(tmp_path / "boom")
    s1 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                            fail_on=lambda b: b == 1)
    assert s1["failed"] == [1]
    os.remove(os.path.join(out, "_manifests", "bucket_00003.json"))
    # poison one entity of bucket 3 only: bucket 1's rows are all clean
    poison = next(e for e in range(40) if xxh64_long(e, 42) % 4 == 3)
    bad = sdf.withColumn("v", F.when(F.col("entity") == poison,
                                     F.raise_error(F.lit("poisoned entity")))
                         .otherwise(F.col("v")))
    s2 = run_with_manifests(bad, entity_col="entity", out_dir=out, n_buckets=4)
    assert s2["completed"] == [] and s2["failed"] == [1, 3]
    manifests = read_manifests(out)
    assert "poisoned entity" in manifests[3]["error"]
    assert not any(os.path.exists(os.path.join(out, f"part_bucket={b}"))
                   for b in (1, 3))
    s3 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    assert s3["completed"] == [1, 3] and s3["skipped"] == [0, 2]
    assert read_output(spark, out).count() == len(pdf)


def test_read_output_skips_stale_failed_bucket(spark, tmp_path):
    """A directory left behind by a bucket whose manifest says failed is not
    part of the output."""
    sdf, _ = _events(spark, seed=4)
    out = str(tmp_path / "stale")
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                       fail_on=lambda b: b == 2)
    # a crashed writer left rows under the failed bucket's directory
    sdf.limit(7).write.parquet(str(tmp_path / "stale" / "part_bucket=2"))
    ok = {b: m for b, m in read_manifests(out).items() if m["status"] == "ok"}
    back = read_output(spark, out)
    assert back.count() == sum(m["row_count"] for m in ok.values())
    assert {r[0] for r in back.select("part_bucket").distinct().collect()} \
        == set(ok)


def test_manifests_record_code_version_and_run(spark, tmp_path):
    """Every manifest of one run carries the same code version, run id and
    run wall time; a resume is a different run."""
    sdf, _ = _events(spark, seed=6)
    out = str(tmp_path / "version")
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                       fail_on=lambda b: b == 0)
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    m = read_manifests(out)
    first = {(m[b]["code_version"], m[b]["run_id"], m[b]["run_wall_sec"])
             for b in (1, 2, 3)}
    assert len(first) == 1
    version, run_id, wall = first.pop()
    assert len(version) in (40, 64 + len("sha256:")) and wall > 0
    assert m[0]["run_id"] != run_id and m[0]["code_version"] == version
    assert not any("wall_sec" in x or "rows_per_sec" in x for x in m.values())


def test_session_window_semantics_match_batch_sessionize(spark):
    """session_window (streaming op, run in batch mode here) must agree with
    the batch sessionize on session counts."""
    import datetime as dt

    from ficaria_spark.operators.temporal import sessionize

    rows = []
    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(8)
    t = base
    for i in range(200):
        t = t + dt.timedelta(seconds=int(rng.integers(1, 4000)))
        rows.append((int(rng.integers(0, 5)), t, float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    sdf = spark.createDataFrame(pdf)

    stream_style = streaming_sessionize(sdf, gap="30 minutes").toPandas()
    batch = sessionize(sdf, "user_id", "ts", gap_seconds=1800.0)
    batch_sessions = (
        batch.groupBy("user_id", "session_seq").count().toPandas()
    )
    # same number of sessions per user
    a = stream_style.groupby("user_id").size().sort_index()
    b = batch_sessions.groupby("user_id").size().sort_index()
    assert (a == b).all()
    # same total events
    assert stream_style.n_events.sum() == 200


def test_streaming_tumble_batch_semantics(spark):
    sdf, _ = _events(spark)
    import datetime as dt

    ev = sdf.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("rid") * 100)
    )
    got = streaming_tumble(ev, width="1 hour", value_col="v").toPandas()
    assert got.n_events.sum() == 500
    # 500 events * 100s = ~50000s ≈ 14 hourly buckets
    assert 13 <= len(got) <= 15


def test_streaming_sessionize_runs_as_a_real_stream(spark, tmp_path):
    """End-to-end Structured Streaming: file source → watermark →
    session_window agg → memory sink (availableNow). Emitted (watermark-
    closed) sessions must be a subset of the batch sessionize result."""
    import datetime as dt

    rng = np.random.default_rng(12)
    rows = []
    t = dt.datetime(2024, 1, 1)
    for i in range(300):
        t = t + dt.timedelta(seconds=int(rng.integers(1, 3000)))
        rows.append((int(rng.integers(0, 6)), t, float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    src = str(tmp_path / "in")
    spark.createDataFrame(pdf).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    agg = streaming_sessionize(stream, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("sess_stream").toPandas()

    batch = streaming_sessionize(static, gap="30 minutes").toPandas()
    assert len(got) > 0
    batch_keys = set(zip(batch.user_id, batch.session_start))
    got_keys = set(zip(got.user_id, got.session_start))
    assert got_keys <= batch_keys
    # watermark-closed sessions must agree exactly with batch on counts
    merged = got.merge(batch, on=["user_id", "session_start"], suffixes=("_s", "_b"))
    assert (merged.n_events_s == merged.n_events_b).all()


def test_streaming_exact_dedup_end_to_end(spark, tmp_path):
    """File source → watermark → dropDuplicatesWithinWatermark → memory sink:
    exactly one survivor per distinct normalized content (duplicates planted
    within the horizon), and the stateless fingerprint tag matches the batch
    digest."""
    import datetime as dt

    from ficaria_spark.streaming.dedup import (
        streaming_exact_dedup,
        streaming_fingerprint_tag,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(60):
        # 20 distinct contents, each appearing 3× within minutes (same horizon)
        content = f"doc body {i % 20} words here"
        if i % 20 == 5:
            content = "Doc  Body 5  words HERE"  # normalization twin of #5
        rows.append((i, content, t0 + dt.timedelta(minutes=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(pdf).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    deduped = streaming_exact_dedup(stream, watermark="2 hours")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream").toPandas()

    # 20 distinct normalized contents -> exactly 20 survivors
    assert len(got) == 20
    assert got.content_hash.nunique() == 20

    tagged = streaming_fingerprint_tag(static).toPandas()
    assert tagged.content_hash.nunique() == 20
    assert (tagged.n_tokens >= 4).all()


def test_streaming_text_scrub_matches_batch(spark, tmp_path):
    """The text family (quality, repetition, redaction, token counts) is
    stateless projections, so the SAME operators must run unchanged on a
    stream — the streaming face of the round-5 scrub pipeline. availableNow
    over a parquet source → memory sink; per-row results must equal the
    batch computation bit-for-bit (including a planted empty doc and a
    planted PII doc)."""
    import pandas as pd

    from ficaria_spark.operators.text import (
        quality_score, redact_pii, repetition_features, token_count)

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "spam spam spam spam spam spam spam spam",
        "mail me at a@b.io or call (555) 867-5309",
        "",
        "   ",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src = str(tmp_path / "scrub_src")
    static = spark.createDataFrame(pdf)
    static.write.parquet(src)

    def scrub(df):
        out = redact_pii(repetition_features(quality_score(df)),
                         with_counts=True)
        return out.select(
            "doc_id", "quality_score", "quality_keep", "dup_word_frac",
            "pii_email_count", "pii_phone_count", "text_redacted",
            token_count("text").alias("n_ws_tokens"))

    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        scrub(stream).writeStream.format("memory").queryName("scrub_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (spark.sql("SELECT * FROM scrub_stream")
           .orderBy("doc_id").toPandas())
    want = scrub(spark.read.parquet(src)).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(got, want)
    # the planted rows actually exercised the interesting paths
    assert want.pii_email_count.sum() == 1
    assert "<EMAIL>" in want.text_redacted[2]
    assert want.n_ws_tokens.tolist()[3:] == [0, 0]
    assert not want.quality_keep[3] and not want.quality_keep[4]
