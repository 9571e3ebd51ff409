"""Lineage manifests + checkpoint resume + stateless text ops on a stream."""

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
