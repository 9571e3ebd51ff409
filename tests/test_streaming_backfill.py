"""Stateless sampling operators run unchanged on a streaming DataFrame.
The file name is kept from the retired streaming point-in-time backfill;
checkpoint-resumable state lives in the manifest layer
(``plans/lineage.py``)."""

from __future__ import annotations


def test_sampling_ops_are_streaming_safe(spark, tmp_path):
    """hash_split / stratified_sample are stateless projections — they run
    unchanged on a streaming DataFrame (append mode, no state)."""
    import pandas as pd

    from ficaria_spark.operators.sampling import hash_split

    pdf = pd.DataFrame({"doc_id": range(200), "source": ["s0", "s1"] * 100})
    src = str(tmp_path / "sin")
    spark.createDataFrame(pdf).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    out = hash_split(stream, {"train": 0.8, "val": 0.2}, seed=6)
    q = (
        out.writeStream.format("memory").queryName("split_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = spark.table("split_stream").toPandas().set_index("doc_id")["split"]
    exp = hash_split(static, {"train": 0.8, "val": 0.2}, seed=6) \
        .toPandas().set_index("doc_id")["split"]
    assert got.sort_index().equals(exp.sort_index())
