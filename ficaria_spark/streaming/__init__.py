"""Structured Streaming face of the temporal kernel: checkpoint-resumable
point-in-time backfill (:mod:`ficaria_spark.streaming.backfill`)."""
