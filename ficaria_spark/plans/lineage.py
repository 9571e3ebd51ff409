"""Per-bucket lineage manifests + checkpoint-resumable runs.

A job's output is split into WORK UNITS, a stable bucket of the entity key
(NOT ``spark_partition_id()``, which changes with the physical plan). A run
computes the upstream plan ONCE: one ``partitionBy`` write lands every pending
bucket under ``out_dir/part_bucket=<b>/``, one ``groupBy`` over the written
files gives each bucket's row_count and checksum, then each bucket gets a
manifest in ``out_dir/_manifests/``. A bucket is pending unless its manifest
says ``status='ok'``; a run clears and recomputes ONLY the pending buckets, so
re-runs after executor/driver loss are idempotent. Manifests record the code
version (git sha, else a sha256 of the package sources), run id and run wall
seconds: row_count shows skew per bucket, and every output file traces back
to its bucket, run and code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifests"
_PKG = Path(__file__).resolve().parents[1]


def bucket_of(col: str, n_buckets: int) -> F.Column:
    """Stable work-unit bucket for an entity key (hash-based, plan-invariant)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _code_version() -> str:
    """The git sha of the checkout holding this package; outside git, a
    sha256 of ``ficaria_spark/**/*.py``."""
    try:
        top, sha = subprocess.run(
            ["git", "-C", str(_PKG), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.split()
        if Path(top).resolve() == _PKG.parent:
            return sha
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    h = hashlib.sha256()
    for p in sorted(_PKG.rglob("*.py")):
        h.update(p.relative_to(_PKG).as_posix().encode() + b"\0" + p.read_bytes())
    return "sha256:" + h.hexdigest()


def _bucket_dirs(out_dir: str, buckets) -> list[str]:
    """The existing output directories of ``buckets`` (an empty bucket has none)."""
    paths = (os.path.join(out_dir, f"part_bucket={b}") for b in buckets)
    return [p for p in paths if os.path.isdir(p)]


def read_manifests(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    ms = []
    for name in os.listdir(mdir) if os.path.isdir(mdir) else []:
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                ms.append(json.load(f))
    return {m["bucket"]: m for m in ms}


def _ok_buckets(out_dir: str) -> list[int]:
    return sorted(b for b, m in read_manifests(out_dir).items() if m.get("status") == "ok")


def run_with_manifests(df: DataFrame, *, entity_col: str, out_dir: str,
                       n_buckets: int = 16,
                       fail_on: Callable[[int], bool] | None = None) -> dict:
    """Write ``df`` bucketed by ``entity_col`` with one manifest per bucket;
    resume-aware. Returns a summary {completed, skipped, failed, rows}.

    ``fail_on(bucket)`` is a test hook that simulates a crash: the bucket is
    left out of the write and gets a failed manifest. If the write or the
    stats read raises, every pending bucket fails and its directory goes.
    """
    t0 = time.perf_counter()
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    done = _ok_buckets(out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    for p in _bucket_dirs(out_dir, pending):
        shutil.rmtree(p)
    failed = {b: f"injected failure at bucket {b}"
              for b in pending if fail_on is not None and fail_on(b)}
    todo = [b for b in pending if b not in failed]
    lineage = {"code_version": _code_version(), "run_id": uuid.uuid4().hex}

    stats: dict[int, tuple[int, int]] = {}
    if todo:
        work = df.withColumn("part_bucket", bucket_of(entity_col, n_buckets))
        try:
            work.where(F.col("part_bucket").isin(todo)) \
                .write.mode("append").partitionBy("part_bucket").parquet(out_dir)
            if paths := _bucket_dirs(out_dir, todo):
                written = df.sparkSession.read.schema(work.schema) \
                    .option("basePath", out_dir).parquet(*paths)
                for r in written.groupBy("part_bucket").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.bit_xor(F.xxhash64(*df.columns)).alias("c")).collect():
                    stats[r["part_bucket"]] = (r["n"], r["c"])
        except Exception as e:  # the run failed: every pending bucket is lost
            for p in _bucket_dirs(out_dir, todo):
                shutil.rmtree(p)
            failed.update((b, str(e)) for b in todo)

    lineage["run_wall_sec"] = round(time.perf_counter() - t0, 3)
    for b in pending:
        if b in failed:
            m = {"bucket": b, "status": "failed", "error": failed[b]}
        else:
            n, c = stats.get(b, (0, 0))
            m = {"bucket": b, "row_count": n, "checksum": c, "status": "ok"}
        with open(os.path.join(out_dir, MANIFEST_DIR, f"bucket_{b:05d}.json"), "w") as f:
            json.dump({**m, **lineage}, f)
    completed = [b for b in pending if b not in failed]
    return {"completed": completed, "skipped": done, "failed": sorted(failed),
            "rows": sum(n for n, _ in stats.values())}


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the status-ok buckets back as one DataFrame with a ``part_bucket``
    column; stale directories of pending buckets are ignored."""
    paths = _bucket_dirs(out_dir, _ok_buckets(out_dir))
    return spark.read.option("basePath", out_dir).parquet(*paths)
