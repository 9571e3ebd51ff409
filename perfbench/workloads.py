"""The benchmark workloads. Each is a closed loop: one client, and each Spark
action starts only after the previous one has finished.

A workload has four hooks: ``warm`` (JIT and Python-worker warm-up at the
small scale), ``oracle_sql`` (the DuckDB texts its outputs are checked
against), ``iteration`` (one timed pass, optionally traced) and
``trace_layers`` (the traced run's layer-by-layer materialization). An
iteration returns its end-to-end walls, its operations and which of them
failed; a traced iteration also returns per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
from pyspark.sql import functions as F

import bench
from ficaria_spark import datagen
from ficaria_spark.functions.xxh import xxh64_long
from ficaria_spark.plans.cache import release_operator_caches
from ficaria_spark.plans.lineage import (
    MANIFEST_DIR, read_manifests, read_output, run_with_manifests)
from ficaria_spark.queries import ORACLE, QUERIES

from inputs import Oracles, headline_oracle_sql, rows_canon
from tracing import Tracer, group_jobs, stage_totals

N_BUCKETS = 16   # main.py's default
N_LOST = 4       # buckets removed before the resume
BUCKET_SEED = 42  # Spark's xxhash64 seed, which lineage.bucket_of uses


@dataclass
class Ctx:
    spark: object
    data: str              # input directory of this seed
    warm_data: str         # small-scale directory for warm-up
    work: str              # fresh directories for job outputs live here
    rng: object            # random.Random(seed)
    oracles: Oracles | None = None
    _n: int = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")


@dataclass
class Result:
    pass_s: float
    op_walls: list[float]
    out_rows: int
    attempted: int
    failed: list[str]
    extra: dict = field(default_factory=dict)   # job_s, suite_s and the like
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _layer(tracer: Tracer, name: str, df) -> str:
    """Materialize one layer's output under its own span and job group;
    returns the group."""
    with tracer.span(name, job_group=True):
        noop(df)
    return tracer.groups[-1]


# ------------------------------------------------------- temporal_job

def _bucket_ends(out: str, buckets: list[int]) -> list[tuple[int, float]]:
    """(bucket, end) in completion order: a bucket ends when its manifest
    is written, so its mtime is the bucket's end time."""
    ends = [(b, os.stat(os.path.join(out, MANIFEST_DIR,
                                     f"bucket_{b:05d}.json")).st_mtime)
            for b in buckets]
    return sorted(ends, key=lambda e: e[1])


def _bucket_spans(tracer: Tracer | None, parent: int | None, start: float,
                  ends: list[tuple[int, float]]) -> list[float]:
    """Each bucket runs from the previous bucket's end to its own; returns
    the bucket walls and, when tracing, records them as spans."""
    walls = []
    for _, end in ends:
        walls.append(end - start)
        if tracer is not None:
            tracer.add("lineage.bucket", start, end, parent)
        start = end
    return walls


# spans that time a call into Spark: a plan build, or a read, write or
# action that lineage makes; the rest of a bucket is lineage's own Python
MEASURED = {"plan", "lineage.write", "lineage.readback"}


def _lineage_calls(df) -> dict[tuple[type, str], str]:
    """The pyspark methods run_with_manifests calls for a bucket: the
    write (the upstream recompute included), then the read-back for the
    manifest's row count and checksum."""
    return {(type(df.write), "parquet"): "lineage.write",
            (type(df.sparkSession.read), "parquet"): "lineage.readback",
            (type(df), "count"): "lineage.readback",
            (type(df), "collect"): "lineage.readback"}


class TemporalJob:
    """main.py --job temporal: the flagship query's plan run through
    ``run_with_manifests`` into a fresh directory, then ``N_LOST`` buckets'
    outputs and manifests removed and the job run again to resume."""

    name, query, entity_col = "temporal_job", "pipeline_flagship", "entity_id"
    why = ("the shipped temporal job (main.py --job temporal) through the "
           "manifest layer: 16 bucket recomputes, then a 4-bucket resume")

    def warm(self, ctx: Ctx) -> None:
        out = ctx.fresh_dir("warm")
        run_with_manifests(QUERIES[self.query](ctx.spark, ctx.warm_data),
                           entity_col=self.entity_col, out_dir=out, n_buckets=2)
        shutil.rmtree(out)

    def oracle_sql(self, ctx: Ctx) -> dict[str, str]:
        return {self.query: ORACLE[self.query]}

    def _run(self, ctx, out, tracer, label):
        """Build the plan and run it through the manifest layer, as
        main.py does; returns (summary, start, end, call span id)."""
        t0 = time.time()
        if tracer is None:
            df = QUERIES[self.query](ctx.spark, ctx.data)
            summary = run_with_manifests(df, entity_col=self.entity_col,
                                         out_dir=out, n_buckets=N_BUCKETS)
            return summary, t0, time.time(), None
        with tracer.span(label):
            with tracer.span("plan"):
                df = QUERIES[self.query](ctx.spark, ctx.data)
            with tracer.span("lineage.run_with_manifests",
                             job_group=True) as call, \
                    tracer.calls(_lineage_calls(df)):
                summary = run_with_manifests(df, entity_col=self.entity_col,
                                             out_dir=out, n_buckets=N_BUCKETS)
        return summary, t0, time.time(), call

    def _buckets(self, tracer, call, start, out, summary) -> list[float]:
        """The bucket walls of one run; when tracing, bucket spans under
        the call, each holding the Spark calls made inside it."""
        ends = _bucket_ends(out, summary["completed"] + summary["failed"])
        if tracer is None:
            return _bucket_spans(None, None, start, ends)
        calls = tracer.children(call)
        walls = _bucket_spans(tracer, call, tracer.spans[call].start, ends)
        buckets = tracer.children(call)[len(calls):]
        for c in calls:
            bk = next((b for b in buckets if c.start <= b.end), buckets[-1])
            c.parent = bk.id
            # a manifest's mtime comes from the kernel's coarse clock, which
            # may read up to a tick before the last read-back returned
            c.end = min(c.end, bk.end)
        return walls

    def _check(self, ctx: Ctx, out: str) -> list[int]:
        """Buckets whose read-back output differs from the oracle rows of
        the entities that hash to them."""
        cols = ctx.oracles.columns[self.query]
        got = read_output(ctx.spark, out).select(*cols, "part_bucket").toArrow()
        part = got.column("part_bucket")
        have = {b: rows_canon(got.filter(pc.equal(part, b)), cols)
                for b in range(N_BUCKETS)}
        want: dict[int, list] = {b: [] for b in range(N_BUCKETS)}
        ent = sorted(cols).index(self.entity_col)
        memo: dict[str, int] = {}
        for row in ctx.oracles.expected[self.query]:
            e = row[ent]
            if e not in memo:
                memo[e] = xxh64_long(int(e), BUCKET_SEED) % N_BUCKETS
            want[memo[e]].append(row)
        return [b for b in range(N_BUCKETS) if have[b] != want[b]]

    def iteration(self, ctx: Ctx, tracer: Tracer | None = None) -> Result:
        out = ctx.fresh_dir("job")
        layers: dict = {}
        fresh, f0, f1, call = self._run(ctx, out, tracer, "lineage.job")
        walls = self._buckets(tracer, call, f0, out, fresh)
        if tracer is not None:
            layers["lineage.spark_jobs"] = len(
                group_jobs(tracer.sc, tracer.groups[-1]))
            # a bucket's self time is lineage's Python between Spark calls
            layers["trace.attributed_ratio"] = tracer.attributed(
                [tracer.spans[call].parent], MEASURED)
            layers["lineage.driver_s"] = sum(
                tracer.self_time(b.id) for b in tracer.children(call))

        lost = sorted(ctx.rng.sample(range(N_BUCKETS), N_LOST))
        for b in lost:
            # a failed bucket has a manifest but no output directory
            shutil.rmtree(os.path.join(out, f"part_bucket={b}"), ignore_errors=True)
            os.remove(os.path.join(out, MANIFEST_DIR, f"bucket_{b:05d}.json"))
        resume, r0, r1, rcall = self._run(ctx, out, tracer, "lineage.resume")
        rwalls = self._buckets(tracer, rcall, r0, out, resume)

        failed = {b for b, m in read_manifests(out).items()
                  if m.get("status") != "ok"}
        failed |= set(fresh["failed"]) | set(resume["failed"])
        failed |= set(self._check(ctx, out))
        written = _dir_bytes(out)
        shutil.rmtree(out)
        layers.update({
            "lineage.bucket_s_p50": statistics.median(walls),
            "lineage.bucket_s_max": max(walls),
            "lineage.bytes_written": written,
            "lineage.buckets_recomputed": len(resume["completed"]),
        })
        return Result(
            pass_s=(f1 - f0) + (r1 - r0),
            op_walls=walls + rwalls,
            out_rows=fresh["rows"],
            attempted=len(walls) + len(rwalls),
            failed=[f"bucket {b}" for b in sorted(failed)],
            extra={"job_s": f1 - f0, "resume_s": r1 - r0,
                   "rows_per_s": fresh["rows"] / (f1 - f0),
                   "lost_buckets": lost,
                   "resume_completed": resume["completed"]},
            layers=layers,
        )

    def trace_layers(self, ctx: Ctx, tracer: Tracer) -> dict:
        """The flagship's own layers in pipeline order, each materialized
        with a noop write, then its output written once without buckets."""
        from ficaria_spark.operators.temporal import pit_backfill

        sc = ctx.spark.sparkContext
        with tracer.span(f"{self.name}.layers"):
            grid = datagen.feature_grid(ctx.spark, ctx.data)
            scans = [_layer(tracer, "datagen.feature_grid", grid),
                     _layer(tracer, "datagen.tokenized_sequences",
                            datagen.tokenized_sequences(ctx.spark, ctx.data))]
            pit = _layer(tracer, "temporal.pit_backfill", pit_backfill(
                grid, "entity_id", "ts", ["f_value"], strict=True,
                tiebreak=["event_id"]))
            out = ctx.fresh_dir("single")
            with tracer.span("lineage.single_write", job_group=True):
                QUERIES[self.query](ctx.spark, ctx.data) \
                    .write.mode("overwrite").parquet(out)
            shutil.rmtree(out)
        return {
            "datagen.feature_grid_s": tracer.total("datagen.feature_grid"),
            "datagen.tokenized_sequences_s":
                tracer.total("datagen.tokenized_sequences"),
            "datagen.scan_rows": stage_totals(sc, scans)["scan_rows"],
            "temporal.pit_backfill_s": tracer.total("temporal.pit_backfill"),
            "temporal.shuffle_write_bytes":
                stage_totals(sc, [pit])["shuffle_write_bytes"],
            "lineage.single_write_s": tracer.total("lineage.single_write"),
        }


TOKENS_LAYERS = ("dedup.exact_dedup", "dedup.decontaminate",
                 "text.quality_score", "text.repetition_features",
                 "text.redact_pii", "sampling.stratified_sample",
                 "tokens.pack_sequences")


def tokens_layers(ctx: Ctx, tracer: Tracer) -> dict:
    """The pipeline_tokens layers in pipeline order, each materialized with
    a noop write; the composition follows the registered query."""
    from ficaria_spark.operators.dedup import decontaminate, exact_dedup
    from ficaria_spark.operators.sampling import stratified_sample
    from ficaria_spark.operators.text import (
        PII_PATTERNS, quality_score, redact_pii, repetition_features)
    from ficaria_spark.operators.tokens import pack_sequences
    from ficaria_spark.queries import _PACK_L, _REP_GATE

    spark, d = ctx.spark, ctx.data
    docs = datagen.load(spark, d, "documents")
    train = docs.where(F.col("doc_id") % 17 != 0)
    bench_docs = docs.where(F.col("doc_id") % 17 == 0)
    with tracer.span("pipeline_tokens.layers"):
        keep = exact_dedup(train)
        _layer(tracer, "dedup.exact_dedup", keep)
        flagged = decontaminate(train, bench_docs, k=3, min_shared=2)
        _layer(tracer, "dedup.decontaminate", flagged)
        qual = quality_score(train)
        _layer(tracer, "text.quality_score", qual)
        rep = repetition_features(train)
        _layer(tracer, "text.repetition_features", rep)
        pii = redact_pii(train, with_counts=True)
        _layer(tracer, "text.redact_pii", pii)
        counts = [f"pii_{kind}_count" for kind, _, _ in PII_PATTERNS]
        surv = (
            train.join(keep.select(F.col("keep_id").alias("doc_id")), "doc_id")
            .join(qual.where("quality_keep").select("doc_id"), "doc_id")
            .join(rep.where(F.col("dup_word_frac") <= _REP_GATE)
                  .select("doc_id"), "doc_id")
            .join(pii.where(sum(F.col(c) for c in counts) == 0)
                  .select("doc_id"), "doc_id")
            .join(flagged.select("doc_id"), "doc_id", "left_anti"))
        surv = stratified_sample(surv, {"src1": 0.75, "src2": 0.5},
                                 default_rate=0.25, key_col="doc_id",
                                 seed=3, method="md5")
        _layer(tracer, "sampling.stratified_sample", surv)
        seqs = datagen.tokenized_sequences(spark, d, widen=True) \
            .withColumnRenamed("doc_id", "doc_id_str")
        surv_seqs = (
            seqs.join(surv.select(F.col("doc_id").cast("string")
                                  .alias("doc_id_str")), "doc_id_str")
            .withColumnRenamed("doc_id_str", "doc_id"))
        _layer(tracer, "tokens.pack_sequences",
               pack_sequences(surv_seqs, context_len=_PACK_L))
    release_operator_caches()
    return {f"{n}_s": tracer.total(n) for n in TOKENS_LAYERS}


# -------------------------------------------------------- headline_suite

def _catalog():
    return {**QUERIES, **bench._bench_extra()}


class HeadlineSuite:
    name = "headline_suite"
    why = ("bench.py's 25 headline queries: impute, similarity, media, "
           "relational, sketches and the tokens pipeline; no manifest layer")

    def warm(self, ctx: Ctx) -> None:
        """bench.py's warm-up, three queries at a time: at sf0.001 each
        query is mostly scheduling latency, so overlapping them warms the
        same code in less wall time."""
        from concurrent.futures import ThreadPoolExecutor

        cat = _catalog()
        with ThreadPoolExecutor(3) as pool:
            list(pool.map(lambda n: cat[n](ctx.spark, ctx.warm_data).count(),
                          bench.HEADLINE))
        release_operator_caches()

    def oracle_sql(self, ctx: Ctx) -> dict[str, str]:
        return headline_oracle_sql(bench.HEADLINE, ctx.data,
                                   set(bench._bench_extra()))

    def iteration(self, ctx: Ctx, tracer: Tracer | None = None) -> Result:
        """One pass over the suite. The timed action of a query is
        ``toArrow()``: every column of every row is computed and returned,
        and the returned rows are the ones checked against the oracle."""
        cat = _catalog()
        walls: dict[str, float] = {}
        failed: list[str] = []
        rows = 0
        layers: dict = {}
        for n in bench.HEADLINE:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    tbl = cat[n](ctx.spark, ctx.data).toArrow()
                else:
                    with tracer.span(f"query.{n}"):
                        with tracer.span("plan"):
                            df = cat[n](ctx.spark, ctx.data)
                        with tracer.span("execute", job_group=True):
                            tbl = df.toArrow()
            except Exception as ex:  # a failing query is a failed operation
                failed.append(f"{n}: {type(ex).__name__}: {ex}"[:300])
                release_operator_caches()
                continue
            walls[n] = time.perf_counter() - t0
            release_operator_caches()
            rows += tbl.num_rows
            if n in ctx.oracles.expected and not ctx.oracles.matches(n, tbl):
                failed.append(f"{n}: output differs from the oracle")
        if tracer is not None:
            layers.update({f"query.{n}_s": w for n, w in walls.items()})
            q = {s.name[len("query."):]: s.id for s in tracer.spans
                 if s.name.startswith("query.")}
            # an imputer fits eagerly while its plan is built, and
            # transforms when the plan executes
            for n in ("impute_fcm_parameter", "impute_fcki_capped"):
                for c in tracer.children(q[n]) if n in q else []:
                    key = "impute.fit_s" if c.name == "plan" else "impute.transform_s"
                    layers[key] = layers.get(key, 0.0) + (c.end - c.start)
            layers["trace.attributed_ratio"] = tracer.attributed(
                list(q.values()), {"plan", "execute"})
        total = sum(walls.values())
        return Result(
            pass_s=total,
            op_walls=list(walls.values()),
            out_rows=rows,
            attempted=len(bench.HEADLINE),
            failed=failed,
            extra={"suite_s": total,
                   "query_p50_s": statistics.median(walls.values()),
                   "query_max_s": max(walls.values()),
                   "rows_per_s": rows / total,
                   "queries": walls},
            layers=layers,
        )

    def trace_layers(self, ctx: Ctx, tracer: Tracer) -> dict:
        return tokens_layers(ctx, tracer)


WORKLOADS = {w.name: w for w in (TemporalJob(), HeadlineSuite())}

# every traced run prints all of these; a layer a workload never calls
# reads 0 on it
LAYER_NAMES = (
    ["session.get_spark_s",
     "datagen.feature_grid_s", "datagen.tokenized_sequences_s",
     "datagen.scan_rows",
     "temporal.pit_backfill_s", "temporal.shuffle_write_bytes"]
    + [f"{n}_s" for n in TOKENS_LAYERS]
    + ["lineage.job_s", "lineage.resume_s", "lineage.single_write_s",
       "lineage.driver_s", "lineage.overhead_ratio",
       "lineage.bucket_s_p50", "lineage.bucket_s_max",
       "lineage.spark_jobs", "lineage.bytes_written",
       "lineage.buckets_recomputed",
       "impute.fit_s", "impute.transform_s"]
    + [f"query.{n}_s" for n in bench.HEADLINE]
    + ["spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
       "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.stages",
       "spark.tasks", "cache.live_persists_after", "process.peak_rss_mb",
       "trace.attributed_ratio", "trace.overhead_s"]
)


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"
