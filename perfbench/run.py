"""Repository benchmark: the shipped temporal job and the headline suite,
timed end to end on ``local[<nproc>]`` from one driver process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload temporal_job|headline_suite \
        --seed N --seconds S --trace 0|1

Inputs are bench.py's sf0.1 directory (``$SPARK_GRAFT_SF_DIR``) for seed 0
and a derived same-size copy for any other seed (see inputs.py). Set-up
starts the session, warms the JVM and Python workers on the sibling sf0.001
directory and computes the DuckDB oracle results. The measured loop then
repeats the workload's iteration until ``--seconds`` have passed (at least
once) and every output is checked against the oracle.

End-to-end metrics carry the same names on every workload:

* ``setup_s``: process start to a warm session with the oracle results
  ready (deriving a seed's inputs is not counted);
* ``pass_s``: one pass, which is the fresh job plus its resume for a manifest
  job and the summed query walls for the suite;
* ``op_gmean_s``: the geometric mean of the operation walls, where an
  operation is a bucket (ended by its manifest write) or a query. The
  suite's queries differ in cost, so their median jumps between whichever
  queries sit in the middle; every query weighs the same in the geometric
  mean;
* ``rows_per_s``: output rows over the fresh job's wall, or over the suite's;
* ``success_ratio``: operations that neither raised, nor were marked
  failed, nor differed from the oracle, over those attempted.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run materializes the workload's layers
one by one, then makes one traced pass; its tracing overhead is the time
that pass spent in the tracer's own bookkeeping. The line before it is the full record: run
context, calibration probes, per-iteration figures, failures and, when
traced, every span. Everything the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOAD_NAMES = ("temporal_job", "headline_suite")


def process_start() -> float:
    """Epoch time at which this process started."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f
                         if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, ValueError):
        return T_IMPORT


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 2**31:
        ap.error("--seed must be in [0, 2**31)")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and run on local[<nproc>] with the engine's own defaults."""
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={work / 'tmp'}").strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF"):
        os.environ.pop(var, None)


def code_version() -> dict:
    """The git commit when there is one, and always a hash of the sources,
    which also identifies a checkout that is not a git repository."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
        git = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        git = None
    h = hashlib.sha256()
    files = sorted([*REPO.glob("ficaria_spark/**/*.py"), REPO / "bench.py",
                    *HERE.glob("*.py")])
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return {"git_sha": git, "source_sha256": h.hexdigest()}


def probes() -> dict:
    import bench

    return {"cpu_probe_s": bench.calibration_probe(),
            "mem_probe_s": bench.memory_probe()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := descendants()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        time.sleep(0.1)


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    import bench
    from ficaria_spark.plans.cache import live_count, release_operator_caches
    from ficaria_spark.session import get_spark

    from inputs import Oracles, derive_inputs
    from tracing import RssSampler, Tracer, stage_totals
    from workloads import LAYER_NAMES, WORKLOADS, Ctx, layer_unit

    t_start = process_start()
    sf_dir = os.path.abspath(bench.SF_DIR)
    warm_dir = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    for d in (sf_dir, warm_dir):
        if not os.path.isdir(d):
            raise SystemExit(f"input directory {d} not found")
    wl = WORKLOADS[args.workload]

    t = time.time()
    data = derive_inputs(sf_dir, str(work / "data"), args.seed)
    derive_s = time.time() - t
    ctx = Ctx(spark=None, data=data, warm_data=warm_dir,
              work=os.environ["SPARK_LOCAL_DIRS"], rng=random.Random(args.seed))

    def oracles() -> Oracles:
        t = time.time()
        o = Oracles(data)
        for name, sql in wl.oracle_sql(ctx).items():
            o.add(name, sql)
        phases["oracle_s"] = time.time() - t
        return o

    phases: dict[str, float] = {"derive_s": derive_s}
    # DuckDB computes the oracle results beside the session start and the
    # Spark warm-up; all three are set-up
    pool = ThreadPoolExecutor(1)
    pending = pool.submit(oracles)
    t = time.time()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the traced run reads every job and stage back from the store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    phases["get_spark_s"] = get_spark_s = time.time() - t
    sc = spark.sparkContext
    try:
        ctx.spark = spark
        t = time.time()
        wl.warm(ctx)
        phases["warm_s"] = time.time() - t
        ctx.oracles = pending.result()
        pool.shutdown()
        release_operator_caches()
        setup_s = time.time() - t_start - derive_s

        probe_before = probes()
        iterations = []
        layers: dict = {}
        tracer = None
        with RssSampler() as rss:
            if not args.trace:
                t0 = time.perf_counter()
                iterations.append(wl.iteration(ctx))
                while time.perf_counter() - t0 < args.seconds:
                    iterations.append(wl.iteration(ctx))
            else:
                tracer = Tracer(spark)
                layers.update(wl.trace_layers(ctx, tracer))
                own = tracer.own_s
                with tracer.span(wl.name):
                    traced = wl.iteration(ctx, tracer)
                layers["trace.overhead_s"] = tracer.own_s - own
                iterations.append(traced)
                layers.update(traced.layers)
                layers.update({f"spark.{k}": v for k, v in
                               stage_totals(sc, tracer.groups).items()
                               if k != "scan_rows"})
                if "lineage.single_write_s" in layers:
                    job_s = traced.extra["job_s"]
                    layers["lineage.job_s"] = job_s
                    layers["lineage.resume_s"] = traced.extra["resume_s"]
                    layers["lineage.overhead_ratio"] = (
                        job_s / layers["lineage.single_write_s"])
            leaked = live_count()
        release_operator_caches()
        probe_after = probes()
        layers["session.get_spark_s"] = get_spark_s
        layers["cache.live_persists_after"] = leaked
        layers["process.peak_rss_mb"] = rss.peak

        med = statistics.median
        attempted = sum(r.attempted for r in iterations)
        failures = [f for r in iterations for f in r.failed]
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "pass_s": (med(r.pass_s for r in iterations), "s"),
            "op_gmean_s": (med(statistics.geometric_mean(r.op_walls)
                                for r in iterations), "s"),
            "rows_per_s": (med(r.extra["rows_per_s"] for r in iterations),
                           "rows/s"),
            "success_ratio": (1 - len(failures) / attempted, "ratio"),
        }
        if args.trace:
            metrics = {n: {"value": float(layers.get(n, 0.0)),
                           "unit": layer_unit(n)} for n in LAYER_NAMES}
        else:
            metrics = {n: {"value": float(v), "unit": u}
                       for n, (v, u) in end_to_end.items()}
        figure_keys = sorted({k for r in iterations for k in r.extra
                             if isinstance(r.extra[k], float)})
        record = {
            "workload": wl.name,
            "why": wl.why,
            "seed": args.seed,
            "trace": args.trace,
            "context": {
                **code_version(),
                "spark_version": spark.version,
                "nproc": len(os.sched_getaffinity(0)),
                "master": sc.master,
                "input_dir": sf_dir,
                "derived_input": data != sf_dir,
                "setup_phases": phases,
                "probes_before": probe_before,
                "probes_after": probe_after,
            },
            "samples": len(iterations),
            "workload_metrics": {**{k: med(r.extra[k] for r in iterations)
                                 for k in figure_keys},
                              "fail_ratio": len(failures) / attempted},
            "end_to_end": {n: v for n, (v, _) in end_to_end.items()},
            "layers": layers,
            "iterations": [{"pass_s": r.pass_s, "op_walls": r.op_walls,
                            "out_rows": r.out_rows, "extra": r.extra}
                           for r in iterations],
            "failures": failures,
            "leaked_persists": leaked,
            "spans": tracer.to_json() if tracer else [],
        }
        result = {"correct": not failures, "attempted": attempted,
                  "failed": len(failures), "metrics": metrics}
        return record, result
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd() / ".perfbench_work"
    work = root / f"run-{os.getpid()}"
    try:
        isolate(work)
        sys.path[:0] = [str(REPO), str(HERE)]
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            root.rmdir()
        except OSError:
            pass
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
