"""Same-host benchmark of the spark-s2 engine: one command, two workloads.

    python3 perfbench/run.py --workload {pipeline,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One driver process with one client runs
the workload's units back to back on ``local[<nproc>]`` for ``--seconds``
(always at least one unit), checks every output against a reference that
does not share the engine's code path, prints each end-to-end metric by name
with its unit and sample count, and ends stdout with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured in a child process;
if the hypervisor took more than STEAL_LIMIT of the machine's CPU time
during the child's units, one more child measures again and the less
disturbed one is reported.  ``--trace 1`` runs traced units (spans around
calls into each engine module plus Spark's REST metrics read after every
operation) and reports the per-layer metrics of ``perfbench/README.md``,
including ``trace.overhead_s``.  Each measurement writes a new record (and,
traced, its spans) under ``.bench_work/records/``; none is ever overwritten.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "queries")
DATA_SEED = 42  # the query tables are fixed; --seed orders the queries
DATA_SCALE = 0.003
SEED_EFFECT = {
    "pipeline": "none: the job takes no seed; its synthetic docs are a pure "
                "function of the doc index",
    "queries": "seed 0 runs the read-path queries in registry order, other seeds "
               "permute them inside each pass; the fixpoint queries follow in "
               "registry order",
}
# Steal (/proc/stat) above this share of the machine's CPU time during the
# timed units means another tenant slowed the run: it is measured once more,
# if that can still finish well inside the 180 s a run may take.  A second
# measurement doubles the run's cost, and the host's own load brings a few
# percent of steal, so only a heavily disturbed run is measured again.
STEAL_LIMIT = 0.15
RETRY_BEFORE_S = 80.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--attempt", type=int, default=0, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Launch settings; must be in place before the JVM starts.

    Python workers inherit PYTHONPATH, so they import rust_s2_spark from this
    checkout whatever the driver's cwd; every scratch file Spark, the JVM or
    Python writes goes under ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_TMP"] = os.path.join(work, "tmp")  # clustered-scan copies
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_PYFILES", None)
    tmp = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)  # derby.log, metastore_db, spark-warehouse land here


def worker_guard(spark) -> tuple[float, str]:
    """First pandas-UDF action: warms one Python worker per core and asserts
    each imports rust_s2_spark from this checkout."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def where(x):
        import rust_s2_spark

        return pd.Series([os.path.dirname(os.path.dirname(rust_s2_spark.__file__))] * len(x))

    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    roots = {r[0] for r in spark.range(0, 4 * n, 1, n).select(
        pandas_udf(where, "string")(F.col("id"))).collect()}
    dt = time.perf_counter() - t0
    if roots != {ROOT}:
        raise RuntimeError(f"Python workers import rust_s2_spark from {roots}, not {ROOT}")
    return dt, ROOT


def source_digest(subdirs=("rust_s2_spark", "jobs")) -> str:
    h = hashlib.sha256()
    for sub in subdirs:
        for d, _, names in sorted(os.walk(os.path.join(ROOT, sub))):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as fh:
                        h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem = next(line.split()[1] for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": int(mem),
            "machine": platform.machine(), "python": platform.python_version()}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least 10 samples
    beyond it, never below the median (so with 20 or fewer samples it is the
    median)."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def workload_key(workload: str, wl) -> dict:
    """What must match for two runs' unit walls to be comparable."""
    return {"workload": workload, "engine_source_sha256": source_digest(),
            "benchmark_source_sha256": source_digest(("perfbench",)),
            "n_docs": getattr(wl, "n_docs", None)}


def untraced_walls(work: str, workload: str, wl) -> list[float]:
    """First-unit walls of this checkout's earlier untraced runs of the same
    workload, code and inputs."""
    key = workload_key(workload, wl)
    rec_dir = os.path.join(work, "records")
    walls = []
    for name in sorted(os.listdir(rec_dir)) if os.path.isdir(rec_dir) else []:
        if not name.endswith("-trace0.json"):
            continue
        try:
            with open(os.path.join(rec_dir, name)) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        if rec.get("key") == key and rec.get("failed") == 0 and rec.get("units"):
            walls.append(rec["units"][0]["wall_s"])
    return walls


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rust_s2_spark")) or not os.path.isfile(
        os.path.join(ROOT, "jobs", "spatial_join_job.py")
    ):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.trace or args.attempt:
        return measure(args)
    return supervise(args)


def supervise(args) -> int:
    """Measure in a child process; once more if the host stole CPU time."""
    argv = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    t0 = time.monotonic()
    best, notes = None, []
    for attempt in (1, 2):
        child = subprocess.run([*argv, "--attempt", str(attempt)], stdout=subprocess.PIPE,
                               text=True, cwd=ROOT)
        if child.returncode != 0:
            sys.stdout.write(child.stdout)
            return child.returncode
        steal = next(float(line.split()[1]) for line in child.stdout.splitlines()
                     if line.startswith("host_steal_frac "))
        if best is None or steal < best[0]:
            best = (steal, child.stdout)
        if steal <= STEAL_LIMIT or time.monotonic() - t0 > RETRY_BEFORE_S:
            break
        notes.append(f"attempt {attempt}: host steal took {steal:.1%} of CPU time "
                     f"(limit {STEAL_LIMIT:.0%}); measuring again")
    for note in notes:
        print(note)
    sys.stdout.write(best[1])
    return 0


def measure(args) -> int:
    work = os.path.join(ROOT, ".bench_work")
    configure_env(work)
    sys.path.insert(0, ROOT)

    from perfbench import datagen, ledger, workloads
    from perfbench.trace import SparkRest, Tracer, tree_hwm_mb

    run_id = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    traced_run = bool(args.trace)
    tracer = Tracer(run_id, enabled=False)
    peak = [0.0]

    def rss():
        peak[0] = max(peak[0], tree_hwm_mb())

    wl = workloads.make(args.workload)
    sf_dir = None
    if args.workload != "pipeline":
        sf_dir = datagen.ensure(os.path.join(work, "data"), DATA_SEED, DATA_SCALE)

    from rust_s2_spark.engine.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    try:
        # The pipeline is a pure JVM plan that never starts a Python worker,
        # so warming and checking workers there would only add to set-up.
        worker_warm_s, worker_root = 0.0, "no Python workers start in this workload"
        if wl.python_workers:
            worker_warm_s, worker_root = worker_guard(spark)
        ctx = workloads.Context(spark, tracer, SparkRest(spark.sparkContext), ROOT, work,
                                args.seed, run_id, rss)
        wl.prepare(ctx, sf_dir)
        rss()
        setup_s = time.monotonic() - T0

        # trace.overhead_s compares traced units with untraced ones of the
        # same code and inputs: earlier --trace 0 records of this checkout
        # when there are any (their first unit is as cold as ours), else one
        # untraced unit run here first
        reference = untraced_walls(work, args.workload, wl) if traced_run else []
        units = []
        body0 = time.monotonic()
        while True:
            traced = traced_run and (len(units) > 0 or bool(reference))
            if traced and not tracer.enabled:
                tracer.enabled = True
                _install_spans(tracer)
            units.append(wl.unit(ctx, len(units), traced))
            done = time.monotonic() - body0 >= args.seconds
            if done and (not traced_run or any(u.traced for u in units)):
                break
        tracer.unwrap_all()
        checks = wl.check(ctx, units)
        conf = spark.sparkContext.getConf()
        spark_conf = {k: conf.get(k) for k in (
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.driver.memory")}
    finally:
        stop_spark(spark)

    ops = [o for u in units for o in u.ops]
    attempted, failed = len(ops), sum(o.failed for o in ops)
    setup = {"session_start_s": session_start_s, "worker_warm_s": worker_warm_s}
    if traced_run:
        reference = reference or [u.wall_s for u in units if not u.traced]
        per_unit = [ledger.unit_metrics(u, tracer, setup) for u in units if u.traced]
        metrics = {k: statistics.median(m[k] for m in per_unit) for k in ledger.METRICS}
        metrics["trace.overhead_s"] = (
            statistics.median(u.wall_s for u in units if u.traced)
            - statistics.median(reference)
        )
        report = {k: (v, ledger.METRICS[k], len(per_unit)) for k, v in metrics.items()}
        extras = {}
    else:
        report, extras = end_to_end(
            args.workload, wl, units, setup_s, peak[0], attempted, failed)

    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempt": args.attempt,
        "key": workload_key(args.workload, wl),
        "host": host_info(),
        "spark_conf": spark_conf,
        "git_commit": git_commit(),
        "engine_source_sha256": source_digest(),
        "worker_import_root": worker_root,
        "dataset": None if sf_dir is None else {
            "dir": os.path.relpath(sf_dir, ROOT), "generator_seed": DATA_SEED,
            "scale": DATA_SCALE},
        "seed_effect": SEED_EFFECT[args.workload],
        "queries": getattr(wl, "queries", None),
        "checks": checks,
        "untraced_reference_walls": reference if traced_run else None,
        "setup": {**setup, "setup_s": setup_s},
        "units": [
            {"index": u.index, "traced": u.traced, "wall_s": u.wall_s, "cpu_s": u.cpu_s,
             **u.extra,
             "ops": [{"name": o.name, "latency_s": o.latency, "build_s": o.build_s,
                      "error": o.error, "problems": o.problems,
                      "jobs": None if o.rest is None else len(o.rest["jobs"])}
                     for o in u.ops]}
            for u in units
        ],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit, "samples": n}
                    for k, (v, unit, n) in {**report, **extras}.items()},
    }
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, f"{run_id}-{args.workload}-seed{args.seed}-trace{args.trace}")
    if traced_run:
        tracer.write(stem + ".spans.jsonl")
        record["spans"] = os.path.relpath(stem + ".spans.jsonl", ROOT)
    with open(stem + ".json", "x") as fh:
        json.dump(record, fh, indent=1)

    for k, (v, unit, n) in {**report, **extras}.items():
        print(f"{k:<28} {v:>14.6g} {unit:<8} n={n}")
    for o in ops:
        if o.failed:
            print(f"FAILED {o.name}: {o.error or '; '.join(o.problems)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit, _) in report.items()},
    }))
    return 0


def _install_spans(tracer) -> None:
    """Wrap the engine's public layer entry points with spans (traced run)."""
    from rust_s2_spark.engine import checkpoint, cluster, ingest, layout
    from rust_s2_spark.kernel import covering

    tracer.wrap(cluster, "connected_components", "cluster.connected_components")
    tracer.wrap(layout, "write_clustered", "layout.write_clustered")
    tracer.wrap(covering.RegionCoverer, "covering", "kernel.covering")
    tracer.wrap(ingest, "assert_span_invariant", "ingest.invariant")
    tracer.wrap(checkpoint.CheckpointManager, "materialize", "checkpoint.materialize",
                label=lambda self, name, *a, **k: {"stage": name})


def end_to_end(workload, wl, units, setup_s, peak_mb, attempted, failed):
    """(metrics, extras), each name -> (value, unit, samples).

    ``metrics`` are BENCHMARK.json's end-to-end metrics: defined, never 0,
    and steady across seeds on every workload.  ``extras`` are printed and
    recorded too: they are 0 (failed_frac), exist on one kind of workload
    only, or move with the seed (query latencies depend on which query pays
    for a shared memo)."""
    walls = [u.wall_s for u in units]
    cpus = [u.cpu_s for u in units]
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (statistics.median(walls), "s", len(walls)),
        "peak_rss_mb": (peak_mb, "MB", 1),
    }
    ncpu = len(os.sched_getaffinity(0))
    extras = {
        "cpu_s": (statistics.median(cpus), "s", len(cpus)),
        "host_steal_frac": (max(u.extra["host_steal_s"] / (u.wall_s * ncpu) for u in units),
                            "ratio", len(units)),
        "failed_frac": (failed / attempted, "ratio", attempted),
    }
    if workload == "pipeline":
        n = wl.n_docs
        resume = [o.latency for u in units for o in u.ops if o.name == "resume"]
        ckpt = [u.extra["ckpt_bytes"] for u in units if "ckpt_bytes" in u.extra]
        extras["docs_per_s"] = (n / statistics.median(walls), "docs/s", len(walls))
        if resume:
            extras["resume_s"] = (statistics.median(resume), "s", len(resume))
        if ckpt:
            extras["ckpt_bytes_per_doc"] = (statistics.median(ckpt) / n, "B/doc", len(ckpt))
    else:
        lat = [o.latency for u in units for o in u.ops]
        value, pct = tail(lat)
        extras["query_p50_s"] = (statistics.median(lat), "s", len(lat))
        extras[f"query_tail_s@p{pct:.0f}"] = (value, "s", len(lat))
        # the two halves of a pass, so neither swamps nor hides the other
        for part, names in (("read_path_s", wl.read_path), ("fixpoint_s", wl.fixpoint)):
            sums = [sum(o.latency for o in u.ops if o.name in names) for u in units]
            extras[part] = (statistics.median(sums), "s", len(sums))
    return metrics, extras


if __name__ == "__main__":
    sys.exit(main())
