"""The benchmark's closed-loop workloads.

One client in the driver process issues operations back to back.  A *unit*
is what ``wall_s`` times: one memo-cleared pass over the queries (queries)
or one pipeline invocation on a fresh checkpoint root (pipeline; each unit
then re-invokes the job on the same root, timed apart as the resume).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from .checks import QueryChecker, check_joined
from .trace import host_steal_s, rest_time, tree_cpu_s

# A run may take at most 180 s and all of the benchmark's runs must finish
# in 3,420 s.  On a 4-vCPU host starting Spark costs ~10 s of every run, and
# a cold registered query costs seconds of driver planning and job
# scheduling whatever the data size (one pass over all 78 non-fixpoint
# queries: ~200 s).  So a pass runs one query per read-path module
# (layout's clustered write + covering join, polyjoin with its Arrow UDF,
# kNN, multimodal), then s2_dbscan (epsilon pairs + connected components)
# and its memo reader s2_cluster_stats.
READ_PATH_SAMPLE = ("s2_cap_join_clustered", "s2_pip_join", "s2_knn", "media_features")
FIXPOINT_SAMPLE = ("s2_dbscan", "s2_cluster_stats")
# Large enough that per-doc work is about 40% of a fresh run's wall; much
# smaller and fixed JIT and scheduling cost would hide write-path changes.
PIPELINE_DOCS = 500_000


@dataclass
class Op:
    unit: int
    name: str
    traced: bool
    start: float = 0.0
    end: float = 0.0
    build_s: float = 0.0
    action: tuple[float, float] = (0.0, 0.0)
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    output: object = None
    rest: dict | None = None
    span: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


@dataclass
class Unit:
    index: int
    traced: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Context:
    """What a workload needs: session, tracer, REST reader, paths, seed."""

    def __init__(self, spark, tracer, rest, root, work, seed, run_id, rss):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.rest = rest
        self.root = root
        self.work = work
        self.seed = seed
        self.run_id = run_id
        self.rss = rss  # callable sampling process-tree peak RSS
        self._n_groups = 0

    def group(self, desc: str) -> str:
        self._n_groups += 1
        gid = f"{self.run_id}-op{self._n_groups}"
        self.sc.setJobGroup(gid, desc)
        return gid

    def finish_op(self, op: Op, gid: str) -> None:
        self.sc.setJobGroup(f"{self.run_id}-idle", "between operations")
        if op.traced:
            op.rest = self.rest.op_record(gid)
            for j in op.rest["jobs"]:
                if j.get("completionTime"):
                    self.tracer.add("spark.job", rest_time(j["submissionTime"]),
                                    rest_time(j["completionTime"]), op.span,
                                    job_id=j["jobId"], job_name=j["name"])
        self.rss()


class _Meter:
    """Wall, CPU and host-steal seconds of one unit."""

    def __init__(self):
        self.t0, self.cpu0, self.steal0 = time.perf_counter(), tree_cpu_s(), host_steal_s()

    def stop(self, u: Unit) -> None:
        u.wall_s = time.perf_counter() - self.t0
        u.cpu_s = tree_cpu_s() - self.cpu0
        u.extra["host_steal_s"] = host_steal_s() - self.steal0


def persisted_count(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# --------------------------------------------------------------------------
# query workloads


class QueryWorkload:
    name = "queries"
    python_workers = True

    def __init__(self):
        from rust_s2_spark.engine.queries import QUERIES

        self.read_path = [q for q in QUERIES if q in READ_PATH_SAMPLE]
        self.fixpoint = [q for q in QUERIES if q in FIXPOINT_SAMPLE]
        self.queries = self.read_path + self.fixpoint
        self.sf_dir = None
        self.fns = None

    def prepare(self, ctx: Context, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        entry = importlib.import_module("__spark_entry__")
        self.fns = entry.queries()

    def order(self, seed: int, unit: int) -> list[str]:
        """The read-path queries in registry order for seed 0, otherwise in a
        seeded permutation per pass; then the fixpoint queries, always in
        registry order.  Those share nested memos (pairs, labels, the DBSCAN
        result), so their order changes how much work a pass does (26-32 s
        over the five of them on 4 vCPU), which would swamp the run-to-run
        spread."""
        first = list(self.read_path)
        if seed != 0:
            first = random.Random(f"{seed}:{unit}").sample(first, len(first))
        return first + self.fixpoint

    def unit(self, ctx: Context, index: int, traced: bool) -> Unit:
        from rust_s2_spark.engine.queries import clear_geo_cache

        u = Unit(index, traced)
        u.extra["persisted_before_clear"] = persisted_count(ctx.sc)
        meter = _Meter()
        with ctx.tracer.span("workload.queries", unit=index):
            clear_geo_cache()
            u.extra["persisted_after_clear"] = persisted_count(ctx.sc)
            for name in self.order(ctx.seed, index):
                u.ops.append(self._op(ctx, index, name, traced))
        meter.stop(u)
        if traced:
            u.extra["persisted_rdds"], u.extra["persisted_mb"] = ctx.rest.persisted()
        return u

    def _op(self, ctx: Context, index: int, name: str, traced: bool) -> Op:
        op = Op(index, name, traced)
        gid = ctx.group(f"queries:{name}")
        op.start = time.time()
        with ctx.tracer.span("op", query=name) as sp:
            op.span = sp.get("id")
            try:
                with ctx.tracer.span("build"):
                    df = self.fns[name](ctx.spark, self.sf_dir)
                a0 = time.time()
                op.build_s = a0 - op.start
                with ctx.tracer.span("action"):
                    op.output = df.toPandas()
                op.action = (a0, time.time())
            except Exception as e:  # one failed query must not end the run
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        op.end = time.time()
        ctx.finish_op(op, gid)
        return op

    def check(self, ctx: Context, units: list[Unit]) -> dict:
        checker = QueryChecker(ctx.root, self.sf_dir, os.path.join(ctx.work, "oracle-cache"))
        methods = {}
        for u in units:
            for op in u.ops:
                methods[op.name] = checker.method(op.name)
                if op.error is None:
                    try:
                        op.problems = checker.check(op.name, op.output)
                    except Exception as e:  # a broken reference is a failed check
                        op.problems = [f"check raised {type(e).__name__}: {e}"]
                op.output = None
        return {
            "methods": methods,
            "unchecked": sorted(q for q, m in methods.items() if m == "unchecked"),
        }


# --------------------------------------------------------------------------
# pipeline


class PipelineWorkload:
    name = "pipeline"
    python_workers = False

    def __init__(self, n_docs: int = PIPELINE_DOCS):
        self.n_docs = n_docs
        self.job = None

    def prepare(self, ctx: Context, sf_dir: str | None) -> None:
        spec = importlib.util.spec_from_file_location(
            "perfbench_spatial_join_job", os.path.join(ctx.root, "jobs", "spatial_join_job.py")
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def unit(self, ctx: Context, index: int, traced: bool) -> Unit:
        u = Unit(index, traced)
        root = self._root(ctx, index)
        argv = ["--n-docs", str(self.n_docs), "--checkpoint-root", root]
        with ctx.tracer.span("workload.pipeline", unit=index):
            meter = _Meter()
            fresh = self._invoke(ctx, index, "fresh", argv, traced)
            meter.stop(u)
            u.ops.append(fresh)
            if fresh.error is None:
                u.extra["ckpt_bytes"], u.extra["ckpt_files"] = _disk_usage(root)
                resume = self._invoke(ctx, index, "resume", argv, traced)
                if resume.error is None:
                    stages = resume.extra["report"]["stages"]
                    resume.problems += [
                        f"stage {s} recomputed on resume" for s, r in stages.items()
                        if not r["reused"]
                    ]
                u.ops.append(resume)
        return u

    @staticmethod
    def _root(ctx: Context, index: int) -> str:
        return os.path.join(ctx.work, "ckpt", f"{ctx.run_id}-{index}")

    def _invoke(self, ctx: Context, index: int, name: str, argv, traced: bool) -> Op:
        op = Op(index, name, traced)
        gid = ctx.group(f"pipeline:{name}")
        op.start = time.time()
        with ctx.tracer.span("op", invocation=name) as sp:
            op.span = sp.get("id")
            try:
                # the job prints its own JSON report; keep stdout for ours
                with contextlib.redirect_stdout(io.StringIO()):
                    op.extra["report"] = self.job.main(argv)
                if op.extra["report"].get("span_invariant") != "ok":
                    op.problems.append("span invariant not checked")
            except Exception as e:
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        op.end = time.time()
        ctx.finish_op(op, gid)
        return op

    def check(self, ctx: Context, units: list[Unit]) -> dict:
        """Brute-force check of each fresh run's ``joined`` checkpoint, made
        after the timed units so its memory is not in ``peak_rss_mb``."""
        for u in units:
            root = self._root(ctx, u.index)
            fresh = u.ops[0]
            if fresh.error is None:
                fresh.problems += check_joined(os.path.join(root, "joined"), self.n_docs)
            shutil.rmtree(root, ignore_errors=True)
        return {"methods": {"fresh": "numpy brute-force caps + span invariant",
                            "resume": "every stage reused"},
                "unchecked": []}


def _disk_usage(root: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def make(name: str):
    return PipelineWorkload() if name == "pipeline" else QueryWorkload()
