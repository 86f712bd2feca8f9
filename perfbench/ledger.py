"""Per-layer metrics of one traced unit (layer = engine module).

Inputs are the unit's operations (each with its REST record: jobs, stages,
SQL executions) and the tracer's spans.  Every metric is defined on every
workload; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import re

from .trace import metric_value, rest_time, union_length

MB = 2.0**20

# name -> unit, in the order they are reported
METRICS = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "queries.build_s": "s",
    "queries.driver_gap_s": "s",
    "queries.jobs": "count",
    "queries.memo_hits": "count",
    "queries.persisted_mb": "MB",
    "kernel.udf_run_s": "s",
    "kernel.udf_boot_s": "s",
    "kernel.udf_init_s": "s",
    "kernel.arrow_sent_mb": "MB",
    "kernel.arrow_received_mb": "MB",
    "kernel.udf_rows": "count",
    "kernel.covering_s": "s",
    "kernel.coverings": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "ingest.stage_s": "s",
    "ingest.invariant_s": "s",
    "ingest.resume_invariant_s": "s",
    "tiling.stage_s": "s",
    "join.stage_s": "s",
    "join.candidates": "count",
    "join.refine_yield": "ratio",
    "checkpoint.rollup_s": "s",
    "checkpoint.recount_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.files": "count",
    "checkpoint.resume_reuse_s": "s",
    "layout.clustered_write_s": "s",
    "cluster.cc_calls": "count",
    "cluster.cc_s": "s",
    "cluster.cc_jobs": "count",
    "trace.overhead_s": "s",
}

_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"
_RECOUNT_SITE = re.compile(r"checkpoint\.py:\d+")
_JOIN_NODE = re.compile(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)")


def _metrics(node) -> dict[str, float]:
    return {m["name"]: metric_value(m["value"]) for m in node.get("metrics", [])}


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def unit_metrics(unit, tracer, setup: dict) -> dict[str, float]:
    out = {k: 0.0 for k in METRICS}
    out["session.start_s"] = setup["session_start_s"]
    out["session.worker_warm_s"] = setup["worker_warm_s"]
    window = (min(o.start for o in unit.ops), max(o.end for o in unit.ops))
    jobs = [j for o in unit.ops for j in o.rest["jobs"]]
    stages = [s for o in unit.ops for s in o.rest["stages"]]

    # queries layer (query workloads: one op per query)
    if unit.extra.get("persisted_mb") is not None:
        out["queries.persisted_mb"] = unit.extra["persisted_mb"]
    memo_hits = []
    for o in unit.ops:
        if o.name in ("fresh", "resume"):
            continue
        out["queries.jobs"] += len(o.rest["jobs"])
        out["queries.build_s"] += o.build_s
        a0, a1 = o.action
        if a1 > a0:
            spans = [(rest_time(j["submissionTime"]), rest_time(j["completionTime"]))
                     for j in o.rest["jobs"] if j.get("completionTime")]
            out["queries.driver_gap_s"] += (a1 - a0) - union_length(spans, (a0, a1))
        # memo hit: the action's own SQL executions read only persisted data
        action_jobs = {j["jobId"] for j in o.rest["jobs"]
                       if a0 - 0.002 <= rest_time(j["submissionTime"]) <= a1 + 0.002}
        nodes = [n for e in o.rest["sql"] if action_jobs & set(e["successJobIds"])
                 for n in e["nodes"]]
        scanned = sum(_metrics(n).get("size of files read", 0.0)
                      for n in nodes if n["nodeName"].startswith("Scan"))
        if any(n["nodeName"] == "InMemoryTableScan" for n in nodes) and scanned == 0:
            memo_hits.append(o.name)
    out["queries.memo_hits"] = float(len(memo_hits))
    unit.extra["memo_hit_queries"] = memo_hits

    # kernel layer: Arrow/pandas exec nodes, driver-side coverings
    for o in unit.ops:
        for e in o.rest["sql"]:
            for n in e["nodes"]:
                m = _metrics(n)
                if _PY_RUN not in m:
                    continue
                out["kernel.udf_run_s"] += m[_PY_RUN]
                out["kernel.udf_boot_s"] += m.get(_PY_BOOT, 0.0)
                out["kernel.udf_init_s"] += m.get(_PY_INIT, 0.0)
                out["kernel.arrow_sent_mb"] += m.get(_PY_SENT, 0.0) / MB
                out["kernel.arrow_received_mb"] += m.get(_PY_RECV, 0.0) / MB
                out["kernel.udf_rows"] += m.get(_ROWS, 0.0)
    cov = tracer.named("kernel.covering", window)
    out["kernel.covering_s"] = _dur(cov)
    out["kernel.coverings"] = float(len(cov))

    # spark layer: REST /stages sums
    for s in stages:
        out["spark.executor_run_s"] += s["executorRunTime"] / 1e3
        out["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
        out["spark.gc_s"] += s["jvmGcTime"] / 1e3
        out["spark.tasks"] += s["numTasks"]
        out["spark.stages"] += 1
        out["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / MB
        out["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
        out["spark.shuffle_fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        out["spark.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
        out["spark.input_mb"] += s["inputBytes"] / MB

    # pipeline layers: stage materializations of the fresh and resumed runs
    fresh = next((o for o in unit.ops if o.name == "fresh"), None)
    resume = next((o for o in unit.ops if o.name == "resume"), None)
    if fresh is not None:
        fw = (fresh.start, fresh.end)
        mat = {s["stage"]: s for s in tracer.named("checkpoint.materialize", fw)}
        for stage, key in (("ingest", "ingest.stage_s"), ("geo", "tiling.stage_s"),
                           ("joined", "join.stage_s"), ("rollup", "checkpoint.rollup_s")):
            if stage in mat:
                out[key] = mat[stage]["end"] - mat[stage]["start"]
        out["ingest.invariant_s"] = _dur(tracer.named("ingest.invariant", fw))
        out["checkpoint.recount_s"] = sum(
            rest_time(j["completionTime"]) - rest_time(j["submissionTime"])
            for j in fresh.rest["jobs"]
            if j.get("completionTime") and _RECOUNT_SITE.search(j["name"])
        )
        out["checkpoint.write_mb"] = sum(s["outputBytes"] for s in fresh.rest["stages"]) / MB
        out["checkpoint.files"] = float(unit.extra.get("ckpt_files", 0))
        if "joined" in mat:
            # refined rows are set by the data, not by the engine: recorded,
            # not reported
            cand, refined = _refine_counts(fresh, mat["joined"])
            out["join.candidates"] = cand
            unit.extra["join_refined_rows"] = refined
            out["join.refine_yield"] = refined / cand if cand else 0.0
    if resume is not None:
        rw = (resume.start, resume.end)
        out["ingest.resume_invariant_s"] = _dur(tracer.named("ingest.invariant", rw))
        out["checkpoint.resume_reuse_s"] = _dur(tracer.named("checkpoint.materialize", rw))

    out["layout.clustered_write_s"] = _dur(tracer.named("layout.write_clustered", window))
    cc = tracer.named("cluster.connected_components", window)
    out["cluster.cc_calls"] = float(len(cc))
    out["cluster.cc_s"] = _dur(cc)
    out["cluster.cc_jobs"] = float(sum(
        1 for j in jobs
        if any(s["start"] <= rest_time(j["submissionTime"]) <= s["end"] for s in cc)
    ))
    return out


def _refine_counts(op, span) -> tuple[float, float]:
    """(covering-join candidate rows, refined rows) of the ``joined`` stage.

    The chord refine is a condition on the region broadcast join, the
    topmost join of the stage's plan, so refined rows are that join's output
    and the candidates are the rows its streamed side (the covering
    equi-join) produced."""
    jobs = {j["jobId"] for j in op.rest["jobs"]
            if span["start"] - 0.002 <= rest_time(j["submissionTime"]) <= span["end"] + 0.002}
    cand = refined = 0.0
    for e in op.rest["sql"]:
        if not jobs & set(e["successJobIds"]):
            continue
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        children: dict[int, list[int]] = {}
        parent: dict[int, int] = {}
        for edge in e.get("edges", []):
            children.setdefault(edge["toId"], []).append(edge["fromId"])
            parent[edge["fromId"]] = edge["toId"]
        joins = {nid for nid, n in nodes.items() if _JOIN_NODE.match(n["nodeName"])}
        for nid in joins:
            up = parent.get(nid)
            while up is not None and up not in joins:
                up = parent.get(up)
            if up is not None:
                continue  # not the topmost join
            refined += _metrics(nodes[nid]).get(_ROWS, 0.0)
            cand += sum(_metrics(nodes[c]).get(_ROWS, 0.0)
                        for c in _row_sources(nid, nodes, children))
    return cand, refined


def _row_sources(node_id: int, nodes: dict, children: dict) -> list[int]:
    """Nearest descendants on the streamed side that report output rows
    (the broadcast build side is not followed)."""
    out, todo = [], list(children.get(node_id, []))
    while todo:
        nid = todo.pop()
        name = nodes[nid]["nodeName"]
        if name == "BroadcastExchange":
            continue
        if _ROWS in _metrics(nodes[nid]):
            out.append(nid)
        else:
            todo.extend(children.get(nid, []))
    return out
