"""Spans, Spark REST readings and process-tree memory for the benchmark.

Everything here observes the engine from outside: spans wrap calls into the
engine's public functions (patched in place for the traced run only), and
Spark's own job, stage and SQL metrics come from the driver's REST API
(``{uiWebUrl}/api/v1/applications/<app>/...``).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import re
import time
import urllib.request

# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory span recorder: name, start, end, parent span, run id.

    Spans are plain dicts kept in a list and written out once, when the run
    ends.  ``enabled=False`` makes ``span`` a no-op so the untraced run pays
    nothing for the calls.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a finished span observed elsewhere (a Spark job from REST)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "run": self.run_id, "start": start, "end": end, **attrs}
            )

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (traced run only)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = label(*args, **kwargs) if label else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def named(self, prefix: str, within: tuple[float, float] | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"].startswith(prefix) and s["end"] is not None]
        if within:
            out = [s for s in out if s["start"] >= within[0] and s["end"] <= within[1]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def union_length(intervals, clip: tuple[float, float] | None = None) -> float:
    """Total length covered by (start, end) intervals, optionally clipped."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if clip:
            lo, hi = max(lo, clip[0]), min(hi, clip[1])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------------------
# Spark REST


def rest_time(s: str) -> float:
    """'2026-10-17T03:17:02.227GMT' -> epoch seconds."""
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string to seconds, bytes or a count.

    Forms: '36', '1,234', '11 ms', '1026.0 KiB', and for per-task metrics
    'total (min, med, max (stageId: taskId))\\n714 ms (124 ms, ...)'.
    """
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads the driver's REST API for one operation at a time."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def op_record(self, group: str, timeout: float = 30.0) -> dict:
        """Jobs, stages and SQL executions of one job group, once complete.

        Asserts the REST job ids equal ``statusTracker`` ids for the group, so
        a record dropped by the ``spark.ui.retained*`` limits cannot go
        unnoticed.
        """
        want = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self.get("jobs") if j.get("jobGroup") == group]
            got = {j["jobId"] for j in jobs}
            done = all(j["status"] != "RUNNING" for j in jobs)
            if got == want and done:
                break
            if time.time() > deadline:
                raise RuntimeError(
                    f"REST jobs for group {group} never matched statusTracker: "
                    f"rest={sorted(got)} tracker={sorted(want)}"
                )
            time.sleep(0.05)
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            stages.extend(a for a in self.get(f"stages/{sid}?details=false")
                          if a["status"] != "SKIPPED")
        execs = self._executions(got, deadline)
        return {"jobs": jobs, "stages": stages, "sql": execs}

    def _executions(self, job_ids: set, deadline: float) -> list[dict]:
        while True:
            new = self.get(
                f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
            )
            mine = [
                e for e in new
                if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            if all(e["status"] != "RUNNING" for e in mine) or time.time() > deadline:
                break
            time.sleep(0.05)
        if new and all(e["status"] != "RUNNING" for e in new):
            self._sql_seen += len(new)
        return mine

    def persisted(self) -> tuple[int, float]:
        """(persisted RDD count, MB held in memory + disk)."""
        rdds = self.get("storage/rdd")
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        return len(rdds), used / 2**20


# --------------------------------------------------------------------------
# process-tree memory (psutil-free)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak RSS) over a process and all its live descendants."""
    kids = _children()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    a process and all its live descendants."""
    total = 0
    for pid in [root or os.getpid(), *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def descendants(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root or os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out
