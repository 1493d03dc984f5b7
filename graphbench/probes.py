"""What the benchmark reads about a run besides wall time.

- CPU seconds and peak RSS of the process tree, from ``/proc``;
- per-query Spark figures from the status store (jobs tagged with
  ``setJobGroup``);
- per-layer spans: the traced run wraps the public entry points of the
  engine's layers from here, so no engine file changes.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every process below it."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process tree, including children
    that have ended and been waited for."""
    total = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pid: int | None = None) -> float:
    """VmHWM of ``pid`` (default: this process) in MB."""
    with open(f"/proc/{pid or os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------- status store


class SparkStats:
    """Per-job-group figures from Spark's status store."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def group(self, group: str, timeout_s: float = 10.0) -> dict:
        """jobs, tasks, spark_s (union of the jobs' run intervals),
        shuffle_write_mb, result_mb, executor_cpu_s and gc_s of a group.
        Waits for the listener to record the end of every job."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [self.store.job(j) for j in self.job_ids(group)]
            if all(j.completionTime().isDefined() for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        spans, stages = [], set()
        for j in jobs:
            start = j.submissionTime().get().getTime()
            end = j.completionTime().get().getTime() if j.completionTime().isDefined() else start
            spans.append((start, end))
            stages.update(int(s) for s in str(j.stageIds().mkString(",")).split(",") if s)
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "spark_s": _union_ms(spans) / 1000.0,
            "shuffle_write_mb": 0.0,
            "result_mb": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
        }
        for s in stages:
            sd = self.store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["result_mb"] += sd.resultSize() / 2**20
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1000.0
        return out


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


# ---------------------------------------------------------------- layers


class LayerTrace:
    """Spans around the public entry points of the engine's layers.

    ``install`` replaces each entry point with a wrapper that records its
    wall time (and, for some, a count taken from its arguments or result);
    ``uninstall`` puts the originals back. Spans are kept in memory and
    summed per query by :meth:`take`.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, float, dict]] = []
        self.plans: list[str] = []
        self._saved: list[tuple[object, str, object]] = []

    def _group_jobs(self) -> int:
        g = self.sc.getLocalProperty("spark.jobGroup.id")
        return len(self.sc.statusTracker().getJobIdsForGroup(g)) if g else 0

    def _wrap(self, owner, attr: str, layer: str, extra=None, jobs: bool = False):
        orig = getattr(owner, attr)
        trace = self

        def wrapper(*a, **kw):
            j0 = trace._group_jobs() if jobs else 0
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            dt = time.perf_counter() - t0
            info = extra(a, kw, out) if extra else {}
            if jobs:
                info["jobs"] = trace._group_jobs() - j0
            trace.spans.append((layer, dt, info))
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import numpy as np

        from triangle_counting_spark.operators import components, labelprop, pagerank, triangles
        from triangle_counting_spark.plans import blocked, iterate, planner
        from triangle_counting_spark.sources import iceberg_format

        def plan(_a, _kw, out):
            self.plans.append(getattr(out, "strategy", out))
            return {}

        def shipped(a, kw, _out):
            arrays = kw.get("arrays", a[1] if len(a) > 1 else {})
            return {"mb": sum(np.asarray(x).nbytes for x in arrays.values()) / 2**20}

        self._wrap(planner, "choose_triangle_strategy", "planner", plan, jobs=True)
        self._wrap(planner, "choose_iterative_tier", "planner", plan, jobs=True)
        self._wrap(triangles.BroadcastCSRTriangles, "__init__", "triangles.build")
        self._wrap(triangles.BroadcastCSRTriangles, "count", "triangles.count")
        self._wrap(blocked, "build_blocked", "blocked.build")
        self._wrap(
            blocked, "blocked_rounds", "blocked.rounds", lambda a, kw, out: {"rounds": out[1]}
        )
        self._wrap(blocked, "_ship_arrays", "ship", shipped)
        # the operators bind plans.iterate.loop at import time
        for mod in (iterate, pagerank, components, labelprop):
            self._wrap(
                mod, "loop", "iterate.loop",
                lambda a, kw, out: {"rounds": out.iterations - out.resumed_from},
            )
        self._wrap(iceberg_format, "plan_scan", "sources.iceberg_plan")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def take(self) -> dict:
        """Per-layer totals of the spans recorded since the last call."""
        out: dict[str, float] = defaultdict(float)
        for layer, dt, info in self.spans:
            if layer == "planner":
                out["planner.calls"] += 1
                out["planner.jobs"] += info["jobs"]
                out["planner.s"] += dt
            elif layer == "ship":
                out["shipped_mb"] += info["mb"]
            elif layer in ("blocked.rounds", "iterate.loop"):
                base = layer.split(".")[0]
                out[f"{base}.rounds"] += info["rounds"]
                out[f"{base}.loop_s"] += dt
            else:
                out[f"{layer}_s"] += dt
        self.spans.clear()
        return dict(out)
