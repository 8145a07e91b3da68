"""In-memory spans around calls into the engine's layers, with Spark job
and stage counters attached from the driver's status store.

The benchmark installs the wrappers from outside the program (it patches
public module attributes for the length of a traced run), so the engine
itself carries no tracing code. Each span that may launch Spark jobs runs
under its own job group; after an operation completes, ``resolve()`` looks
the group's jobs up in ``SparkContext.statusStore()`` (this works with
``spark.ui.enabled=false``). A job is attributed to the innermost span
whose group was active when it was submitted.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "driver_gap_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "gc_ms",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._pending: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, jobs: bool = True) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else sid,
            "group": f"perfbench-{sid}" if jobs else None,
            "start": time.time(),
            "end": None,
            "attrs": {},
        }
        self._push(rec)
        return rec

    def _push(self, rec: dict) -> None:
        stack = self._stack()
        if rec["group"] is not None:
            rec["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], rec["name"])
        stack.append(rec)

    def _pop(self, rec: dict) -> None:
        stack = self._stack()
        stack.remove(rec)
        if rec["group"] is not None:
            prev = rec.pop("_prev_group", None)
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def end(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = time.time()
        self._pop(rec)
        with self._lock:
            self.spans.append(rec)
            if rec["group"] is not None:
                self._pending.append(rec)

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        rec = self.begin(name, jobs)
        try:
            yield rec
        finally:
            self.end(rec)

    # ------------------------------------------------------- wrappers
    def _patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, on_result=None):
        """Time every call of ``owner.attr`` as a span ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            rec = tracer.begin(name, jobs)
            try:
                out = fn(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out
            finally:
                tracer.end(rec)

        self._patch(owner, attr, wrapper)

    def wrap_lazy(self, owner, attr: str, name: str) -> None:
        """Time a call that returns a DataFrame together with that
        DataFrame's ``collect()``, where its Spark jobs actually run."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            rec = tracer.begin(name)
            if rec is None:
                return fn(*args, **kwargs)
            try:
                df = fn(*args, **kwargs)
            except BaseException:
                tracer.end(rec)
                raise
            tracer._pop(rec)
            collect = df.collect

            def traced_collect():
                tracer._push(rec)
                try:
                    return collect()
                finally:
                    tracer.end(rec)

            df.collect = traced_collect
            return df

        self._patch(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------- spark counters
    def resolve(self) -> None:
        """Attach the Spark jobs and stages of every finished span."""
        with self._lock:
            todo, self._pending = self._pending, []
        if not todo:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in todo:
            intervals, stages = [], {}
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                ids = job.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in stages:
                        continue
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    stages[sid] = (
                        st.numTasks(),
                        st.executorRunTime(),
                        st.executorCpuTime() / 1e6,
                        st.inputBytes(),
                        st.shuffleReadBytes() + st.shuffleWriteBytes(),
                        st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        st.jvmGcTime(),
                    )
            cols = list(zip(*stages.values())) or [()] * 7
            rec["spark"] = {
                "jobs": len(intervals),
                "stages": len(stages),
                "tasks": sum(cols[0]),
                "job_ms": 1e3 * _union(intervals),
                "executor_run_ms": sum(cols[1]),
                "executor_cpu_ms": sum(cols[2]),
                "input_bytes": sum(cols[3]),
                "shuffle_bytes": sum(cols[4]),
                "spill_bytes": sum(cols[5]),
                "gc_ms": sum(cols[6]),
                "job_intervals": intervals,
            }


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def summarize(spans: list[dict]) -> dict:
    """Per span name: median over the requests that reached it of the
    per-request wall ms, self ms and inclusive Spark counters.

    Self time is a span's wall time minus the part of it covered by its
    child spans. Spark counters are inclusive: a span's own jobs plus those
    of its descendants; ``driver_gap_ms`` is the span's wall time minus the
    union of all those job intervals.
    """
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    per_req: dict[str, dict[int, dict]] = {}
    for s in spans:
        wall = s["end"] - s["start"]
        kids = _clip(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])],
            s["start"],
            s["end"],
        )
        acc = per_req.setdefault(s["name"], {}).setdefault(
            s["request"], {"wall_ms": 0.0, "self_ms": 0.0, "calls": 0}
        )
        acc["wall_ms"] += 1e3 * wall
        acc["self_ms"] += 1e3 * (wall - _union(kids))
        acc["calls"] += 1
        tree = [t for t in subtree(s) if "spark" in t]
        if tree:
            jobs = [iv for t in tree for iv in t["spark"]["job_intervals"]]
            sp = acc.setdefault("spark", dict.fromkeys(SPARK_COUNTERS, 0.0))
            for key in SPARK_COUNTERS:
                if key != "driver_gap_ms":
                    sp[key] += sum(t["spark"][key] for t in tree)
            sp["driver_gap_ms"] += 1e3 * (
                wall - _union(_clip(jobs, s["start"], s["end"]))
            )
        for k, v in s["attrs"].items():
            acc.setdefault("attrs", {}).setdefault(k, []).append(v)

    out = {}
    for name, reqs in per_req.items():
        vals = list(reqs.values())
        row = {
            "requests": len(vals),
            "calls_per_request": statistics.median(v["calls"] for v in vals),
            "wall_ms": statistics.median(v["wall_ms"] for v in vals),
            "self_ms": statistics.median(v["self_ms"] for v in vals),
        }
        with_spark = [v["spark"] for v in vals if "spark" in v]
        if with_spark:
            row["spark"] = {
                k: statistics.median(sp[k] for sp in with_spark)
                for k in SPARK_COUNTERS
            }
        attrs = {}
        for v in vals:
            for k, xs in v.get("attrs", {}).items():
                attrs.setdefault(k, []).extend(xs)
        if attrs:
            row["attrs"] = {k: statistics.fmean(xs) for k, xs in attrs.items()}
        out[name] = row
    return out
