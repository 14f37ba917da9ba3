"""Spans around the engine's layers, recorded from the benchmark's side.

The tracer wraps public functions of the package (and the DataFrame actions
of pyspark) by patching every module attribute that holds the original
function object, so a call is traced whichever module it is looked up in
(``sinks.writers.append_table`` and ``api.append_table`` alike).  Each span
sets its own Spark job group ``pb<index>``; after the run the jobs and
stages of every group are read once from the driver's status store (the
UI's ``/api/v1`` endpoint), so Spark work is attributed to the innermost
span that fired it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import urllib.request

from perfbench.common import self_times

_GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs")

    def __init__(self, name, start, parent, attrs):
        self.name, self.start, self.end = name, start, start
        self.parent, self.attrs = parent, attrs


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, f"pb{idx}")
        sp = Span(name, time.perf_counter(), parent, attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, span_name: str, plan: bool = False):
        """Replace ``owner.attr`` (a module function or a class method)
        and every module-level alias of it with a span-recording wrapper.
        ``plan=True`` (DataFrame collect/toPandas) first forces physical
        planning inside its own timed step, so plan and execution split."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(span_name) as sp:
                if plan:
                    t0 = time.perf_counter()
                    physical = args[0]._jdf.queryExecution().executedPlan()
                    sp.attrs["plan_s"] = time.perf_counter() - t0
                    sp.attrs["plan_lines"] = physical.toString().count("\n") + 1
                return orig(*args, **kwargs)

        # a class method may be inherited: patch it on the class itself
        self._patches.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, wrapper)
        if isinstance(owner, type(sys)):
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or mod is owner or not mod_name.startswith(
                        ("clickhouse_flatfile_tool_spark", "perfbench")):
                    continue
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        self._patches.append((mod, name, orig))
                        setattr(mod, name, wrapper)

    def unpatch(self):
        for owner, name, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, name)
            else:
                setattr(owner, name, orig)
        self._patches.clear()

    # -- Spark status store ------------------------------------------------

    def _rest(self, path: str):
        # the UI listens on every interface; ask it over loopback
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def fetch_spark(self, timeout: float = 20.0):
        """Jobs (by group) and stage metrics, once the status store has
        caught up with every job the tracker knows."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout

        def traced_jobs():
            return [j for j in self._rest("jobs")
                    if (j.get("jobGroup") or "").startswith("pb")]

        jobs = traced_jobs()
        while time.monotonic() < deadline:
            time.sleep(0.5)
            again = traced_jobs()
            settled = not tracker.getActiveJobsIds() and all(
                j["status"] in ("SUCCEEDED", "FAILED") for j in again
            )
            if settled and len(again) == len(jobs):
                break
            jobs = again
        stages = {}
        for st in self._rest("stages"):
            key = st["stageId"]
            prev = stages.get(key)
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[key] = st
        by_group: dict[int, list] = {}
        for j in jobs:
            by_group.setdefault(int(j["jobGroup"][2:]), []).append(j)
        return by_group, stages

    # -- aggregation -------------------------------------------------------

    def summarize(self, cores: int) -> "TraceSummary":
        by_group, stages = self.fetch_spark()
        # a copy: spans recorded after this call are not summarized
        return TraceSummary(list(self.spans), by_group, stages, cores)


class _NullTracer:
    """Stands in for a tracer where none exists yet (set-up)."""

    @staticmethod
    def span(name, **attrs):
        return contextlib.nullcontext()


NULL_TRACER = _NullTracer()


_STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numCompleteTasks", 1),
    "tasks_failed": ("numFailedTasks", 1),
}


class TraceSummary:
    """Per-span derived figures: self time, own and inclusive jobs, and
    stage metrics summed over the inclusive jobs' stages."""

    def __init__(self, spans, by_group, stages, cores):
        self.spans, self.cores = spans, cores
        self.self_s = self_times([(s.start, s.end, s.parent) for s in spans])
        self.children = [[] for _ in spans]
        for i, s in enumerate(spans):
            if s.parent is not None:
                self.children[s.parent].append(i)
        self.own_jobs = [by_group.get(i, []) for i in range(len(spans))]
        self.stages = stages

    def descendants(self, i):
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            out.append(k)
            todo += self.children[k]
        return out

    def jobs(self, i):
        return [j for k in self.descendants(i) for j in self.own_jobs[k]]

    def stage_sum(self, jobs) -> dict:
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out["spill_bytes"] = 0.0
        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", []):
                st = self.stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                for k, (field, scale) in _STAGE_FIELDS.items():
                    out[k] += st.get(field, 0) * scale
                out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return out

    def named(self, name):
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def wall(self, i):
        s = self.spans[i]
        return s.end - s.start

    def final_actions(self, op):
        """Outermost action spans of an op that are not inside its build
        phase: the op's own result-producing work."""
        out = []
        todo = list(self.children[op])
        while todo:
            k = todo.pop()
            name = self.spans[k].name
            if name == "phase.build":
                continue
            if name.startswith("action."):
                out.append(k)
            else:
                todo += self.children[k]
        return out

    def engine(self, ops) -> dict:
        """spark.* figures per op: build = wall minus the final actions,
        plan/exec split inside the final actions, eager jobs = jobs fired
        outside the final actions."""
        n = max(1, len(ops))
        tot = {"build_s": 0.0, "plan_s": 0.0, "plan_lines": 0.0, "exec_s": 0.0,
               "eager_jobs": 0.0, "final_task_run_s": 0.0}
        all_jobs = []
        for op in ops:
            finals = self.final_actions(op)
            fwall = sum(self.wall(k) for k in finals)
            plan = sum(self.spans[k].attrs.get("plan_s", 0.0) for k in finals)
            tot["build_s"] += self.wall(op) - fwall
            tot["plan_s"] += plan
            tot["plan_lines"] += sum(self.spans[k].attrs.get("plan_lines", 0) for k in finals)
            tot["exec_s"] += fwall - plan
            final_jobs = [j for k in finals for j in self.jobs(k)]
            op_jobs = self.jobs(op)
            tot["eager_jobs"] += len(op_jobs) - len(final_jobs)
            tot["final_task_run_s"] += self.stage_sum(final_jobs)["task_run_s"]
            all_jobs += op_jobs
        stage = self.stage_sum(all_jobs)
        out = {f"spark.{k}": v / n for k, v in tot.items() if k != "final_task_run_s"}
        for k, v in stage.items():
            if k != "output_bytes":
                out[f"spark.{k}"] = v / n
        busy = tot["exec_s"] * self.cores
        out["spark.slot_busy_frac"] = tot["final_task_run_s"] / busy if busy else 0.0
        return out

    def per_call(self, name, scale=1.0) -> dict:
        """calls, mean inclusive and self wall (times ``scale``), and mean
        jobs / tasks / output bytes per call of the spans called ``name``."""
        idx = self.named(name)
        n = len(idx)
        if not n:
            return {"calls": 0, "wall": 0.0, "self": 0.0, "jobs": 0.0,
                    "tasks": 0.0, "output_bytes": 0.0}
        jobs = [self.jobs(i) for i in idx]
        stage = self.stage_sum([j for js in jobs for j in js])
        return {
            "calls": n,
            "wall": sum(self.wall(i) for i in idx) / n * scale,
            "self": sum(self.self_s[i] for i in idx) / n * scale,
            "jobs": sum(len(js) for js in jobs) / n,
            "tasks": stage["tasks"] / n,
            "output_bytes": stage["output_bytes"] / n,
        }
