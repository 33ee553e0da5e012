"""Layer spans for the traced run.

``Tracer.wrap(module, name, layer)`` replaces ``module.name`` with a
wrapper that opens a span named ``layer``: it records the wall time
spent inside the call and tags every Spark job started from then on
with ``sc.setJobGroup(layer)``. By default the group stays in place
when the call returns, so the jobs a lazy layer's DataFrame triggers
later (``clean`` → ``count()``, ``knn_predict`` → the evaluation that
collects it) land on the layer that built the plan, until another
layer is entered. ``mode="own"`` restores the caller's group on
return (a plan builder nested in a layer that runs the plan itself);
``mode="wall"`` records time only (an evaluator whose jobs are the
inference of the model layer before it). Jobs submitted from threads
that do not inherit the group (``k_sweep`` fits its candidates on a
thread pool) go to the innermost span open when they were submitted.

Per-stage counts come from Spark's own status store (populated with
the UI disabled), read after each operation so no job ages out of it.
"""

from __future__ import annotations

import time
from collections import defaultdict

COUNTS = (
    "wall_s", "jobs", "stages", "tasks", "failed_tasks", "task_run_s",
    "task_cpu_s", "input_mb", "output_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "job_s",
)
_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.slots = slots
        self.enabled = False
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTS, 0.0)
        )
        self._group: str | None = None
        self._open: list[list] = []  # [layer, start_ms, end_ms | None]
        self._closed: list[tuple[str, float, float]] = []
        self._layers: set[str] = set()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []
        self._jvm_store = self.sc._jsc.sc().statusStore()

    # -- spans -----------------------------------------------------------
    def wrap(self, module, name: str, layer: str, mode: str = "sticky") -> None:
        original = getattr(module, name)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            return tracer.span(layer, original, *args, mode=mode, **kwargs)

        traced.__wrapped__ = original
        self._layers.add(layer)
        setattr(module, name, traced)
        self._patched.append((module, name, original))

    def _set_group(self, layer: str | None) -> None:
        if layer == self._group:
            return
        if layer is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(layer, layer)
        self._group = layer

    def patch(self, module, name: str, replacement) -> None:
        """Install a hand-written wrapper; ``unwrap_all`` restores."""
        self._patched.append((module, name, getattr(module, name)))
        setattr(module, name, replacement)

    def span(self, layer: str, fn, *args, mode: str = "sticky", **kwargs):
        rec = [layer, time.time() * 1000.0, None]
        self._open.append(rec)
        caller_group = self._group
        if mode != "wall":
            self._set_group(layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            if mode == "own":
                self._set_group(caller_group)
            rec[2] = time.time() * 1000.0
            self._open.remove(rec)
            self._closed.append((layer, rec[1], rec[2]))
            # a layer called from inside itself counts its time once
            if all(r[0] != layer for r in self._open):
                self.totals[layer]["wall_s"] += dt

    def start(self) -> None:
        """Open tracing; jobs that ran before are never attributed."""
        self.harvest(attribute=False)
        self.enabled = True

    def stop(self) -> None:
        self.harvest()
        self.enabled = False
        self._set_group(None)

    def unwrap_all(self) -> None:
        for module, name, original in reversed(self._patched):
            setattr(module, name, original)
        self._patched.clear()

    def timed(self, layer: str, fn, *args, **kwargs):
        """A sticky span around a call that is not reached through a
        wrapped module name (registry builders, index searches)."""
        self._layers.add(layer)
        if not self.enabled:
            return fn(*args, **kwargs)
        return self.span(layer, fn, *args, **kwargs)

    # -- Spark status store ------------------------------------------------
    def _owner(self, group: str | None, submitted_ms: float) -> str | None:
        if group in self._layers:
            return group
        best = None
        for layer, start, end in self._closed:
            if start <= submitted_ms <= end and (
                best is None or start >= best[1]
            ):
                best = (layer, start)
        return best[0] if best else None

    def harvest(self, attribute: bool = True) -> None:
        """Fold every job finished since the last harvest into its
        layer's totals."""
        jvm = self.sc._jvm
        jobs = self._jvm_store.jobsList(jvm.java.util.ArrayList())
        new_stage_owner: dict[int, str] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._seen_jobs or not job.completionTime().isDefined():
                continue
            self._seen_jobs.add(jid)
            if not attribute:
                continue
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            sub = job.submissionTime()
            sub_ms = sub.get().getTime() if sub.isDefined() else 0.0
            owner = self._owner(group, sub_ms)
            if owner is None:
                continue
            t = self.totals[owner]
            t["jobs"] += 1
            t["job_s"] += (job.completionTime().get().getTime() - sub_ms) / 1000.0
            ids = job.stageIds().mkString(",")
            for sid in filter(None, ids.split(",")):
                new_stage_owner[int(sid)] = owner
        if new_stage_owner:
            self._fold_stages(new_stage_owner)
        if not self._open:
            self._closed.clear()

    def _fold_stages(self, owners: dict[int, str]) -> None:
        gw = self.sc._gateway
        jvm = self.sc._jvm
        stages = self._jvm_store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            owner = owners.get(sid)
            if (
                owner is None
                or sid in self._seen_stages
                or st.status().toString() not in ("COMPLETE", "FAILED")
            ):
                continue
            self._seen_stages.add(sid)
            t = self.totals[owner]
            t["stages"] += 1
            t["tasks"] += st.numTasks()
            t["failed_tasks"] += st.numFailedTasks()
            t["task_run_s"] += st.executorRunTime() / 1000.0
            t["task_cpu_s"] += st.executorCpuTime() / 1e9
            t["input_mb"] += st.inputBytes() / _MB
            t["output_mb"] += st.outputBytes() / _MB
            t["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            t["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            t["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB

    # -- report ------------------------------------------------------------
    def layer_metrics(self, layer: str) -> dict[str, float]:
        t = self.totals.get(layer) or dict.fromkeys(COUNTS, 0.0)
        out = {k: t[k] for k in COUNTS if k not in ("task_cpu_s", "job_s")}
        out["task_cpu_frac"] = t["task_cpu_s"] / t["task_run_s"] if t["task_run_s"] else 0.0
        # busy task time over the slot time of the interval the layer's
        # jobs were running
        out["slot_util"] = t["task_run_s"] / (t["job_s"] * self.slots) if t["job_s"] else 0.0
        return out
