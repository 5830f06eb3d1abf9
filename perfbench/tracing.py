"""Traced runs: per-layer timings and counts, taken from outside the program.

The tracer never edits program code. It

- swaps wrappers in for the public functions of each layer (and restores
  the originals afterwards, see ``Tracer.uninstall``);
- counts py4j round trips by wrapping the gateway client's
  ``send_command``;
- tags every Spark job with ``setJobDescription("<item>:<phase>")``;
- reads SQL executions, jobs and stages from Spark's status stores, and
  Catalyst phase times from ``QueryExecution.tracker()``;
- keeps per-batch streaming progress from a ``StreamingQueryListener``.

Spans are kept in memory and folded into per-item layer totals when the
item ends (``end_item``), outside the timed region; the traced run writes
them out with its result.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "cicevse2024_tfm_datapipeline_spark"

#: layer group -> (module, public functions). A call nested inside another
#: call of the same group is not counted again.
WRAPPED = {
    "sources.load_table": ("sources.readers", ("load_table",)),
    "sources.footer": ("sources.readers", ("table_row_count", "table_column_minmax")),
    "operators.scan": (
        "operators.scan",
        (
            "global_cumsum",
            "grouped_cumsum",
            "global_row_number",
            "global_ntile",
            "range_bucketed",
            "bounds_bucketed",
        ),
    ),
    "operators.fit_standardizer": ("operators.windows", ("fit_standardizer",)),
    "pipelines.run": ("pipelines", ("run_power_pipeline", "run_host_pipeline")),
    "evaluation.robustness": ("evaluation", ("robustness_sweep",)),
    "streaming.run": ("streaming.stream_ops", ("run_to_completion",)),
}

#: groups whose time is taken out of ``plans.build_self_s``
BUILD_CHILD_GROUPS = ("sources.load_table", "sources.footer", "operators.scan", "streaming.run")

#: Catalyst phases as QueryExecution.tracker() names them
CATALYST_PHASES = ("analysis", "optimization", "planning")

STREAM_DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _inside(t: float, span) -> bool:
    return span[0] <= t <= span[1]


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """One per traced child process. ``install`` before the first traced
    item and ``uninstall`` at the end; between them, wrap each item in
    ``begin_item``/``end_item`` and each phase in ``phase``."""

    def __init__(self, spark):
        self.spark = spark
        self.py4j_calls = 0
        self.active = False
        self._patched: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = defaultdict(int)
        self._spans: list[tuple[str, float, float]] = []
        self._phases: dict[str, tuple[float, float, int]] = {}
        self._progress: list = []
        self._lock = threading.Lock()
        self._listener = None
        self._last_exec_id = -1
        self._last_job_id = -1
        self._item = None

    # -- install / uninstall ------------------------------------------------

    def install(self) -> None:
        originals = {}
        for group, (mod_name, fn_names) in WRAPPED.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for fn_name in fn_names:
                fn = getattr(mod, fn_name)
                originals[id(fn)] = (fn, self._wrap(group, fn))
        # plan modules bind helpers with ``from ... import``: rebind every
        # reference in every loaded package module, not just the defining one
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, hit[1])

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._patched.append((client, "send_command", None))

        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer._progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)
        self._last_exec_id = self._max_exec_id()
        self._last_job_id = self._max_job_id()
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for obj, attr, original in reversed(self._patched):
            if original is None:
                delattr(obj, attr)  # drop the instance override
            else:
                setattr(obj, attr, original)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        self.spark.sparkContext.setJobDescription(None)

    def _wrap(self, group: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or self._depth[group]:
                return fn(*args, **kwargs)
            self._depth[group] += 1
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._spans.append((group, start, time.time()))
                self._depth[group] -= 1

        return wrapper

    # -- items and phases -----------------------------------------------------

    def begin_item(self, name: str) -> None:
        self._item = name
        self._spans.clear()
        self._phases.clear()
        # progress of an untraced run just before still arrives through the
        # listener bus: let it land, then drop it
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            self._progress.clear()

    @contextlib.contextmanager
    def phase(self, phase: str):
        """Time one phase of the current item and tag its Spark jobs."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{self._item}:{phase}")
        calls, start = self.py4j_calls, time.time()
        try:
            yield
        finally:
            self._phases[phase] = (start, time.time(), self.py4j_calls - calls)
            sc.setJobDescription(None)

    def end_item(self, frame=None) -> tuple[dict, list[dict]]:
        """Fold the item's spans, executions, jobs and streaming progress
        into layer totals. ``frame`` is the DataFrame the exec phase ran,
        whose tracker holds the Catalyst phase times. Returns the totals
        and the item's spans (phases, wrapped calls, root SQL executions)
        in seconds from the item's start."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        build = self._phases.get("build")
        exec_ = self._phases.get("exec")

        for group, start, end in self._spans:
            out[f"{group}_s"] += end - start
            out[f"{group}_calls"] += 1

        executions = self._new_executions()
        jobs = self._new_jobs()

        if build is not None:
            b0, b1, calls = build
            out["plans.build_s"] = b1 - b0
            out["plans.build_py4j_calls"] = calls
            build_execs = [(a, b) for a, b in executions if _inside(a, build)]
            out["plans.build_exec_count"] = len(build_execs)
            out["plans.build_exec_s"] = sum(min(b, b1) - a for a, b in build_execs)
            children = [
                (a, b)
                for g, a, b in self._spans
                if g in BUILD_CHILD_GROUPS and _inside(a, build)
            ]
            out["plans.build_self_s"] = (b1 - b0) - union_length(children + build_execs, b0, b1)

        sweeps = [(a, b) for g, a, b in self._spans if g == "evaluation.robustness"]
        out["evaluation.robustness_jobs"] = sum(
            1 for j in jobs if any(_inside(j["submitted"], s) for s in sweeps)
        )

        if exec_ is not None:
            self._exec_metrics(out, exec_, [j for j in jobs if _inside(j["submitted"], exec_)])
        if frame is not None:
            self._catalyst(out, frame)
        self._streaming(out)
        t0 = min(a for a, _, _ in self._phases.values())
        spans = [(f"phase.{p}", a, b) for p, (a, b, _) in self._phases.items()]
        spans += self._spans + [("sql.execution", a, b) for a, b in executions]
        return dict(out), [
            {"name": name, "start": round(a - t0, 4), "end": round(b - t0, 4)} for name, a, b in spans
        ]

    # -- status store readers -------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _app_store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _max_exec_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).head().executionId()

    def _new_executions(self) -> list[tuple[float, float]]:
        """(start, end) epoch seconds of every root SQL execution that
        started since the last call."""
        store = self._sql_store()
        out = []
        newest = self._last_exec_id
        # the store lists executions by ascending id: walk back from the
        # newest until an id seen before shows up
        for offset in range(store.executionsCount() - 1, -1, -1):
            ex = store.executionsList(offset, 1).head()
            eid = ex.executionId()
            if eid <= self._last_exec_id:
                break
            newest = max(newest, eid)
            if ex.rootExecutionId() == eid:
                end = _opt_ms(ex.completionTime())
                out.append((ex.submissionTime() / 1000.0, end if end is not None else time.time()))
        self._last_exec_id = newest
        return out

    def _max_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _new_jobs(self) -> list[dict]:
        store = self._app_store()
        newest = self._max_job_id()
        jobs = []
        for jid in range(self._last_job_id + 1, newest + 1):
            job = store.job(jid)
            stage_ids = job.stageIds()
            jobs.append(
                {
                    "submitted": _opt_ms(job.submissionTime()) or 0.0,
                    "stages": [stage_ids.apply(i) for i in range(stage_ids.size())],
                }
            )
        self._last_job_id = max(self._last_job_id, newest)
        return jobs

    def _exec_metrics(self, out: dict, exec_span, jobs: list[dict]) -> None:
        e0, e1, _ = exec_span
        wall = e1 - e0
        store = self._app_store()
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        run_ms = 0.0
        skew = 1.0
        stages = set()
        for job in jobs:
            for sid in job["stages"]:
                if sid in stages:
                    continue
                stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["spark.exec.stages"] += 1
                out["spark.exec.tasks"] += stage.numCompleteTasks()
                out["spark.exec.shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["spark.exec.shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["spark.exec.spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                run_ms += stage.executorRunTime()
                if stage.numCompleteTasks() >= 2:
                    dist = store.taskSummary(sid, stage.attemptId(), quantiles)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        skew = max(skew, rt.apply(1) / max(rt.apply(0), 1.0))
        out["spark.exec.s"] = wall
        out["spark.exec.jobs"] = len(jobs)
        out["spark.exec.task_skew"] = skew
        out["spark.exec.task_run_s"] = run_ms / 1000.0

    def _catalyst(self, out: dict, frame) -> None:
        phases = frame._jdf.queryExecution().tracker().phases()
        for name in CATALYST_PHASES:
            summary = phases.get(name)
            if summary.isDefined():
                out[f"spark.catalyst.{name}_s"] = summary.get().durationMs() / 1000.0

    def _streaming(self, out: dict) -> None:
        with self._lock:
            progress = list(self._progress)
        final_state: dict[str, tuple[int, int]] = {}
        for p in progress:
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += p.numInputRows
            for metric, key in STREAM_DURATIONS.items():
                out[metric] += p.durationMs.get(key, 0)
            rows = sum(op.numRowsTotal for op in p.stateOperators)
            mem = sum(op.memoryUsedBytes for op in p.stateOperators)
            out["streaming.late_rows_dropped"] += sum(
                op.numRowsDroppedByWatermark for op in p.stateOperators
            )
            final_state[str(p.runId)] = (rows, mem)
        out["streaming.state_rows"] = sum(r for r, _ in final_state.values())
        out["streaming.state_memory_bytes"] = sum(m for _, m in final_state.values())
