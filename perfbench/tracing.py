"""Tracing for the traced benchmark run: in-memory spans, operator
wrappers, layer self time, and Spark counters read from outside the
program.

Nothing here is imported into the package; the wrappers are installed on
the operator modules only for the duration of a traced run.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

# Public operator functions the pipeline calls, wrapped in a traced run.
# The pipeline and the queries call them as ``module.fn`` at call time, so
# replacing the module attribute is enough to see every call.
WRAPPED_OPERATORS: dict[str, tuple[str, ...]] = {
    "cleaning": ("mode_fill", "null_fraction_drop", "iqr_clip", "median_fill"),
    "merge": ("day_key_merge",),
    "monte_carlo": ("simulate_scenarios",),
    "bootstrap": ("bootstrap_ci",),
    "factor_analysis": ("fit_on_sample",),
}
OPERATOR_PACKAGE = "urban_traffic_data_lake_project_spark.operators"

SPARK_COUNTERS = (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "executor.run_ms", "executor.cpu_ms",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
    "spark.input_bytes", "driver.gap_s",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Records spans in memory; a disabled tracer records nothing. The
    parent of a span is the innermost open span of the calling thread."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str, op_id: int | None = None):
        return self._span(name, layer, op_id) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, layer: str, op_id: int | None):
        stack = self._stack()
        outer = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), name, layer, time.perf_counter(), 0.0,
                     outer.id if outer else None,
                     op_id if op_id is not None else (outer.op_id if outer else None))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def install_operator_wrappers(self) -> None:
        """Wrap WRAPPED_OPERATORS so each call records an ``operators`` span."""
        for mod_name, fns in WRAPPED_OPERATORS.items():
            mod = importlib.import_module(f"{OPERATOR_PACKAGE}.{mod_name}")
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                setattr(mod, fn_name, self._wrap(orig, f"operators.{mod_name}.{fn_name}"))
                self._installed.append((mod, fn_name, orig))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, "operators"):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._installed):
            setattr(mod, fn_name, orig)
        self._installed.clear()

    def drop(self) -> None:
        """Forget every span recorded so far (warm-up is not reported)."""
        with self._lock:
            self.spans = []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer, the summed span durations minus the part of each span's
    interval that its direct children cover (children clipped to it)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(s.id, ())]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


class SparkProbe:
    """Reads job, stage, task, executor, shuffle and spill figures from the
    SparkContext's status store, and Catalyst phase times from every
    executed ``QueryExecution`` through a registered listener. Works with
    ``spark.ui.enabled=false``.

    Jobs are attributed to an op by job id: ids are taken from the
    DAGScheduler's global counter before and after the op, so jobs
    submitted from ``overlap_jobs`` threads count too (those threads do not
    inherit local properties, so job groups would miss them)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._phases: list[dict[str, int]] = []
        self._plock = threading.Lock()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _PhaseListener(self._phases, self._plock)
        spark._jsparkSession.listenerManager().register(self._listener)

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def collect(self, first_job: int, t0: float, t1: float) -> dict[str, float]:
        """Counters for jobs ``first_job..`` submitted by one op that ran
        over the epoch-second interval ``[t0, t1]``."""
        self._sc.listenerBus().waitUntilEmpty()
        last_job = self.next_job_id()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        with self._plock:
            phases, self._phases[:] = list(self._phases), []
        for ph in phases:
            for k in ("analysis", "optimization", "planning"):
                out[f"catalyst.{k}_ms"] += ph.get(k, 0)
        intervals = []
        for job_id in range(first_job, last_job):
            job = self._store.job(job_id)
            out["spark.jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                lo, hi = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
                intervals.append((max(lo, t0), min(hi, t1)))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                st = self._store.lastStageAttempt(stage_ids.apply(i))
                if str(st.status()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.failed_tasks"] += st.numFailedTasks()
                out["executor.run_ms"] += st.executorRunTime()
                out["executor.cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["spark.input_bytes"] += st.inputBytes()
        busy = union_length([iv for iv in intervals if iv[1] > iv[0]])
        out["driver.gap_s"] = max(0.0, (t1 - t0) - busy)
        return out

    def close(self, spark) -> None:
        spark._jsparkSession.listenerManager().unregister(self._listener)


class _PhaseListener:
    """py4j implementation of ``QueryExecutionListener``: records the
    Catalyst phase durations of each successfully executed query."""

    def __init__(self, sink: list, lock: threading.Lock) -> None:
        self._sink, self._lock = sink, lock

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases, it = {}, qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        with self._lock:
            self._sink.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
