"""Traced mode: spans around the engine's layers, and Spark's own counts.

Spans are recorded from outside the package: `install` rebinds the
names the engine's modules call (module-level imports, class
attributes, and each job check's `run`/`prefetch`), so the package
source is untouched. Spans live in memory; `Tracer.dump` writes them
when the run ends.

Self time: over an operation's wall interval, each instant goes to the
innermost active spans (split evenly when concurrent threads hold
several), and to the operation's own root span when no layer is
active. Layer self times plus `unattributed_s` therefore add up to the
operation's wall time exactly.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans = []  # [id, name, start, end, parent, op_id, thread]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.op_id = None
        self._op_root = None
        self._main_stack = []
        self.bookkeeping_s = 0.0

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op_id, name):
        self.op_id = op_id
        self._main_stack = self._stack()
        self._main_stack.clear()
        self._op_root = self._open(name, parent=None)
        self._main_stack.append(self._op_root)

    def end_op(self):
        root = self._op_root
        self._close(root)
        self._main_stack.clear()
        self.op_id = self._op_root = None
        return root

    def _open(self, name, parent):
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            rec = [sid, name, time.perf_counter(), None, parent,
                   self.op_id, threading.get_ident()]
            self.spans.append(rec)
        return rec

    def _close(self, rec):
        rec[3] = time.perf_counter()

    def call(self, name, fn, *a, **k):
        if not self.enabled or self.op_id is None:
            return fn(*a, **k)
        t0 = time.perf_counter()
        st = self._stack()
        if st:
            parent = st[-1][0]
        elif self._main_stack:
            # a thread the engine started (prefetch, leftover agg):
            # its parent is what the operation's thread is inside now
            parent = self._main_stack[-1][0]
        else:
            parent = self._op_root[0]
        rec = self._open(name, parent)
        st.append(rec)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            return fn(*a, **k)
        finally:
            t1 = time.perf_counter()
            self._close(rec)
            st.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def innermost(self):
        st = self._stack()
        return st[-1][1] if st else None

    def dump(self, path):
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op, th in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "op": op, "thread": th,
                }) + "\n")


def self_times(spans, root):
    """{span name: self seconds} over the root span's interval."""
    t0, t1 = root[2], root[3]
    live = [s for s in spans if s[3] is not None and s[3] > t0 and s[2] < t1]
    cuts = sorted({t0, t1} | {
        min(max(x, t0), t1) for s in live for x in (s[2], s[3])
    })
    out = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [s for s in live if s[2] <= a and s[3] >= b]
        parents = {s[4] for s in active}
        leaves = [s for s in active if s[0] not in parents] or [root]
        share = (b - a) / len(leaves)
        for s in leaves:
            out[s[1]] += share
    return out


def _wrap(tracer, name, fn):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        return tracer.call(name, fn, *a, **k)

    return wrapper


def install(tracer) -> None:
    """Rebind the engine's call sites to span-recording wrappers."""
    from pyspark.sql import DataFrame

    from great_expectations_spark.checkpoint import runner
    from great_expectations_spark.core.result import (
        ExpectationSuiteValidationResult as SuiteResult,
    )
    from great_expectations_spark.operators.checks import JobCheck
    from great_expectations_spark.plans import planner

    for mod in (planner, runner):
        mod.run_single_pass = _wrap(tracer, "single_pass.run",
                                    mod.run_single_pass)
        mod.merge_stat_rows = _wrap(tracer, "single_pass.merge",
                                    mod.merge_stat_rows)
        orig_split = mod.split_checks

        def split_checks(checks, _orig=orig_split):
            parts = _orig(checks)
            for chk in parts[3]:
                _wrap_job_check(tracer, chk, JobCheck)
            return parts

        mod.split_checks = split_checks

    V = planner.SparkValidator
    V.validate = _wrap(tracer, "planner.validate", V.validate)
    V._compile = _wrap(tracer, "planner.compile", V._compile)
    V._plan_domain = _wrap(tracer, "planner.compile", V._plan_domain)
    V._validate_domain = _wrap(tracer, "planner.domain", V._validate_domain)
    orig_clock = V._clock

    def _clock(self, phase, fn):
        if phase in ("fused_agg", "harvest"):
            return tracer.call("planner.classic_scan", orig_clock,
                               self, phase, fn)
        return orig_clock(self, phase, fn)

    V._clock = _clock

    # the classic plan's deferred (z-score) agg is a bare
    # `df.agg(...).first()` inside _validate_domain; it is the only
    # first() called directly there
    orig_first = DataFrame.first

    def first(self):
        if tracer.enabled and tracer.innermost() == "planner.domain":
            return tracer.call("planner.classic_scan", orig_first, self)
        return orig_first(self)

    DataFrame.first = first

    from_results = SuiteResult.__dict__["from_results"].__func__
    SuiteResult.from_results = classmethod(
        _wrap(tracer, "result.finalize", from_results)
    )
    SuiteResult.to_json_dict = _wrap(tracer, "result.finalize",
                                     SuiteResult.to_json_dict)

    R = runner.CheckpointRunner
    R.run = _wrap(tracer, "checkpoint.run", R.run)
    R._pin_batch = _wrap(tracer, "checkpoint.pin", R._pin_batch)
    R._groups = _wrap(tracer, "checkpoint.pin", R._groups)
    R._compile = _wrap(tracer, "planner.compile", R._compile)
    R._run_group = _wrap(tracer, "checkpoint.group", R._run_group)
    R._run_domain = _wrap(tracer, "checkpoint.finalize", R._run_domain)
    R._inherited_state = _wrap(tracer, "checkpoint.finalize",
                               R._inherited_state)
    R._write_outputs = _wrap(tracer, "checkpoint.write_outputs",
                             R._write_outputs)


def _wrap_job_check(tracer, chk, JobCheck) -> None:
    if not isinstance(chk, JobCheck) or getattr(chk, "__perfbench__", False):
        return
    name = f"operators.job.{chk.config.expectation_type}"
    if chk.run is not None:
        chk.run = _wrap(tracer, name, chk.run)
    if chk.prefetch is not None:
        chk.prefetch = _wrap(tracer, name, chk.prefetch)
    chk.__perfbench__ = True


# -- Spark's status store -----------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_PY_METRICS = {
    "time to run Python workers": "payload.python_exec_s",
    "time to initialize Python workers": "payload.worker_init_s",
    "data sent to Python workers": "payload.bytes_to_python",
    "data returned from Python workers": "payload.bytes_from_python",
}


def _parse_total(text: str) -> float:
    """The total of a rendered SQL metric ("1.2 s (min, med, max ..."
    or "8.0 MiB (...)" or a plain "3,456")."""
    lines = [x for x in str(text).splitlines() if x.strip()]
    line = lines[-1] if lines else "0"
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkCounts:
    """Per-operation counts from the status store, by job-id and
    execution-id range (the engine's prefetch and leftover threads
    carry no job group, so ranges are the reliable attribution)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._drain()
        self._job_hi = self._max_job()
        self._exec_n = int(self.sql.executionsCount())

    def _drain(self):
        self.jsc.listenerBus().waitUntilEmpty()

    def _max_job(self):
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def mark(self):
        """Skip whatever ran since the last collect (setup, checks)."""
        self._drain()
        self._job_hi = self._max_job()
        self._exec_n = int(self.sql.executionsCount())

    def collect(self) -> dict:
        self._drain()
        hi = self._max_job()
        out = defaultdict(float)
        stages = set()
        for jid in range(self._job_hi + 1, hi + 1):
            try:
                job = self.store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or unknown
                continue
            out["spark.jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                stages.add(int(sids.apply(i)))
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage, never ran
                continue
            if sd.numCompleteTasks() == 0 and sd.numTasks() > 0:
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.input_bytes"] += sd.inputBytes()
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            )
        self._job_hi = hi
        n = int(self.sql.executionsCount())
        if n > self._exec_n:
            execs = self.sql.executionsList(self._exec_n, n - self._exec_n)
            for i in range(execs.size()):
                out["spark.sql_executions"] += 1
                self._python_metrics(execs.apply(i).executionId(), out)
        self._exec_n = n
        return dict(out)

    def _python_metrics(self, eid, out):
        values = None
        nodes = self.sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if "Python" not in node.name() and "Pandas" not in node.name():
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = _PY_METRICS.get(m.name())
                if key is None:
                    continue
                if values is None:
                    values = self.sql.executionMetrics(eid)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _parse_total(v.get())
