"""Traced-run instrumentation, attached from outside the engine.

Spans are recorded around the calls into each module's public functions:
the ``queries`` builders and ``ExecutionContext.execute`` (timed by the
benchmark itself), ``sources.read_parquet`` and the ``ManagedTable`` write
methods (wrapped here), and the action that executes the plan. Spark jobs
are attributed to a phase through the job group the phase sets; their
stage metrics come from the status store after the listener bus drains.
Catalyst phase times come from the QueryExecution that ran.

Nothing here runs in a timed (untraced) run.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "failed_tasks",
)
CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")


@dataclass
class PhaseStats:
    """Spark work launched by one phase (build, dml write or exec) of an op."""

    jobs: int = 0
    job_s: float = 0.0
    stages: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))


@dataclass
class OpTrace:
    op_id: int
    kind: str
    write: bool
    build_s: float = 0.0
    exec_s: float = 0.0
    read_calls: int = 0
    read_s: float = 0.0
    dml_write_s: float = 0.0
    dml_bytes_written: float = 0.0
    dml_row_bytes: float = 0.0  # live bytes per live row before the write
    dml_space_amp: float = 0.0
    trace_s: float = 0.0  # the tracer's own bookkeeping inside the op's timing
    catalyst: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)  # phase name -> PhaseStats


def dir_files(path: str) -> dict[int, int]:
    """inode -> size of every file under ``path`` (hard links count once)."""
    out: dict[int, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = st.st_size
    return out


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


class Tracer:
    """Spans and per-op counters for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()  # job times come from the status store in epoch ms
        self._group_span: dict[str, int] = {}
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: OpTrace | None = None
        self._group: str | None = None
        self._counted_stages: set[int] = set()
        self._undo: list = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **counts):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op.op_id if self._op else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counts": counts,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextlib.contextmanager
    def phase(self, phase: str, span_name: str):
        """A span whose Spark jobs land in the job group ``<op>.<phase>``."""
        prev = self._group
        group = f"perfbench-{self._op.op_id}.{phase}"
        self._set_group(group)
        try:
            with self.span(span_name) as rec:
                self._group_span[group] = rec["id"]
                yield rec
        finally:
            self._set_group(prev)

    def _set_group(self, group: str | None) -> None:
        self._group = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- wrappers around engine entry points ---------------------------------
    def install(self) -> None:
        """Wrap ``sources.read_parquet`` and the ManagedTable write methods.
        Callers import these at call time, so the wrappers see every call."""
        from mesin_spark import sources
        from mesin_spark.dml import ManagedTable

        orig_read = sources.read_parquet

        def read_parquet(spark, path):
            op = self._op
            if op is None:  # a plain execution in a traced run
                return orig_read(spark, path)
            with self.span("sources.read_parquet", path=os.path.basename(path)):
                t = time.perf_counter()
                try:
                    return orig_read(spark, path)
                finally:
                    op.read_calls += 1
                    op.read_s += time.perf_counter() - t

        sources.read_parquet = read_parquet
        self._undo.append(lambda: setattr(sources, "read_parquet", orig_read))
        for meth in ("insert_select", "update", "delete"):
            self._wrap_write(ManagedTable, meth)

    def _wrap_write(self, cls, meth: str) -> None:
        orig = getattr(cls, meth)
        tracer = self

        def wrapped(mt, *a, **kw):
            op = tracer._op
            if op is None or tracer._group is None or tracer._group.endswith(".dml"):
                return orig(mt, *a, **kw)
            t = time.perf_counter()
            before = dir_files(mt.path)
            live_rows = parquet_rows(mt._data_dir())
            if live_rows:
                op.dml_row_bytes = sum(dir_files(mt._data_dir()).values()) / live_rows
            tw = time.perf_counter()
            op.trace_s += tw - t
            try:
                with tracer.phase("dml", f"dml.{meth}"):
                    return orig(mt, *a, **kw)
            finally:
                t = time.perf_counter()
                op.dml_write_s += t - tw
                after = dir_files(mt.path)
                op.dml_bytes_written += sum(s for i, s in after.items() if i not in before)
                live = sum(dir_files(mt._data_dir()).values())
                op.dml_space_amp = sum(after.values()) / live if live else 0.0
                op.trace_s += time.perf_counter() - t

        setattr(cls, meth, wrapped)
        self._undo.append(lambda: setattr(cls, meth, orig))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()
        self._set_group(None)

    # -- per-op accounting ---------------------------------------------------
    def begin_op(self, op_id: int, kind: str, write: bool) -> OpTrace:
        self._op = OpTrace(op_id, kind, write)
        return self._op

    def end_op(self, df) -> OpTrace:
        """Drain the listener bus, then attach the op's job, stage and
        Catalyst figures. Runs after the op's timing has stopped."""
        op = self._op
        self._jsc.listenerBus().waitUntilEmpty()
        for name in ("build", "dml", "exec"):
            op.phases[name] = self._group_stats(f"perfbench-{op.op_id}.{name}")
        if df is not None:
            op.catalyst = catalyst_phases(df)
        self._op = None
        return op

    def _group_stats(self, group: str) -> PhaseStats:
        st = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = PhaseStats()
        for jid in st.getJobIdsForGroup(group):
            job = store.job(jid)
            out.jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                ms = job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                out.job_s += ms / 1000
                start = job.submissionTime().get().getTime() / 1000 - self._epoch0
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "name": "spark.job",
                        "parent": self._group_span.get(group),
                        "op": self._op.op_id,
                        "start": start,
                        "end": start + ms / 1000,
                        "counts": {"job_id": jid, "tasks": job.numTasks()},
                    }
                )
            for sid in st.getJobInfo(jid).stageIds:
                if sid in self._counted_stages:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                s = out.stages
                s["tasks"] += sd.numCompleteTasks()
                s["task_run_s"] += sd.executorRunTime() / 1000
                s["task_cpu_s"] += sd.executorCpuTime() / 1e9
                s["input_bytes"] += sd.inputBytes()
                s["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                s["shuffle_read_bytes"] += sd.shuffleReadBytes()
                s["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                s["failed_tasks"] += sd.numFailedTasks()
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of the QueryExecution ``df`` ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out
