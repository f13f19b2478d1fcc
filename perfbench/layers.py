"""Per-layer metrics of a traced run, derived from its op traces.

Times and counts are per operation: the mean over the traced executions
the metric applies to (SQL reads for ``context``, DML statements for
``dml``, registry ops for ``queries``, every op for ``exec``). A layer a
workload does not enter reports 0. Latency figures and the tracing
overhead come from the plain executions that ran next to the traced ones.
"""

from __future__ import annotations

import statistics

import stats
from tracing import STAGE_FIELDS
from workloads import REGISTRY_OPS

_STAGE_UNITS = {
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "failed_tasks": "count",
}


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _phase_jobs(t, *names) -> int:
    return sum(t.phases[n].jobs for n in names if n in t.phases)


def per_layer_metrics(bench, tail_p: int, cores: int) -> dict[str, tuple[float, str]]:
    traces = [r.trace for r in bench.runs if r.traced and r.trace is not None and not r.error]
    plain = [r for r in bench.runs if not r.traced]
    traced = [r for r in bench.runs if r.traced]
    sql_reads = [t for t in traces if not t.write and t.kind not in REGISTRY_OPS]
    writes = [t for t in traces if t.write]
    registry = [t for t in traces if t.kind in REGISTRY_OPS]
    reads = [t for t in traces if not t.write]
    m: dict[str, tuple[float, str]] = {}

    m["session.start_s"] = (bench.setup.session_s, "s")
    m["catalog.register_s"] = (stats.median(bench.setup.register_s), "s")
    m["sources.read_calls"] = (_mean(t.read_calls for t in traces), "count")
    m["sources.read_s"] = (_mean(t.read_s for t in traces), "s")

    def cat(t, name):
        return t.catalyst.get(name, 0.0)

    m["context.execute_s"] = (_mean(t.build_s for t in sql_reads), "s")
    m["context.self_s"] = (
        _mean(t.build_s - cat(t, "parsing") - cat(t, "analysis") for t in sql_reads),
        "s",
    )
    for name in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{name}_s"] = (_mean(cat(t, name) for t in reads), "s")

    m["dml.write_s"] = (_mean(t.dml_write_s for t in writes), "s")
    m["dml.status_s"] = (_mean(t.build_s - t.dml_write_s for t in writes), "s")
    m["dml.jobs"] = (_mean(_phase_jobs(t, "build", "dml", "exec") for t in writes), "count")
    m["dml.bytes_written"] = (_mean(t.dml_bytes_written for t in writes), "B")
    affected = [
        r.rows[0]["rows_affected"] * r.trace.dml_row_bytes
        for r in bench.runs
        if r.traced and r.op.write and not r.error
    ]
    written = sum(t.dml_bytes_written for t in writes)
    m["dml.write_amp"] = (written / sum(affected) if sum(affected) else 0.0, "ratio")
    m["dml.space_amp"] = (_mean(t.dml_space_amp for t in writes), "ratio")

    m["queries.build_s"] = (_mean(t.build_s for t in registry), "s")
    m["queries.build_jobs"] = (_mean(_phase_jobs(t, "build") for t in registry), "count")
    m["queries.build_job_s"] = (_mean(t.phases["build"].job_s for t in registry), "s")
    m["queries.build_self_s"] = (
        _mean(t.build_s - t.phases["build"].job_s for t in registry),
        "s",
    )

    m["exec.wall_s"] = (_mean(t.exec_s for t in traces), "s")
    m["exec.jobs"] = (_mean(_phase_jobs(t, "exec") for t in traces), "count")
    for f in STAGE_FIELDS:
        m[f"exec.{f}"] = (_mean(t.phases["exec"].stages[f] for t in traces), _STAGE_UNITS[f])
    wall = sum(t.exec_s for t in traces)
    run = sum(t.phases["exec"].stages["task_run_s"] for t in traces)
    m["exec.core_util"] = (run / (wall * cores) if wall else 0.0, "ratio")

    for q in REGISTRY_OPS:
        mine = [t for t in registry if t.kind == q]
        m[f"op.{q}.build_s"] = (_mean(t.build_s for t in mine), "s")
        m[f"op.{q}.build_jobs"] = (_mean(_phase_jobs(t, "build") for t in mine), "count")
        m[f"op.{q}.exec_s"] = (_mean(t.exec_s for t in mine), "s")
        m[f"op.{q}.shuffle_write_bytes"] = (
            _mean(
                t.phases["build"].stages["shuffle_write_bytes"]
                + t.phases["exec"].stages["shuffle_write_bytes"]
                for t in mine
            ),
            "B",
        )

    sql_plain = [r for r in plain if r.op.sql and not r.error]
    read_lat = [r.latency for r in sql_plain if not r.op.write]
    write_lat = [r.latency for r in sql_plain if r.op.write]
    all_lat = [r.latency for r in sql_plain]
    m["sql.read_p50_s"] = (stats.median(read_lat) if read_lat else 0.0, "s")
    m["sql.write_p50_s"] = (stats.median(write_lat) if write_lat else 0.0, "s")
    m[f"sql.latency_p{tail_p}_s"] = (
        stats.percentile(all_lat, tail_p) if all_lat else 0.0,
        "s",
    )

    m["error_rate"] = (stats.error_rate(len(bench.runs), bench.failures()), "ratio")
    plain_rate = len(plain) / sum(r.latency for r in plain)
    traced_rate = len(traced) / sum(r.latency for r in traced)
    m["trace.overhead_ops_per_s"] = (traced_rate - plain_rate, "1/s")
    return m
