"""One-command benchmark of the mesin_spark engine.

    python3 perfbench/run.py --workload sql_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process and one closed-loop client
drive a ``local[N]`` session (N = min(4, cores)). The run generates its
input tables, sets up (session, warm-up, catalog registration), runs
whole seeded cycles of the workload for about ``--seconds`` (at least
``MIN_CYCLES``), checks every output against DuckDB or a
recorded hash, and prints one JSON line last.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, measured
with no wrappers. ``--trace 1`` runs every op of one cycle twice, once
plain and once traced (alternating which goes first), reports the
per-layer metrics and the tracing overhead, and writes the spans to
``.perfbench_out/``. All scratch files live in ``.perfbench_tmp/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import stats  # noqa: E402
from workloads import (  # noqa: E402
    MANAGED_DDL,
    MANAGED_LOAD,
    MANAGED_TABLE,
    WORKLOADS,
    Op,
    Workload,
)

CORES = min(4, os.cpu_count() or 1)
REGISTER_REPEATS = 3
#: whole cycles an untraced timed phase runs at least: with one, the
#: latency of each op kind rests on one sample
MIN_CYCLES = 2
DRIVER_MEMORY = "2g"
EXPECTED = HERE / "expected.json"
#: a traced sql_mixed run has one 24-statement cycle of plain executions,
#: which fixes the percentile of its tail
SQL_TAIL_P = stats.tail_percentile(24)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class OpRun:
    """One execution of one op."""

    op: Op
    latency: float
    rows: list | None = None
    error: str | None = None
    traced: bool = False
    trace: object | None = None  # tracing.OpTrace when traced
    wrong: str | None = None  # set by the output check


@dataclass
class Setup:
    session_s: float = 0.0
    warmup_s: float = 0.0
    register_s: list = field(default_factory=list)
    managed_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.session_s + self.warmup_s + stats.median(self.register_s) + self.managed_s


def prepare_env(run_dir: Path) -> None:
    """Keep every file Spark, Python and the engine write under ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}'",
            "pyspark-shell",
        ]
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: int, trace: bool, run_dir: Path):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.sf_dir = data_dir(wl, run_dir)
        self.setup = Setup()
        self.runs: list[OpRun] = []
        self.spark = None
        self.ctx = None
        self.tracer = None
        self.elapsed = 0.0
        self.peak_rss_mb = 0.0
        self.final_wrong: str | None = None

    # -- set-up ------------------------------------------------------------------
    def start(self, t_start: float) -> None:
        from mesin_spark.session import get_session

        spark = get_session("perfbench", cpus=CORES)
        self.setup.session_s = time.perf_counter() - t_start
        self.spark = spark
        want = f"local[{CORES}]"
        if spark.sparkContext.master != want:
            raise RuntimeError(f"session is {spark.sparkContext.master}, wanted {want}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("mesin.checkpoint.dir", str(self.run_dir / "checkpoints"))
        from mesin_spark import queries as Q

        Q.load_all()
        self.builders, self.oracle = Q.QUERIES, Q.ORACLE

        t = time.perf_counter()
        self._warmup()
        self.setup.warmup_s = time.perf_counter() - t

        from mesin_spark import ExecutionContext

        self.ctx = ExecutionContext(spark=spark)
        for _ in range(REGISTER_REPEATS):
            t = time.perf_counter()
            self.ctx.register_dir(self.sf_dir)
            self.setup.register_s.append(time.perf_counter() - t)
        if not self.wl.registry:
            t = time.perf_counter()
            self.ctx.execute(MANAGED_DDL).collect()
            self.ctx.execute(MANAGED_LOAD).collect()
            self.setup.managed_s = time.perf_counter() - t

    def _warmup(self) -> None:
        """Warm the session so the timed phase pays no first-run class
        loading, code generation, JIT compilation or worker start.

        One pass over every op kind at the workload's scale factor, with
        literals of its own: reads on CORES threads at once (the cold costs
        are CPU-bound and per code path, so they overlap), writes one at a
        time. SQL ops run in a context of their own, with its own managed
        table."""
        from concurrent.futures import ThreadPoolExecutor

        ctx = None
        if not self.wl.registry:
            from mesin_spark import ExecutionContext

            ctx = ExecutionContext(spark=self.spark)
            ctx.register_dir(self.sf_dir)
            ctx.execute(MANAGED_DDL).collect()
            ctx.execute(MANAGED_LOAD).collect()
        rng = random.Random(f"warm-up {self.seed}")
        kinds = {op.kind: op for op in self.wl.cycle(rng)}
        reads = [op for op in kinds.values() if not op.write]
        writes = [op for op in kinds.values() if op.write]
        with ThreadPoolExecutor(max_workers=CORES) as pool:
            done = list(pool.map(lambda op: self._exec(op, self.sf_dir, ctx), reads))
        done += [self._exec(op, self.sf_dir, ctx) for op in writes]
        for r in done:
            log(f"warm-up {r.op.kind}: {r.latency:.2f} s" + (f", failed: {r.error}" if r.error else ""))
        # release what the warm-up left behind now, not during the timed phase
        del done
        gc.collect()
        self.spark._jvm.System.gc()

    # -- one op ------------------------------------------------------------------
    def _exec(self, op: Op, sf_dir: str, ctx) -> OpRun:
        """Build and execute one op; the timing covers the builder call (or
        ``execute``) through the action that returns the rows."""
        t = time.perf_counter()
        try:
            if op.sql:
                rows = ctx.execute(op.sql).collect()
            else:
                rows = self.builders[op.kind](self.spark, sf_dir).collect()
        except Exception as e:  # an op failure is counted, the run goes on
            log(f"{op.kind} failed: {type(e).__name__}: {str(e)[:300]}")
            return OpRun(op, time.perf_counter() - t, error=f"{type(e).__name__}: {e}")
        return OpRun(op, time.perf_counter() - t, rows=rows)

    def _exec_traced(self, op: Op, sf_dir: str, op_id: int) -> OpRun:
        tr = self.tracer
        rec = tr.begin_op(op_id, op.kind, op.write)
        df = None
        t = time.perf_counter()
        try:
            with tr.span("op", kind=op.kind, write=op.write):
                # phase times leave out the tracer's own bookkeeping (trace_s)
                with tr.phase("build", "context.execute" if op.sql else "queries.build"):
                    tb, own = time.perf_counter(), rec.trace_s
                    if op.sql:
                        df = self.ctx.execute(op.sql)
                    else:
                        df = self.builders[op.kind](self.spark, sf_dir)
                    rec.build_s = time.perf_counter() - tb - (rec.trace_s - own)
                with tr.phase("exec", "exec.action"):
                    te, own = time.perf_counter(), rec.trace_s
                    rows = df.collect()
                    rec.exec_s = time.perf_counter() - te - (rec.trace_s - own)
        except Exception as e:  # as in _exec
            log(f"{op.kind} (traced) failed: {type(e).__name__}: {str(e)[:300]}")
            tr.end_op(None)
            return OpRun(op, time.perf_counter() - t, error=str(e), traced=True, trace=rec)
        run = OpRun(op, time.perf_counter() - t, rows=rows, traced=True, trace=rec)
        tr.end_op(df)
        return run

    # -- timed phase -------------------------------------------------------------
    def run(self) -> None:
        sf_dir = self.sf_dir
        # a traced run executes every op twice and needs no second cycle
        min_cycles = 1 if self.trace else MIN_CYCLES
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        t0 = time.perf_counter()
        cycles = 0
        while True:
            tc = time.perf_counter()
            for op in self.wl.cycle(self.rng):
                if not self.trace:
                    self.runs.append(self._exec(op, sf_dir, self.ctx))
                    continue
                # plain and traced back to back, alternating which goes first
                order = (False, True) if len(self.runs) % 4 == 0 else (True, False)
                for traced in order:
                    if traced:
                        self.runs.append(self._exec_traced(op, sf_dir, len(self.runs)))
                    else:
                        self.runs.append(self._exec(op, sf_dir, self.ctx))
            now = time.perf_counter()
            cycles += 1
            # whole cycles only; past the minimum, start another
            # only if it should end in time
            if cycles >= min_cycles and now - t0 + (now - tc) > self.seconds:
                break
        self.elapsed = time.perf_counter() - t0
        log(f"timed phase {self.elapsed:.2f} s")
        for r in self.runs:
            log(f"{'traced ' if r.traced else ''}{r.op.kind}: {r.latency:.3f} s")
        if self.tracer is not None:
            self.tracer.uninstall()
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())

    # -- output check (outside the timed region) -----------------------------------
    def verify(self) -> None:
        con = check.duckdb_connect(self.sf_dir, _tables(self.sf_dir))
        if self.wl.registry:
            self._verify_registry(con)
        else:
            self._verify_sql(con)
        con.close()

    def _verify_registry(self, con) -> None:
        expected = json.loads(EXPECTED.read_text())
        want: dict[str, list] = {}
        for r in self.runs:
            if r.error:
                continue
            q = r.op.kind
            if q in self.oracle:
                if q not in want:
                    want[q] = con.execute(self.oracle[q]).fetchall()
                r.wrong = check.rows_match(r.rows, want[q])
                continue
            key = f"{q}@sf{self.wl.sf}"
            exp = expected.get(key)
            got = {"rows": len(r.rows), "hash": check.content_hash(r.rows)}
            if exp != got:
                # a maintainer who meant the change pastes this into expected.json
                r.wrong = f"{key} gave {json.dumps(got)}, expected.json has {json.dumps(exp)}"

    def _verify_sql(self, con) -> None:
        """Replay the executed statements in DuckDB in the same order."""
        con.execute(MANAGED_DDL)
        con.execute(MANAGED_LOAD)
        for r in self.runs:
            if r.error:
                continue
            got = con.execute(r.op.sql).fetchall()
            if r.op.write:
                n_eng, n_ddb = r.rows[0]["rows_affected"], got[0][0]
                if n_eng != n_ddb:
                    r.wrong = f"rows_affected {n_eng}, expected {n_ddb}"
            else:
                r.wrong = check.rows_match(r.rows, got)
        final = self.ctx.execute(f"SELECT * FROM {MANAGED_TABLE}").collect()
        self.final_wrong = check.rows_match(
            final, con.execute(f"SELECT * FROM {MANAGED_TABLE}").fetchall()
        )

    # -- metrics -----------------------------------------------------------------
    def failures(self) -> int:
        bad = sum(1 for r in self.runs if r.error or r.wrong)
        return bad + (1 if self.final_wrong else 0)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        completed = sum(1 for r in self.runs if not r.error)
        return {
            "setup_s": (self.setup.total_s, "s"),
            "ops_per_s": (completed / self.elapsed, "1/s"),
            "latency_p50_gmean_s": (
                stats.kind_p50_gmean([(r.op.kind, r.latency) for r in self.runs]),
                "s",
            ),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from layers import per_layer_metrics

        m = per_layer_metrics(self, SQL_TAIL_P, CORES)
        m["driver.rss_mb"] = (self.peak_rss_mb, "MB")
        return m

    def write_spans(self) -> Path:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{self.wl.name}-seed{self.seed}.json"
        path.write_text(json.dumps({"spans": self.tracer.spans}, indent=1))
        return path

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)


def data_dir(wl: Workload, run_dir: Path) -> str:
    """Input directory of the workload's scale factor."""
    return str(run_dir / "data" / f"sf{wl.sf}")


def _tables(sf_dir: str) -> list[str]:
    return sorted(p[: -len(".parquet")] for p in os.listdir(sf_dir) if p.endswith(".parquet"))


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mesin_spark" / "__init__.py").is_file():
        log(f"no mesin_spark package under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, str(ROOT))
    wl = WORKLOADS[args.workload]
    run_dir = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    bench = None
    try:
        prepare_env(run_dir)
        import datagen

        datagen.write_sf(wl.sf, data_dir(wl, run_dir))
        bench = Bench(wl, args.seed, args.seconds, bool(args.trace), run_dir)
        bench.start(time.perf_counter())
        log(f"set-up {bench.setup}")
        bench.run()
        bench.verify()
        if bench.trace:
            metrics = bench.per_layer()
            log(f"spans written to {bench.write_spans()}")
        else:
            metrics = bench.end_to_end()
        failed = bench.failures()
        for r in bench.runs:
            if r.wrong:
                log(f"wrong output from {r.op.kind}: {r.wrong}")
        if bench.final_wrong:
            log(f"managed table differs from the DuckDB replay: {bench.final_wrong}")
        line = stats.result_line(failed == 0, len(bench.runs), failed, metrics)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        if run_dir.parent.is_dir() and not any(run_dir.parent.iterdir()):
            run_dir.parent.rmdir()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
