"""Tests of the benchmark's own logic. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from layers import per_layer_metrics  # noqa: E402
from tracing import STAGE_FIELDS, OpTrace, PhaseStats  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- tail percentile ---------------------------------------------------------


@pytest.mark.parametrize("n", [21, 24, 32, 50, 100, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    p = stats.tail_percentile(n)
    values = list(range(n))
    tail = stats.percentile(values, p)
    assert sum(v > tail for v in values) >= stats.TAIL_BEYOND
    # and it is the highest such whole percentile
    assert sum(v > stats.percentile(values, p + 1) for v in values) < stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [0, 1, 6, 12, 20])
def test_no_tail_where_it_would_not_exceed_the_median(n):
    assert stats.tail_percentile(n) is None


def test_sql_mixed_tail_is_fixed_by_its_cycle():
    cycle = WORKLOADS["sql_mixed"].cycle(random.Random(0))
    assert run.SQL_TAIL_P == stats.tail_percentile(len(cycle)) == 58
    assert f"sql.latency_p{run.SQL_TAIL_P}_s" in {m["name"] for m in SPEC["per_layer"]}


# -- latency over a mixture of op kinds ------------------------------------------


def test_kind_latency_is_the_median_for_one_kind():
    assert stats.kind_p50_gmean([("a", 1.0), ("a", 3.0), ("a", 2.0)]) == pytest.approx(2.0)


def test_kind_latency_does_not_jump_with_one_slow_op():
    # three fast kinds, three slow ones: the plain median lies in the gap
    fast = [(k, v) for k in "abc" for v in (1.0, 1.1, 1.05)]
    slow = [(k, v) for k in "def" for v in (2.0, 2.1, 2.05)]
    before = fast + slow
    after = [("a", 2.5)] + before[1:]  # one fast op runs slow
    plain = stats.median([v for _, v in after]) / stats.median([v for _, v in before])
    kind = stats.kind_p50_gmean(after) / stats.kind_p50_gmean(before)
    assert plain > 1.25
    assert kind == pytest.approx(1.0, abs=0.02)


def test_kind_latency_weighs_each_kind_alike():
    base = [("fast", 0.1), ("slow", 10.0)]
    assert stats.kind_p50_gmean([("fast", 0.2), ("slow", 10.0)]) == pytest.approx(
        stats.kind_p50_gmean([("fast", 0.1), ("slow", 20.0)])
    )
    assert stats.kind_p50_gmean(base) == pytest.approx(1.0)


# -- metric names and limits ---------------------------------------------------


def test_benchmark_json_passes_its_own_rules():
    stats.validate_spec(SPEC)
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("bad", ["_lead", "has space", "x" * 65, "semi;colon", ""])
def test_bad_metric_names_are_refused(bad):
    spec = json.loads(json.dumps(SPEC))
    spec["per_layer"][0]["name"] = bad
    with pytest.raises(ValueError):
        stats.validate_spec(spec)


def test_metric_count_limits():
    spec = json.loads(json.dumps(SPEC))
    one = spec["end_to_end"][0]
    spec["end_to_end"] = [dict(one, name=f"m{i}") for i in range(stats.MAX_END_TO_END + 1)]
    with pytest.raises(ValueError, match="end_to_end"):
        stats.validate_spec(spec)
    spec = json.loads(json.dumps(SPEC))
    one = spec["per_layer"][0]
    spec["per_layer"] = [dict(one, name=f"l{i}") for i in range(stats.MAX_PER_LAYER + 1)]
    with pytest.raises(ValueError, match="per_layer"):
        stats.validate_spec(spec)


def test_bound_and_unit_rules():
    spec = json.loads(json.dumps(SPEC))
    spec["end_to_end"][0]["bound"] = 0.3
    with pytest.raises(ValueError, match="bound"):
        stats.validate_spec(spec)
    spec = json.loads(json.dumps(SPEC))
    spec["per_layer"][0]["unit"] = "seconds per op"
    with pytest.raises(ValueError, match="unit"):
        stats.validate_spec(spec)


def test_duplicate_names_are_refused():
    spec = json.loads(json.dumps(SPEC))
    spec["per_layer"][1]["name"] = spec["per_layer"][0]["name"]
    with pytest.raises(ValueError, match="twice"):
        stats.validate_spec(spec)


# -- error_rate --------------------------------------------------------------


def _bench(workload="llm_dedup_sf0.01", trace=False):
    return run.Bench(WORKLOADS[workload], 1, 10, trace, Path("/nonexistent"))


def _registry_check(rows, oracle_sql="SELECT 1 AS a, 2.5 AS b"):
    import duckdb

    b = _bench()
    b.oracle = {"q_knn_join": oracle_sql}
    b.runs = [run.OpRun(Op("q_knn_join"), 0.5, rows=rows)]
    con = duckdb.connect()
    b._verify_registry(con)
    con.close()
    return b


def test_right_result_keeps_error_rate_zero():
    b = _registry_check([(1, 2.5)])
    assert b.failures() == 0
    assert stats.error_rate(len(b.runs), b.failures()) == 0.0


def test_wrong_result_raises_error_rate():
    b = _registry_check([(1, 2.7)])
    assert b.runs[0].wrong
    assert stats.error_rate(len(b.runs), b.failures()) == 1.0


def test_exception_raises_error_rate():
    b = _bench()
    b.runs = [
        run.OpRun(Op("q_knn_join"), 0.5, rows=[]),
        run.OpRun(Op("q_pagerank"), 0.1, error="AnalysisException: boom"),
    ]
    assert b.failures() == 1
    assert stats.error_rate(len(b.runs), b.failures()) == 0.5


def test_failed_ops_do_not_count_as_completed():
    b = _bench()
    b.setup = run.Setup(session_s=5.0, register_s=[1.0])
    b.elapsed = 2.0
    b.runs = [
        run.OpRun(Op("q_knn_join"), 0.5, rows=[]),
        run.OpRun(Op("q_pagerank"), 0.1, error="boom"),
    ]
    assert b.end_to_end()["ops_per_s"] == (0.5, "1/s")


def test_op_that_raises_is_counted_not_fatal():
    b = _bench()

    def boom(spark, sf_dir):
        raise RuntimeError("builder failed")

    b.builders = {"q_knn_join": boom}
    r = b._exec(Op("q_knn_join"), "/nonexistent", None)
    assert r.error.startswith("RuntimeError") and r.rows is None


def test_rows_only_op_without_recorded_result_is_wrong():
    b = _bench()
    b.oracle = {}
    b.runs = [run.OpRun(Op("q_not_recorded"), 0.5, rows=[(1,)])]
    import duckdb

    b._verify_registry(duckdb.connect())
    assert b.runs[0].wrong and b.failures() == 1
    # the message carries what to record if the change was intended
    assert check.content_hash([(1,)]) in b.runs[0].wrong and '"rows": 1' in b.runs[0].wrong


# -- output comparison ---------------------------------------------------------


def test_rows_compare_as_multisets_with_float_tolerance():
    assert check.rows_match([("a", 1), ("b", 0.1 + 0.2)], [("b", 0.3), ("a", 1)]) is None
    assert check.rows_match([("a", 1)], [("a", 1), ("a", 1)]) is not None
    assert check.rows_match([("a", 1)], [("a", 2)]) is not None


def test_rounded_sums_may_differ_in_the_last_kept_digit_only():
    assert check.rows_match([(2975161.81,)], [(2975161.8,)]) is None
    assert check.rows_match([(2975161.81,)], [(2975161.83,)]) is not None
    assert check.rows_match([(0.1234567,)], [(0.1234569,)]) is not None
    # a short repr is no licence: small values must match within 1e-9
    assert check.rows_match([(1.0,)], [(0.9,)]) is not None
    assert check.rows_match([(0.5,)], [(0.6,)]) is not None
    assert check.rows_match([(1234.56,)], [(1234.57,)]) is not None


def test_content_hash_ignores_order_and_float_noise():
    a = [(1, 0.1234561), (2, None)]
    b = [(2, None), (1, 0.12345610000000001)]
    assert check.content_hash(a) == check.content_hash(b)
    assert check.content_hash(a) != check.content_hash([(1, 0.1234571), (2, None)])


# -- per-layer metric set ------------------------------------------------------


def _trace(op_id, kind, write=False):
    t = OpTrace(op_id, kind, write, build_s=0.2, exec_s=0.3, dml_row_bytes=10.0)
    for p in ("build", "dml", "exec"):
        t.phases[p] = PhaseStats(jobs=1, job_s=0.1, stages=dict.fromkeys(STAGE_FIELDS, 1.0))
    t.catalyst = {"parsing": 0.01, "analysis": 0.02, "optimization": 0.03, "planning": 0.01}
    return t


def test_traced_run_emits_exactly_the_declared_per_layer_metrics():
    b = _bench("sql_mixed", trace=True)
    b.setup = run.Setup(session_s=5.0, warmup_s=10.0, register_s=[1.0, 1.1, 0.9])
    status = [{"rows_affected": 3}]
    for i in range(4):
        write = i % 2 == 1
        op = Op("update" if write else "join3", write=write, sql="SELECT 1")
        rows = status if write else [(1,)]
        b.runs.append(run.OpRun(op, 0.4, rows=rows))
        b.runs.append(run.OpRun(op, 0.5, rows=rows, traced=True, trace=_trace(i, op.kind, write)))
    names = set(per_layer_metrics(b, run.SQL_TAIL_P, run.CORES)) | {"driver.rss_mb"}
    assert names == {m["name"] for m in SPEC["per_layer"]}
