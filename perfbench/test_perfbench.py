"""The benchmark's own tests (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
for p in (str(HERE), str(HERE.parent)):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from workloads import Mismatch, Op  # noqa: E402

SMALL = gen.Sizes(customer=50, supplier=10, part=40, orders=200, lineitem=600,
                  events=300, users=20, documents=120, embeddings=30)
SHAPE = gen.BacktestShape(companies=2, blocks=1, ep1_days=60)


def _write_all(d: Path, seed: int) -> list[Path]:
    gen.write_relational(str(d), seed, SMALL)
    gen.write_backtest(str(d), seed, SHAPE)
    return sorted(d.glob("*.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 7)
    assert [p.name for p in a] == [p.name for p in b]
    assert len(a) == 15
    for x, y in zip(a, b):
        assert filecmp.cmp(x, y, shallow=False), x.name


def test_different_seed_gives_different_inputs(tmp_path):
    a = _write_all(tmp_path / "a", 7)
    c = _write_all(tmp_path / "c", 8)
    differ = {x.stem for x, y in zip(a, c) if not filecmp.cmp(x, y, shallow=False)}
    # region, nation and time_blocks are fixed by design
    assert differ >= {
        "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings", "bars_5m", "fx_rates", "bars_daily",
    }


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    summary = harness.summarize(_fake_results(), 1.0, 100.0, "side")
    assert list(summary["e2e"]) == [n for n, _ in run.END_TO_END]


def _fake_results():
    rs = []
    for k in range(3):
        rs.append(harness.Result(k, "main", "m", True, 0.0, 2.0 + k))
        rs.append(harness.Result(k, "side", "s", False, 0.0, 1.0))
    return rs


class _Ctx:
    span = staticmethod(harness.NoTrace.span)


def _op(kind, value, expected=None, exc=None):
    def run_(ctx):
        if exc:
            raise exc
        return value

    def check(got):
        if got != expected:
            raise Mismatch(f"{got} != {expected}")

    return Op(kind, kind, run_, check)


def test_injected_failures_count_in_failed_share():
    ops = [
        _op("main", 1, 1),
        _op("good", 2, 2),
        _op("wrong", 3, 4),  # output differs from its reference
        _op("boom", None, exc=RuntimeError("injected")),
    ]
    results = harness.run_passes(_Ctx(), ops, "main", 0.0, random.Random(1))
    assert {r.pass_idx for r in results} == {0, 1}
    harness.check_results(results, ops)
    s = harness.summarize(results, 1.0, 1.0, "good")
    assert s["attempted"] == 8
    assert s["failed"] == 4
    assert s["detail"]["failed_share"] == {"value": 0.5, "n": 8}
    assert any("injected" in e for e in s["errors"])
    assert any("3 != 4" in e for e in s["errors"])


def test_pass_order_is_seeded_and_main_first():
    ops = [_op(k, None) for k in ("a", "main", "b", "c", "d")]
    order = lambda seed: [  # noqa: E731
        o.kind for o in harness.pass_order(ops, "main", random.Random(seed))
    ]
    assert order(3) == order(3)
    assert order(3)[0] == "main"
    assert len({tuple(order(s)) for s in range(10)}) > 1
    twice = [o.kind for o in harness.pass_order(ops, "main", random.Random(3), "b", 2)]
    assert twice[0] == "main" and sorted(twice[1:]) == sorted("abbcd")


def test_pass_time_sums_per_operation_medians():
    rs = [harness.Result(1, "ext", n, False, 0.0, s)
          for n, s in (("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 5.0))]
    assert harness.pass_time(rs) == 2.0 + 5.0
    assert harness.pass_time([]) is None


def test_summary_separates_cold_and_warm():
    rs = _fake_results() + [harness.Result(k, "third", "t", False, 0.0, 0.5) for k in range(3)]
    s = harness.summarize(rs, 3.0, 100.0, "side")["e2e"]
    assert s["setup_s"] == 3.0
    assert s["main_cold_s"] == 2.0
    assert s["main_s"] == 3.5  # median of passes 1 and 2
    assert s["other_pass_s"] == 1.0  # the other kind only
    assert s["pass_s"] == 3.5 + 1.0 + 0.5


def test_p90_needs_ten_samples_beyond():
    assert harness.p90_with_tail([float(i) for i in range(99)]) is None
    assert harness.p90_with_tail([float(i) for i in range(100)]) == pytest.approx(89.1)


def test_summary_reports_multi_op_kinds_as_passes():
    rs = [harness.Result(k, "sql", n, False, 0.0, 1.0 + k) for k in range(2) for n in "ab"]
    rs += [harness.Result(k, "ep1", "ep1", False, 0.0, 2.0) for k in range(2)]
    d = harness.summarize(rs, 1.0, 1.0, "sql")["detail"]
    assert d["sql_pass_s"] == {"value": 4.0, "n": 2}
    assert d["sql_cold_pass_s"] == {"value": 2.0, "n": 1}
    assert d["ep1_cold_s"] == {"value": 2.0, "n": 1} and d["ep1_s"]["n"] == 1


def test_self_time_subtracts_children():
    S = spans.Span
    tree = [
        S(0, "op", 0.0, 10.0, None, 0),
        S(1, "a", 1.0, 4.0, 0, 0),
        S(2, "a.child", 2.0, 3.0, 1, 0),
        S(3, "b", 3.5, 6.0, 0, 0),  # overlaps a: counted once in op
        S(4, "c", 9.0, 12.0, 0, 0),  # runs past its parent: clipped
    ]
    st = spans.self_times(tree)
    assert st[2] == pytest.approx(1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.5)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))


def test_tracer_records_nested_spans_per_op():
    t = spans.Tracer()
    t.op = 5
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.op) == ("inner", outer.id, 5)
    assert outer.parent is None and outer.end >= inner.end


def test_instrument_patches_importers_and_close_restores():
    import sparkwrangle.ops.filters as filters
    import sparkwrangle.pipelines.intraday as intraday

    original = filters.minute_of_day
    assert intraday.minute_of_day is original
    t = spans.Tracer()
    assert t.instrument() > 20
    try:
        assert filters.minute_of_day is not original
        # pipelines bound the ops function by name at import
        assert intraday.minute_of_day is filters.minute_of_day
        assert intraday.minute_of_day.__wrapped__ is original
    finally:
        t.close()
    assert filters.minute_of_day is original
    assert intraday.minute_of_day is original


def test_event_log_attribution(tmp_path):
    op_span = spans.Span(0, "op.x", 100.0, 110.0, None, 0)
    build = spans.Span(1, "ext.dedup.call", 100.5, 104.0, 0, 0)
    drain = spans.Span(2, "catalog.drain", 105.0, 110.0, 0, 0)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 106000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 109000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "MapInPandas", "children": [], "metrics": [
             {"name": "time to run Python workers", "accumulatorId": 9,
              "metricType": "timing"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Accumulables": [{"ID": 9, "Update": "1500"}]},
         "Task Metrics": {"Executor Run Time": 2000, "Input Metrics": {"Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    py4j = {0: [(100.2, 100.4), (102.5, 103.5)]}  # second call half inside job 0
    m = spans.event_log_metrics(str(tmp_path), [op_span, build, drain],
                                {0: (100.0, 110.0)}, py4j)[0]
    assert m["spark.jobs"] == 2
    assert m["spark.eager_jobs"] == 1
    assert m["ext.dedup.eager_jobs"] == 1
    assert m["spark.stages"] == 1 and m["spark.tasks"] == 1
    assert m["pyworker.run_s"] == pytest.approx(1.5)
    assert m["spark.executor_run_s"] == pytest.approx(2.0)
    assert m["io.scan_bytes"] == 10 and m["spark.shuffle_write_bytes"] == 7
    assert m["driver.gap_s"] == pytest.approx(10.0 - 2.0 - 3.0)
    assert m["driver.py4j_calls"] == 2
    assert m["driver.py4j_s"] == pytest.approx(0.2 + 0.5)
