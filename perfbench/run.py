"""Benchmark entry point.

    python3 perfbench/run.py --workload backtest --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed`` under a scratch directory
inside the checkout, sets up a session (JVM start, ``get_spark`` and the
workload's loads, as every CLI invocation does), runs one cold pass and
then warm passes for ``--seconds``, checks every operation's output against an
independent reference, and prints one JSON object as the last line of
standard output. The line before it carries the per-kind figures
(``ep2_cold_s``, ``sql_p50_s``, ..., ``failed_share``) with sample
counts.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions, enables the Spark event log and reports the
per-layer metrics instead, with every span on the detail line (see
README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# (name, unit); the order and units BENCHMARK.json declares
END_TO_END = [
    ("setup_s", "s"),
    ("main_cold_s", "s"),
    ("main_s", "s"),
    ("other_pass_s", "s"),
    ("pass_s", "s"),
]
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("io.load_s", "s"),
    ("io.write_table_s", "s"),
    ("io.write_bytes", "B"),
    ("io.scan_bytes", "B"),
    ("sql_dialect.translate_s", "s"),
    ("sql.parse_analyze_s", "s"),
    ("catalog.build_s", "s"),
    ("catalog.drain_s", "s"),
    ("pipelines.build_intraday_feed_s", "s"),
    ("pipelines.intraday_backtest_s", "s"),
    ("pipelines.daily_pairs_backtest_s", "s"),
    ("pipelines.report_s", "s"),
    ("ops.build_s", "s"),
    ("pyworker.start_s", "s"),
    ("pyworker.init_s", "s"),
    ("pyworker.run_s", "s"),
    ("pyworker.bytes_sent", "B"),
    ("pyworker.bytes_returned", "B"),
    ("ext.text.call_s", "s"),
    ("ext.hashing.call_s", "s"),
    ("ext.dedup.call_s", "s"),
    ("ext.dedup.lsh_verified_pairs_s", "s"),
    ("ext.dedup.connected_components_s", "s"),
    ("ext.dedup.eager_jobs", "count"),
    ("ext.similarity.call_s", "s"),
    ("ext.graph.call_s", "s"),
    ("ext.multimodal.call_s", "s"),
    ("ext.sketches.call_s", "s"),
    ("driver.py4j_calls", "count"),
    ("driver.py4j_s", "s"),
    ("driver.gap_s", "s"),
    ("spark.jobs", "count"),
    ("spark.eager_jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_write_s", "s"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "B"),
]
# Never start a pass after this many seconds of the run: one run must end
# within three minutes.
PASS_DEADLINE_S = 110.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file the run writes under ``work`` and let the Python
    workers import the program (unpickling fails with ``No module named
    'sparkwrangle'`` otherwise). Must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for p in (str(HERE), str(ROOT / "tests"), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def _vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _conf(work: Path, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if traced:
        (work / "events").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (work / "events").as_uri(),
        }
    return conf


def _shutdown() -> None:
    """Stop the JVM and wait until it and every Python worker has exited."""
    if "pyspark" not in sys.modules:
        return
    from harness import descendants
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in pids):
        time.sleep(0.1)


# the operation id of the spans made during set-up
SETUP_OP = -1
SETUP_LAYERS = ("session.get_spark_s", "io.load_s")


def _layer_metrics(tracer, results, event_dir) -> dict:
    """Per-layer self times and event-log figures per warm pass; the
    set-up layers are taken from the set-up instead."""
    from spans import event_log_metrics, self_times

    selfs = self_times(tracer.spans)
    warm = {i for i, r in enumerate(results) if r.pass_idx >= 1}
    n_pass = len({results[i].pass_idx for i in warm}) or 1
    names = {n for n, _ in PER_LAYER}
    total = dict.fromkeys(names, 0.0)
    setup = dict.fromkeys(SETUP_LAYERS, 0.0)
    for s in tracer.spans:
        key = f"{s.name}_s"
        if s.op == SETUP_OP and key in setup:
            setup[key] += selfs[s.id]
        elif s.op in warm and key in names and key not in setup:
            total[key] += selfs[s.id]
    windows = {i: (results[i].start, results[i].start + results[i].seconds) for i in warm}
    for per_op in event_log_metrics(event_dir, tracer.spans, windows, tracer.py4j).values():
        for k, v in per_op.items():
            total[k] += v
    return {k: v / n_pass for k, v in total.items()} | setup


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    if not (ROOT / "sparkwrangle" / "session.py").is_file():
        print(f"perfbench: no sparkwrangle checkout at {ROOT}", file=sys.stderr)
        return 2
    work_root = HERE / "_work"
    work_root.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=work_root))
    try:
        _isolate(work)
        import harness
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        wl = workloads.WORKLOADS[args.workload]
        data_dir = str(work / "data")
        phases = {}
        t0 = time.perf_counter()
        facts = wl.generate(data_dir, args.seed)
        phases["generate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ops = wl.ops(data_dir)  # references: before any timing
        phases["reference_s"] = time.perf_counter() - t0

        from sparkwrangle.session import get_spark

        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.instrument()
        else:
            tracer = harness.NoTrace()
        conf = _conf(work, bool(args.trace))
        (work / "out").mkdir()
        ctx = workloads.Ctx(None, data_dir, str(work / "out"), tracer.span)

        tracer.op = SETUP_OP
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            ctx.spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
        tracer.bind(ctx.spark)
        wl.load(ctx)
        setup_s = time.perf_counter() - t0
        tracer.op = None
        ctx.spark.sparkContext.setLogLevel("ERROR")
        results = harness.run_passes(
            ctx,
            ops,
            wl.main,
            args.seconds,
            random.Random(args.seed),
            tracer,
            deadline=t_start + PASS_DEADLINE_S,
            other_kind=wl.other,
            rounds=wl.rounds,
        )
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(int(jvm_pid))
        ctx.spark.stop()
        _shutdown()
        t0 = time.perf_counter()
        harness.check_results(results, ops)
        phases["check_s"] = time.perf_counter() - t0
        summary = harness.summarize(results, setup_s, peak, wl.other)
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "inputs": facts,
            "ops": [[r.pass_idx, r.name, r.seconds, r.cpu_s] for r in results],
            "passes": 1 + max(r.pass_idx for r in results),
            "phases": phases,
            **{k: summary[k] for k in ("e2e", "counts", "detail", "errors")},
        }
        if args.trace:
            layers = _layer_metrics(tracer, results, str(work / "events"))
            tracer.close()
            report["spans"] = [[s.id, s.name, s.start, s.end, s.parent, s.op] for s in tracer.spans]
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": summary["e2e"][n], "unit": u} for n, u in END_TO_END}
        phases["total_s"] = time.perf_counter() - t_start
        print(json.dumps({"perfbench": report}))
        print(
            json.dumps(
                {
                    "correct": summary["failed"] == 0,
                    "attempted": summary["attempted"],
                    "failed": summary["failed"],
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            work_root.rmdir()


if __name__ == "__main__":
    sys.exit(main())
