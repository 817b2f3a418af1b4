"""The closed loop, output checks and metric summaries.

One client thread: the next operation starts only after the previous one
returns. Pass 0 runs right after set-up and is the cold pass; later
passes run until the measuring window has passed (at least one).
Nothing here imports Spark, so the loop and summaries are testable on
their own.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Result:
    pass_idx: int
    kind: str
    name: str
    main: bool
    start: float  # epoch seconds, to line up with the Spark event log
    seconds: float
    cpu_s: float = 0.0
    value: object = None
    error: str | None = None


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU clock ticks incl. reaped children) for every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we looked
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        table[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(root: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers)."""
    table = _proc_table()
    pids = [os.getpid(), *descendants(os.getpid(), table)]
    return sum(table[p][1] for p in pids if p in table) / os.sysconf("SC_CLK_TCK")


class NoTrace:
    """The untraced run's tracer: spans cost one call and record nothing."""

    op = None

    @staticmethod
    def bind(spark):
        pass

    @staticmethod
    def span(name):
        return contextlib.nullcontext()


def pass_order(ops, main_kind: str, rng: random.Random, other_kind: str | None = None,
               rounds: int = 1) -> list:
    """Main operations first, in list order, then the rest in a seeded
    order, with each operation of ``other_kind`` there ``rounds`` times."""
    head = [o for o in ops if o.kind == main_kind]
    rest = [o for o in ops if o.kind != main_kind]
    rest += [o for o in ops if o.kind == other_kind] * (rounds - 1)
    rng.shuffle(rest)
    return head + rest


def run_passes(ctx, ops, main_kind: str, seconds: float, rng: random.Random,
               tracer=NoTrace(), deadline: float = float("inf"),
               other_kind: str | None = None, rounds: int = 1) -> list[Result]:
    """Run the cold pass, then warm passes until ``seconds`` have passed
    since the first warm pass began (or ``deadline``, a perf_counter
    value, is reached). Every pass runs the operations of ``other_kind``
    ``rounds`` times and the others once."""
    results: list[Result] = []
    warm_t0 = None
    k = 0
    while True:
        for op in pass_order(ops, main_kind, rng, other_kind, rounds):
            tracer.op = len(results)
            r = Result(k, op.kind, op.name, op.kind == main_kind, time.time(), 0.0)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{op.kind}"):
                    r.value = op.run(ctx)
            except Exception as e:  # a failed operation is counted, not fatal
                r.error = f"{type(e).__name__}: {e}"
                traceback.print_exc()
            r.seconds = time.perf_counter() - t0
            r.cpu_s = tree_cpu_s() - c0
            results.append(r)
        tracer.op = None
        k += 1
        now = time.perf_counter()
        if warm_t0 is None:
            warm_t0 = now
        elif now - warm_t0 >= seconds or now >= deadline:
            return results


def check_results(results: list[Result], ops) -> None:
    """Check every operation's output against its reference; runs after
    the loop, outside every timed interval."""
    check = {(o.kind, o.name): o.check for o in ops}
    for r in results:
        if r.error is not None:
            continue
        try:
            check[(r.kind, r.name)](r.value)
        except Exception as e:
            r.error = f"{type(e).__name__}: {e}"
        r.value = None


def p90_with_tail(xs: list[float]):
    """The 90th percentile, or None when fewer than ten samples lie
    beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def pass_time(results: list[Result]) -> float | None:
    """A typical pass over these operations: the sum, over operations, of
    each one's median time."""
    by_op = defaultdict(list)
    for r in results:
        by_op[(r.kind, r.name)].append(r.seconds)
    return sum(statistics.median(v) for v in by_op.values()) if by_op else None


def summarize(results: list[Result], setup_s: float, peak_rss_mb: float,
              other_kind: str | None) -> dict:
    """End-to-end metrics under the workload-neutral names of
    BENCHMARK.json, plus the per-kind figures behind them
    (``ep2_cold_s``, ``sql_p50_s``, ...), each with its sample count.
    A kind with one operation (``ep2``, ``ep1``, ``curate``) is reported
    as its first and its median time; a kind with several (``sql``,
    ``ext``) as a pass and per-query latencies."""
    ok = [r for r in results if r.error is None]
    warm = [r for r in ok if r.pass_idx >= 1]
    main_cold = [r.seconds for r in ok if r.main and r.pass_idx == 0]
    main_warm = [r.seconds for r in warm if r.main]
    other = [r for r in warm if r.kind == other_kind]
    med = lambda xs: statistics.median(xs) if xs else None  # noqa: E731
    e2e = {
        "setup_s": setup_s,
        "main_cold_s": main_cold[0] if main_cold else None,
        "main_s": med(main_warm),
        "other_pass_s": pass_time(other),
        "pass_s": pass_time(warm),
    }
    counts = {
        "setup_s": 1,
        "main_cold_s": len(main_cold),
        "main_s": len(main_warm),
        "other_pass_s": len(other),
        "pass_s": len(warm),
    }
    detail = {}
    for kind in sorted({r.kind for r in results}):
        first = {}
        for r in ok:
            if r.kind == kind and r.pass_idx == 0:
                first.setdefault(r.name, r.seconds)
        cold = list(first.values())
        per_op = [r.seconds for r in warm if r.kind == kind]
        if len({r.name for r in results if r.kind == kind}) == 1:
            detail[f"{kind}_cold_s"] = (sum(cold), len(cold))
            detail[f"{kind}_s"] = (med(per_op), len(per_op))
        else:
            detail[f"{kind}_cold_pass_s"] = (sum(cold), 1)
            detail[f"{kind}_pass_s"] = (pass_time([r for r in warm if r.kind == kind]), len(per_op))
            detail[f"{kind}_p50_s"] = (med(per_op), len(per_op))
            p90 = p90_with_tail(per_op)
            if p90 is not None:
                detail[f"{kind}_p90_s"] = (p90, len(per_op))
    detail["peak_rss_mb"] = (peak_rss_mb, 1)
    attempted = len(results)
    failed = attempted - len(ok)
    detail["failed_share"] = (failed / attempted if attempted else None, attempted)
    return {
        "e2e": e2e,
        "counts": counts,
        "detail": {k: {"value": v, "n": n} for k, (v, n) in detail.items()},
        "attempted": attempted,
        "failed": failed,
        "errors": sorted({f"{r.kind}:{r.name}: {r.error}"[:300] for r in results if r.error}),
    }
