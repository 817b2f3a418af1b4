"""Repeat runs of the benchmark and summarize them.

    python3 perfbench/study.py stability --seeds 1-10 [--workloads backtest,catalog]
    python3 perfbench/study.py overhead --seeds 1-3 [--workloads backtest,catalog]

``stability`` runs each workload once per seed and prints, for every
end-to-end metric, the median, the quartiles (``statistics.quantiles``,
n=4) and their distance as a share of the median. ``overhead`` runs each
seed untraced and traced, prints the traced run's end-to-end metrics
minus the untraced run's, and checks that layers attribute where they
should: ``pyworker.*`` is zero where no Python worker runs and
``io.write_*`` is zero where nothing is written.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

# metric prefix -> workloads on which it must read zero / must not
MUST_BE_ZERO = {"pyworker.": ("curate", "sql"), "io.write_": ("sql", "backtest", "ext")}
MUST_BE_SET = {"pyworker.run_s": ("backtest",), "io.write_bytes": ("curate", "catalog")}


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run; returns (detail report, result line). The
    report's ``wall_s`` is the run's time from process start to exit."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True, timeout=300, cwd=HERE.parent,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    detail, result = proc.stdout.strip().splitlines()[-2:]
    report = json.loads(detail)["perfbench"] | {"wall_s": time.perf_counter() - t0}
    return report, json.loads(result)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def stability(workloads: list[str], seeds: list[int]) -> None:
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    for wl in workloads:
        rows = []
        for seed in seeds:
            detail, result = run_once(wl, seed, 0)
            assert result["correct"], detail["errors"]
            rows.append(result["metrics"])
            print(f"# {wl} seed {seed}, {detail['wall_s']:.0f} s: " + json.dumps(
                {k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)
        print(f"\n{wl}: {len(seeds)} runs, seeds {seeds[0]}-{seeds[-1]}")
        print("| metric | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for name in bounds:
            med, q1, q3, sp = spread([r[name]["value"] for r in rows])
            print(f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {sp:.3f} | {bounds[name]} |")


def overhead(workloads: list[str], seeds: list[int]) -> None:
    for wl in workloads:
        diffs: dict[str, list[float]] = {}
        zero_ok = True
        for seed in seeds:
            plain, _ = run_once(wl, seed, 0)
            traced, layers = run_once(wl, seed, 1)
            for k, v in plain["e2e"].items():
                if v is not None:  # curate/sql/ext alone have no other_pass_s
                    diffs.setdefault(k, []).append(traced["e2e"][k] - v)
            for name, m in layers["metrics"].items():
                zero = any(name.startswith(p) and wl in w for p, w in MUST_BE_ZERO.items())
                if (zero and m["value"] != 0) or (wl in MUST_BE_SET.get(name, ()) and not m["value"]):
                    zero_ok = False
                    print(f"  {wl} seed {seed}: {name} = {m['value']}")
        print(f"\n{wl}: traced minus untraced, median of {len(seeds)} seed pairs")
        for k, d in diffs.items():
            print(f"  {k}: {statistics.median(d):+.4g}")
        print(f"  attribution checks: {'ok' if zero_ok else 'FAILED'}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("what", choices=("stability", "overhead"))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    a = p.parse_args()
    fn = stability if a.what == "stability" else overhead
    fn(a.workloads.split(","), _seeds(a.seeds))


if __name__ == "__main__":
    main()
