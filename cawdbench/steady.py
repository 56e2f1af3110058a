"""Steadiness tool: repeat benchmark runs and print, per workload and
metric, the median and the spread (distance between the first and third
quartile, as a share of the median) next to the metric's bound.

    python3 cawdbench/steady.py --runs 10 [--workload snapshot_sync] [--trace]

Runs go one after another, each with another seed (1..runs, offset by
``--first-seed``). With ``--trace`` every seed is also run traced, and the
tracing overhead is printed as the traced median ``session_s`` minus the
untraced one. Raw results are appended as JSON lines to
``.bench_runs/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    phases = [line for line in proc.stderr.splitlines() if line.startswith("[bench]")]
    out.update(workload=workload, seed=seed, trace=trace, wall_s=wall, phases=phases[-1:],
               cpu_probe_s=cpu_probe())
    return out


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: recorded beside each run as
    context for host speed, never used to scale a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) with Python's default quartile method."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log_path = os.path.join(ROOT, ".bench_runs", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    for wl in workloads:
        plain, traced, walls = [], [], []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            for trace in (0, 1) if args.trace else (0,):
                r = run_once(wl, seed, spec["run_seconds"], trace)
                with open(log_path, "a") as f:
                    f.write(json.dumps(r) + "\n")
                (traced if trace else plain).append(r)
                walls.append(r["wall_s"])
                print(f"  {wl} seed {seed} trace {trace}: {r['wall_s']:.0f}s correct={r['correct']}",
                      file=sys.stderr)
        print(f"{wl}: {len(plain)} runs, wall per run median {statistics.median(walls):.1f}s,"
              f" all correct: {all(r['correct'] for r in plain + traced)}")
        for name, bound in bounds.items():
            med, sp = spread([r["metrics"][name]["value"] for r in plain])
            flag = "" if sp <= bound / 3 or name == "setup_s" else "  <-- above bound/3"
            print(f"  {name:28s} median {med:12.5g}  spread {sp:7.2%}  bound {bound:.0%}{flag}")
        if traced:
            t_med = statistics.median(r["metrics"]["trace.session_s"]["value"] for r in traced)
            u_med = statistics.median(r["metrics"]["session_s"]["value"] for r in plain)
            cov = min(r["metrics"]["trace.coverage"]["value"] for r in traced)
            print(f"  tracing overhead: traced session_s {t_med:.3f}s - untraced {u_med:.3f}s"
                  f" = {t_med - u_med:+.3f}s; lowest span coverage {cov:.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
