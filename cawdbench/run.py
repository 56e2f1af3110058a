"""Benchmark entry point: run one workload once and print its metrics.

    python3 cawdbench/run.py --workload snapshot_sync --seed 1 --seconds 15 --trace 0

Run from the repository root. The run happens in a child process
(``worker.py``) started in a session of its own, with its own warehouse,
Spark local dirs and temp dir under ``.bench_runs/`` and a Spark sized to
this host. This process samples the resident memory of the child's whole
process tree (driver Python, JVM, Python workers), stops whatever the child
left running, and prints one JSON line last on standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``,
as named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the child is stopped after this long, so the run ends within 180 s
CHILD_TIMEOUT_S = 165.0


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _host_driver_memory() -> str:
    """A driver heap sized to this host: 15 % of physical memory, within
    1-4 GiB (the program's 16g default cannot start on small hosts)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, int(total_kb * 0.15 / 1024)))}m"


def _resident_bytes(pid: str) -> int:
    """Proportional set size: shared pages (the forked Python workers share
    most of theirs) are split among the processes that map them, so the sum
    over a process tree counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _session_procs(sid: int) -> dict[int, int]:
    """pid -> resident bytes of every live process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid or fields[0] == "Z":
                continue
            out[int(name)] = _resident_bytes(name)
        except (OSError, IndexError, ValueError):
            continue  # exited while being read
    return out


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of a process session."""

    def __init__(self, sid: int, period_s: float = 1.0):
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, sum(_session_procs(self.sid).values()))
            self._stop_event.wait(self.period_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _reap(sid: int, grace_s: float = 20.0) -> None:
    """Stop every process left in session ``sid`` and wait until all are gone."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while procs := _session_procs(sid):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in procs:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "columnar_aware_dedup_spark")) or not os.path.exists(spec_path):
        print("cawdbench: run from a checkout holding the program and BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    runs = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(_host_cpus()),
        CAWD_DRIVER_MEMORY=_host_driver_memory(),
        CAWD_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # no hsperfdata files, which the JVM would write under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # no console progress bar: the run's standard output carries the result
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    env.pop("OMP_NUM_THREADS", None)
    out_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(run_dir, "spans.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out_path, "--spans", spans_path,
    ]
    child = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("cawdbench: run exceeded its time limit", file=sys.stderr)
        code = None
    finally:
        _reap(child.pid)
        child.wait()
        sampler.stop()

    result = None
    if code == 0 and os.path.exists(out_path):
        with open(out_path) as f:
            result = json.load(f)
        if os.path.exists(spans_path):
            os.makedirs(os.path.join(runs, "spans"), exist_ok=True)
            shutil.move(
                spans_path,
                os.path.join(runs, "spans", f"{args.workload}-s{args.seed}-t{args.trace}.json"),
            )
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"cawdbench: run failed (exit code {code})", file=sys.stderr)
        return 1

    if args.trace:
        wanted = spec["per_layer"]
        # a layer the workload does not use reads 0
        values = {m["name"]: 0.0 for m in wanted} | result["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = {**result["end_to_end"], "peak_rss_mb": sampler.peak / 2**20}
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
