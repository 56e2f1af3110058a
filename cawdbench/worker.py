"""One benchmark run in a process of its own: generate inputs, start Spark,
set up, warm up, run timed sessions for the requested time, check, stop.

Started by ``run.py`` with the isolation environment already in place; it
writes its result as JSON to ``--out`` and its spans to ``--spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402
from workloads import WORKLOADS, OpFailure, Ops  # noqa: E402

#: repetitions of the program's set-up calls; ``setup_s`` takes their median
SETUP_REPEATS = 3


def run(args) -> dict:
    tracer = tracing.Tracer(enabled=bool(args.trace))
    ops = Ops(tracer)
    wl = WORKLOADS[args.workload](args.seed, os.path.abspath("inputs"))
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    from columnar_aware_dedup_spark.session import get_spark

    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("cawdbench")
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    try:
        setups = []

        def set_up() -> None:
            wl.reset(spark)
            t = time.perf_counter()
            wl.setup(spark, ops)
            setups.append(time.perf_counter() - t)

        set_up()
        t = time.perf_counter()
        try:
            wl.warmup(spark, ops)
        except OpFailure:
            pass  # counted by Ops; the timed sessions still run
        warm_s = time.perf_counter() - t
        tracer.harvest()

        sessions: list[float] = []
        roots: list[tracing.Span] = []
        overheads: list[float] = []
        window = time.perf_counter()
        i = 0
        while i < wl.max_sessions and (
            i < wl.min_sessions or time.perf_counter() - window < args.seconds
        ):
            before = tracer.overhead_s
            t = time.perf_counter()
            try:
                with tracer.span("session"):
                    finish = wl.session(spark, ops, i)
                sessions.append(time.perf_counter() - t)
                overheads.append(tracer.overhead_s - before)
                if args.trace:
                    roots.append(_last_root(tracer))
                finish()
            except OpFailure:
                pass  # counted by Ops; the next session starts afresh
            tracer.harvest()
            i += 1
        window_s = time.perf_counter() - window
        try:
            wl.recheck(spark, ops)
        except OpFailure:
            pass
        # further set-ups, each from scratch, for the median
        while len(setups) < SETUP_REPEATS:
            set_up()
    finally:
        spark.stop()

    if not sessions:
        raise RuntimeError("no session completed: " + "; ".join(ops.failures[:5]))
    session_s = statistics.median(sessions)
    metrics = {
        "setup_s": start_s + statistics.median(setups),
        "session_s": session_s,
        **wl.end_to_end(),
        "op_ok_frac": (ops.attempted - ops.failed) / ops.attempted,
    }
    layer = {}
    if args.trace:
        layer = _layer_metrics(tracer, roots, wl, start_s, session_s, overheads)
    print(
        f"[bench] {args.workload}: inputs {gen_s:.1f}s, spark start {start_s:.1f}s,"
        f" set-ups {[round(s, 2) for s in setups]}, warm-up {warm_s:.1f}s;"
        f" {len(sessions)} sessions in {window_s:.1f}s: {[round(s, 2) for s in sessions]};"
        f" failures {ops.failures[:5]}",
        file=sys.stderr,
    )
    if args.trace and args.spans:
        tracer.dump(args.spans)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": min(ops.failed, ops.attempted),
        "end_to_end": metrics,
        "per_layer": layer,
    }


def _last_root(tracer: tracing.Tracer) -> tracing.Span:
    return next(s for s in reversed(tracer.spans) if s.name == "session")


def _layer_metrics(tracer, roots, wl, start_s, session_s, overheads) -> dict:
    """The traced run's per-layer metrics: medians over sessions of each
    session's breakdown, plus the workload's own layer counters."""
    per_session = [tracing.session_breakdown(tracer.spans, r) for r in roots]
    keys = sorted({k for b in per_session for k in b})
    out = {k: statistics.median(b.get(k, 0.0) for b in per_session) for k in keys}

    def med(prefix: str) -> float:
        """Median over sessions of the time spent in spans named ``prefix*``."""
        return statistics.median(
            sum(s.end - s.start for s in tracing.subtree(tracer.spans, r) if s.name.startswith(prefix))
            for r in roots
        )

    out["session.start_s"] = start_s
    out["trace.session_s"] = session_s
    out["trace.overhead_s"] = statistics.median(overheads)
    out["chunkers.s"] = med("chunkers.")
    out["store.probe_s"] = med("store.probe")
    out["store.merge_s"] = med("store.merge")
    out["dedup.classify_s"] = med("dedup.classify")
    out["text.exact_dedup_s"] = med("text.exact_dedup")
    out["text.spans_s"] = med("text.spans")
    out["similarity.minhash_s"] = med("similarity.minhash")
    out["clustering.clusters_s"] = med("clustering.clusters")
    out.update(wl.layer_counters())
    mb = out.get("input_mb_per_session", 0.0)
    out["chunkers.mb_per_s"] = mb / out["chunkers.s"] if out["chunkers.s"] else 0.0
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    p.add_argument("--spans")
    args = p.parse_args()
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - the run failed; report and exit non-zero
        traceback.print_exc()
        return 1
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
