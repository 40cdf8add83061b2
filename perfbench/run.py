#!/usr/bin/env python3
"""Job-level benchmark: runs one workload's real job ``main()`` in-process,
op after op, on one warm SparkSession, checks every op's output, and prints
one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Workloads: extract_fresh, append_incremental, curate_ladder (see
perfbench/README.md; BENCHMARK.json lists the first two). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same ops with outside spans and the Spark event log
on and prints the per-layer metrics instead. Exit code 0 means every
checked op matched its reference; a mismatch exits 1, a missing program 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

START = time.monotonic()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# every run must end well inside 180 s: no op starts after NEW_OP_CUTOFF_S,
# a hung job call is cancelled after common.OP_TIMEOUT_S, and the watchdog
# kills the run (and its JVM) at HARD_STOP_S
NEW_OP_CUTOFF_S = 110.0
HARD_STOP_S = 172.0

END_TO_END = {"rows_per_s": "rows/s", "op_s_p50": "s", "setup_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "ingest_job.main_s": "s",
    "readers.rows_quarantined": "count",
    "extract_job.main_s": "s",
    "lineage.pending_files_s": "s",
    "lineage.input_files": "count",
    "lineage.pending_files": "count",
    "lineage.rows_read_per_row_extracted": "ratio",
    "lineage.spark_jobs": "count",
    "spark.scan_s": "s",
    "extract.extract_turns_s": "s",
    "extract.task_s_p50": "s",
    "extract.task_s_max": "s",
    "rules.detect_us_per_turn": "us",
    "rules.extract_us_per_turn": "us",
    "curate.curate_s": "s",
    "curate.write_s": "s",
    "curate.spark_jobs": "count",
    "curate.docs_dropped": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "trace.op_s_p50": "s",
}


def note(key: str, payload) -> None:
    print(f"# {key} {json.dumps(payload, default=str)}", flush=True)


def watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {HARD_STOP_S:.0f}s, killing it", file=sys.stderr, flush=True)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        os._exit(3)

    t = threading.Timer(max(1.0, HARD_STOP_S - (time.monotonic() - START)), fire)
    t.daemon = True
    t.start()
    return t


def run_op(wl) -> tuple[float, dict | None, str | None, bool]:
    """One op: untimed restore, timed job calls, untimed check. Returns
    (wall seconds, result or None, error text or None, output mismatch?)."""
    from tracing import Span
    from workloads import Mismatch

    wl.before_op()
    t0, e0 = time.perf_counter(), time.time()
    try:
        res = wl.op()
    except Exception:
        return time.perf_counter() - t0, None, traceback.format_exc(limit=3), False
    wall = time.perf_counter() - t0
    res["op_span"] = Span("op", e0, time.time())
    try:
        res["rows"] = wl.check(res)
    except Mismatch as e:
        return wall, None, f"mismatch: {e}", True
    except Exception:
        return wall, None, traceback.format_exc(limit=3), False
    return wall, res, None, False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [d for d in ("pdf_extractor_spark", "jobs") if not (ROOT / d).is_dir()]
    if missing:
        print(f"perfbench: program not found under {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    from common import MASTER, WarmSession, loadavg, spin_probe, timing_summary
    from tracing import Tracer, find_event_log, parse_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load_start = loadavg()
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    event_dir = work / "eventlog" if args.trace else None
    sess = WarmSession(work, event_dir)
    dog = watchdog()
    tracer = Tracer()
    walls, results, errors = [], [], []
    layers, extras = {}, {}
    mismatch = False
    try:
        t_setup = time.perf_counter()
        spark = sess.open()
        t_prep = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        prepare_s = time.perf_counter() - t_prep
        # a fixed number of warm-up ops, so setup_s always covers the same work
        warm: list[float] = []
        for _ in range(wl.warmup):
            wall, res, err, bad = run_op(wl)
            if err:
                errors.append(f"warm-up: {err}")
                break
            warm.append(wall)
        setup_s = time.perf_counter() - t_setup
        note("setup", {"setup_s": setup_s, "session_s": sess.start_s, "prepare_s": prepare_s,
                       "warmup_op_s": [round(w, 3) for w in warm], **wl.info})

        if args.trace:
            wl.install_spans(tracer)
        measured = 0.0
        while (measured < args.seconds or len(walls) < wl.min_ops) and time.monotonic() - START < NEW_OP_CUTOFF_S:
            wall, res, err, bad = run_op(wl)
            measured += wall
            walls.append(wall)
            mismatch |= bad
            if err:
                errors.append(err)
            else:
                results.append((wall, res))
        wl.results = [r for _, r in results]
        if args.trace and results:
            try:
                extras = wl.trace_extras()
            except Exception:
                # the extras check their own outputs too (curate ops)
                errors.append(f"traced extras: {traceback.format_exc(limit=3)}")
                mismatch = True
        tracer.undo()
    finally:
        sess.close()
        dog.cancel()

    ok_walls = [w for w, _ in results]
    rows = sum(r["rows"] for _, r in results)
    if args.trace and results and not mismatch:
        log = parse_event_log(find_event_log(event_dir))
        layers = {**wl.trace_layers(tracer, log, [r["op_span"] for r in wl.results]), **extras}
        layers["session.get_spark_s"] = sess.start_s
        layers["trace.op_s_p50"] = statistics.median(ok_walls)
    shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"perfbench: op failed: {e}", file=sys.stderr)
    note("ops", {"workload": args.workload, "seed": args.seed, "master": MASTER,
                 "nproc": os.cpu_count(), "rows_unit": wl.rows_unit, "op_s": timing_summary(walls),
                 "walls": [round(w, 4) for w in walls], "rows": rows})
    note("window", {"loadavg_start": load_start, "loadavg_end": loadavg(), "spin_probe_s": spin_probe()})

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            # a median over ops, like op_s_p50: one slow op does not set it
            "rows_per_s": statistics.median(r["rows"] / w for w, r in results) if results else 0.0,
            "op_s_p50": statistics.median(ok_walls) if ok_walls else 0.0,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    correct = bool(results) and not mismatch
    print(json.dumps({"correct": correct, "attempted": len(walls),
                      "failed": len(walls) - len(results), "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
