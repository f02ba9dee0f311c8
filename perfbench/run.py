#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload at toy size

Run from the root of a checkout. The benchmark generates its inputs
from ``--seed``, sets up (session, staging, warm-up), runs the
workload's closed loop for ``--seconds``, checks every answer outside
the timed regions, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones (see perfbench/README.md).
All files it writes live under ``perfbench/_work`` and are removed at
exit. It exits non-zero, printing no result, when the checkout does
not hold the ``lichess_db_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest_batch", "eda_mix")


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _import_package() -> bool:
    """Import the package from this checkout only, never from elsewhere
    on the path."""
    if not os.path.isfile(os.path.join(ROOT, "lichess_db_spark", "__init__.py")):
        return False
    sys.path.insert(0, ROOT)
    import lichess_db_spark

    return os.path.dirname(os.path.abspath(lichess_db_spark.__file__)) == os.path.join(
        ROOT, "lichess_db_spark")


def run_workload(name: str, seed: int, seconds: float, trace: bool, size) -> dict:
    import sparkmon
    import stats
    import workloads

    work = os.path.join(HERE, "_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = sparkmon.pin_environment(ROOT, work)
    sess = None
    try:
        t0 = time.perf_counter()
        sess = sparkmon.Session()
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[name](sess, seed, size, work)
        wl.stage()
        t0 = time.perf_counter()
        wl.prepare()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + wl.generate_s + wl.stage_s + warmup_s

        ops: list = []
        attempted = 0
        sess.reset_peak()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or attempted == 0:
            # traced runs tag every other cycle of op kinds, so the tagged
            # and untagged halves hold the same mix
            tagged = trace and (attempted // wl.op_kinds) % 2 == 1
            tag = f"pb-op-{attempted}" if tagged else None
            attempted += 1
            try:
                ops.append(wl.op(attempted - 1, tag))
            except Exception:  # noqa: BLE001  (a failed op is counted, the loop goes on)
                traceback.print_exc()
        wl.verify(ops)
        lat_ms = [o.latency_s * 1e3 for o in ops]
        if trace:
            metrics = _traced_metrics(sess, wl, ops, pinned["spark_graft_cpus"])
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                # no successful op leaves 0.0 (the result is marked wrong)
                "op_p50_ms": (stats.median(lat_ms) if lat_ms else 0.0, "ms"),
                "games_per_s": (sum(o.games for o in ops) / sum(o.latency_s for o in ops)
                                if ops else 0.0, "games/s"),
                "stored_bytes_per_pgn_byte": (wl.stored_bytes_per_pgn_byte(), "ratio"),
                "peak_pss_mb": (sess.peak_pss_mb, "MB"),
            }
        # a failed check outside the ops (staging determinism, the traced
        # stream months) counts as one more attempted and failed operation
        attempted += wl.failed_checks
        failed = attempted - sum(1 for o in ops if o.ok)
        summary = {
            "workload": name,
            "host": sparkmon.host_stamp(sess, pinned, seed),
            "ops": len(ops),
            "op_ms": [round(x, 1) for x in lat_ms],
            "failed_op_ratio": failed / attempted,
            "setup_parts_s": {"session": session_s, "generate": wl.generate_s,
                              "staging": wl.stage_s, "warmup": warmup_s},
        }
        tail = stats.tail(lat_ms) if lat_ms else None
        if tail:
            summary["op_tail_ms"] = {"percentile": tail[0], "value": tail[1],
                                     "samples": len(lat_ms)}
        print(json.dumps(summary, default=str))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)


def _traced_metrics(sess, wl, ops, cpus: int) -> dict:
    import stats
    import workloads
    from sparkmon import stage_totals

    traced = [o for o in ops if o.tag]
    plain = [o for o in ops if not o.tag]
    layers = workloads.layer_sweep(wl)
    jobs, stages = sess.snapshot()
    tot = stage_totals(jobs, stages, {o.tag for o in traced})
    n = max(1, len(traced))
    wall_ms = sum(o.latency_s for o in traced) * 1e3
    return {
        **layers,
        "spark.jobs": (tot["jobs"] / n, "count/op"),
        "spark.stages": (tot["stages"] / n, "count/op"),
        "spark.tasks": (tot["tasks"] / n, "count/op"),
        "spark.executor_run_ms": (tot["executor_run_ms"] / n, "ms/op"),
        "spark.executor_cpu_ms": (tot["executor_cpu_ms"] / n, "ms/op"),
        "spark.jvm_gc_ms": (tot["jvm_gc_ms"] / n, "ms/op"),
        "spark.shuffle_write_mb": (tot["shuffle_write_bytes"] / n / 1e6, "MB/op"),
        "spark.spill_mb": (tot["spill_bytes"] / n / 1e6, "MB/op"),
        "spark.cpu_util": (tot["executor_cpu_ms"] / (wall_ms * cpus) if wall_ms else 0.0,
                           "ratio"),
        "trace.overhead_pct": (
            (stats.median([o.latency_s for o in traced])
             / stats.median([o.latency_s for o in plain]) - 1) * 100
            if traced and plain else 0.0, "%"),
    }


def smoke(seconds: float) -> int:
    """Every workload at toy size, untraced then traced, each in a fresh
    process as the real runs are."""
    ok = True
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--smoke", "--workload", name,
                 "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True, timeout=600, check=False)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
            print(f"smoke {name} trace={trace} {time.perf_counter() - t0:.1f}s "
                  f"exit={proc.returncode} correct={res.get('correct')} "
                  f"attempted={res.get('attempted')} metrics={len(res.get('metrics', {}))}",
                  flush=True)
            if not res.get("correct"):
                ok = False
                sys.stderr.write(proc.stderr[-4000:])
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="lichess_db_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not _import_package():
        return _die(f"no lichess_db_spark package in {ROOT}; run from a full checkout")
    sys.path.insert(0, HERE)
    if args.smoke and args.workload is None:
        return smoke(min(args.seconds, 3.0))
    if args.workload is None:
        return _die("--workload is required")
    import workloads

    size = workloads.SMOKE_SIZE if args.smoke else workloads.SIZES[args.workload]
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), size)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
