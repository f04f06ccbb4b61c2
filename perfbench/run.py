"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the engine is imported from there and
every file the run writes stays under ``.perfbench/`` in it. One
closed-loop client drives one workload on ``local[<cores>]``. The last
stdout line is the JSON result: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ones (the traced run also
writes its spans to ``.perfbench/traces/`` and a per-span table to
stderr). Exit status is non-zero, with no result line, if the run
cannot be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import workloads
from harness import (
    TAIL_SAMPLES, Meters, Run, Tracer, min_samples_for, percentile,
    process_age_s, start_session,
)


def end_to_end(run) -> dict:
    return {
        "setup_s": (run.setup_s, "s"),
        "cpu_s_per_op": (run.per_op("cpu"), "s"),
    }


def report(run, wl, layer: dict) -> dict:
    """Every run's ungated figures: the workload's own named metrics
    (latencies, amplification), the failed share, and what explains
    noise (steal share, JIT and GC time per op)."""
    return {
        "cpu_s_per_op": run.per_op("cpu"),
        **wl.report(layer),
        "failed_frac": run.failed / run.attempted,
        "steal_share": run.steal_share(),
        "jit_s_per_op": run.part_per_op("jit"),
        "gc_s_per_op": run.part_per_op("gc"),
    }


def per_layer(run, session_start_s: float, layer: dict) -> dict:
    tr = run.tracer
    spans = tr.spans[slice(*run.block_spans)] if run.block_spans else []
    wall = sum(x["wall"] for v in run.samples.values() for x in v)
    roles = tr.self_times("role")
    return {
        "session.start_s": (session_start_s, "s"),
        "session.jit_s": (run.part_per_op("jit"), "s"),
        "session.gc_s": (run.part_per_op("gc"), "s"),
        "session.jvm_cpu_s": (run.part_per_op("jvm_cpu"), "s"),
        "session.py_cpu_s": (run.part_per_op("py_cpu"), "s"),
        "session.jobs": (sum(s["jobs"] for s in spans) / max(1, run.block_ops), "count"),
        "session.tasks": (sum(s["tasks"] for s in spans) / max(1, run.block_ops), "count"),
        "machine.steal_share": (run.steal_share(), "share"),
        "trace.overhead_share": (tr.overhead_s / wall, "share"),
        "engine.plan_s": (roles.get("plan", 0.0) / run.n_ops, "s"),
        "engine.exec_s": (roles.get("exec", 0.0) / run.n_ops, "s"),
        **layer,
    }


def span_table(run) -> list[str]:
    """Per span name over the timed ops: calls per op, then per call
    the total and self time, and the jobs, tasks and bytes written
    inside the span."""
    tr = run.tracer
    calls = tr.totals("calls")
    cols = {"total_s": tr.totals("wall"), "self_s": tr.self_times(),
            "jobs": tr.totals("jobs"), "tasks": tr.totals("tasks"),
            "bytes": tr.totals("bytes_written")}
    lines = [f"{'span':36s}{'calls/op':>10s}" + "".join(f"{c + '/call':>13s}" for c in cols)]
    for name in sorted(cols["self_s"]):
        n = calls[name]
        lines.append(f"{name:36s}{n / run.n_ops:10.3g}" + "".join(
            f"{v.get(name, 0) / n:13.4g}" for v in cols.values()))
    return lines


def latency_table(run) -> list[str]:
    """Per op kind: samples, median latency, median CPU, JIT time and
    CPU of the JVM's thread classes, and the highest of p90 and p75
    latency that has enough samples beyond it."""
    lines = []
    for kind, v in sorted(run.samples.items()):
        walls = [d["wall"] for d in v]
        tail = next((p for p in (90, 75) if len(walls) >= min_samples_for(p)), None)
        lines.append(
            f"{kind:28s} n={len(walls):3d} p50={statistics.median(walls) * 1000:8.1f}ms"
            f" cpu={statistics.median(d['cpu'] for d in v):7.3f}s"
            f" jit={statistics.median(d['jit'] for d in v):7.3f}s"
            + "".join(f" {k}={statistics.median(d[k] for d in v):6.3f}s"
                      for k in v[0] if k.startswith("thr_"))
            + (f" p{tail}={percentile(walls, tail) * 1000:8.1f}ms" if tail else
               f" (no tail: under {TAIL_SAMPLES} samples beyond p75)"))
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work  # the gateway's and Python workers' temp files
    # a 2 GiB driver heap, whatever the calling shell sets: with the
    # engine's 16 GiB default, G1's own threads burn from 1 s to 6 s of
    # CPU in one lake day, by run, and dominate the spread of CPU per op
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    cls = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        spark, session_start_s = start_session(work, os.cpu_count() or 4)
        print(f"session: {session_start_s:.1f}s", file=sys.stderr)
        run = Run(spark, Meters(spark), Tracer(spark, bool(args.trace)),
                  args.seed, args.seconds, work)
        wl = cls(run)
        phases = (("setup", wl.setup), ("settle", run.meters.settle),
                  ("measure", wl.measure), ("finish", wl.finish))
        for name, phase in phases:
            t0 = time.perf_counter()
            layer = phase()  # finish, last, returns the layer counts
            if name == "setup":
                # set-up ends here: the settle wait is the harness's own
                run.setup_s = process_age_s()
            print(f"{name}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        if not run.n_ops:
            raise RuntimeError("no operation completed")
        if args.trace:
            metrics = per_layer(run, session_start_s, layer)
            run.tracer.write(
                os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}.json"),
                run.first["wall"])
            print("\n".join(span_table(run)), file=sys.stderr)
        else:
            metrics = end_to_end(run)
        print("\n".join(latency_table(run)), file=sys.stderr)
        extra = report(run, wl, layer)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("report " + json.dumps(extra), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
