"""Steadiness check: run one workload N times, each with its own seed,
and print per metric the median, quartiles, extremes and the spread
(IQR as a share of the median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload query_mix --runs 10
    python3 perfbench/steady.py --workload lake_daily --runs 5 --trace both
    python3 perfbench/steady.py --workload lake_daily --runs 2 --trace 1 --same-seed

``--trace both`` alternates untraced and traced runs on the same seeds
and also prints the tracing overhead: the median ``cpu_s_per_op`` of
the traced runs (from their stderr report) over that of the untraced
ones. ``--same-seed`` repeats one seed, to show which
counts repeat exactly. Run from the root of a checkout; every run is a
fresh process, one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from harness import spread

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int,
             log: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if log:
        os.makedirs(os.path.dirname(log) or ".", exist_ok=True)
        with open(log, "w") as f:
            f.write(proc.stderr)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["process_s"] = time.perf_counter() - t0
    for line in proc.stderr.splitlines():
        if line.startswith("report "):
            result["report"] = json.loads(line.split(" ", 1)[1])
    return result


def table(series: dict[str, tuple[str, list[float]]], bounds: dict) -> list[str]:
    """One row per metric: name → (unit, one value per run)."""
    lines = [f"{'metric':28s} {'unit':>6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
             f"{'min':>12s} {'max':>12s} {'spread':>7s} {'bound':>6s}"]
    for name, (unit, vals) in series.items():
        s = spread(vals)
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if s["iqr_share"] <= b / 3 else
                                     ("  <bound" if s["iqr_share"] <= b else "  WIDE"))
        lines.append(
            f"{name:28s} {unit:>6s} {s['median']:12.5g} "
            f"{s['q1']:12.5g} {s['q3']:12.5g} {s['min']:12.5g} {s['max']:12.5g} "
            f"{s['iqr_share']:7.3f} {'' if b is None else f'{b:6.2f}'}{flag}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    ap.add_argument("--out", help="also write every run's result here (JSON)")
    ap.add_argument("--logs", help="keep each run's stderr in this directory")
    ap.add_argument("--same-seed", action="store_true", help="every run uses --seed0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    results: dict[int, list[dict]] = {m: [] for m in modes}
    for i in range(args.runs):
        seed = args.seed0 if args.same_seed else args.seed0 + i
        for m in modes:
            log = args.logs and os.path.join(
                args.logs, f"{args.workload}-run{i}-seed{seed}-trace{m}.log")
            r = run_once(args.workload, seed, seconds, m, log)
            results[m].append(r)
            a = r["report"]
            print(f"seed {seed} trace {m}: {r['process_s']:.1f}s "
                  f"steal={a.get('steal_share', 0):.3f} jit/op={a.get('jit_s_per_op', 0):.3g}s "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.5g}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
    for m in modes:
        runs = results[m]
        print(f"\n{args.workload}, trace {m}, {args.runs} runs of {seconds}s")
        print("\n".join(table(
            {k: (v["unit"], [r["metrics"][k]["value"] for r in runs])
             for k, v in runs[0]["metrics"].items()}, bounds if m == 0 else {})))
        print("ungated (stderr report):")
        print("\n".join(table(
            {k: ("", [r["report"][k] for r in runs])
             for k, v in runs[0]["report"].items() if v is not None}, {})))
        walls = [r["process_s"] for r in results[m]]
        print(f"process wall per run: median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
        failed = sum(r["failed"] for r in results[m])
        attempted = sum(r["attempted"] for r in results[m])
        print(f"failed_frac {failed}/{attempted} = {failed / attempted:.4f}")
    if len(modes) == 2:
        plain, traced = (statistics.median(r["report"]["cpu_s_per_op"] for r in results[m])
                         for m in modes)
        print(f"tracing overhead, CPU per op: {traced:.4g} s traced / {plain:.4g} s "
              f"untraced = {traced / plain - 1:+.1%}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({str(m): results[m] for m in modes}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
