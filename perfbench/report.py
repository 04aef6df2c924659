"""Steadiness and tracing reports over repeated benchmark runs.

    python3 perfbench/report.py steady [--runs 10] [--workload W ...]
    python3 perfbench/report.py trace  [--workload W ...]

``steady`` runs each workload ``--runs`` times untraced, each with another
seed, and prints every end-to-end metric's median, quartiles and spread
(interquartile range over median) next to its bound from BENCHMARK.json.
A spread above the bound is flagged ``FAIL``; above a third of it, ``warn``.
``peak_rss_mb`` is printed the same way, without a bound.

``trace`` runs each workload once untraced and once traced at the default
core count, and once traced on ``local[1]``, then prints the layers' self
times, their single-core speed-up and the tracing overhead (traced op
median minus untraced op median, same seed). The combined result goes to
``perfbench/out/trace-report.json``.
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


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, seed: int, trace: int, cores: int = 0) -> dict:
    """One benchmark run; its result line, plus ``elapsed_s`` of the whole run."""
    b = bench()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(b["run_seconds"]), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    info = next(json.loads(line[len("# info "):]) for line in lines if line.startswith("# info "))
    return {**json.loads(lines[-1]), "info": info, "elapsed_s": time.monotonic() - t0}


def steady(args) -> int:
    b = bench()
    bounds = {m["name"]: m for m in b["end_to_end"]}
    worst, run_s = 0, []
    for w in args.workload or [x["name"] for x in b["workloads"]]:
        results = [run(w, args.seed + i, 0) for i in range(args.runs)]
        run_s += [r["elapsed_s"] for r in results]
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        elapsed = [r["elapsed_s"] for r in results]
        print(f"\n{w}: {args.runs} runs, error_rate {failed / attempted:.4f} ({failed}/{attempted}), "
              f"run time mean {statistics.mean(elapsed):.1f} s, max {max(elapsed):.1f} s")
        print(f"  {'metric':14s} {'unit':5s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for name, spec in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "FAIL" if spread > spec["bound"] else "warn" if spread > spec["bound"] / 3 else "ok"
            worst = max(worst, flag == "FAIL")
            print(f"  {name:14s} {spec['unit']:5s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.4f} {spec['bound']:6.2f} {flag}")
        q1, med, q3 = statistics.quantiles([r["info"]["peak_rss_mb"] for r in results], n=4)
        print(f"  {'peak_rss_mb':14s} {'MB':5s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{(q3 - q1) / med:8.4f} {'-':>6s} not gated")
    n = 4 + 22 * len(b["workloads"])
    print(f"\n{n} runs (4 + 22 per workload) at the mean run time: {n * statistics.mean(run_s):.0f} s")
    return 1 if worst else 0


def trace(args) -> int:
    b = bench()
    nproc = len(os.sched_getaffinity(0))
    report = {}
    for w in args.workload or [x["name"] for x in b["workloads"]]:
        plain = run(w, args.seed, 0)
        full = run(w, args.seed, 1)
        single = run(w, args.seed, 1, cores=1)
        base = plain["metrics"]["op_p50_ms"]["value"]
        traced = full["metrics"]["trace.op_p50_ms"]["value"]
        layers = {k: v["value"] for k, v in full["metrics"].items()}
        one = {k: v["value"] for k, v in single["metrics"].items()}
        speedup = {k: one[k] / v for k, v in layers.items()
                   if k.endswith("self_ms") and v > 0}
        report[w] = {
            "overhead_ms": traced - base, "overhead_pct": 100 * (traced - base) / base,
            f"local[{nproc}]": layers, "local[1]": one, "self_ms_speedup_vs_local1": speedup,
        }
        print(f"\n{w}: tracing overhead {traced - base:+.1f} ms per op "
              f"({100 * (traced - base) / base:+.1f}% of {base:.1f} ms)")
        for k in sorted(k for k in layers if k.endswith("self_ms")):
            print(f"  {k:22s} {layers[k]:10.1f} ms   local[1] {one[k]:10.1f} ms"
                  + (f"   x{speedup[k]:.2f}" if k in speedup else ""))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "trace-report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("command", choices=("steady", "trace"))
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    args = ap.parse_args()
    return steady(args) if args.command == "steady" else trace(args)


if __name__ == "__main__":
    sys.exit(main())
