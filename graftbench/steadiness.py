#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise its spread.

    python3 graftbench/steadiness.py --workloads build serve_warm --seeds 1-10 --seconds 15

For every workload and end-to-end metric it prints the median, the first
and third quartiles (statistics.quantiles(values, n=4)) and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
Each run's result line is appended to --out (JSON lines) with the CPU
steal seconds the host reported during the run, where /proc/stat exists,
and, for serve workloads, the share of timed queries that repeat an
earlier query of the run, counted from the run's ops.jsonl file.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def steal_seconds():
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def repeat_share(workload, seed, trace):
    """Share of the untraced timed queries flagged as repeats in ops.jsonl."""
    path = os.path.join(ROOT, ".bench_build", "graftbench", "results",
                        f"{workload}-seed{seed}-trace{trace}.ops.jsonl")
    try:
        with open(path) as f:
            ops = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return None
    timed = [op for op in ops if op["phase"] == 0 and not op["kind"].startswith("build_")]
    return round(sum(op["repeat"] for op in timed) / len(timed), 3) if timed else None


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steadiness.jsonl"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for w in args.workloads:
        values = {}
        for seed in seeds_of(args.seeds):
            s0, t0 = steal_seconds(), time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                                "--workload", w, "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall, steal = time.time() - t0, steal_seconds() - s0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            repeats = repeat_share(w, seed, args.trace)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "seconds": seconds,
                                    "wall_s": round(wall, 1), "steal_s": round(steal, 1),
                                    "repeat_share": repeats, **result}) + "\n")
            brief = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
            print(f"{w} seed {seed}: wall {wall:.0f} s steal {steal:.1f} s repeats {repeats} "
                  f"correct={result['correct']} failed={result['failed']} {brief}", flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n| {w} | n | median | Q1 | Q3 | (Q3-Q1)/median | bound |")
        print("|---|---|---|---|---|---|---|")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"| {k} | {len(vs)} | {med:.5g} | {q1:.5g} | {q3:.5g} | "
                  f"{(q3 - q1) / med:.3f} | {bounds.get(k)} |", flush=True)


if __name__ == "__main__":
    main()
