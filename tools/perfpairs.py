#!/usr/bin/env python3
"""Run the benchmark on two checkouts in alternating pairs and compare.

    python3 tools/perfpairs.py A B --workload cdc_replay --seeds 1-10,17 \
        [--seconds 18] [--out runs.jsonl]

A and B are the roots of two checkouts (A the baseline, B the change).
For every seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one run at a time: odd
seeds run A first, even seeds B first, so a drift of the machine's load
falls on both sides alike. Each run prints its end-to-end metrics, its
`failed` count and `correct`, and, for `cdc_replay`, the mean and p95 of
its steady triggers' execution ms (the triggers after the first, as
`latency_p50_ms` counts them); at the end, per metric, each side's median
and interquartile range, B's change against A, and the pairs B won. A
gain holds when B wins nearly every pair and its median beats A's by
more than A's interquartile range.

The script writes nothing into either checkout (the benchmark keeps its
own build cache there, `.bench_build/`). `--out` appends every run as
one JSON line to a file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfpairs: {checkout} seed {seed} failed (exit {proc.returncode}):\n"
                 f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    marker = "note: cdc_replay: trigger ms "
    result["trigger_ms"] = next((list(map(int, l[len(marker):].split()))
                                 for l in proc.stdout.splitlines() if l.startswith(marker)), [])
    return result


def trigger_summary(ms):
    """Mean and p95 of the steady triggers, or "" if the run printed none."""
    steady = ms[1:]
    if not steady:
        return ""
    p95 = statistics.quantiles(steady, n=20, method="inclusive")[-1] if len(steady) > 1 else steady[0]
    return f"  trigger mean={statistics.mean(steady):.0f} p95={p95:.0f}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", help="baseline checkout")
    ap.add_argument("b", help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10,17")
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--out", help="append every run to this file as JSON lines")
    args = ap.parse_args()
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    better = end_to_end(sides["A"])
    results = {"A": {}, "B": {}}
    for seed in seeds(args.seeds):
        for side in ("AB" if seed % 2 else "BA"):
            r = run(sides[side], args.workload, seed, args.seconds)
            results[side][seed] = r
            values = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items()))
            print(f"seed {seed:>3} {side}  {values}  failed={r['failed']} correct={r['correct']}"
                  f"{trigger_summary(r['trigger_ms'])}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "checkout": sides[side], "seed": seed,
                                        "workload": args.workload, **r}) + "\n")
    paired = sorted(set(results["A"]) & set(results["B"]))
    print(f"\n{args.workload}, {len(paired)} pairs; A = {sides['A']}, B = {sides['B']}")
    print(f"{'metric':<18} {'A median':>10} {'A IQR':>9} {'B median':>10} {'B IQR':>9}"
          f" {'B vs A':>8} {'B won':>6}  B beats A by more than A's IQR")
    for name, direction in better.items():
        a = [results["A"][s]["metrics"][name]["value"] for s in paired]
        b = [results["B"][s]["metrics"][name]["value"] for s in paired]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        sign = 1 if direction == "higher" else -1
        won = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        print(f"{name:<18} {am:>10.4g} {a3 - a1:>9.3g} {bm:>10.4g} {b3 - b1:>9.3g}"
              f" {100 * (bm - am) / am:>+7.1f}% {won:>3}/{len(paired):<2}  "
              f"{'yes' if sign * (bm - am) > a3 - a1 else 'no'}")
    for side in "AB":
        failed = sum(r["failed"] for r in results[side].values())
        wrong = sum(not r["correct"] for r in results[side].values())
        print(f"{side}: {failed} failed operations, {wrong} runs not correct")


if __name__ == "__main__":
    main()
