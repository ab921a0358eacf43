#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in interleaved pairs.

    python3 tools/ab.py --base <dir> --change <dir> --workload <name> \
        --seeds 1-10 [--seconds <s>] [--trace 0|1] [--out runs.json]

Each seed is one pair: `perfbench/run.py` runs once in each checkout, one
run at a time, and the side that goes first alternates from pair to pair
(the first pair runs base first). Both sides get the same workload, seed,
run length and trace flag; the run length defaults to the base checkout's
BENCHMARK.json `run_seconds`. Nothing is written in either checkout beyond
what run.py itself writes there (its `.bench_build/`).

For every metric both sides report, the table gives each side's median and
quartiles, the change in the median, and the pairs the change won (by the
metric's `better` direction in BENCHMARK.json; ties count for neither). A
metric is marked `gain` when the change won at least nine tenths of the
pairs and the medians differ by more than the base's interquartile range,
and `worse` when the same holds the other way. The exit code is 1 when any
run failed its output gate or printed no result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """'1-10' or '1,3,5' or a mix: '1-3,7'."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed, seconds, trace):
    """One run.py call; returns (correct, metrics dict name -> value)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return False, {}
    res = json.loads(lines[-1])
    return bool(res.get("correct")), {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout measured as the parent")
    ap.add_argument("--change", required=True, help="checkout measured as the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.base, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    sides = {"base": a.base, "change": a.change}

    runs = []  # (seed, side, correct, metrics)
    for i, seed in enumerate(a.seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            ok, metrics = run_once(sides[side], a.workload, seed, seconds, a.trace)
            runs.append((seed, side, ok, metrics))
            shown = {k: round(v, 4) for k, v in metrics.items() if k in
                     ("events_per_s", "mix_wall_s", "cpu_s", "trigger_latency_p50_s")}
            print(f"seed {seed} {side:6s} correct={ok} {shown}", file=sys.stderr, flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump([{"seed": s, "side": d, "correct": ok, "metrics": m}
                       for s, d, ok, m in runs], f, indent=1)

    by = {(s, d): m for s, d, _, m in runs}
    pairs = [s for s in a.seeds if by[(s, "base")] and by[(s, "change")]]
    names = [n for n in better if pairs and all(n in by[(s, d)] for s in pairs for d in sides)]
    print(f"{a.workload}: {len(pairs)} pairs with results, {seconds} s runs, trace={a.trace}")
    print(f"{'metric':44s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'delta':>8s} {'wins':>6s}")
    for n in names:
        b = [by[(s, "base")][n] for s in pairs]
        c = [by[(s, "change")][n] for s in pairs]
        if not any(b + c):
            continue
        sign = 1 if better[n] == "higher" else -1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        losses = sum(1 for x, y in zip(b, c) if sign * (y - x) < 0)
        mb, mc = statistics.median(b), statistics.median(c)
        bq, cq = quartiles(b), quartiles(c)
        spread = bq[1] - bq[0]
        verdict = ""
        if abs(mc - mb) > spread and 10 * wins >= 9 * len(b) and sign * (mc - mb) > 0:
            verdict = "gain"
        elif abs(mc - mb) > spread and 10 * losses >= 9 * len(b) and sign * (mc - mb) < 0:
            verdict = "worse"
        delta = f"{100 * (mc - mb) / mb:+.1f}%" if mb else "n/a"
        print(f"{n:44s} {f'{mb:.4g} [{bq[0]:.4g}, {bq[1]:.4g}]':>30s} "
              f"{f'{mc:.4g} [{cq[0]:.4g}, {cq[1]:.4g}]':>30s} {delta:>8s} "
              f"{f'{wins}/{len(b)}':>6s} {verdict}")
    bad = [(s, d) for s, d, ok, _ in runs if not ok]
    for s, d in bad:
        print(f"seed {s} {d}: output gate failed or no result")
    print(f"correct: base {sum(ok for _, d, ok, _ in runs if d == 'base')}/{len(a.seeds)}, "
          f"change {sum(ok for _, d, ok, _ in runs if d == 'change')}/{len(a.seeds)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
