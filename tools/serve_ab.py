#!/usr/bin/env python3
"""Interleaved parent/change A/B of the serving benchmark.

Usage:
    python3 tools/serve_ab.py --parent DIR --change DIR --workload search_mixed \
        --seeds 80-84

For each seed it runs `python3 <checkout>/perfbench/run.py --workload W
--seed S --seconds 20` once in each checkout, alternating which side goes
first (the parent on even pair indexes, the change on odd ones). It then
prints, for every end-to-end metric that BENCHMARK.json declares: both
medians, the parent's interquartile range, how many pairs the change won
(ties count for neither side), and whether the change's median stays
inside the metric's bound. It also prints failed/attempted operations per
side, the median seconds of each setup phase and the medians of the
receipt's write and search latencies and recovery time, so a gain can be
traced to the layer it came from.
Each checkout builds its own perfbench (run.py rebuilds on source change),
so the first pair may include a build.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SECONDS = 20  # the measured run length of every pair
RECEIPT_FIGURES = ["write_p50_ms", "write_p90_ms", "search_p90_ms", "recover_s"]


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed):
    cmd = [sys.executable, str(checkout / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"serve_ab: run.py failed in {checkout} (seed {seed}, exit {proc.returncode})")
    result = json.loads(lines[-1])
    receipt = next((json.loads(l)["receipt"] for l in lines[:-1] if l.startswith('{"receipt"')), {})
    phases = {}
    for item in str(receipt.get("setup_phases_s", "")).split(","):
        name, _, value = item.partition("=")
        if value:
            phases[name] = float(value)
    figures = {k: float(receipt[k]) for k in RECEIPT_FIGURES if k in receipt}
    return {"seed": seed, "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}, "phases": phases,
            "receipt": figures}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True, choices=["search_read", "search_mixed"])
    ap.add_argument("--seeds", required=True, help="e.g. 80-84 or 80,82,90-91")
    args = ap.parse_args()
    parent, change = args.parent.resolve(), args.change.resolve()
    spec = json.loads((change / "BENCHMARK.json").read_text())["end_to_end"]

    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        pair = {}
        for side, checkout in order:
            pair[side] = run_once(checkout, args.workload, seed)
            print(f"seed {seed} {side}: " + " ".join(
                f"{k}={v}" for k, v in pair[side]["metrics"].items()), flush=True)
        pairs.append(pair)

    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds}, {SECONDS} s")
    print(f"{'metric':<18}{'parent':>10}{'change':>10}{'ratio':>8}{'parent IQR':>12}"
          f"{'wins':>7}{'bound':>7}  inside")
    for m in spec:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        p = [pr["parent"]["metrics"][name] for pr in pairs]
        c = [pr["change"]["metrics"][name] for pr in pairs]
        pm, cm = statistics.median(p), statistics.median(c)
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        inside = cm <= pm * (1 + bound) if lower else cm >= pm * (1 - bound)
        ratio = cm / pm if pm else float("nan")
        print(f"{name:<18}{pm:>10.3f}{cm:>10.3f}{ratio:>8.3f}{iqr(p):>12.3f}"
              f"{wins:>4}/{len(pairs):<2}{bound:>7}  {'yes' if inside else 'NO'}")
    for side in ("parent", "change"):
        failed = sum(pr[side]["failed"] for pr in pairs)
        attempted = sum(pr[side]["attempted"] for pr in pairs)
        phases = sorted({k for pr in pairs for k in pr[side]["phases"]})
        med = " ".join(f"{k}={statistics.median(pr[side]['phases'].get(k, 0.0) for pr in pairs):.2f}"
                       for k in phases)
        print(f"{side}: failed/attempted {failed}/{attempted}; setup phase medians (s): {med}")
        figures = " ".join(f"{k}={statistics.median(vals):.3f}" for k in RECEIPT_FIGURES
                           if (vals := [pr[side]["receipt"][k] for pr in pairs if k in pr[side]["receipt"]]))
        print(f"{side}: receipt medians: {figures}")


if __name__ == "__main__":
    main()
