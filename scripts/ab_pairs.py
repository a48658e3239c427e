#!/usr/bin/env python3
"""Run alternating parent/change pairs of the benchmark and judge a claim.

    ab_pairs.py --parent DIR --change DIR --workload W --seeds 41-50 \
        --seconds 10 [--metric cpu_total_s ...] [--log runs.jsonl] \
        [--trace-seed N]

Each of DIR is a checkout with its own `perfbench/run.py` (make the
parent one with `git archive` or `git clone`). For every seed the two
checkouts run `python3 perfbench/run.py --workload W --seed S --seconds X
--trace 0` one after the other; the side that goes first alternates from
seed to seed, so a drift in machine load falls on both sides alike. A
checkout's first run also builds it; build time is outside the metrics.

Printed: the per-pair values of every metric (default: the end-to-end
metrics the parent's BENCHMARK.json declares), each side's median and
quartiles, the change's win count (ties count for neither side), and the
verdict of the sandbox rule: a gain is claimed only when the change wins
at least nine tenths of at least ten pairs and the medians differ, in the
better direction, by more than the parent's interquartile spread. Runs
that are not correct or have failed operations are reported.

`--trace-seed N` then runs one traced run (`--trace 1`) per side at seed
N and prints the plan-shape counts side by side (jobs, stages, tasks,
scanned records, scan tasks, shuffle bytes), flagging each count that
differs: a change that claims the same plans must show the same counts.

`--log` appends every run's result line, tagged with side and seed. The
script only reads the checkouts; it writes nothing under `perfbench/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# the per-layer counts of a traced run that describe the plans run, not
# their timing: a change that keeps the plans keeps every one of them
PLAN_COUNTS = ["exec.jobs", "exec.stages", "exec.tasks", "scan.input_records",
               "scan.tasks", "shuffle.write_bytes", "shuffle.read_bytes"]


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m.get("better", "lower") for m in spec["end_to_end"]}


def run(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; its JSON result line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {checkout} (seed {seed}, "
                 f"exit {out.returncode}):\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, better):
    pairs = len(parent)
    wins = sum(1 for p, c in zip(parent, change)
               if (c < p if better == "lower" else c > p))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = (pm - cm) if better == "lower" else (cm - pm)
    iqr = p3 - p1
    if pairs < 10:
        word = "too few pairs to claim (need 10)"
    elif wins >= 0.9 * pairs and gap > iqr:
        word = "gain"
    else:
        word = "no claim"
    return wins, gap, iqr, word


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 3,5,9")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--metric", action="append",
                    help="metric to judge (repeatable); default: end_to_end")
    ap.add_argument("--log", help="append each run's result line here")
    ap.add_argument("--trace-seed", type=int,
                    help="after the pairs, one traced run per side at this "
                         "seed; print its plan-shape counts side by side")
    args = ap.parse_args()

    better = end_to_end(args.parent)
    metrics = args.metric or list(better)
    seeds = parse_seeds(args.seeds)
    results = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            res = run(checkout, args.workload, seed, args.seconds)
            results[side].append(res)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": args.workload,
                                        "result": res}) + "\n")
        p, c = results["parent"][-1], results["change"][-1]
        cells = "  ".join(
            f"{m} {p['metrics'][m]['value']:.3f}/{c['metrics'][m]['value']:.3f}"
            for m in metrics)
        print(f"seed {seed} ({order[0]} first)  parent/change  {cells}", flush=True)

    bad = [(side, seeds[i]) for side, rs in results.items()
           for i, r in enumerate(rs) if not r["correct"] or r["failed"]]
    print(f"\n{args.workload}: {len(seeds)} pairs, --seconds {args.seconds:g}; "
          f"runs not correct or with failed operations: {bad or 'none'}")
    for m in metrics:
        pv = [r["metrics"][m]["value"] for r in results["parent"]]
        cv = [r["metrics"][m]["value"] for r in results["change"]]
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        wins, gap, iqr, word = verdict(pv, cv, better.get(m, "lower"))
        print(f"{m}: parent median {pm:.3f} [q1 {p1:.3f}, q3 {p3:.3f}], "
              f"change median {cm:.3f} [q1 {c1:.3f}, q3 {c3:.3f}] "
              f"({(cm - pm) / pm:+.1%}); change won {wins}/{len(pv)}; "
              f"median gap {gap:+.3f} vs parent IQR {iqr:.3f}: {word}")

    if args.trace_seed is not None:
        traced = {side: run(checkout, args.workload, args.trace_seed,
                            args.seconds, trace=1)
                  for side, checkout in (("parent", args.parent),
                                         ("change", args.change))}
        print(f"\ntraced pair, seed {args.trace_seed}: parent / change")
        for m in PLAN_COUNTS:
            p, c = (traced[side]["metrics"][m]["value"]
                    for side in ("parent", "change"))
            print(f"  {m}: {p:,.0f} / {c:,.0f}{'' if p == c else '  DIFFERS'}")


if __name__ == "__main__":
    main()
