#!/usr/bin/env python3
"""Compare two graft bench full-report JSONs (bench_reports/bench_report.json
shape: {"queries": {name: {"median_sec": s, ...}, ...}} or the driver's
BENCH_r{N}.json compact shape) and print per-query ratios, worst first,
then the extras of both reports, including those present in only one and
the sweeps a report lists as failed.

Usage: bench_compare.py OLD.json NEW.json [threshold]
"""
import json, sys


def load(path):
    d = json.load(open(path))
    if "parsed" in d:  # driver BENCH_r{N}.json wraps the compact line
        d = d["parsed"]
    q = d.get("queries", {})
    out = {}
    for name, v in q.items():
        if isinstance(v, dict):
            s = v.get("median_sec", v.get("median"))
        else:
            s = v
        if isinstance(s, (int, float)) and s > 0:
            out[name] = float(s)
    return out, d.get("extras", {}), d


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    old, old_ex, old_d = load(old_path)
    new, new_ex, new_d = load(new_path)
    common = sorted(set(old) & set(new))
    if common:
        tot_old = sum(old[n] for n in common)
        tot_new = sum(new[n] for n in common)
        print(f"common entries: {len(common)}  old {tot_old:.1f}s  "
              f"new {tot_new:.1f}s  ratio {tot_new / tot_old:.2f}x")
        rows = [(new[n] / old[n], n) for n in common]
        rows.sort(reverse=True)
        flagged = [(r, n) for r, n in rows if r > thr and new[n] > 0.2]
        print(f"\n> {thr}x slower (and >0.2s):")
        for r, n in flagged:
            print(f"  {n:40s} {old[n]:8.3f} -> {new[n]:8.3f}  {r:.2f}x")
        if not flagged:
            print("  none")
        print("\nbiggest improvements:")
        for r, n in rows[-5:]:
            print(f"  {n:40s} {old[n]:8.3f} -> {new[n]:8.3f}  {r:.2f}x")
    only_new = sorted(set(new) - set(old))
    if only_new:
        t = sum(new[n] for n in only_new)
        print(f"\nnew-only entries: {len(only_new)} totalling {t:.1f}s; slowest:")
        for n in sorted(only_new, key=lambda n: -new[n])[:10]:
            print(f"  {n:40s} {new[n]:8.3f}")
    both_ex = sorted(set(old_ex) & set(new_ex))
    if both_ex:
        print("\nextras (old -> new):")
        for k in both_ex:
            print(f"  {k:28s} {old_ex[k]:8.4f} -> {new_ex[k]:8.4f}")
    # a deleted or failed sweep shows up here instead of vanishing
    for label, only, src in (("old", set(old_ex) - set(new_ex), old_ex),
                             ("new", set(new_ex) - set(old_ex), new_ex)):
        if only:
            print(f"\nextras only in {label}: {len(only)}")
            for k in sorted(only):
                print(f"  {k:28s} {src[k]:8.4f}")
    for label, d in (("old", old_d), ("new", new_d)):
        if d.get("extras_failed"):
            print(f"\nextras sweeps failed in {label}: "
                  f"{', '.join(d['extras_failed'])}")


if __name__ == "__main__":
    main()
