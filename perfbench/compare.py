#!/usr/bin/env python3
"""A/B compare of two sets of benchmark runs.

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each argument is a directory of run records as perfbench/run.py writes
them to .perfbench/runs (copy that directory aside between the two
commits). For every workload and end-to-end metric of BENCHMARK.json it
prints both medians with their quartiles, the pairs the change won, and
a verdict:

  better      the change won at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own quartile spread;
  worse       the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  a side's quartile spread, as a share of its median, is
              wider than the bound and the change is not better in every
              run;
  unchanged   otherwise.

Runs are paired by seed where both sides have it, else in run order.
Only untraced runs (--trace 0) are compared.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_runs(d):
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        rec = json.loads(f.read_text())
        if rec.get("trace") == 0:
            runs.setdefault(rec["workload"], []).append(rec)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    """(parent, change) run pairs: same seed first, then leftovers in order."""
    bs = {r["seed"]: r for r in b}
    out, left_a, used = [], [], set()
    for r in a:
        if r["seed"] in bs and r["seed"] not in used:
            out.append((r, bs[r["seed"]]))
            used.add(r["seed"])
        else:
            left_a.append(r)
    left_b = [r for r in b if r["seed"] not in used]
    return out + list(zip(left_a, left_b))


def verdict(a, b, bound, lower_better, won, lost):
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    sign = -1 if lower_better else 1
    gain = sign * (mb - ma)
    if won + lost > 0 and won >= 0.9 * (won + lost) and gain > qa[2] - qa[0]:
        return "better"
    if ma != 0 and -gain / abs(ma) > bound:
        return "worse"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    every_better = (max(b) < min(a)) if lower_better else (min(b) > max(a))
    if spread > bound and not every_better:
        return "unresolved"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ra, rb = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':20s} {'metric':18s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'won':>7s}  verdict")
    for wl in [w["name"] for w in spec["workloads"]]:
        if wl not in ra or wl not in rb:
            print(f"{wl:20s} (no runs on {'both sides' if wl not in ra and wl not in rb else 'one side'})")
            continue
        ps = pairs(ra[wl], rb[wl])
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            a = [r["metrics"][name]["value"] for r in ra[wl]]
            b = [r["metrics"][name]["value"] for r in rb[wl]]
            won = lost = 0
            for x, y in ps:
                va, vb = x["metrics"][name]["value"], y["metrics"][name]["value"]
                if va != vb:
                    if (vb < va) == lower:
                        won += 1
                    else:
                        lost += 1
            qa, qb = quartiles(a), quartiles(b)
            v = verdict(a, b, m["bound"], lower, won, lost)
            fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(a)}"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b)}"
            print(f"{wl:20s} {name:18s} {fa:>34s} {fb:>34s} {won:>3d}/{len(ps):<3d}  {v}")


if __name__ == "__main__":
    main()
