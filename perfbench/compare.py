#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Usage: python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories searched for the record.json files
run.py saves (<state>/runs/<workload>/<run>/record.json), or record
files. For each workload and end-to-end metric it prints both sides'
median and quartiles, the pairs the change won (runs paired by seed,
else in order) and a verdict:
  gain        the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  either side's spread (IQR / median) exceeds the bound and
              the change does not beat every parent run
  same        none of the above
Traced runs give the per-layer medians of both sides and their deltas,
and each side's tracing overhead (traced minus untraced pass_s).
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "**", "record.json"), recursive=True)
    out = []
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("smoke"):
            out.append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    """Runs paired by seed when both sides have it, else in order."""
    bs = {r["seed"]: r for r in b}
    if all(r["seed"] in bs for r in a):
        return [(r, bs[r["seed"]]) for r in a]
    return list(zip(a, b))


def verdict(pv, cv, won, n_pairs, bound, lower_better):
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    sign = 1 if lower_better else -1
    better_all = (max(cv) < min(pv)) if lower_better else (min(cv) > max(pv))
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    if spread > bound and not better_all:
        return "unresolved"
    if n_pairs and won >= 0.9 * n_pairs and sign * (pm - cm) > p3 - p1:
        return "gain"
    if sign * (cm - pm) > bound * abs(pm):
        return "regression"
    return "same"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    for w in workloads:
        print(f"== {w}")
        pu = sorted([r for r in parent if r["workload"] == w and not r["trace"]], key=lambda r: r["seed"])
        cu = sorted([r for r in change if r["workload"] == w and not r["trace"]], key=lambda r: r["seed"])
        ps = pairs(pu, cu)
        print(f"untraced runs: parent {len(pu)}, change {len(cu)}, pairs {len(ps)}")
        print(f"{'metric':<16}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'won':>8}  verdict")
        for m in bench["end_to_end"]:
            k = m["name"]
            pv = [r["end_to_end"][k] for r in pu]
            cv = [r["end_to_end"][k] for r in cu]
            if not pv or not cv:
                continue
            lower = m["better"] == "lower"
            won = sum(1 for a, b in ps if (b["end_to_end"][k] < a["end_to_end"][k]) == lower
                      and b["end_to_end"][k] != a["end_to_end"][k])
            fmt = lambda v: "/".join(f"{x:.4g}" for x in quartiles(v))
            print(f"{k:<16}{fmt(pv):>30}{fmt(cv):>30}{won:>5}/{len(ps):<2}  "
                  f"{verdict(pv, cv, won, len(ps), m['bound'], lower)}")
        pt = [r for r in parent if r["workload"] == w and r["trace"]]
        ct = [r for r in change if r["workload"] == w and r["trace"]]
        for side, u, t in (("parent", pu, pt), ("change", cu, ct)):
            if u and t:
                traced = statistics.median(r["per_layer"]["trace.pass_s"] for r in t)
                plain = statistics.median(r["end_to_end"]["pass_s"] for r in u)
                print(f"tracing overhead ({side}): traced pass {traced:.4g} s - "
                      f"untraced pass {plain:.4g} s = {traced - plain:+.4g} s")
        if pt and ct:
            print(f"per-layer medians over traced runs (parent {len(pt)}, change {len(ct)}):")
            for m in bench["per_layer"]:
                k = m["name"]
                pm = statistics.median(r["per_layer"][k] for r in pt)
                cm = statistics.median(r["per_layer"][k] for r in ct)
                rel = f"{(cm - pm) / pm:+.1%}" if pm else ""
                print(f"  {k:<26}{pm:>16.6g}{cm:>16.6g}{cm - pm:>+16.6g} {rel}")
        print()


if __name__ == "__main__":
    main()
