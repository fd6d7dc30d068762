#!/usr/bin/env python3
"""Compare two sets of benchmark runs, A (the parent) and B (the change).

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds run records as `run.py` writes them to
`perfbench/out/` (untraced and traced runs may be mixed). Prints:

  * per workload and end-to-end metric: each side's median and quartiles,
    the share of A/B pairs B wins (pairs by seed where both sides ran it,
    else by order; ties count for neither), and a verdict against the
    bound in BENCHMARK.json: "regressed" when B's median is worse than A's
    by more than the bound, "unresolved" when A's own spread (quartile
    distance over median) exceeds the bound and not every B run beats
    every A run, else "ok";
  * per workload, from traced runs: each layer's self time per pass (median
    per side and the difference), and the tracing overhead, the traced
    pass time over the untraced one.
"""

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

import metrics

BENCH = Path(__file__).resolve().parent


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load_side(d):
    untraced, traced = defaultdict(list), defaultdict(list)
    for p in sorted(Path(d).glob("*.json")):
        rec = metrics.load(p)
        if metrics.failures(rec):
            print(f"note: {p.name} has failed ops; left out", file=sys.stderr)
            continue
        if rec["trace"]:
            traced[rec["workload"]].append((rec["seed"], metrics.per_layer(rec)))
        else:
            untraced[rec["workload"]].append((rec["seed"], metrics.end_to_end(rec)))
    return untraced, traced


def pairs(a, b):
    """(a_value_index, b_value_index) pairs: by seed where possible."""
    seeds_a = [s for s, _ in a]
    seeds_b = [s for s, _ in b]
    common = [s for s in seeds_a if s in seeds_b]
    if common:
        return [(seeds_a.index(s), seeds_b.index(s)) for s in common]
    return list(zip(range(len(a)), range(len(b))))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    a_un, a_tr = load_side(sys.argv[1])
    b_un, b_tr = load_side(sys.argv[2])

    print("end-to-end (untraced runs)")
    print(f"{'workload':<20} {'metric':<14} {'A q1/med/q3':>30} {'B q1/med/q3':>30} {'B wins':>7}  verdict")
    for wl in sorted(set(a_un) & set(b_un)):
        a, b = a_un[wl], b_un[wl]
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            av = [v[name] for _, v in a]
            bv = [v[name] for _, v in b]
            qa, qb = quartiles(av), quartiles(bv)
            ps = pairs(a, b)
            wins = sum(1 for i, j in ps if (bv[j] < av[i] if lower else bv[j] > av[i]))
            worse = (qb[1] - qa[1]) if lower else (qa[1] - qb[1])
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            all_better = all((x < y if lower else x > y) for x in bv for y in av)
            if worse > bound * qa[1]:
                verdict = "regressed"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "ok"
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{wl:<20} {name:<14} {fa:>30} {fb:>30} {wins}/{len(ps):<5}  {verdict}")

    print()
    print("per-layer self time per pass (traced runs), and tracing overhead")
    for wl in sorted(set(a_tr) & set(b_tr)):
        a, b = a_tr[wl], b_tr[wl]
        print(f"{wl}:")
        for layer in metrics.SELF_LAYERS:
            k = f"self.{layer}_s"
            ma = statistics.median(v[k] for _, v in a)
            mb = statistics.median(v[k] for _, v in b)
            print(f"  {k:<24} A {ma:>9.4f}  B {mb:>9.4f}  B-A {mb - ma:>+9.4f} s")
        for side, tr, un in (("A", a, a_un), ("B", b, b_un)):
            if un.get(wl):
                t = statistics.median(v["trace.pass_s"] for _, v in tr)
                u = statistics.median(v["pass_s"] for _, v in un[wl])
                print(f"  tracing overhead {side}: traced pass {t:.4f} s vs untraced {u:.4f} s "
                      f"({(t / u - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    main()
