"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py <runs A> <runs B>

Each side is a directory of run records (perfbench/run.py saves one per
run under .bench_build/records/) or a single record file. For every
workload x end-to-end metric it prints both sides' median and quartiles,
B's win share over pairs taken in run order (alternate A and B runs when
making them), and a verdict against the metric's bound in BENCHMARK.json:

  better      B wins >= 90% of pairs and the medians differ by more than
              A's own quartile spread
  worse       B's median is worse than A's by more than the bound
  unresolved  A's own spread is wider than the bound and not every B run
              is on the same side of every A run
  same        none of the above

Op latencies are also pooled over each side's runs to report the highest
percentile with at least ten samples beyond it, and each untimed
query_mix probe's failures are counted per side. For traced records it
diffs the structural counters (jobs, stages, tasks, shuffle bytes,
single-task stages), which do not move with machine load.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STRUCTURAL = (".jobs", ".stages", ".tasks", "_bytes", ".single_task_stages")


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, bound, lower_is_better):
    sign = 1 if lower_is_better else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    share = wins / len(pairs) if pairs else 0.0
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    spread = (qa3 - qa1) / ma if ma else 0.0
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    all_worse = min(sign * y for y in b) > max(sign * x for x in a)
    if share >= 0.9 and abs(mb - ma) > qa3 - qa1:
        v = "better"
    elif worse_by > bound and (spread <= bound or all_worse):
        v = "worse"
    elif spread > bound and not (all_better or all_worse):
        v = "unresolved"
    else:
        v = "same"
    return share, v


def tail(ms):
    ms = sorted(ms)
    n = len(ms)
    if n < 20:
        return f"n={n}, too few for a tail"
    p = int(100 * (n - 10) / n)
    return f"p{p} {ms[min(n - 1, int(p / 100 * n))]:.0f} ms (n={n})"


def main(a_path, b_path):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    a_runs, b_runs = load(a_path), load(b_path)
    workloads = sorted({r["workload"] for r in a_runs + b_runs})
    for w in workloads:
        a = [r for r in a_runs if r["workload"] == w]
        b = [r for r in b_runs if r["workload"] == w]
        if not a or not b:
            print(f"{w}: runs on one side only (A {len(a)}, B {len(b)})")
            continue
        for side, rs in (("A", a), ("B", b)):
            loads = [r["loadavg"]["start"][0] for r in rs if r["loadavg"]["start"]]
            print(f"{w} {side}: {len(rs)} runs, nproc "
                  f"{sorted({r['nproc'] for r in rs})}, 1-min loadavg "
                  f"{min(loads, default=0):.2f}..{max(loads, default=0):.2f}")
        ta = [r for r in a if not r["trace"]]
        tb = [r for r in b if not r["trace"]]
        if ta and tb:
            print(f"  {'metric':24s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s}"
                  f"  win  verdict")
            for name, m in bounds.items():
                xa = [r["end_to_end"][name] for r in ta]
                xb = [r["end_to_end"][name] for r in tb]
                share, v = verdict(xa, xb, m["bound"], m["better"] == "lower")
                fa = "/".join(f"{x:.4g}" for x in quartiles(xa))
                fb = "/".join(f"{x:.4g}" for x in quartiles(xb))
                print(f"  {name:24s} {fa:>30s} {fb:>30s}  {share:.2f} "
                      f"{v} (bound {m['bound']}, {m['unit']})")
            for side, rs in (("A", ta), ("B", tb)):
                ms = [o["ms"] for r in rs for o in r["ops"]]
                bad = sum(1 for r in rs for o in r["ops"] if not o["ok"])
                print(f"  {side}: op p50 {statistics.median(ms):.0f} ms, "
                      f"{tail(ms)}, error_rate {bad / len(ms):.4f} "
                      f"({bad}/{len(ms)})")
                for p in sorted({p for r in rs for p in r.get("probes", {})}):
                    pr = [r["probes"][p] for r in rs if p in r.get("probes", {})]
                    fails = sum(1 for x in pr if x["verdict"] != "PASS")
                    missed = sum(len(x.get("missed", [])) for x in pr)
                    print(f"  {side}: probe {p} failed in {fails} of {len(pr)} "
                          f"runs, {missed} exact pairs missed")
        sa = [r for r in a if r["trace"]]
        sb = [r for r in b if r["trace"]]
        if sa and sb:
            print("  structural counters (median per lap, A -> B):")
            keys = sorted(k for k in sa[0]["metrics"] if k.endswith(STRUCTURAL))
            for k in keys:
                va = statistics.median(r["metrics"].get(k, 0) for r in sa)
                vb = statistics.median(r["metrics"].get(k, 0) for r in sb)
                if va != vb:
                    print(f"    {k:34s} {va:14.1f} -> {vb:14.1f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
