#!/usr/bin/env python3
"""A/B comparison of two checkouts with the graft benchmark.

Run pairs (alternating which side goes first, the same seed on both
sides of a pair) and keep every run's output:

  python3 perfbench/compare.py run --a PARENT_DIR --b CHANGE_DIR \
      --out RESULTS_DIR [--workloads olap,nightly] [--pairs 10] [--trace]

Report from saved outputs:

  python3 perfbench/compare.py report RESULTS_DIR

For every workload and metric the report prints each side's median and
quartiles, how many pairs the change won (ties count for neither), and a
verdict: `improved` when the change wins at least 9/10 of the pairs and
the medians differ by more than the parent's quartile spread; `worse`
when the change's median is worse than the parent's by more than the
metric's bound in BENCHMARK.json; `unresolved` when the parent's own
spread is wider than the bound; `unchanged` otherwise. Per-layer metrics
and the detail line's metrics (op latencies, fail_ratio, the nightly
figures) have no bound and get `improved`/`worse` by the pair rule
alone. With traced runs it also prints the tracing overhead (traced wall
minus the untraced median).
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    metrics.update({m["name"]: m for m in spec["per_layer"]})
    return spec, metrics


def run(args):
    spec, _ = load_spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = str(args.seconds or spec["run_seconds"])
    for side in ("a", "b"):
        os.makedirs(os.path.join(args.out, side), exist_ok=True)
    traces = [0, 1] if args.trace else [0]
    for w in workloads:
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            for t in traces:
                if t and i > 0:
                    continue  # one traced run per side and workload
                for side in order:
                    cwd = getattr(args, side)
                    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", w,
                           "--seed", str(seed), "--seconds", seconds, "--trace", str(t)]
                    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                       text=True)
                    path = os.path.join(args.out, side, f"{w}-s{seed}-t{t}.out")
                    with open(path, "w") as fh:
                        fh.write(r.stdout)
                    print(f"{side} {w} seed={seed} trace={t} rc={r.returncode}", flush=True)


def parse(path):
    """(detail, result) of one saved run output, or None if it has no
    result. The detail line's metrics (those in its `units` map) join the
    result's, without a bound."""
    with open(path) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    if len(lines) < 2:
        return None
    try:
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    except ValueError:
        return None
    for k, unit in detail.get("units", {}).items():
        if k in detail and k not in result["metrics"]:
            result["metrics"][k] = {"value": detail[k], "unit": unit}
    return detail, result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, pairs, better, bound):
    sign = -1 if better == "lower" else 1
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    gain = sign * (mb - ma)
    if pairs and wins >= 0.9 * len(pairs) and gain > qa3 - qa1:
        return wins, losses, "improved"
    if pairs and losses >= 0.9 * len(pairs) and -gain > qa3 - qa1 and bound is None:
        return wins, losses, "worse"
    if bound is None:
        return wins, losses, "unchanged"
    if ma and (qa3 - qa1) / abs(ma) > bound:
        if min(sign * y for y in b) > max(sign * x for x in a):
            return wins, losses, "improved"
        return wins, losses, "unresolved"
    if ma and -gain / abs(ma) > bound:
        return wins, losses, "worse"
    return wins, losses, "unchanged"


def report(args):
    _, spec = load_spec()
    runs = {}
    for side in ("a", "b"):
        for path in sorted(glob.glob(os.path.join(args.results, side, "*.out"))):
            w, seed, t = os.path.basename(path)[:-4].rsplit("-", 2)
            parsed = parse(path)
            if parsed:
                runs.setdefault((w, t), {}).setdefault(side, {})[seed] = parsed
    for (w, t), sides in sorted(runs.items()):
        a, b = sides.get("a", {}), sides.get("b", {})
        print(f"\n== {w} ({'traced' if t == 't1' else 'untraced'}; runs a={len(a)} b={len(b)})")
        for side, rs in (("a", a), ("b", b)):
            bad = [s for s, (_, res) in rs.items() if not res["correct"] or res["failed"]]
            if bad:
                print(f"   side {side}: incorrect or failed ops in seeds {bad}")
        names = sorted({k for rs in (a, b) for _, res in rs.values() for k in res["metrics"]})
        print(f"   {'metric':28} {'a median [q1, q3]':>30} {'b median [q1, q3]':>30}  wins  verdict")
        for name in names:
            va = [res["metrics"][name]["value"] for _, res in a.values() if name in res["metrics"]]
            vb = [res["metrics"][name]["value"] for _, res in b.values() if name in res["metrics"]]
            if not va or not vb:
                continue
            pairs = [(a[s][1]["metrics"][name]["value"], b[s][1]["metrics"][name]["value"])
                     for s in a if s in b and name in a[s][1]["metrics"] and name in b[s][1]["metrics"]]
            m = spec.get(name, {"better": "higher" if name == "rows_per_s" else "lower"})
            wins, losses, v = verdict(va, vb, pairs, m["better"], m.get("bound"))
            qa, qb = quartiles(va), quartiles(vb)
            fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
            print(f"   {name:28} {fa:>30} {fb:>30}  {wins}/{len(pairs)}  {v}")
        if t == "t1":
            untraced = runs.get((w, "t0"), {})
            for side, rs in (("a", a), ("b", b)):
                walls = [res["metrics"]["wall_s"]["value"] for _, res in untraced.get(side, {}).values()]
                traced = [res["metrics"]["trace.wall_s"]["value"] for _, res in rs.values()
                          if "trace.wall_s" in res["metrics"]]
                if walls and traced:
                    base = statistics.median(walls)
                    over = statistics.median(traced) - base
                    print(f"   tracing overhead {side}: {over:+.3f} s on {base:.3f} s untraced wall "
                          f"({100 * over / base:+.1f}%)")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True)
    r.add_argument("--b", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--workloads")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", action="store_true")
    p = sub.add_parser("report")
    p.add_argument("results")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else report(args)


if __name__ == "__main__":
    main()
