#!/usr/bin/env python3
"""Paired parent/change benchmark runs: median [q1-q3] and wins per metric.

Usage (from the repository root):
  python3 scripts/ab_pairs.py PARENT CHANGE --workload ohlcv_metrics \
      --workload corpus_graph --seeds 1-10 [--seconds 15] [--trace 0] \
      [--json out.json]

PARENT and CHANGE are commits. Each is exported (`git archive`) into its
own directory under a temporary dir, so both run the committed files
only and the repository's .git is left untouched. For every workload
and seed the two sides run `python3 perfbench/run.py --workload W
--seed S --seconds N --trace T` one after the other; which side runs
first alternates from seed to seed, so drift of the host within a pair
does not favour one side. The first run on each side also builds it.

Each run's last stdout line is perfbench's JSON summary. The report
gives, per workload and metric, each side's median and quartiles, the
change of the median, and in how many pairs the change was better
(ties count for neither side); `better` comes from BENCHMARK.json.
It also prints every run's failed/attempted operation counts and the
host CPU steal perfbench measured during it.

Each metric gets a verdict (see `verdict`): `gain`, `regression`,
`unresolved` or `flat`. Only the end-to-end metrics have a bound in
BENCHMARK.json, so only they can read `regression` or `unresolved`.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(commit: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_one(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = "\n".join((p.stdout + p.stderr).strip().splitlines()[-5:])
        return {"error": f"exit {p.returncode}: {tail}"}
    steal = re.search(r"host cpu steal during the run: (\S+) ratio", p.stdout)
    res["steal"] = float(steal.group(1)) if steal else float("nan")
    return res


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list, change: list, lower: bool, bound) -> str:
    """One metric's verdict over paired runs (parent[i] pairs with change[i]).

    gain:       the change wins at least 9 of 10 pairs and its median is
                better than the parent's by more than the parent's
                interquartile spread;
    regression: the change's median is worse than the parent's by more
                than `bound` (a fraction of the parent's median);
    unresolved: the parent's interquartile spread is wider than `bound`,
                unless every change run beats every parent run;
    flat:       otherwise. A metric without a bound is `gain` or `flat`.
    """
    def beats(c, p):
        return c < p if lower else c > p
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    better_by = pm - cm if lower else cm - pm
    if wins * 10 >= 9 * len(parent) and better_by > p3 - p1:
        return "gain"
    if bound is None or not pm:
        return "flat"
    if -better_by / abs(pm) > bound:
        return "regression"
    if (p3 - p1) / abs(pm) > bound and not all(beats(c, p) for c in change for p in parent):
        return "unresolved"
    return "flat"


def report(workload: str, pairs: list, better: dict, bounds: dict) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs ==")
    for seed, first, a, b in pairs:
        def counts(r):
            if "error" in r:
                return "run failed"
            return (f"{r['failed']}/{r['attempted']} failed{'' if r['correct'] else ', incorrect'}, "
                    f"steal {r['steal']:.3f}")
        print(f"seed {seed} ({first} first): parent {counts(a)}; change {counts(b)}")
        for side, r in (("parent", a), ("change", b)):
            if "error" in r:
                print(f"  {side}: {r['error']}")
    ok = [(a, b) for _, _, a, b in pairs if "error" not in a and "error" not in b]
    if not ok:
        return
    names = [k for k in ok[0][0]["metrics"] if all(k in a["metrics"] and k in b["metrics"] for a, b in ok)]
    print(f"{'metric':<34} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30} {'delta':>8} wins  verdict")
    for k in names:
        pa = [a["metrics"][k]["value"] for a, _ in ok]
        ch = [b["metrics"][k]["value"] for _, b in ok]
        unit = ok[0][0]["metrics"][k]["unit"]
        lower = better.get(k, "lower") == "lower"
        wins = sum(1 for x, y in zip(pa, ch) if (y < x if lower else y > x))
        (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"{k:<34} {f'{pm:.4g} [{p1:.4g}-{p3:.4g}] {unit}':>30} "
              f"{f'{cm:.4g} [{c1:.4g}-{c3:.4g}] {unit}':>30} {delta:>8} {wins}/{len(ok)}  "
              f"{verdict(pa, ch, lower, bounds.get(k))}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's summary to this file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"] if "bound" in m}

    results = {}
    with tempfile.TemporaryDirectory(prefix="ab_pairs_") as tmp:
        trees = {side: os.path.join(tmp, side) for side in ("parent", "change")}
        export(args.parent, trees["parent"])
        export(args.change, trees["change"])
        for w in args.workload:
            pairs = []
            for i, seed in enumerate(seeds_of(args.seeds)):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for side in order:
                    got[side] = run_one(trees[side], w, seed, args.seconds, args.trace)
                    print(f"[ab_pairs] {w} seed {seed} {side}: "
                          f"{got[side].get('metrics', got[side].get('error'))}", file=sys.stderr, flush=True)
                pairs.append((seed, order[0], got["parent"], got["change"]))
            results[w] = pairs
            report(w, pairs, better, bounds)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({w: [{"seed": s, "first": o, "parent": a, "change": b} for s, o, a, b in ps]
                       for w, ps in results.items()}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
