#!/usr/bin/env python3
"""Paired comparison of two checkouts on the layered benchmark.

    python3 layerbench/compare.py --parent <dir> --change <dir> \\
        --workload el_flat --workload el_drift --workload serve_mix --pairs 10

<dir> is a checkout holding layerbench/run.py (for a parent commit:
`git archive <commit> | tar -x -C <dir>`). For each workload the
script runs `pairs` pairs, alternating which side runs first, each pair
on its own seed, every run for BENCHMARK.json's run_seconds, and
reports each side's failed and attempted operations and, per
end-to-end metric:

- each side's median and quartiles (statistics.quantiles, n=4);
- the change's wins, counting ties for neither side;
- a verdict, using the direction and bound BENCHMARK.json gives the
  metric:
  - "gain": the change wins at least 9 of 10 pairs and the medians
    differ by more than the parent's own spread (its q3 - q1);
  - "regressed": the change's median is worse than the parent's by
    more than the bound;
  - "unresolved": the parent's spread ((q3 - q1) / median) is wider
    than the bound, unless every change run beats every parent run;
  - "unchanged" otherwise;
  - "failing" in place of "gain" when the change's runs failed more
    operations (ops plus output checks) than the parent's: a gain does
    not count while more operations fail.

`--save <file>` keeps every run's metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        x = xs[0] if xs else float("nan")
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """+1 if a is better than b, -1 if worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a < b) == (direction == "lower") else -1


def verdict(parent, change, direction, bound, win_share=0.9):
    """Summary and verdict for one metric from paired runs: parent[i]
    and change[i] ran as pair i."""
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = min(len(parent), len(change))
    wins = sum(1 for i in range(pairs) if better(change[i], parent[i], direction) > 0)
    losses = sum(1 for i in range(pairs) if better(change[i], parent[i], direction) < 0)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse_by = ((cm - pm) if direction == "lower" else (pm - cm)) / pm if pm else 0.0
    if direction == "lower":
        separated = max(change) < min(parent)
    else:
        separated = min(change) > max(parent)
    if pairs and wins >= win_share * pairs and abs(cm - pm) > (p3 - p1) and worse_by < 0:
        v = "gain"
    elif worse_by > bound:
        v = "regressed"
    elif spread > bound and not separated:
        v = "unresolved"
    else:
        v = "unchanged"
    return {
        "parent": {"q1": p1, "median": pm, "q3": p3},
        "change": {"q1": c1, "median": cm, "q3": c3},
        "pairs": pairs, "wins": wins, "losses": losses, "ties": pairs - wins - losses,
        "parent_spread": spread, "change_worse_by": worse_by, "bound": bound,
        "verdict": v,
    }


def load_spec(path):
    """BENCHMARK.json's run length and, per end-to-end metric, its
    direction and bound."""
    with open(path) as fh:
        b = json.load(fh)
    return b["run_seconds"], {m["name"]: m for m in b["end_to_end"]}


def run_once(checkout, workload, seed, seconds):
    """One untraced run: its metric values, attempted and failed ops."""
    out = subprocess.run(
        [sys.executable, os.path.join("layerbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} failed: {out.stderr[-2000:]}")
    r = json.loads(lines[-1])
    return {"metrics": {k: v["value"] for k, v in r["metrics"].items()},
            "attempted": r["attempted"], "failed": r["failed"]}


def report(runs, spec):
    """runs: {workload: {"parent": [run...], "change": [run...]}}, each
    run as run_once returns it."""
    out = {}
    for w, sides in runs.items():
        failures = {side: {"failed": sum(r["failed"] for r in rs),
                           "attempted": sum(r["attempted"] for r in rs)}
                    for side, rs in sides.items()}
        more_failures = failures["change"]["failed"] > failures["parent"]["failed"]
        out[w] = {"failures": failures, "metrics": {}}
        for name, m in spec.items():
            p = [r["metrics"][name] for r in sides["parent"] if name in r["metrics"]]
            c = [r["metrics"][name] for r in sides["change"] if name in r["metrics"]]
            if p and c:
                v = verdict(p, c, m["better"], m["bound"])
                if more_failures and v["verdict"] == "gain":
                    v["verdict"] = "failing"
                out[w]["metrics"][name] = v
    return out


def print_table(rep):
    for w, r in rep.items():
        f = r["failures"]
        print(f"== {w}: failed ops parent {f['parent']['failed']}/{f['parent']['attempted']}, "
              f"change {f['change']['failed']}/{f['change']['attempted']}")
        print(f"{'metric':32s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
              f"{'wins':>6s} {'verdict':>11s}")
        for name, v in r["metrics"].items():
            p, c = v["parent"], v["change"]
            print(f"{name:32s} {p['q1']:10.4g}/{p['median']:10.4g}/{p['q3']:10.4g} "
                  f"{c['q1']:10.4g}/{c['median']:10.4g}/{c['q3']:10.4g} "
                  f"{v['wins']:>3d}/{v['pairs']:<2d} {v['verdict']:>11s}")


def main():
    ap = argparse.ArgumentParser(description="Paired parent/change comparison.")
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--save", help="write the per-run metrics here")
    args = ap.parse_args()
    seconds, spec = load_spec(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"))
    if args.pairs < 10:
        ap.error("at least 10 pairs")
    runs = {}
    for w in args.workload:
        runs[w] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                runs[w][side].append(run_once(checkout, w, seed, seconds))
                print(f"{w} pair {i} {side} done", file=sys.stderr, flush=True)
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(runs, fh)
    rep = report(runs, spec)
    print_table(rep)
    print(json.dumps(rep))


if __name__ == "__main__":
    main()
