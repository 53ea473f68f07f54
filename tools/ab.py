#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base revision against the working tree.

    python3 tools/ab.py --base HEAD~1 --workload curate_iterative --pairs 10 --seed 2101

Runs the unchanged `graftbench/run.py` in two checkouts: the working tree
(the change) and an export of `--base` (the parent). The export is made with
`git archive` into `.ab_build/base-<sha>/`, so nothing is registered in the
repository's `.git` and an interrupted run leaves only that ignored
directory behind. Each pair uses one seed, `--seed`, `--seed`+1, ..., and
the side that runs first alternates from pair to pair, so slow drift of the
host falls on both sides alike. `--warmup` untimed runs per side come first:
the first run after a build is slower than the rest.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the median of the paired deltas, the pairs the change wins,
and the exact two-sided sign-test p (ties dropped). A run whose `setup_s`
is more than 15% off its side's median is flagged as host drift. The
decision rule for a claimed gain, the one the benchmark's comparison
applies: the change wins at least 9 of 10 pairs (the same share of any
other count) and its median differs from the base's by more than the base's
interquartile range. `--trace` adds one traced pair (`--trace 1`) and prints
the per-layer metrics of both sides.

Writes only under `.ab_build/` and, with `--out`, that file; the
benchmark's own runs write where `graftbench/run.py` always does.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIFT = 0.15
WIN_SHARE = 0.9


def export_base(rev: str) -> str:
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    d = os.path.join(ROOT, ".ab_build", "base-" + sha[:12])
    if not os.path.isdir(os.path.join(d, "graftbench")):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
    return d


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    if p.returncode not in (0, 1) or not lines:
        raise SystemExit(f"{' '.join(cmd)} in {root} exited {p.returncode}:\n{p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    return {"correct": out["correct"], "failed": out["failed"],
            **{k: v["value"] for k, v in out["metrics"].items()}}


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def sign_test_p(wins: int, losses: int) -> float:
    """Exact two-sided binomial p of `wins` against `losses` at p = 1/2."""
    n = wins + losses
    if n == 0:
        return 1.0
    k = min(wins, losses)
    tail = sum(math.comb(n, i) for i in range(k + 1)) / 2 ** n
    return min(1.0, 2 * tail)


def report(metrics: list, base: list, change: list) -> list:
    """Prints the summary table; returns one dict per metric."""
    rows = []
    print(f"{'metric':<22} {'base q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'Δmed':>9} {'wins':>6} {'p':>7}  claim")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [r[name] for r in base]
        c = [r[name] for r in change]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        losses = sum((y > x) if lower else (y < x) for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        gap = cq[1] - bq[1]
        better = gap < 0 if lower else gap > 0
        holds = better and wins >= math.ceil(WIN_SHARE * len(b)) and abs(gap) > bq[2] - bq[0]
        row = dict(metric=name, base=bq, change=cq,
                   paired_delta_median=statistics.median(y - x for x, y in zip(b, c)),
                   wins=wins, losses=losses, pairs=len(b), p=sign_test_p(wins, losses),
                   claim_holds=holds)
        rows.append(row)
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{name:<22} {fmt(bq):>30} {fmt(cq):>30} {gap:>+9.4g} "
              f"{wins:>3}/{len(b):<2} {row['p']:>7.4f}  {'yes' if holds else 'no'}")
    return rows


def drift_flags(base: list, change: list) -> list:
    flags = []
    for side, runs in (("base", base), ("change", change)):
        med = statistics.median(r["setup_s"] for r in runs)
        for r in runs:
            if abs(r["setup_s"] - med) > DRIFT * med:
                flags.append(f"pair seed {r['seed']}: {side} setup_s {r['setup_s']:.2f} s "
                             f"vs its median {med:.2f} s")
    return flags


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", default="curate_iterative")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--warmup", type=int, default=1, help="untimed runs per side first")
    ap.add_argument("--trace", action="store_true", help="add one traced pair")
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args()

    sides = {"base": export_base(args.base), "change": ROOT}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for _ in range(args.warmup):
        for root in sides.values():
            run_once(root, args.workload, args.seed, args.seconds, 0)
    runs = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds, 0)
            r.update(seed=seed, first=(side == order[0]))
            runs[side].append(r)
            print(f"seed {seed} {side:<6} " + " ".join(
                f"{m['name']}={r[m['name']]:.4g}" for m in bench["end_to_end"])
                + ("" if r["correct"] else "  INCORRECT"), flush=True)
    print()
    summary = report(bench["end_to_end"], runs["base"], runs["change"])
    flags = drift_flags(runs["base"], runs["change"])
    for f in flags:
        print("drift:", f)
    incorrect = [(s, r["seed"]) for s in runs for r in runs[s] if not r["correct"]]
    for s, seed in incorrect:
        print(f"incorrect: {s} seed {seed}")
    traced = {}
    if args.trace:
        seed = args.seed + args.pairs
        traced = {s: run_once(sides[s], args.workload, seed, args.seconds, 1) for s in sides}
        print(f"\ntraced pair, seed {seed}")
        for m in bench["per_layer"]:
            b, c = traced["base"].get(m["name"]), traced["change"].get(m["name"])
            if b is not None and c is not None:
                print(f"{m['name']:<28} {b:>14.4f} {c:>14.4f} {m['unit']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(dict(args=vars(args), runs=runs, summary=summary, drift=flags,
                           traced=traced), f, indent=1)
    return 1 if incorrect else 0


if __name__ == "__main__":
    sys.exit(main())
