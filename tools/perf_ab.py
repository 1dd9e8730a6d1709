#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base revision against this checkout.

    python3 tools/perf_ab.py --base HEAD~1 --workload index_lifecycle --seeds 1-10

Extracts <rev> into a temporary directory (`git archive`, so the
repository's own .git is never touched), then runs `perfbench/run.py`
once per seed in each checkout: the base copy and this working tree,
uncommitted edits included. Which side runs first alternates from pair
to pair, so a drift in host load hits both sides alike. The temporary
copy, with its build, is removed on exit.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, how many pairs the change won, and whether the
gain rule holds: the change better in at least 9 of every 10 pairs run
(a pair with a failed run counts as lost), its median better by more
than the base's interquartile range, and every change run correct with
no larger share of failed ops than the base. Each run's window is
BENCHMARK.json's run_seconds. `--log` keeps every run's result JSON,
one line per run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = subprocess.run(
    ["git", "rev-parse", "--show-toplevel"], capture_output=True, text=True,
    cwd=os.path.dirname(os.path.abspath(__file__)), check=True).stdout.strip()


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result JSON (None on failure)."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True,
        text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(res.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B (inclusive) or A")
    ap.add_argument("--tmpdir", default=None,
                    help="parent directory of the base copy (default: system temp)")
    ap.add_argument("--log", default=None, help="append each run's result JSON here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    seeds = seeds_of(args.seeds)

    tmp = tempfile.mkdtemp(prefix="perf_ab_", dir=args.tmpdir)
    try:
        base_dir = os.path.join(tmp, "base")
        os.makedirs(base_dir)
        archive = subprocess.Popen(["git", "archive", args.base], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", base_dir], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit(f"perf_ab: git archive {args.base} failed")
        sides = {"base": base_dir, "change": ROOT}
        results = {"base": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                r = run_once(sides[side], args.workload, seed, seconds)
                results[side].append(r)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps({"side": side, "seed": seed,
                                            "result": r}) + "\n")
            print(f"pair {i + 1}/{len(seeds)} seed {seed} ({order[0]} first): " +
                  " ".join(
                      f"{s}={'fail' if results[s][-1] is None else results[s][-1]['failed']}"
                      f"/{'-' if results[s][-1] is None else results[s][-1]['attempted']} failed ops"
                      for s in ("base", "change")), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"base={args.base} workload={args.workload} seeds={args.seeds} "
          f"seconds={seconds} pairs={len(seeds)}")
    report(results, metrics)


def report(results, metrics):
    """Prints the per-side run tallies and one line per end-to-end metric."""
    n_pairs = len(results["base"])
    ops = {}
    for side in ("base", "change"):
        ok = [r for r in results[side] if r is not None]
        failed = sum(r["failed"] for r in ok)
        attempted = sum(r["attempted"] for r in ok)
        ops[side] = failed / attempted if attempted else 1.0
        print(f"{side}: {len(results[side]) - len(ok)} runs failed; "
              f"incorrect {sum(not r['correct'] for r in ok)}; failed ops "
              f"{failed}/{attempted}")
    # A gain counts only when every change run finished with correct
    # answers and no larger share of its ops failed than at the base.
    change_sound = (all(r is not None and r["correct"]
                        for r in results["change"]) and
                    ops["change"] <= ops["base"])
    print(f"{'metric':<20} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'delta':>8} {'wins':>6}  gain rule")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                 for b, c in zip(results["base"], results["change"])
                 if b and c and name in b["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        bq = quartiles([b for b, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        better = (lambda b, c: c < b) if lower else (lambda b, c: c > b)
        # Wins are counted over every pair run: a pair with a failed run
        # is a pair the change did not win.
        wins = sum(better(b, c) for b, c in pairs)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        holds = (change_sound and n_pairs >= 10 and
                 wins >= 0.9 * n_pairs and better(bq[1], cq[1]) and
                 abs(cq[1] - bq[1]) > bq[2] - bq[0])
        print(f"{name:<20} {bq[1]:>12.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(51) +
              f" {cq[1]:>12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31) +
              f" {delta:>+7.1%} {wins:>3}/{n_pairs:<2}  "
              f"{'holds' if holds else '-'}")

if __name__ == "__main__":
    main()
