#!/usr/bin/env python3
"""Interleaved A/B pairs of the journey benchmark: a parent revision against
the working tree.

    python3 tools/abpairs.py --parent <rev> --workload upload_churn \
        --pairs 10 --seed-base 41

Run from the repository root. `<rev>` is extracted with `git archive` into a
temporary directory. Pair i runs `journeybench/run.py --trace 0 --seconds 12
--seed <seed-base + i>` once in that directory and once in the working tree,
the parent first in even pairs and the change first in odd ones. Each run
builds its own checkout, so the first pair also pays both builds.

For every end-to-end metric (BENCHMARK.json) and every `named` figure of the
report it prints each side's median [quartiles], the pairs the change won
(ties count for neither) and a verdict: "gain" or "loss" when one side wins
at least 9 of 10 pairs and the medians differ by more than the parent's
interquartile range, else "no claim". End-to-end rows also give the change's
relative median shift (positive = worse) next to the benchmark's bound. The
last line is a JSON object with every run's figures.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = 12


def extract(rev, dest):
    """Write the tree of `rev` into `dest` (git archive, no worktree)."""
    tar = os.path.join(dest, "rev.tar")
    subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", "-o", tar, rev], check=True)
    with tarfile.open(tar) as t:
        t.extractall(os.path.join(dest, "tree"))
    os.remove(tar)
    return os.path.join(dest, "tree")


def run_once(root, workload, seed):
    """One untraced journeybench run in checkout `root`: (result, report) or
    None when the harness fails."""
    cmd = [sys.executable, "journeybench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(f"run failed in {root} (seed {seed}): {p.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def figures(run):
    """Flat {metric: value} of one run: end-to-end metrics plus named figures."""
    result, report = run
    out = {k: v["value"] for k, v in result["metrics"].items()}
    out.update({f"named.{k}": v for k, v in report.get("named", {}).items()})
    return {k: v for k, v in out.items() if isinstance(v, (int, float))}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, lower_better):
    """(change's wins, verdict) over paired values, by the 9-of-10 wins and
    median-gap-above-parent-IQR rule."""
    sign = 1 if lower_better else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) < 0)
    losses = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    q1, q3 = quartiles(parent)
    gap = sign * (statistics.median(change) - statistics.median(parent))
    n = len(parent)
    if abs(gap) > q3 - q1 and 10 * wins >= 9 * n and gap < 0:
        return wins, "gain"
    if abs(gap) > q3 - q1 and 10 * losses >= 9 * n and gap > 0:
        return wins, "loss"
    return wins, "no claim"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", required=True, help="git revision to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", required=True, type=int)
    p.add_argument("--seed-base", required=True, type=int)
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    runs = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="abpairs-") as tmp:
        roots = {"parent": extract(args.parent, tmp), "change": ROOT}
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {side: run_once(roots[side], args.workload, seed) for side in order}
            for side in order:
                r = pair[side]
                runs[side].append(None if r is None else {
                    "seed": seed, "correct": r[0]["correct"], "failed": r[0]["failed"],
                    "attempted": r[0]["attempted"], "figures": figures(r)})
            print(f"pair {i + 1}/{args.pairs} seed {seed} first={order[0]}: " + "  ".join(
                f"{side} step_p50_ms={runs[side][-1]['figures'].get('step_p50_ms')}"
                if runs[side][-1] else f"{side} FAILED" for side in ("parent", "change")),
                flush=True)

    ok = [i for i in range(args.pairs) if runs["parent"][i] and runs["change"][i]]
    for side in ("parent", "change"):
        done = [r for r in runs[side] if r]
        print(f"{side}: {len(done)}/{args.pairs} runs completed, "
              f"{sum(1 for r in done if r['correct'])} correct, "
              f"{sum(r['failed'] for r in done)} failed ops")
    if not ok:
        sys.exit("abpairs: no pair completed on both sides")
    names = [n for n in runs["parent"][ok[0]]["figures"]
             if all(n in runs[s][i]["figures"] for s in runs for i in ok)]
    print(f"{'metric':<34} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'wins':>7}  verdict")
    for name in sorted(names, key=lambda n: (n not in e2e, n)):
        a = [runs["parent"][i]["figures"][name] for i in ok]
        b = [runs["change"][i]["figures"][name] for i in ok]
        lower = e2e.get(name, {}).get("better", "lower") == "lower"
        wins, v = verdict(a, b, lower)
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        note = ""
        if name in e2e and ma:
            shift = (mb - ma) / abs(ma) * (1 if lower else -1)
            note = f"  shift {shift:+.1%} (bound {e2e[name]['bound']:.0%})"
        print(f"{name:<34} {ma:>12.4g} [{qa[0]:.4g}, {qa[1]:.4g}]".ljust(66) +
              f"{mb:>12.4g} [{qb[0]:.4g}, {qb[1]:.4g}]".ljust(31) +
              f"{wins:>3}/{len(ok):<3}  {v}{note}")
    print(json.dumps({"workload": args.workload, "parent": args.parent, "runs": runs}))


if __name__ == "__main__":
    main()
