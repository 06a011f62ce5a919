#!/usr/bin/env python
"""A/B benchmark: a git revision against the working tree, in pairs.

Runs ``perfbench/run.py`` on a clean export of ``--rev`` (``git
archive`` into a new, empty temporary directory, deleted at exit, so the
repository's git metadata is left untouched) and on the working tree,
``--pairs`` times each, alternating which side runs first. Every run
lasts ``BENCHMARK.json``'s ``run_seconds``. Pair i runs both sides with
seed ``--seed + i``. Per metric it prints each side's median and quartiles
and how many pairs the working tree won (ties count for neither side),
the claim rule of the choosing-metrics guide (section 8): a gain needs
at least nine tenths of the pairs and a median difference larger than
the parent's interquartile range.

    python scripts/ab_bench.py --rev HEAD~1 --workload onepass --pairs 10
    python scripts/ab_bench.py --rev HEAD~1 --workload staged --pairs 3 \\
        --trace 1 --out ab_staged.json

The working tree's perfbench scratch files stay in its checkout
(``.bench_work/``); the export's go with it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev: str, dest: str) -> str:
    """A clean copy of ``rev``'s committed files in the new directory
    ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def load_spec() -> dict:
    """BENCHMARK.json: the run length and each metric's direction."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_side(root: str, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    """One perfbench run in checkout ``root``; its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                          check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise SystemExit(f"{root}: perfbench exited with {proc.returncode}")
    return json.loads(lines[-1])


def summarize(runs: dict, better: dict) -> list[dict]:
    """Per metric: each side's quartiles and the working tree's wins."""
    rows = []
    names = sorted(set().union(*(r["metrics"] for r in runs["parent"]))
                   & set().union(*(r["metrics"] for r in runs["change"])))
    for name in names:
        vals = {}
        for side in ("parent", "change"):
            v = [r["metrics"].get(name, {}).get("value") for r in runs[side]]
            vals[side] = np.array([np.nan if x is None else float(x)
                                   for x in v])
        sign = 1.0 if better.get(name, "lower") == "lower" else -1.0
        d = sign * (vals["parent"] - vals["change"])
        q = {s: np.nanpercentile(vals[s], [25, 50, 75])
             if np.isfinite(vals[s]).any() else [np.nan] * 3
             for s in vals}
        rows.append({"metric": name, "better": better.get(name, "lower"),
                     "parent": [float(x) for x in q["parent"]],
                     "change": [float(x) for x in q["change"]],
                     "wins": int((d > 0).sum()), "losses": int((d < 0).sum()),
                     "pairs": len(d)})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True,
                    help="the parent revision, e.g. HEAD~1")
    ap.add_argument("--workload", default="onepass",
                    choices=("onepass", "staged"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1,
                    help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", default=None, help="write every run as JSON")
    args = ap.parse_args()
    spec = load_spec()
    seconds = int(spec["run_seconds"])

    runs = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="ab_bench_") as work:
        roots = {"parent": export_rev(args.rev, os.path.join(work, "parent")),
                 "change": REPO}
        for i in range(args.pairs):
            order = (("parent", "change") if i % 2 == 0
                     else ("change", "parent"))
            for side in order:
                res = run_side(roots[side], args.workload, args.seed + i,
                               seconds, args.trace)
                runs[side].append(res)
                job = res["metrics"].get("job_s", {}).get("value")
                print(f"pair {i + 1}/{args.pairs} {side}: job_s={job} "
                      f"correct={res.get('correct')} "
                      f"failed={res.get('failed')}",
                      file=sys.stderr, flush=True)

    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    rows = summarize(runs, better)
    print(f"{args.workload}: {args.rev} (parent) vs working tree (change), "
          f"{args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}"
          f", trace {args.trace}")
    print(f"{'metric':40s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s}"
          f" {'wins':>7s}")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['metric']:40s} {p[0]:9.4g} {p[1]:9.4g} {p[2]:9.4g}  "
              f"{c[0]:9.4g} {c[1]:9.4g} {c[2]:9.4g}  "
              f"{r['wins']:2d}/{r['pairs']:<2d}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"rev": args.rev, "workload": args.workload,
                       "pairs": args.pairs, "seed": args.seed,
                       "seconds": seconds, "trace": args.trace,
                       "runs": runs, "summary": rows}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
