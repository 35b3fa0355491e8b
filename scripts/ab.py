"""Paired A/B of two git refs on one benchmark workload.

    python3 scripts/ab.py REF_A REF_B --workload crawl_mix --pairs 5 [--seed0 S]

Each ref is checked out once into a ``git worktree`` under a temporary
directory outside the repo. One unrecorded warm-up leg per ref takes input
generation and cold caches off both sides. Then ``--pairs`` pairs of the
benchmark command of BENCHMARK.json (``perfbench/run.py --workload W --seed
S+i --seconds <run_seconds> --trace 0``) run one leg at a time, never two
JVMs at once: the same seed on both refs, the order alternating from pair to
pair. The script fails when a leg is not ``correct`` or when the two refs'
row digests differ for a seed. For each end-to-end metric of BENCHMARK.json
it prints the per-pair values, B's wins, the median of the per-pair B/A
ratios, ref A's IQR over its median, and whether B may claim a gain.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = pathlib.Path(__file__).resolve().parents[1]


def pair_summary(a: list[float], b: list[float], better: str) -> dict:
    """B's wins (ties count for neither side), the median of per-pair B/A
    ratios, A's interquartile range over A's median, and ``gain``: whether
    B may claim a gain — it wins at least nine tenths of the pairs and its
    median is better than A's by more than A's interquartile range."""
    wins = sum((y > x) if better == "higher" else (y < x) for x, y in zip(a, b))
    q1, _, q3 = (
        statistics.quantiles(a, n=4, method="inclusive") if len(a) > 1 else a * 3
    )
    med_a, med_b = statistics.median(a), statistics.median(b)
    lead = med_b - med_a if better == "higher" else med_a - med_b
    return {
        "wins": wins,
        "median_ratio": statistics.median(y / x for x, y in zip(a, b)),
        "a_iqr_over_median": (q3 - q1) / med_a,
        "gain": 10 * wins >= 9 * len(a) and lead > q3 - q1,
    }


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def run_leg(tree: pathlib.Path, command: list[str], workload: str, seed: int,
            seconds: float) -> tuple[dict[str, float], str]:
    """One benchmark run in ``tree``: its metric values and row digest."""
    cmd = [*command, "--workload", workload, "--seed", str(seed),
           "--seconds", f"{seconds:g}", "--trace", "0"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    lines = out.stdout.splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{tree.name} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    result = json.loads(lines[-1])
    digest = re.search(r"\bdigest=(\S+)", out.stdout)
    if not result["correct"] or digest is None:
        sys.exit(f"{tree.name} seed {seed}: not correct\n{out.stdout[-2000:]}")
    return {k: m["value"] for k, m in result["metrics"].items()}, digest.group(1)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("ref_a")
    p.add_argument("ref_b")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed0", type=int, default=1)
    args = p.parse_args(argv)
    if args.pairs < 1:
        p.error("--pairs must be >= 1")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    shas = {side: _git("rev-parse", "--verify", f"{ref}^{{commit}}")
            for side, ref in (("A", args.ref_a), ("B", args.ref_b))}

    tmp = pathlib.Path(tempfile.mkdtemp(prefix="ab-"))
    trees: dict[str, pathlib.Path] = {}
    try:
        for side, sha in shas.items():
            trees[side] = tmp / side
            _git("worktree", "add", "--detach", str(trees[side]), sha)

        def leg(side: str, seed: int):
            return run_leg(trees[side], spec["command"], args.workload, seed,
                           spec["run_seconds"])

        for side in trees:
            print(f"warm-up {side} ({shas[side][:10]}) seed {args.seed0}", flush=True)
            leg(side, args.seed0)
        values = {"A": [], "B": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            got = {side: leg(side, seed) for side in order}
            if got["A"][1] != got["B"][1]:
                sys.exit(f"seed {seed}: row digests differ: "
                         f"A {got['A'][1]} B {got['B'][1]}")
            for side in values:
                values[side].append(got[side][0])
            print(f"pair {i + 1}/{args.pairs} seed {seed} order {''.join(order)} "
                  f"digest {got['A'][1][:16]}", flush=True)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force",
                            str(tree)], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\nA = {args.ref_a} ({shas['A'][:10]})  B = {args.ref_b} ({shas['B'][:10]})  "
          f"workload {args.workload}, seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
    for m in spec["end_to_end"]:
        a = [v[m["name"]] for v in values["A"]]
        b = [v[m["name"]] for v in values["B"]]
        s = pair_summary(a, b, m["better"])
        print(f"\n{m['name']} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        print("  pair  seed           A           B     B/A")
        for i, (x, y) in enumerate(zip(a, b)):
            print(f"  {i + 1:>4}  {args.seed0 + i:>4}  {x:>10.4g}  {y:>10.4g}  {y / x:6.3f}")
        spread = " (unresolved: A's spread exceeds the bound)" if (
            s["a_iqr_over_median"] > m["bound"]) else ""
        print(f"  median A {statistics.median(a):.4g}  B {statistics.median(b):.4g}  "
              f"B wins {s['wins']}/{len(a)}  median B/A {s['median_ratio']:.3f}  "
              f"A IQR/median {s['a_iqr_over_median']:.3f}{spread}")
        print(f"  gain: {'yes' if s['gain'] else 'no'} (B wins >= 9/10 of pairs "
              "and its median leads A's by more than A's IQR)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
