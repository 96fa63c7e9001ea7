"""Compare two git trees with identical benchmark code and settings.

    python3 perfbench/compare.py BASE_REF NEW_REF [--pairs 10] [--workloads a,b]

Each ref is exported with ``git archive`` into its own tree under
``.perfbench/compare/``, and this directory's
benchmark files and BENCHMARK.json are copied over both, so only the
engine differs. Runs alternate in pairs (base first in even pairs, new
first in odd ones), each for BENCHMARK.json's ``run_seconds`` with the
same seed on both sides and a new seed per pair (``FIRST_SEED``
upward). For every workload and end-to-end metric it prints both
medians and quartiles, the share of pairs the new tree won, and a
verdict by the benchmark's bound: ``better`` needs at least 9 of 10
pairs won and a median gap wider than the base's quartile spread;
``worse`` is a median more than the bound behind; a spread wider than
the bound is ``unresolved`` unless every new run beats every base run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIRST_SEED = 1000
OUT = os.path.join(ROOT, ".perfbench", "compare")


def export(ref: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    bench = os.path.join(dest, os.path.basename(HERE))
    shutil.rmtree(bench, ignore_errors=True)
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run([sys.executable, os.path.join(os.path.basename(HERE), "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=600)
    if p.returncode:
        raise RuntimeError(f"{tree} {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(v):
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(base, new, better, bound) -> tuple[str, float]:
    sign = 1 if better == "higher" else -1
    won = sum(sign * (n - b) > 0 for b, n in zip(base, new)) / len(base)
    b_lo, b_med, b_hi = quartiles(base)
    n_lo, n_med, n_hi = quartiles(new)
    gap = sign * (n_med - b_med)
    if won >= 0.9 and gap > b_hi - b_lo:
        return "better", won
    if -gap > bound * b_med:
        return "worse", won
    spread = max(b_hi - b_lo, n_hi - n_lo) / b_med
    every_better = (min(new) > max(base)) if sign > 0 else (max(new) < min(base))
    if spread > bound and not every_better:
        return "unresolved", won
    return "same", won


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args(argv)

    trees = {"base": os.path.join(OUT, "base"), "new": os.path.join(OUT, "new")}
    export(args.base, trees["base"])
    export(args.new, trees["new"])
    results = {w: {"base": [], "new": []} for w in args.workloads.split(",")}
    for i in range(args.pairs):
        seed = FIRST_SEED + i
        for w in results:
            for side in (("base", "new") if i % 2 == 0 else ("new", "base")):
                r = run_once(trees[side], w, seed, spec["run_seconds"])
                results[w][side].append(r)
                print(f"pair {i} {w} {side}: failed {r['failed']}/{r['attempted']}", file=sys.stderr)
    with open(os.path.join(OUT, "results.json"), "w") as f:
        json.dump(results, f)

    print(f"{'workload':20} {'metric':18} {'base q1/med/q3':>28} {'new q1/med/q3':>28} won  verdict")
    for w, sides in results.items():
        fails = {s: sum(r["failed"] for r in rs) for s, rs in sides.items()}
        for m in spec["end_to_end"]:
            b = [r["metrics"][m["name"]]["value"] for r in sides["base"]]
            n = [r["metrics"][m["name"]]["value"] for r in sides["new"]]
            v, won = verdict(b, n, m["better"], m["bound"])
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            fn = "/".join(f"{x:.4g}" for x in quartiles(n))
            print(f"{w:20} {m['name']:18} {fb:>28} {fn:>28} {won:4.0%} {v}")
        if fails["new"] > fails["base"]:
            print(f"{w:20} failed operations: base {fails['base']}, new {fails['new']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
