"""Paired cross-revision A/B of the cdcbench end-to-end metrics.

Runs ``cdcbench/run.py`` (untraced) on two arms: a base revision,
extracted with ``git archive`` into a temporary directory (the
committed files only, as the benchmark itself checks a revision out,
and no worktree left registered), and the working checkout. Each
seed runs both arms back to back; the arm that goes first alternates
from seed to seed, so a slow stretch of the host lands on both arms.

For each end-to-end metric of ``BENCHMARK.json`` it prints every
pair's delta (change - base), both arms' medians and quartiles, and
the sign count: the pairs in which the change is better. Each run's
CPU steal share (from cdcbench's ``# host`` line) is printed beside
its pair; read the deltas against it before believing either
direction.

Usage, from the repository root::

    python tools/ab_cross_revision.py --base HEAD~1 --workload serve_mor \\
        --seeds 1-10 [--seconds 10] [--out ab.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def extract(rev: str, into: str) -> None:
    archive = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)


def run_arm(root: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                         timeout=1800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{root}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    host = next((json.loads(x[len("# host "):]) for x in lines
                 if x.startswith("# host ")), {})
    return {
        "correct": res["correct"], "failed": res["failed"],
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
        "steal_share": host.get("steal_share"),
    }


def spread(values: list[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.3f}"
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return f"{q2:.3f} [{q1:.3f}, {q3:.3f}]"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="git revision of the base arm")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out", default=None, help="write every run as JSON here")
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    base_root = tempfile.mkdtemp(prefix="ab_base_")
    pairs = []
    try:
        extract(args.base, base_root)
        for i, seed in enumerate(seeds(args.seeds)):
            arms = [("base", base_root), ("change", ROOT)]
            pair = {"seed": seed}
            for arm, root in arms if i % 2 == 0 else arms[::-1]:
                pair[arm] = run_arm(root, args.workload, seed, args.seconds)
                print(f"# seed {seed} {arm}: {json.dumps(pair[arm])}",
                      file=sys.stderr, flush=True)
            pairs.append(pair)
    finally:
        shutil.rmtree(base_root, ignore_errors=True)

    print(f"{args.workload}: base {args.base} vs working checkout, "
          f"{len(pairs)} pairs")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        got = [(q["base"]["metrics"][name], q["change"]["metrics"][name])
               for q in pairs]
        deltas = [c - b for b, c in got]
        better = sum((d < 0) if lower else (d > 0) for d in deltas)
        print(f"{name} ({m['unit']}, median [quartiles]): base "
              f"{spread([b for b, _ in got])} change "
              f"{spread([c for _, c in got])}; change better in "
              f"{better}/{len(got)}")
        print("  deltas: " + " ".join(f"{d:+.3f}" for d in deltas))
    for q in pairs:
        print(f"seed {q['seed']}: steal base {q['base']['steal_share']} "
              f"change {q['change']['steal_share']}; correct "
              f"{q['base']['correct']}/{q['change']['correct']}, failed "
              f"{q['base']['failed']}/{q['change']['failed']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"base": args.base, "workload": args.workload,
                       "pairs": pairs}, f, indent=1)


if __name__ == "__main__":
    main()
