"""Paired A/B of two revisions on the repository benchmark.

    python scripts/ab_bench.py REV_A REV_B --seeds 21-30
        [--workloads extract_mix,job_resume]

Each revision's committed files are exported with ``git archive`` into a
fresh temporary directory (``$TMPDIR``), and ``perfbench/run.py`` runs
unchanged in each, for the ``run_seconds`` that REV_A's BENCHMARK.json
sets. For every workload, each seed in ``--seeds`` is one pair: both sides
run it back to back, so the two runs of a pair share one contention window;
A goes first in even pairs and B in odd ones. At least 10 distinct seeds
are required, the fewest pairs a 9-of-10 win rule can be read from. To measure
an uncommitted tree, pass the commit printed by ``git stash create``.

For every end-to-end metric in REV_A's BENCHMARK.json this prints each
side's median and quartiles, the share of pairs B wins, and A's quartile
width, plus the worst ``failed_ops_ratio`` of each side. A second table gives
each side's median of the run stamp's ``resume_s`` and ``iterations``
(``job_resume``) and ``passes`` (``extract_mix``), which show which timed
step moved and how many iterations fit in the run. The exports are
removed on exit, also on Ctrl-C or SIGTERM. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# figures of the run stamp that only some workloads report
STAMP_FIGURES = ("resume_s", "iterations", "passes")


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev: str, dst: str) -> str:
    """Write the files committed at `rev` under `dst`; returns the full sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, capture_output=True)
    os.makedirs(dst)
    subprocess.run(["tar", "-x", "-C", dst], input=tar.stdout, check=True)
    return sha


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=3600)
    lines = [line for line in out.stdout.splitlines() if line.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{tree}: {workload} seed {seed} exited {out.returncode}")
    stamp, result = json.loads(lines[-2]), json.loads(lines[-1])
    got = {k: v["value"] for k, v in result["metrics"].items()}
    got.update((k, stamp["named"][k]) for k in ("failed_ops_ratio", *STAMP_FIGURES)
               if k in stamp["named"])
    return got


def summarize(metrics: list[dict], runs: dict) -> None:
    print("| workload | metric | A median [q1, q3] | B median [q1, q3] "
          "| B/A | B wins | A q3-q1 | worst failed A/B |")
    print("|---|---|---|---|---|---|---|---|")
    for workload, pairs in runs.items():
        worst = [max(p[s]["failed_ops_ratio"] for p in pairs) for s in "AB"]
        for m in metrics:
            name, sign = m["name"], 1 if m["better"] == "higher" else -1
            a, b = ([p[s][name] for p in pairs] for s in "AB")
            qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
            ma, mb = statistics.median(a), statistics.median(b)
            wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
            print(f"| {workload} | {name} | {ma:,.2f} [{qa[0]:,.2f}, {qa[2]:,.2f}] "
                  f"| {mb:,.2f} [{qb[0]:,.2f}, {qb[2]:,.2f}] | {mb / ma:.3f} "
                  f"| {wins}/{len(pairs)} | {qa[2] - qa[0]:,.2f} "
                  f"| {worst[0]:.3g}/{worst[1]:.3g} |")
    print("\n| workload | stamp figure | A median | B median |")
    print("|---|---|---|---|")
    for workload, pairs in runs.items():
        for k in STAMP_FIGURES:
            if all(k in p[s] for p in pairs for s in "AB"):
                a, b = (statistics.median(p[s][k] for p in pairs) for s in "AB")
                print(f"| {workload} | {k} | {a:,.2f} | {b:,.2f} |")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("rev_a")
    p.add_argument("rev_b")
    p.add_argument("--seeds", type=parse_seeds, required=True, help="e.g. 21-30 or 3,5,8")
    p.add_argument("--workloads", default="extract_mix,job_resume")
    args = p.parse_args(argv)
    if len(set(args.seeds)) != len(args.seeds) or len(args.seeds) < 10:
        p.error("--seeds must name at least 10 distinct seeds, one per pair")

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        trees = {}
        for side, rev in (("A", args.rev_a), ("B", args.rev_b)):
            trees[side] = os.path.join(base, side)
            print(f"{side} = {export(rev, trees[side])}", flush=True)
        with open(os.path.join(trees["A"], "BENCHMARK.json")) as f:
            spec = json.load(f)
        runs: dict[str, list[dict]] = {}
        for workload in args.workloads.split(","):
            for i, seed in enumerate(args.seeds):
                order = "AB" if i % 2 == 0 else "BA"
                pair = {s: run_once(trees[s], workload, seed, spec["run_seconds"])
                        for s in order}
                runs.setdefault(workload, []).append(pair)
                print(workload, f"seed {seed}", order, json.dumps(pair), flush=True)
        summarize(spec["end_to_end"], runs)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
