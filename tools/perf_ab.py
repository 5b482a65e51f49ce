#!/usr/bin/env python
"""Interleaved A/B of two revisions on the repository benchmark.

    python tools/perf_ab.py REV_A REV_B --workload batch_python --pairs 10

Exports each revision with ``git archive`` into a scratch directory and
runs ``perfbench/run.py`` there, once per side and pair, for A's
``BENCHMARK.json`` ``run_seconds``. Pair ``i`` uses seed ``--seed0 + i``
on both sides and alternates which side runs first. Prints, per metric,
each side's median and quartiles, B's median over A's, and how many
pairs B won (ties count for neither side; the direction comes from A's
``BENCHMARK.json``). The last stdout line is every run's raw result as
JSON. ``--trace`` runs the traced benchmark and so compares the
per-layer metrics instead of the end-to-end ones.

Only the benchmark's own command is run; nothing is imported from
``perfbench/``.
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
RUN_TIMEOUT_S = 1800


def export(rev: str, dest: str) -> str:
    """Write the tree of ``rev`` into ``dest``; return its commit id."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(
        ["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_bench(tree: str, args, seconds: float, seed: int, log: str) -> dict:
    """One benchmark run in ``tree``; its last stdout line, parsed."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if args.trace else "0",
    ]
    with open(log, "a") as err:
        out = subprocess.run(
            cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err, text=True,
            timeout=RUN_TIMEOUT_S,
        )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} in {tree} exited {out.returncode}; see {log}")
    return json.loads(lines[-1])


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: dict[str, list[dict]], better: dict[str, str]) -> list[str]:
    pairs = len(runs["A"])
    lines = [
        f"{'metric':34} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28}"
        f" {'B/A':>7} {'B wins':>7}"
    ]
    for name in runs["A"][0]["metrics"]:
        a = [r["metrics"][name]["value"] for r in runs["A"]]
        b = [r["metrics"][name]["value"] for r in runs["B"]]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        (aq1, am, aq3), (bq1, bm, bq3) = quartiles(a), quartiles(b)
        ratio = f"{bm / am:7.3f}" if am else f"{'-':>7}"
        lines.append(
            f"{name:34} {am:12.4g} [{aq1:.4g}, {aq3:.4g}]".ljust(63)
            + f" {bm:12.4g} [{bq1:.4g}, {bq3:.4g}]".ljust(29)
            + f" {ratio} {wins:>3}/{pairs}"
        )
    for side in "AB":
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        incorrect = sum(not r["correct"] for r in runs[side])
        lines.append(
            f"{side}: {failed}/{attempted} operations failed, "
            f"{incorrect}/{pairs} runs not correct"
        )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a", help="the base revision (A)")
    ap.add_argument("rev_b", help="the changed revision (B)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument(
        "--scratch", help="where to export and log (default: a new temp dir)"
    )
    args = ap.parse_args(argv)

    scratch = args.scratch or tempfile.mkdtemp(prefix="perf_ab_")
    trees = {s: os.path.join(scratch, s) for s in "AB"}
    shas = {"A": export(args.rev_a, trees["A"]), "B": export(args.rev_b, trees["B"])}
    with open(os.path.join(trees["A"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"A = {args.rev_a} ({shas['A'][:12]}), B = {args.rev_b} ({shas['B'][:12]})")

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in ("AB" if i % 2 == 0 else "BA"):
            log = os.path.join(scratch, f"{side}.stderr.log")
            res = run_bench(trees[side], args, spec["run_seconds"], seed, log)
            runs[side].append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: {vals}", flush=True)
    for line in summarize(runs, better):
        print(line)
    print(json.dumps({"shas": shas, "workload": args.workload, "runs": runs}))
    if not args.scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
