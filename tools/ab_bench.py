#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two git revisions.

    python3 tools/ab_bench.py REV_A REV_B --workload W --seeds 1,2,3,... \\
        [--trace 0|1] --scratch DIR

Each revision is exported with `git archive` into its own directory under
DIR (reused when it is already there), and `perfbench/run.py` runs
unchanged inside each export, so both sides build and run the benchmark
code of their own revision, for BENCHMARK.json's `run_seconds`. One pair
of runs per listed seed; the side that runs first alternates from pair to
pair. For every metric the report gives
each side's median and quartiles, the change of B's median against A's in
percent, and how many pairs B won (ties count for neither side); a gain
counts as resolved when B wins at least nine tenths of the pairs and the
medians differ by more than A's interquartile distance. Every run's JSON
result is appended to DIR/ab-runs.jsonl.

Exits non-zero if any run exits non-zero or reports failed > 0.

Run from the repository (any directory inside it); REV may be anything
`git rev-parse` accepts, e.g. a commit made by `git stash create` to
measure uncommitted work.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args):
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, scratch):
    """The revision's tree under scratch/<sha12>; returns that directory."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    out = scratch / sha[:12]
    if not (out / ".exported").is_file():
        out.mkdir(parents=True, exist_ok=True)
        archive = subprocess.run(["git", "-C", str(ROOT), "archive", "--format=tar", sha],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", str(out)], input=archive, check=True)
        (out / ".exported").write_text(sha + "\n")
    return out


def run_once(checkout, workload, seed, seconds, trace, log):
    """One perfbench run; returns (result dict or None, exit code)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    with open(log, "a") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), p.returncode
    except (IndexError, json.JSONDecodeError):
        return None, p.returncode or 1


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated; one pair of runs per seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True, type=Path)
    a = ap.parse_args()

    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    better = {m["name"]: m["better"] for key in ("end_to_end", "per_layer") for m in spec[key]}
    scratch = a.scratch.resolve()
    scratch.mkdir(parents=True, exist_ok=True)
    sides = {"A": export(a.rev_a, scratch), "B": export(a.rev_b, scratch)}
    log = scratch / "ab-runs.log"
    record = scratch / "ab-runs.jsonl"
    values = {"A": [], "B": []}  # per pair, the metrics dict of each side
    bad = []
    for i, seed in enumerate(seeds):
        pair = {}
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            t0 = time.time()
            res, code = run_once(sides[side], a.workload, seed, seconds, a.trace, log)
            failed = res["failed"] if res else None
            print(f"[ab] pair {i + 1}/{len(seeds)} seed {seed} {side}: exit {code}, "
                  f"failed {failed}, {time.time() - t0:.0f} s", file=sys.stderr, flush=True)
            with open(record, "a") as f:
                f.write(json.dumps({"side": side, "rev": sides[side].name, "seed": seed,
                                    "workload": a.workload, "trace": a.trace, "exit": code,
                                    "result": res}) + "\n")
            if code != 0 or res is None or res["failed"] > 0:
                bad.append(f"seed {seed} side {side}: exit {code}, failed {failed}")
            if res is not None:
                pair[side] = {k: v["value"] for k, v in res["metrics"].items()}
        if len(pair) == 2:
            values["A"].append(pair["A"])
            values["B"].append(pair["B"])

    n = len(values["A"])
    print(f"A = {a.rev_a} ({sides['A'].name}), B = {a.rev_b} ({sides['B'].name}); "
          f"workload {a.workload}, trace {a.trace}, {n} pairs, seconds {seconds:g}")
    if n:
        print(f"{'metric':40} {'A median [q1, q3]':34} {'B median [q1, q3]':34} "
              f"{'change':>8} {'B wins':>7}  resolved")
    for k in (values["A"][0] if n else {}):
        xa = [p[k] for p in values["A"]]
        xb = [p[k] for p in values["B"]]
        qa, qb = quartiles(xa), quartiles(xb)
        sign = -1 if better.get(k, "lower") == "lower" else 1
        wins = sum(1 for x, y in zip(xa, xb) if sign * (y - x) > 0)
        change = f"{(qb[1] / qa[1] - 1) * 100:+.1f}%" if qa[1] else "-"
        resolved = wins * 10 >= 9 * n and abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(f"{k:40} {f'{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]':34} "
              f"{f'{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]':34} "
              f"{change:>8} {f'{wins}/{n}':>7}  {'yes' if resolved else 'no'}")
    for b in bad:
        print(f"[ab] FAILED {b} (stderr in {log})", file=sys.stderr)
    sys.exit(1 if bad or n == 0 else 0)


if __name__ == "__main__":
    main()
