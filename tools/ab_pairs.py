#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two revisions.

Usage (from the repository root):

    python3 tools/ab_pairs.py BASE CHANGE --workload etl_full --seeds 7-16

BASE and CHANGE are git revisions, each exported (`git archive`) into its
own directory under --work, or directories used as they are. For every seed
the script runs, in each tree,

    python3 perfbench/run.py --workload W --seed S --seconds 10 --trace 0

with the order alternating per seed (base first on the first seed, change
first on the next, ...), so drift in the host's load falls on both sides.
It prints every seed's end-to-end metrics for both sides, then per metric
each side's median and quartiles, how many pairs the change won, and
failed/attempted operations per side. It exits 1 when any run fails its
checks or does not finish.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ["setup_s", "op_p50_s", "data_mb", "peak_rss_mb"]  # all lower-is-better


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def tree(rev, work, label):
    """A directory holding `rev`: the directory itself, or a fresh export."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    path = os.path.join(work, f"{label}-{sha[:12]}")
    if not os.path.isdir(path):
        os.makedirs(path + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", path + ".tmp"], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {rev} failed")
        os.rename(path + ".tmp", path)
    return path


def bench(path, workload, seed, seconds):
    """The benchmark's result line, or None when the run did not finish."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 7-16 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--work", default=os.path.join(".bench_build", "ab"),
                    help="where revisions are exported (default .bench_build/ab)")
    ap.add_argument("--json", help="also write every run's result line here")
    a = ap.parse_args()

    os.makedirs(a.work, exist_ok=True)
    sides = {"base": tree(a.base, a.work, "base"), "change": tree(a.change, a.work, "change")}
    runs = []  # (seed, side, result or None)
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            res = bench(sides[side], a.workload, seed, a.seconds)
            runs.append((seed, side, res))
            status = "did not finish" if res is None else f"failed {res['failed']}/{res['attempted']}"
            print(f"seed {seed} {side}: {status}", file=sys.stderr)

    def value(seed, side, m):
        r = next(r for s, sd, r in runs if s == seed and sd == side)
        return None if r is None else r["metrics"][m]["value"]

    done = [s for s in seeds(a.seeds)
            if value(s, "base", "op_p50_s") is not None and value(s, "change", "op_p50_s") is not None]
    print(f"{a.workload}: base {a.base} ({sides['base']}), change {a.change} ({sides['change']})")
    print("seed  first   " + "  ".join(f"{m:>21}" for m in METRICS))
    for i, s in enumerate(seeds(a.seeds)):
        first = "base" if i % 2 == 0 else "change"
        cells = []
        for m in METRICS:
            b, c = value(s, "base", m), value(s, "change", m)
            cells.append(f"{'-' if b is None else f'{b:.3f}':>10} {'-' if c is None else f'{c:.3f}':>10}")
        print(f"{s:>4}  {first:<6}  " + "  ".join(cells))
    print("metric         base median [q1, q3]       change median [q1, q3]     base IQR  wins")
    for m in METRICS:
        b = [value(s, "base", m) for s in done]
        c = [value(s, "change", m) for s in done]
        if not b:
            continue
        (bq1, bq3), (cq1, cq3) = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if y < x)
        print(f"{m:<12} {statistics.median(b):9.3f} [{bq1:.3f}, {bq3:.3f}]   "
              f"{statistics.median(c):9.3f} [{cq1:.3f}, {cq3:.3f}]   {bq3 - bq1:8.3f}  "
              f"{wins}/{len(done)}")
    bad = False
    for side in ("base", "change"):
        results = [r for _, sd, r in runs if sd == side]
        failed = sum(r["failed"] for r in results if r)
        attempted = sum(r["attempted"] for r in results if r)
        unfinished = sum(1 for r in results if r is None)
        print(f"{side}: failed {failed}/{attempted} operations, {unfinished} runs did not finish")
        bad |= failed > 0 or unfinished > 0
    if a.json:
        with open(a.json, "w") as fh:
            json.dump([{"seed": s, "side": sd, "result": r} for s, sd, r in runs], fh, indent=1)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
