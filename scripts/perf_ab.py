#!/usr/bin/env python3
"""Parent-versus-change A/B of the CDC benchmark (perfbench/run.py).

    python3 scripts/perf_ab.py --base <rev> [--seeds 1-10] \
        [--workloads cdc_bulk,cdc_tail]

Exports <rev> with `git archive` into a temporary directory outside the
checkout ($TMPDIR), then for every seed and workload runs
`perfbench/run.py --seconds <run_seconds> --trace 0` once in that tree
(base) and once in this checkout's working tree (change), alternating
which side runs first. For each workload and end-to-end metric of
BENCHMARK.json it prints both medians, each side's quartile spread
((Q3 - Q1) / median), in how many seed pairs the change read better
than the base (ties count for neither side), how much worse the change
is (negative = better) and the metric's bound. A metric whose spread on
either side is wider than its bound is marked "unresolved", unless
every change run reads better than every base run. It also prints the
correct, attempted and failed operation counts of both sides.

Exits non-zero when a metric is worse than its bound, a run is not
correct or did not finish, or the change failed more operations than
the base. Reads BENCHMARK.json; writes nothing in the checkout except
the benchmark's own git-ignored .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export(rev, dest):
    tar = os.path.join(dest, "base.tar")
    subprocess.run(["git", "archive", "-o", tar, rev], cwd=ROOT, check=True)
    tree = os.path.join(dest, "base")
    with tarfile.open(tar) as t:
        t.extractall(tree, filter="data")
    os.remove(tar)
    return tree


def run(tree, workload, seed, seconds):
    """One benchmark run; its result line, or None if it printed none."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith('{"correct"'):
            res = json.loads(line)
            res["correct"] = res["correct"] and p.returncode == 0
            return res
    sys.stderr.write(p.stderr[-2000:])
    return None


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    med = statistics.median(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--workloads", default="cdc_bulk,cdc_tail")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seeds = parse_seeds(a.seeds)
    workloads = a.workloads.split(",")
    known = {w["name"] for w in bench["workloads"]}
    if not set(workloads) <= known:
        ap.error(f"unknown workload in {a.workloads}; known: {sorted(known)}")

    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    try:
        trees = {"base": export(a.base, tmp), "change": ROOT}
        # runs[side][workload] -> list of result dicts (None = no result)
        runs = {s: {w: [] for w in workloads} for s in trees}
        for i, seed in enumerate(seeds):
            for w in workloads:
                order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                for side in order:
                    res = run(trees[side], w, seed, bench["run_seconds"])
                    runs[side][w].append(res)
                    state = ("no result" if res is None else
                             "correct" if res["correct"] else "INCORRECT")
                    print(f"# seed {seed} {w} {side}: {state}",
                          file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bad = False
    for w in workloads:
        print(f"\n== {w}: {len(seeds)} seeds, base {a.base} vs working tree")
        print(f"{'metric':<20} {'base':>12} {'change':>12} {'spread b/c':>13}"
              f" {'better in':>9} {'worse by':>9} {'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            def value(r):
                return r["metrics"][m["name"]]["value"] \
                    if r and m["name"] in r["metrics"] else None
            def better(x, y):
                return x < y if m["better"] == "lower" else x > y
            vals = {s: [v for v in map(value, runs[s][w]) if v is not None]
                    for s in trees}
            if not vals["base"] or not vals["change"]:
                print(f"{m['name']:<20} missing")
                bad = True
                continue
            b, c = (statistics.median(vals[s]) for s in ("base", "change"))
            worse = ((c - b) if m["better"] == "lower" else (b - c)) / b \
                if b else 0.0
            sb, sc = spread(vals["base"]), spread(vals["change"])
            # a pair is one seed's base and change run; a pair missing
            # either side counts for neither
            pairs = [(value(rb), value(rc))
                     for rb, rc in zip(runs["base"][w], runs["change"][w])]
            pairs = [(x, y) for x, y in pairs if x is not None and y is not None]
            wins = sum(1 for x, y in pairs if better(y, x))
            separated = all(better(x, y)
                            for x in vals["change"] for y in vals["base"])
            verdict = ("WORSE" if worse > m["bound"] else
                       "unresolved" if max(sb, sc) > m["bound"]
                       and not separated else "ok")
            bad |= verdict == "WORSE"
            print(f"{m['name']:<20} {b:>12.4g} {c:>12.4g} "
                  f"{sb:>6.3f}/{sc:<6.3f} {f'{wins}/{len(pairs)}':>9}"
                  f" {worse:>+9.1%} {m['bound']:>6.0%}  {verdict}")
        counts = {}
        for s in trees:
            rs = runs[s][w]
            ok = [r for r in rs if r]
            counts[s] = (sum(1 for r in ok if r["correct"]), len(rs),
                         sum(r["attempted"] for r in ok),
                         sum(r["failed"] for r in ok))
            print(f"{s:<7} correct runs {counts[s][0]}/{counts[s][1]}, "
                  f"operations attempted {counts[s][2]}, failed {counts[s][3]}")
            bad |= counts[s][0] < counts[s][1]
        bad |= counts["change"][3] > counts["base"][3]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
