#!/usr/bin/env python3
"""Bracketed A/B of the dwrf benchmark between two checkouts.

Usage:
    perfbench_ab.py --base DIR --head DIR --workload scan|ingest|mutate \\
        --seeds 501,502,... [--seconds S]

Runs ``perfbench/run.py`` of each checkout alternately over the seeds, one
run at a time, swapping which side goes first on every other seed so that
host drift lands on both sides alike. ``--base`` is typically a checkout of
the parent commit (``git worktree add ../graft-base HEAD~1``). Every run
uses the same seed, length (default: ``run_seconds`` from the base
checkout's BENCHMARK.json) and ``--trace 0``.

For each end-to-end metric BENCHMARK.json declares, prints both medians,
the change ratio head/base, the base's interquartile range, and in how
many seed pairs head was better (ties count for neither side). The last
line is one JSON object holding every run's values, for the record.

Only invokes the benchmark: each checkout's run.py writes its own
``.bench_build/`` and ``.bench_out/``; this script writes nothing.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One benchmark run; returns its result line, or None when it failed."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("%s seed %d failed (exit %d): %s\n" % (
            checkout, seed, r.returncode, (r.stderr or r.stdout)[-600:]))
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout measured as the baseline")
    ap.add_argument("--head", required=True, help="checkout with the change")
    ap.add_argument("--workload", required=True, choices=["scan", "ingest", "mutate"])
    ap.add_argument("--seeds", required=True, help="comma-separated workload seeds")
    ap.add_argument("--seconds", type=float, help="run length (default: run_seconds)")
    a = ap.parse_args()
    with open(os.path.join(a.base, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",") if s]

    pairs = []
    for i, seed in enumerate(seeds):
        order = [("base", a.base), ("head", a.head)]
        if i % 2:
            order.reverse()
        got = {side: run(path, a.workload, seed, seconds) for side, path in order}
        print("seed %d: %s first, %s" % (seed, order[0][0], ", ".join(
            "%s failed %s/%s" % (side, r["failed"], r["attempted"]) if r else side + " run failed"
            for side, r in sorted(got.items()))), flush=True)
        if got["base"] and got["head"]:
            pairs.append((seed, got["base"], got["head"]))
    if not pairs:
        sys.exit("no seed produced a result on both sides")

    print("\n%s: %d seed pairs, %gs runs" % (a.workload, len(pairs), seconds))
    print("%-34s %12s %12s %8s %12s %7s" % (
        "metric", "base p50", "head p50", "ratio", "base IQR", "wins"))
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        base = [b["metrics"][name]["value"] for _, b, _ in pairs]
        head = [h["metrics"][name]["value"] for _, _, h in pairs]
        mb, mh = statistics.median(base), statistics.median(head)
        q1, q3 = quartiles(base)
        wins = sum(1 for x, y in zip(base, head) if (y < x if lower else y > x))
        print("%-34s %12.4g %12.4g %8.3f %12.4g %4d/%d" % (
            "%s [%s]" % (name, m["unit"]), mb, mh, mh / mb if mb else float("nan"),
            q3 - q1, wins, len(pairs)))
    print(json.dumps({"workload": a.workload, "seconds": seconds, "runs": [
        {"seed": s, "base": b, "head": h} for s, b, h in pairs]}))


if __name__ == "__main__":
    main()
