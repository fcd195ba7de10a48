#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

For each seed, runs `perfbench/run.py --workload W --seed S --seconds 1
--trace 0` once in each checkout, one run at a time, alternating which
side runs first (even-numbered pairs run the base first, odd-numbered
pairs the change). Then prints, for every end-to-end metric that the
base checkout's BENCHMARK.json declares, each side's median and
quartiles, the change's wins over the pairs (ties count for neither
side), and whether a gain is shown: the change wins at least nine tenths
of the pairs and the medians differ by more than the base's
interquartile range.

Usage (from anywhere):

    python3 tools/ab_perfbench.py BASE_DIR CHANGE_DIR --workload match \\
        --seeds 1-6,11-14 [--log ab.jsonl] [--seconds 1]

With --log, each run's result line is appended to the file as it lands,
and runs already in it (same side, workload and seed) are not run again,
so an interrupted comparison resumes; `--seeds` with no new runs just
reports. A run that fails, or reports failed operations, is listed and
its pair left out of the win count.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    """The result object of one benchmark run, or None if it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def value(result, name):
    """One end-to-end metric of a result line (a bare number, or an
    object carrying it under `value`)."""
    v = result["metrics"][name]
    return v["value"] if isinstance(v, dict) else v


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds and ranges, e.g. 1-6,11-14")
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--log", help="JSONL file to append runs to and "
                                  "resume from")
    a = ap.parse_args()
    sides = {"base": os.path.abspath(a.base),
             "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["base"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    results = {}  # (side, seed) -> result object or None
    if a.log and os.path.exists(a.log):
        with open(a.log) as fh:
            for line in fh:
                r = json.loads(line)
                if r["workload"] == a.workload:
                    results[(r["side"], r["seed"])] = r["result"]

    seeds = parse_seeds(a.seeds)
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            if (side, seed) in results:
                continue
            r = run(sides[side], a.workload, seed, a.seconds)
            results[(side, seed)] = r
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps({"workload": a.workload, "seed": seed,
                                         "side": side, "result": r}) + "\n")
            print("seed %d %s: %s" % (seed, side, "FAILED" if r is None else
                  " ".join("%s=%.4g" % (m["name"], value(r, m["name"]))
                           for m in metrics)), flush=True)

    ok = [s for s in seeds
          if all(results.get((side, s)) and results[(side, s)]["correct"]
                 for side in sides)]
    bad = [s for s in seeds if s not in ok]
    print("\nworkload %s: %d pairs (seeds %s)%s" % (
        a.workload, len(ok), ",".join(map(str, ok)),
        "; left out, a run failed or was not correct: %s" %
        ",".join(map(str, bad)) if bad else ""))
    if not ok:
        return
    print("%-12s %-28s %-28s %-7s %s" % ("metric", "base median [q1, q3]",
                                         "change median [q1, q3]", "wins",
                                         "gain shown"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [value(results[("base", s)], name) for s in ok]
        c = [value(results[("change", s)], name) for s in ok]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        better = cq[1] < bq[1] if lower else cq[1] > bq[1]
        gain = (wins * 10 >= 9 * len(ok) and better and
                abs(cq[1] - bq[1]) > bq[2] - bq[0])
        print("%-12s %-28s %-28s %-7s %s" % (
            name, "%.4g [%.4g, %.4g]" % (bq[1], bq[0], bq[2]),
            "%.4g [%.4g, %.4g]" % (cq[1], cq[0], cq[2]),
            "%d/%d" % (wins, len(ok)), "yes" if gain else "no"))


if __name__ == "__main__":
    main()
