#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs.

    python3 tools/pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds 201-210

Runs the benchmark command of BENCHMARK.json (read from CHANGE_DIR, never
written) once per seed in each checkout, the two runs of a seed back to
back. The side that runs first alternates: the parent on the first seed,
the change on the second, and so on. Then, for every end-to-end metric,
it prints each side's median and quartiles, the change/parent ratio of
the medians, on how many seeds the change was better, and each pair.
A metric whose change median is worse than the parent's by more than its
bound is flagged WORSE, and the script then exits 1.

Each run's result line is appended to --out (JSON lines) when given.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(bench, root, workload, seed, seconds):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="201-210", help="e.g. 201-210 or 201,205")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", default=None, help="append each run's result here")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench.get("run_seconds", 8)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    results = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(bench, sides[side], a.workload, seed, seconds)
            results[side].append(r)
            m = r["metrics"].get("latency.p50_ms", {}).get("value")
            print(f"[pairs] seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} p50={m}", file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": a.workload, "seed": seed,
                                        "side": side, **r}) + "\n")
    for side, rs in results.items():
        bad = sum(1 for r in rs if not r["correct"])
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        print(f"{side}: {len(rs) - bad}/{len(rs)} runs correct, "
              f"{failed}/{attempted} operations failed")
    worse = []
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"].get(name, {}).get("value"), c["metrics"].get(name, {}).get("value"))
                 for p, c in zip(results["parent"], results["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name}: no values")
            continue
        pq = quartiles(sorted(p for p, _ in pairs))
        cq = quartiles(sorted(c for _, c in pairs))
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        limit = pq[1] * (1 + m["bound"]) if lower else pq[1] * (1 - m["bound"])
        flag = (cq[1] > limit) if lower else (cq[1] < limit)
        if flag:
            worse.append(name)
        print(f"{name}: parent {pq[1]:.2f} [{pq[0]:.2f}-{pq[2]:.2f}] -> "
              f"change {cq[1]:.2f} [{cq[0]:.2f}-{cq[2]:.2f}] ratio {ratio:.3f} "
              f"change wins {wins}/{len(pairs)}{'  WORSE' if flag else ''}")
        print("  pairs parent/change: " + " ".join(f"{p:.2f}/{c:.2f}" for p, c in pairs))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
