#!/usr/bin/env python3
"""Run alternating parent/change pairs of cdcbench and judge each metric.

Usage:
    python3 scripts/bench_pairs.py --parent ../parent --change . \\
        --workloads binlog_hot,jdbc_replica --seeds 1001-1010 --seconds 10 \\
        --json pairs.json

PARENT and CHANGE are two checkouts of the repository. For every workload
and seed the script runs `python3 cdcbench/run.py --trace 0` once in each
checkout, one after the other; the side that runs first alternates from
pair to pair. It then prints, per workload and per end-to-end metric of
BENCHMARK.json:

  - each side's median and quartiles;
  - how many pairs the change won (ties count for neither side);
  - whether the gain rule holds: the change wins at least 9/10 of the
    pairs, and the medians differ in the better direction by more than the
    parent's interquartile range;
  - whether the change's median is within the metric's bound of the
    parent's median.

The same table, with every run's result, is written as JSON to --json
after each workload.
Seeds are a comma-separated list whose items are numbers or ranges a-b.
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
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """One run's result object, or None when the run failed."""
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def judge(metric, pairs):
    """The table row of one metric over `pairs` = [(parent, change)]."""
    lower = metric["better"] == "lower"
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    pm, cm = statistics.median(par), statistics.median(chg)
    pq, cq = quartiles(par), quartiles(chg)
    gap = (pm - cm) if lower else (cm - pm)  # > 0 when the change is better
    worse = -gap / pm if pm else 0.0  # the change's median, worse by this share
    return {
        "metric": metric["name"], "unit": metric["unit"], "better": metric["better"],
        "pairs": len(pairs), "parent": par, "change": chg,
        "parent_median": pm, "parent_q1": pq[0], "parent_q3": pq[1],
        "change_median": cm, "change_q1": cq[0], "change_q3": cq[1],
        "change_wins": wins,
        "gain": wins >= 0.9 * len(pairs) and gap > pq[1] - pq[0],
        "within_bound": worse <= metric["bound"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--seeds", required=True, help="e.g. 1001-1010 or 1,2,5-7")
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--json", required=True, help="where to write the table")
    a = ap.parse_args()
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    report = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change),
              "seconds": a.seconds, "workloads": {}}
    for workload in a.workloads.split(","):
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            got = {side: run(checkout, workload, seed, a.seconds) for side, checkout in order}
            runs.append({"seed": seed, "first": order[0][0], **got})
            print(f"{workload} seed {seed} ({order[0][0]} first): "
                  + "  ".join(f"{side} " + ("FAILED" if r is None else
                                            f"correct={r['correct']} failed={r['failed']}")
                              for side, r in got.items()), file=sys.stderr, flush=True)
        ok = [r for r in runs if r["parent"] is not None and r["change"] is not None]
        rows = [judge(m, [(r["parent"]["metrics"][m["name"]]["value"],
                           r["change"]["metrics"][m["name"]]["value"]) for r in ok])
                for m in metrics if ok]
        report["workloads"][workload] = {
            "runs": runs, "metrics": rows,
            "all_correct": all(r[s] is not None and r[s]["correct"] and r[s]["failed"] == 0
                               for r in runs for s in ("parent", "change")),
        }
        print(f"\n{workload}: {len(ok)} complete pairs, every run correct with 0 failed: "
              f"{report['workloads'][workload]['all_correct']}")
        print(f"{'metric':<24} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
              f"{'wins':>6} {'gain':>5} {'bound':>5}")
        for row in rows:
            side = lambda k: f"{row[k + '_median']:.4g} [{row[k + '_q1']:.4g}, {row[k + '_q3']:.4g}]"
            print(f"{row['metric']:<24} {side('parent'):>34} {side('change'):>34} "
                  f"{row['change_wins']:>3}/{row['pairs']:<2} {'yes' if row['gain'] else 'no':>5} "
                  f"{'ok' if row['within_bound'] else 'WORSE':>5}")
        with open(a.json, "w") as fh:  # after each workload, so a cut run keeps what it measured
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
