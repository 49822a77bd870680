#!/usr/bin/env python3
"""Summarise an interleaved perfbench A/B.

    python3 tools/ab_summary.py PARENT.jsonl CHANGE.jsonl [--benchmark BENCHMARK.json]
                                [--layers spark.jobs,meta.list_ms,...]

Each input holds one perfbench JSON line per run, appended in run
order by an interleaved loop; line i of one file is paired with line i
of the other. For every end-to-end metric that
BENCHMARK.json declares, it prints each side's median and quartiles
(statistics.quantiles(n=4), as perfbench computes them), how many
pairs each side won (ties count for neither), whether the gain-claim
rule holds (the change wins at least 9/10 of the pairs and the medians
differ by more than the parent's interquartile range), and whether the
change's median is worse than the parent's by more than the metric's
bound. With --layers it also prints, for each side, the median of the
named per-layer metrics over the runs that report them (the traced
runs), so a summary shows which layer a change moved. BENCHMARK.json
is only read. Exits 1 when a bound is breached or the change fails a
larger share of operations, else 0.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def failed_share(runs):
    return sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs))


def layer_median(xs):
    return f"{statistics.median(xs):10.4g} ({len(xs)} runs)" if xs else f"{'-':>10s} (0 runs)"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                        "..", "BENCHMARK.json"))
    ap.add_argument("--layers", default="",
                    help="comma-separated per-layer metric names to print side medians of")
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = load(a.parent), load(a.change)
    pairs = min(len(parent), len(change))
    print(f"{len(parent)} parent runs, {len(change)} change runs, {pairs} pairs")
    bad = False
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in parent if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in change if name in r["metrics"]]
        if not p or not c:
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        n = min(len(p), len(c))
        better = [(y < x) if lower else (y > x) for x, y in zip(p[:n], c[:n]) if x != y]
        wins, losses = sum(better), len(better) - sum(better)
        gap = (pm - cm) if lower else (cm - pm)
        claim = n > 0 and wins >= 0.9 * n and gap > p3 - p1
        worse = -gap / abs(pm) if pm else 0.0
        breach = worse > m["bound"]
        bad |= breach
        print(f"{name:20s} parent {pm:10.4g} [{p1:.4g}, {p3:.4g}]  change {cm:10.4g} [{c1:.4g}, {c3:.4g}]  "
              f"change/parent {cm / pm if pm else float('nan'):6.3f}  pairs won change {wins}/{n} parent {losses}/{n}  "
              f"claim {'holds' if claim else 'no'}  bound {m['bound']:.2f} {'BREACHED' if breach else 'ok'}")
    for name in filter(None, a.layers.split(",")):
        p = [r["metrics"][name]["value"] for r in parent if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in change if name in r["metrics"]]
        print(f"{name:20s} parent {layer_median(p)}  change {layer_median(c)}")
    fp, fc = failed_share(parent), failed_share(change)
    print(f"failed share: parent {fp:.4g}, change {fc:.4g}{'  WORSE' if fc > fp else ''}")
    return 1 if bad or fc > fp else 0


if __name__ == "__main__":
    sys.exit(main())
