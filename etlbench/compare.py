"""Compare benchmark runs of a parent commit and a change.

    python3 etlbench/compare.py --parent DIR --change DIR

Each directory holds one file per run, named ``<workload>.<seed>.json``,
with that run's standard output (the last line is the result). Runs of
the two sides pair up by workload and seed; run them interleaved,
alternating which side goes first.

For every (workload, end-to-end metric) the tool prints each side's
median and quartiles, the share of pairs the change wins, and a
verdict:

* improved: the change wins at least nine tenths of the pairs (ties
  count for neither) and the medians differ by more than the parent's
  interquartile range;
* worse: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
* unresolved: either side's spread (interquartile range over median) is
  wider than the bound, unless every change run beats every parent run;
* no worse: otherwise.

A metric whose values equal an earlier metric's in every run of both
sides gets no verdict of its own: at one pass per run, ``pass_tail_s``
is ``pass_s``. A workload whose change runs fail a larger share of ops
is rejected.
The exit status is 1 when any pair is worse or rejected.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if not __package__:  # run as a script: make the package importable
    sys.path[0] = os.path.dirname(HERE)

from etlbench.stats import quartiles  # noqa: E402

WIN_SHARE = 0.9


def load_runs(directory: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for path in glob.glob(os.path.join(directory, "*.json")):
        workload, seed = os.path.basename(path)[: -len(".json")].rsplit(".", 1)
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        runs[(workload, int(seed))] = json.loads(lines[-1])
    return runs


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[str, float]:
    """Verdict and win share for paired runs (``parent[i]`` pairs with
    ``change[i]``)."""
    sign = 1.0 if better == "lower" else -1.0

    def gain(p: float, c: float) -> float:  # > 0 when c is better
        return sign * (p - c)

    wins = sum(1 for p, c in zip(parent, change) if gain(p, c) > 0)
    share = wins / len(parent)
    mp, mc = statistics.median(parent), statistics.median(change)
    (p1, p3), (c1, c3) = quartiles(parent), quartiles(change)
    if share >= WIN_SHARE and gain(mp, mc) > p3 - p1:
        return "improved", share
    spread = max((p3 - p1) / abs(mp) if mp else 0.0, (c3 - c1) / abs(mc) if mc else 0.0)
    if spread > bound:
        beats_all = all(gain(p, c) > 0 for p in parent for c in change)
        return ("no worse" if beats_all else "unresolved"), share
    if -gain(mp, mc) > bound * abs(mp):
        return "worse", share
    return "no worse", share


def _spread(xs: list[float]) -> str:
    q1, q3 = quartiles(xs)
    return f"{q1:.4g}/{statistics.median(xs):.4g}/{q3:.4g}"


def fail_share(results: list[dict]) -> float:
    return sum(r["failed"] for r in results) / sum(r["attempted"] for r in results)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare parent and change benchmark runs.")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as fh:
        spec = json.load(fh)
    parent, change = load_runs(args.parent), load_runs(args.change)
    keys = sorted(set(parent) & set(change))
    if not keys:
        print("no (workload, seed) runs in common", file=sys.stderr)
        return 2
    bad = False
    print(f"{'workload':<16} {'metric':<12} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'wins':>6}  verdict")
    for workload in sorted({w for w, _ in keys}):
        pairs = [k for k in keys if k[0] == workload]
        p_runs, c_runs = [parent[k] for k in pairs], [change[k] for k in pairs]
        seen: dict[str, list[float]] = {}
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r["metrics"][name]["value"] for r in p_runs]
            c = [r["metrics"][name]["value"] for r in c_runs]
            copy = next((k for k, vals in seen.items() if vals == p + c), None)
            seen[name] = p + c
            if copy is not None:
                print(f"{workload:<16} {name:<12} {'equals ' + copy + ' in every run':>58}")
                continue
            v, share = verdict(p, c, m["better"], m["bound"])
            bad |= v == "worse"
            print(f"{workload:<16} {name:<12} {_spread(p):>28} {_spread(c):>28} {share:>6.0%}  {v}")
        pf, cf = fail_share(p_runs), fail_share(c_runs)
        if cf > pf:
            bad = True
            print(f"{workload:<16} rejected: the change fails {cf:.2%} of ops, the parent {pf:.2%}")
        print(f"{workload:<16} n={len(pairs)} pairs")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
