#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records as `run.py` appends them to
`.bench_build/results/runs.jsonl`; only untraced runs are read. Runs are
paired by seed where both sets ran it, otherwise in file order. For each
workload and end-to-end metric it prints both sides' median and
quartiles, the share of pairs the change won (ties count for neither)
and a verdict:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the base's quartile spread;
  unresolved  either side's quartile spread exceeds the metric's bound
              and not every change run beats every base run;
  worse       the change's median is worse than the base's by more than
              the bound;
  unchanged   otherwise.

Bounds and directions come from BENCHMARK.json.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    runs = defaultdict(list)
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            if not r["trace"] and r.get("end_to_end"):
                runs[r["workload"]].append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a_runs, b_runs):
    b_by_seed = {r["seed"]: r for r in b_runs}
    if all(r["seed"] in b_by_seed for r in a_runs):
        return [(r, b_by_seed[r["seed"]]) for r in a_runs]
    return list(zip(a_runs, b_runs))


def verdict(a, b, won, n_pairs, bound, lower_better):
    """The rule in the module docstring; `a`, `b` are value lists."""
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = qa[1], qb[1]
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    if n_pairs and won / n_pairs >= 0.9 and abs(med_b - med_a) > qa[2] - qa[0]:
        return "improved"
    spread = max((qa[2] - qa[0]) / med_a if med_a else 0, (qb[2] - qb[0]) / med_b if med_b else 0)
    if spread > bound:
        return "improved" if all(better(y, x) for x in a for y in b) else "unresolved"
    worse_by = (med_b - med_a) / med_a if lower_better else (med_a - med_b) / med_a
    return "worse" if med_a and worse_by > bound else "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, change = load(sys.argv[1]), load(sys.argv[2])
    cols = ("workload", "metric", "n", "base_med", "base_q1", "base_q3",
            "change_med", "change_q1", "change_q3", "won", "verdict")
    print("{:9} {:12} {:>5} {:>10} {:>10} {:>10} {:>10} {:>10} {:>10} {:>5}  {}".format(*cols))
    for wl in sorted(set(base) & set(change)):
        pr = pairs(base[wl], change[wl])
        for m in bench["end_to_end"]:
            k, lower = m["name"], m["better"] == "lower"
            a = [r["end_to_end"][k] for r in base[wl]]
            b = [r["end_to_end"][k] for r in change[wl]]
            won = sum(1 for x, y in pr if (y["end_to_end"][k] < x["end_to_end"][k]) == lower
                      and y["end_to_end"][k] != x["end_to_end"][k])
            qa, qb = quartiles(a), quartiles(b)
            print(f"{wl:9} {k:12} {len(a):>2}/{len(b):<2} "
                  f"{qa[1]:>10.4g} {qa[0]:>10.4g} {qa[2]:>10.4g} {qb[1]:>10.4g} {qb[0]:>10.4g} "
                  f"{qb[2]:>10.4g} {won / len(pr) if pr else 0:>5.2f}  "
                  f"{verdict(a, b, won, len(pr), m['bound'], lower)}")


if __name__ == "__main__":
    main()
