#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

Each directory holds the per-run records `run.py` writes
(`.bench_build/results/<workload>-seed<n>-trace<t>.json`); copy that
directory aside after running each commit. For every workload and metric
the table gives each side's median and quartiles and a verdict:

  improved    the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              inter-quartile distance;
  worse       the same rule with the sides swapped, or the change's median
              is worse than the parent's by more than the metric's bound;
  unchanged   neither, and the parent's spread is within the bound;
  unresolved  neither, and the parent's own spread is wider than the bound.

Runs are paired by seed. End-to-end metrics come from untraced runs and use
the bounds in BENCHMARK.json; per-layer metrics come from traced runs and
have no bound (their verdict is improved, worse or unresolved only).
`scheduler.jobs` must repeat exactly across the runs of one commit on one
seed; any change in it is flagged.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def load(directory):
    """{(workload, trace): {seed: record}}"""
    out = {}
    for p in sorted(Path(directory).glob("*.json")):
        r = json.loads(p.read_text())
        out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return out


def verdict(parent, change, better, bound):
    """Verdict for one metric from paired samples (lists of equal length)."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    losses = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    n = len(parent)
    q1, med_a, q3 = stats.quartiles(parent)
    med_b = stats.median(change)
    beyond_spread = abs(med_b - med_a) > (q3 - q1)
    if wins >= 0.9 * n and beyond_spread:
        return "improved"
    if losses >= 0.9 * n and beyond_spread:
        return "worse"
    if bound is not None and med_a and sign * (med_b - med_a) / abs(med_a) > bound:
        return "worse"
    if bound is None or not med_a or stats.spread(parent) > bound:
        return "unresolved"
    return "unchanged"


def paired(parent, change, key, metric):
    seeds = sorted(set(parent) & set(change))
    return ([parent[s][key][metric] for s in seeds],
            [change[s][key][metric] for s in seeds])


def jobs_flags(side_name, runs):
    """Flags a run whose passes launched different numbers of jobs."""
    return [f"{side_name} seed {seed}: scheduler.jobs varies across passes: {r['jobs_per_pass']}"
            for seed, r in sorted(runs.items()) if len(set(r.get("jobs_per_pass", []))) > 1]


def compare(parent_dir, change_dir, spec):
    a, b = load(parent_dir), load(change_dir)
    bounds = {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["better"], None) for m in spec["per_layer"]}
    rows, flags = [], []
    for (workload, trace) in sorted(set(a) & set(b)):
        key = "per_layer" if trace else "end_to_end"
        metrics = layer if trace else bounds
        for name, (better, bound) in metrics.items():
            pa, pb = paired(a[(workload, trace)], b[(workload, trace)], key, name)
            if not pa:
                continue
            qa, qb = stats.quartiles(pa), stats.quartiles(pb)
            rows.append((workload, name, qa, qb, len(pa), verdict(pa, pb, better, bound)))
        if trace:
            flags += jobs_flags("parent", a[(workload, trace)])
            flags += jobs_flags("change", b[(workload, trace)])
            pa, pb = paired(a[(workload, trace)], b[(workload, trace)], key, "scheduler.jobs")
            for seed_a, seed_b in zip(pa, pb):
                if seed_a != seed_b:
                    flags.append(f"{workload}: scheduler.jobs changed {seed_a:.0f} -> {seed_b:.0f}")
                    break
    return rows, flags


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    rows, flags = compare(argv[1], argv[2], spec)
    print(f"{'workload':14s} {'metric':28s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'pairs':>5s}  verdict")
    for w, m, qa, qb, n, v in rows:
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{w:14s} {m:28s} {fa:>30s} {fb:>30s} {n:5d}  {v}")
    for f in flags:
        print(f"FLAG {f}")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
