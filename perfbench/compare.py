"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds records appended by ``perfbench/run.py`` (``--out``).
Records are paired by (workload, seed).  A workload is refused, never
compared, when its records' comparability stamps differ (cpus, size
preset, run length, pyspark, java, python, session settings, protocol),
or when a seed pair's row counts differ.

For every workload x end-to-end metric the table gives each side's
median and quartiles and a verdict under ``BENCHMARK.json``'s bounds:

- ``improved``:   the change wins at least 9/10 of the seed-paired runs
                  (ties count for neither) and the medians differ by more
                  than the base's own quartile spread;
- ``regressed``:  the change's median is worse than the base's by more
                  than the metric's bound;
- ``unresolved``: either side's quartile spread exceeds the bound, or the
                  change is better by more than the bound without the
                  paired wins an improvement needs;
- ``flat``:       none of the above.

Per-layer medians (from ``--trace 1`` records) and their change are
listed per workload beneath.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

KEY_STAMPS = ("cpus", "size", "run_seconds", "pyspark", "java", "python", "spark_conf",
              "protocol")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_is_better: bool) -> str:
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    sign = 1.0 if lower_is_better else -1.0
    worse_by = sign * (cm - bm) / abs(bm) if bm else 0.0
    wins = sum(1 for b, c in pairs if sign * (c - b) < 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - bm) > (b3 - b1) and worse_by < 0:
        return "improved"
    if worse_by > bound:
        return "regressed"
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if spread > bound or -worse_by > bound:
        return "unresolved"
    return "flat"


def stamp_mismatch(records: list[dict]) -> list[str]:
    """Comparability stamps on which the records disagree."""
    return [k for k in KEY_STAMPS if len({json.dumps(r["stamps"].get(k)) for r in records}) > 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="compare two perfbench result sets")
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"))
    args = ap.parse_args(argv)

    with open(args.benchmark) as fh:
        spec = json.load(fh)
    sides = {}
    for label, path in (("base", args.base), ("change", args.change)):
        recs = defaultdict(dict)
        for r in load(path):
            kind = "trace" if r["stamps"]["trace"] else "plain"
            recs[(r["stamps"]["workload"], kind)][r["stamps"]["seed"]] = r
        sides[label] = recs

    refused = 0
    for workload in sorted({w for w, _ in sides["base"]} | {w for w, _ in sides["change"]}):
        base = sides["base"].get((workload, "plain"), {})
        change = sides["change"].get((workload, "plain"), {})
        bt = list(sides["base"].get((workload, "trace"), {}).values())
        ct = list(sides["change"].get((workload, "trace"), {}).values())
        if not (base and change) and not (bt and ct):
            print(f"{workload}: results on one side only; not compared", file=sys.stderr)
            continue
        seeds = sorted(set(base) & set(change))
        diff = stamp_mismatch(list(base.values()) + list(change.values()) + bt + ct)
        diff += [f"sizes (seed {s})" for s in seeds
                 if base[s]["stamps"]["sizes"] != change[s]["stamps"]["sizes"]]
        if diff:
            print(f"{workload}: stamps differ in {diff}; not compared", file=sys.stderr)
            refused += 1
            continue
        print(f"\n== {workload}: {len(base)} base runs, {len(change)} change runs, "
              f"{len(seeds)} seed pairs")
        print(f"{'metric':<14}{'base q1/med/q3':>34}{'change q1/med/q3':>34}{'delta':>9}  verdict")
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["end_to_end"][name] for r in base.values()]
            cv = [r["end_to_end"][name] for r in change.values()]
            if not bv or not cv:
                continue
            pairs = [(base[s]["end_to_end"][name], change[s]["end_to_end"][name]) for s in seeds]
            bq, cq = quartiles(bv), quartiles(cv)
            v = verdict(bv, cv, pairs, m["bound"], m["better"] == "lower")
            delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else 0.0
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{name:<14}{fmt(bq):>34}{fmt(cq):>34}{delta:>+8.1f}%  {v}  [{m['unit']}]")
        if bt and ct:
            print(f"  per-layer medians ({len(bt)} vs {len(ct)} traced runs), changed metrics only:")
            for m in spec["per_layer"]:
                name = m["name"]
                b = statistics.median(r["per_layer"][name] for r in bt)
                c = statistics.median(r["per_layer"][name] for r in ct)
                if b == c:
                    continue
                rel = f"{(c - b) / abs(b) * 100:+.1f}%" if b else "new"
                print(f"    {name:<40}{b:>14.4g}{c:>14.4g}  {rel} [{m['unit']}]")
    return 1 if refused else 0


if __name__ == "__main__":
    sys.exit(main())
