#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the per-run result files that run.py writes to
.perfbench/results/ (one JSON object per run). Runs are grouped by
workload and by tracing, and paired in the order they were made, so
alternate the two sides when making them. For every metric it prints
each side's median and quartiles, and a verdict:

  gain        over at least 10 pairs, the change wins at least 9/10 of
              them (ties count for neither side) and the medians differ
              by more than the parent's interquartile range
  worse       the change's median is worse than the parent's by more
              than the metric's bound (end-to-end metrics only)
  unresolved  the spread of either side exceeds the bound, unless every
              change run beats every parent run
  same        none of the above
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
HIGHER = {m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"] if m["better"] == "higher"}
HIGHER |= {"stream.catchup_rows_per_s"}


def load(d):
    runs = []
    for f in sorted(Path(d).glob("*.json"), key=lambda p: p.stem.rsplit("-", 1)[-1]):
        r = json.loads(f.read_text())
        vals = {k: v["value"] for k, v in r["figures"].items()}
        vals.update(r.get("layer", {}))
        runs.append((r["workload"], bool(r["trace"]), vals))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(name, p, c):
    sign = 1 if name in HIGHER else -1  # +1 when larger is better
    pq1, pm, pq3 = quartiles(p)
    cq1, cm, cq3 = quartiles(c)
    pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(cm - pm) > pq3 - pq1 \
            and sign * (cm - pm) > 0:
        return "gain", wins, len(pairs)
    bound = BOUNDS.get(name)
    if bound is not None and pm:
        spread = max((pq3 - pq1) / abs(pm), (cq3 - cq1) / abs(cm) if cm else 0)
        all_better = all(sign * (b - a) > 0 for a in p for b in c)
        if spread > bound and not all_better:
            return "unresolved", wins, len(pairs)
        if sign * (cm - pm) < -bound * abs(pm):
            return "worse", wins, len(pairs)
    return "same", wins, len(pairs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    groups = sorted({(w, t) for w, t, _ in parent + change})
    for w, t in groups:
        ps = [v for pw, pt, v in parent if (pw, pt) == (w, t)]
        cs = [v for cw, ct, v in change if (cw, ct) == (w, t)]
        print(f"\n{w} ({'traced' if t else 'untraced'}): {len(ps)} parent runs, {len(cs)} change runs")
        print(f"{'metric':44} {'parent q1/median/q3':>36} {'change q1/median/q3':>36}  verdict")
        names = sorted({k for v in ps + cs for k in v})
        for n in names:
            p = [v[n] for v in ps if n in v]
            c = [v[n] for v in cs if n in v]
            if not p or not c:
                continue
            v, wins, pairs = verdict(n, p, c)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{n:44} {fmt(quartiles(p)):>36} {fmt(quartiles(c)):>36}  {v} ({wins}/{pairs} wins)")


if __name__ == "__main__":
    main()
