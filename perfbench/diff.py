#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are result records written by run.py (.bench_build/results/
*.json) or directories holding them; smoke-size records are skipped.
For every workload both sides ran untraced, each end-to-end metric's
median is checked against its bound in BENCHMARK.json. Structural counts
(jobs, stages and tasks per query and per family, micro-batches per
drain, tasks per publish) are listed separately: they are exact, so any
difference is a change in what the engine does, not noise. A traced record compared with untraced ones of
the same workload gives the tracing overhead. Exits 1 if a metric got
worse by more than its bound.
"""
import json
import statistics
import sys
from pathlib import Path

STRUCTURAL = (".jobs", ".stages", ".tasks", ".construct_jobs", "source.batches",
              "source.read_calls", "trigger.batches")


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    recs = []
    for f in files:
        if f.name.endswith(".spans.json"):
            continue
        try:
            r = json.loads(f.read_text())
        except ValueError:
            continue
        if "stamp" in r and "sections" in r and not r["stamp"].get("smoke"):
            recs.append(r)
    return recs


def untraced_e2e(recs):
    """{workload: {metric: [values]}} from untraced records."""
    out = {}
    for r in recs:
        if r["stamp"].get("trace"):
            continue
        w = r["stamp"]["workload"]
        for k, m in r.get("metrics", {}).items():
            out.setdefault(w, {}).setdefault(k, []).append(m["value"])
    return out


def structure(recs):
    """{section: {count: set of values}} over every record."""
    out = {}
    for r in recs:
        for s in r["sections"]:
            for k, v in s["layers"].items():
                if k.endswith(STRUCTURAL):
                    out.setdefault(s["name"], {}).setdefault(k, set()).add(v)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    be, ne = untraced_e2e(base), untraced_e2e(new)
    worse = 0
    for w in sorted(set(be) & set(ne)):
        print(f"== {w}: {len(next(iter(be[w].values())))} base runs, "
              f"{len(next(iter(ne[w].values())))} new runs")
        for k in sorted(set(be[w]) & set(ne[w])):
            b1, bm, b3 = quartiles(sorted(be[w][k]))
            n1, nm, n3 = quartiles(sorted(ne[w][k]))
            m = bounds.get(k)
            change = (nm - bm) / bm if bm else float("nan")
            verdict = ""
            if m:
                bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                spread = (b3 - b1) / bm if bm else float("nan")
                verdict = "WORSE beyond bound" if bad else (
                    "unresolved (base spread > bound)" if spread > m["bound"] else "ok")
                worse += bad
            unit = m["unit"] if m else ""
            print(f"  {k:<16} base {bm:12.5g} [{b1:.5g}, {b3:.5g}]  new {nm:12.5g} "
                  f"[{n1:.5g}, {n3:.5g}] {unit:<6} {change:+7.1%}  {verdict}")
    for label, recs, e2e in (("base", base, be), ("new", new, ne)):
        for r in recs:
            if not r["stamp"].get("trace"):
                continue
            w = r["stamp"]["workload"]
            sec = next((s for s in r["sections"] if s["name"] == w), None)
            ref = e2e.get(w)
            if sec and ref:
                print(f"== tracing overhead ({label}, {w}, seed {r['stamp']['seed']}): " +
                      ", ".join(f"{k} {v / statistics.median(ref[k]) - 1:+.1%}"
                                for k, v in sec["e2e"].items() if k in ref))
    bs, ns = structure(base), structure(new)
    print("== structural counts (exact)")
    changed = 0
    for sec in sorted(set(bs) | set(ns)):
        for k in sorted(set(bs.get(sec, {})) | set(ns.get(sec, {}))):
            b, n = bs.get(sec, {}).get(k, set()), ns.get(sec, {}).get(k, set())
            if b != n:
                changed += 1
                print(f"  {sec:<18} {k:<40} base {sorted(b)}  new {sorted(n)}")
    if not changed:
        print("  no difference")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
