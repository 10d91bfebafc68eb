"""Compare two result sets and say which layer moved.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the detail files ``run.py`` writes, as
``<workload>/seed<n>-trace<t>-<ns>.json`` (move ``.perfbench/results``
aside after measuring each side).  For every workload it prints

* each end-to-end metric from the untraced runs: median and quartiles of
  both sides, the change of the median, and the share of run pairs the
  new side wins (runs paired in seed order; ties count for neither);
* the per-layer self time of every span from the traced runs (span time
  minus the time of its child spans), and every per-layer metric whose
  median moved, largest relative move first.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d: str) -> dict:
    """``{workload: {0: [detail, ...], 1: [...]}}`` in seed order."""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(d, "*", "*.json"))):
        with open(path) as f:
            r = json.load(f)
        out.setdefault(r["workload"], {0: [], 1: []})[r["trace"]].append(r)
    for by_trace in out.values():
        for runs in by_trace.values():
            runs.sort(key=lambda r: r["seed"])
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def self_times(run: dict) -> dict:
    """Median over traced operations of each span name's self time."""
    spans = run["trace_detail"].get("spans", [])
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    per_op: dict = {}
    for s in spans:
        if not s["op"] or not s["grouped"]:  # warm traced operations only
            continue
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        d = per_op.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + own
    names = sorted({n for d in per_op.values() for n in d})
    return {n: statistics.median(d.get(n, 0.0) for d in per_op.values()) for n in names}


def _median_of(runs: list[dict], key) -> dict:
    vals: dict = {}
    for r in runs:
        for k, v in key(r).items():
            vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def compare_workload(name: str, a: dict, b: dict, spec: dict) -> None:
    print(f"== {name}")
    if a[0] and b[0]:
        print(f"  end-to-end, {len(a[0])} base and {len(b[0])} new runs:")
        print(
            f"  {'metric':14s} {'unit':8s} {'base median [q1, q3]':>29s}"
            f"  {'new median [q1, q3]':>29s}  {'change':>7s}  new wins"
        )
        for m in spec["end_to_end"]:
            xa = [r["end_to_end"][m["name"]] for r in a[0]]
            xb = [r["end_to_end"][m["name"]] for r in b[0]]
            qa, qb = quartiles(xa), quartiles(xb)
            sign = -1 if m["better"] == "lower" else 1
            pairs = list(zip(xa, xb))
            wins = sum(sign * (y - x) > 0 for x, y in pairs)
            print(
                f"  {m['name']:14s} {m['unit']:8s}"
                f" {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                f"  {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                f"  {qb[1] / qa[1] - 1:+7.1%}  {wins}/{len(pairs)}"
                f"  (bound {m['bound']:.0%}, base spread {(qa[2] - qa[0]) / qa[1]:.1%})"
            )
        def host(r):
            return {
                "op_s_p50": r["op_s_p50"],
                "steal_s": sum(r["op_steal_samples_s"]),
                "calib_s": statistics.mean(r["calib_s"]),
            }

        ha, hb = _median_of(a[0], host), _median_of(b[0], host)
        print("  not gated: wall time, and the host's steal and speed")
        for k in ha:
            print(f"  {k:14s} {'s':8s} {ha[k]:10.4g}  ->  {hb[k]:.4g}")
    if a[1] and b[1]:
        sa, sb = _median_of(a[1], self_times), _median_of(b[1], self_times)
        print("  span self time (s)        base       new      change")
        for n in sorted(set(sa) | set(sb), key=lambda n: -abs(sb.get(n, 0) - sa.get(n, 0))):
            x, y = sa.get(n, 0.0), sb.get(n, 0.0)
            print(f"  {n:22s} {x:9.4f} {y:9.4f} {y - x:+9.4f}")
        la, lb = _median_of(a[1], lambda r: r["layers"]), _median_of(b[1], lambda r: r["layers"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        moved = [
            (k, la.get(k, 0.0), lb.get(k, 0.0))
            for k in sorted(set(la) | set(lb))
            if la.get(k, 0.0) != lb.get(k, 0.0)
        ]
        moved.sort(key=lambda t: -abs(t[2] - t[1]) / max(abs(t[1]), 1e-9))
        print("  per-layer metric               base         new     change")
        for k, x, y in moved:
            rel = f"{y / x - 1:+.1%}" if x else "new"
            print(f"  {k:28s} {x:11.4g} {y:11.4g} {rel:>9s} {units.get(k, '')}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(args.base), load(args.new)
    if not a or not b:
        print("compare: no result files found", file=sys.stderr)
        return 1
    for name in sorted(set(a) & set(b)):
        compare_workload(name, a[name], b[name], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
