#!/usr/bin/env python3
"""Compare benchmark records: every metric, per op and per layer.

    python3 perfbench/compare.py --base A1.json [A2.json ...] --new B1.json [B2.json ...]

Records are the files run.py keeps under .bench_build/records/. Each side's
value is the median over its records. `change` is how much worse the new
side is, as a share of the base (negative = better); end-to-end metrics
beyond their BENCHMARK.json bound are flagged.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HIGHER_IS_BETTER = {"op_ok_ratio", "exec.core_util"}


def change(name, base, new):
    if base == 0:
        return 0.0 if new == 0 else float("inf")
    d = (new - base) / abs(base)
    return -d if name in HIGHER_IS_BETTER else d


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def metric_medians(recs):
    out = {}
    for r in recs:
        for k, v in r["summary"]["metrics"].items():
            out.setdefault(k, []).append(v["value"])
    return {k: stats.median(v) for k, v in out.items()}


def op_medians(recs):
    out = {}
    for r in recs:
        for p in r["passes"]:
            if not p["traced"]:
                for op in p["ops"]:
                    out.setdefault(op["name"], []).append(op["wall_s"])
    return {k: stats.median(v) for k, v in out.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    regressed = False
    print(f"{'metric':34} {'base':>12} {'new':>12} {'change':>8}")
    bm, nm = metric_medians(base), metric_medians(new)
    for k in sorted(set(bm) & set(nm)):
        c = change(k, bm[k], nm[k])
        flag = ""
        if k in bounds and c > bounds[k]:
            flag, regressed = "  WORSE than bound", True
        print(f"{k:34} {bm[k]:12.4f} {nm[k]:12.4f} {c:+8.3f}{flag}")
    print(f"\n{'op (median wall s)':34} {'base':>12} {'new':>12} {'change':>8}")
    bo, no = op_medians(base), op_medians(new)
    for k in sorted(set(bo) & set(no), key=lambda k: -bo[k]):
        print(f"{k:34} {bo[k]:12.4f} {no[k]:12.4f} {change(k, bo[k], no[k]):+8.3f}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
