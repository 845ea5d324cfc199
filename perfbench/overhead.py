#!/usr/bin/env python3
"""Print the cost of tracing: the end-to-end metrics of a traced run against
an untraced run of the same workload and seed.

Usage:

    python3 perfbench/overhead.py <traced run>/detail.json <untraced run>/detail.json

Each run directory is under .bench_build/perfbench/runs/ (or
$CARGO_TARGET_DIR/perfbench/runs/). A traced run writes its own end-to-end
figures to detail.json beside the per-layer metrics it prints.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    traced, plain = (json.load(open(p)) for p in sys.argv[1:])
    if not traced["trace"] or plain["trace"]:
        raise SystemExit("give the traced run's detail.json first, then the untraced one")
    if (traced["workload"], traced["seed"]) != (plain["workload"], plain["seed"]):
        print("warning: the runs differ in workload or seed", file=sys.stderr)
    print(f"{'metric':22s} {'traced':>12s} {'untraced':>12s} {'change':>8s}")
    for name, m in plain["end_to_end"].items():
        t, u = traced["end_to_end"][name]["value"], m["value"]
        change = f"{100 * (t - u) / u:+.1f} %" if u else "n/a"
        print(f"{name:22s} {t:12.4f} {u:12.4f} {change:>8s}  {m['unit']}")


if __name__ == "__main__":
    main()
