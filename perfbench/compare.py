#!/usr/bin/env python3
"""Compare benchmark results written under ``perfbench/_out/``.

    python3 perfbench/compare.py A [B]            # spread of A; A vs B
    python3 perfbench/compare.py UNTRACED TRACED --overhead

A and B are result files or directories of them. With one side, prints
each end-to-end metric's median and quartile spread per workload. With
two, prints B's median against A's and the verdict under the metric's
bound from BENCHMARK.json. With ``--overhead``, B holds traced runs and
the difference of medians is the tracing overhead per metric.

Results from different hosts are refused: a comparison needs the same
CPU count, CPU model, Python, Spark and master on both sides.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402

HOST_KEYS = ("nproc", "cpu_model", "python", "spark", "master")


def load(arg: str) -> list[dict]:
    paths = (sorted(glob.glob(os.path.join(arg, "*.json")))
             if os.path.isdir(arg) else [arg])
    out = []
    for p in paths:
        if os.path.basename(p).startswith("trace-"):
            continue
        with open(p) as f:
            out.append(json.load(f))
    return out


def host_of(r: dict) -> tuple:
    return tuple(r["host"].get(k) for k in HOST_KEYS)


def by_workload(results: list[dict]) -> dict:
    out: dict = {}
    for r in results:
        out.setdefault(r["workload"], []).append(r)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}

    a = load(args.a)
    b = load(args.b) if args.b else []
    hosts = {host_of(r) for r in a + b}
    if len(hosts) > 1:
        print("refused: results come from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=repr):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(HOST_KEYS, h)),
                  file=sys.stderr)
        return 2
    if any(not r["correct"] for r in a + b):
        print("warning: some runs were not correct", file=sys.stderr)

    wa, wb = by_workload(a), by_workload(b)
    for wl in sorted(wa):
        for name, m in spec.items():
            va = [r["end_to_end"][name] for r in wa[wl]]
            line = (f"{wl:<16} {name:<18} n={len(va):<3} "
                    f"median={median(va):<12.6g} "
                    f"spread={quartile_spread(va) if len(va) > 1 else 0:.3f}")
            if wl in wb:
                vb = [r["end_to_end"][name] for r in wb[wl]]
                ma, mb = median(va), median(vb)
                change = (mb - ma) / ma
                if args.overhead:
                    line += f"  traced={mb:<12.6g} overhead={mb - ma:+.6g}"
                else:
                    worse = change if m["better"] == "lower" else -change
                    spread = max(quartile_spread(va) if len(va) > 1 else 0,
                                 quartile_spread(vb) if len(vb) > 1 else 0)
                    if worse > m["bound"]:
                        verdict = "REGRESSED"
                    elif spread > m["bound"]:
                        verdict = "unresolved"
                    else:
                        verdict = "ok"
                    line += (f"  vs {mb:<12.6g} change={change:+.3f} "
                             f"bound={m['bound']} {verdict}")
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
