#!/usr/bin/env python
"""Per-query bench regression diff (VERDICT r1 #10).

Usage::

    python tools/bench_compare.py BENCH_r01.json bench_now.json [--tol 1.5]

Accepts either the driver's ``BENCH_r{N}.json`` wrapper (with a
``parsed`` field) or a raw ``bench.py`` output line saved to a file.
Prints a table of per-query times (old, new, ratio) sorted by worst
ratio, flags queries slower than ``--tol``×, and exits non-zero if any
query regressed beyond the tolerance — so the diff can gate a round.
New/removed queries are listed, not flagged.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    if "parsed" in data and isinstance(data["parsed"], dict):
        data = data["parsed"]
    if "queries" not in data and isinstance(data.get("tail"), str):
        # r3/r4 driver records have parsed=null and a truncated stdout
        # tail — salvage whatever per-query numbers survive in it:
        # best-of scalars ("q01_x": 1.23) and per-trial lists
        # ("q01_x": [1.3, 1.2]) alike (min of a trial list = the
        # reported best-of figure)
        import re

        qs: dict[str, float] = {}
        for name, val in re.findall(
            r'"(q\d+[\w]*)":\s*(\[[^\]]*\]|[\d.]+)', data["tail"]
        ):
            try:
                v = json.loads(val)
            except ValueError:
                continue
            if v == []:  # an empty trial list carries no figure
                continue
            qs[name] = min(v) if isinstance(v, list) else float(v)
        if qs:
            print(
                f"note: {path} has no parsed record; salvaged "
                f"{len(qs)} per-query times from its tail",
                file=sys.stderr,
            )
            data = {"queries": qs}
    if "queries" not in data:
        raise SystemExit(f"{path}: no 'queries' field")
    return data


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--tol",
        type=float,
        default=1.5,
        help="flag ratio above this (VM trial noise is 2-5x on this box; "
        "compare best-of-N runs, not single trials)",
    )
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)
    oq, nq = old["queries"], new["queries"]

    common = sorted(set(oq) & set(nq), key=lambda k: -(nq[k] / max(oq[k], 1e-9)))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    print(f"{'query':<28} {'old_s':>8} {'new_s':>8} {'ratio':>7}")
    regressed = []
    for k in common:
        r = nq[k] / max(oq[k], 1e-9)
        flag = "  <-- REGRESSED" if r > args.tol else ""
        if flag:
            regressed.append(k)
        print(f"{k:<28} {oq[k]:>8.3f} {nq[k]:>8.3f} {r:>7.2f}{flag}")
    tot_o = sum(oq[k] for k in common)
    tot_n = sum(nq[k] for k in common)
    print(f"{'TOTAL (common)':<28} {tot_o:>8.3f} {tot_n:>8.3f} {tot_n / max(tot_o, 1e-9):>7.2f}")
    if added:
        print("added:", ", ".join(added))
    if removed:
        print("removed:", ", ".join(removed))
    if "frontier" in old and "frontier" in new:
        fo, fn = old["frontier"], new["frontier"]
        print(
            f"frontier urls/s: {fo.get('urls_per_sec')} -> {fn.get('urls_per_sec')}"
        )
    if regressed:
        print(f"\n{len(regressed)} quer{'y' if len(regressed) == 1 else 'ies'} regressed beyond {args.tol}x")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
