#!/usr/bin/env python3
"""Round-over-round per-query bench drift gate (r21, the r20 verdict's
stretch ask): diff two committed per-query bench maps and fail on
unexplained movement, so ambient-contention windows stop needing manual
forensics every round.

Usage:
  python3 tools/bench_drift.py bench/r20_queries.json bench/r21_queries.json \
      [--touched q1,q2,...] [--ratio 1.5] [--floor 0.5]

Rules (the CLAUDE.md noise model):
  - a query is FLAGGED when now/prev > ratio (default 1.5x) AND the NOW
    sample is above the floor (default 0.5 s): ratios between two
    sub-floor samples are framework-cost noise, but a query regressing
    FROM sub-floor TO above-floor is exactly the class the gate exists
    to catch;
  - an entry recorded as 0 s counts as an infinite ratio, so it is
    flagged once its NOW sample is above the floor;
  - queries named in --touched are reported but never fail the gate
    (their movement is this round's explained diff);
  - dropped/renamed queries always fail (the driver treats a vanished
    query as a REGRESSION regardless of speed).
Exit 0 = clean, 1 = drift/drops found.
"""
import argparse
import json
import math
import sys


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    q = d.get("queries") or {}
    if not q:
        sys.exit(f"{path}: no per-query map")
    return {k: v for k, v in q.items() if v is not None and v >= 0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("prev")
    ap.add_argument("now")
    ap.add_argument("--touched", default="",
                    help="comma-separated queries changed this round")
    ap.add_argument("--ratio", type=float, default=1.5)
    ap.add_argument("--floor", type=float, default=0.5)
    a = ap.parse_args(argv)
    prev, now = load(a.prev), load(a.now)
    touched = {t for t in a.touched.split(",") if t}

    dropped = sorted(set(prev) - set(now))
    added = sorted(set(now) - set(prev))
    common = sorted(set(prev) & set(now))

    fails = []
    notes = []
    for q in common:
        p, n = prev[q], now[q]
        r = n / p if p > 0 else (math.inf if n > 0 else 1.0)
        if r > a.ratio and n > a.floor:
            line = f"{q}: {p:.3f}s -> {n:.3f}s ({r:.2f}x)"
            if q in touched:
                notes.append(f"touched (explained): {line}")
            else:
                fails.append(line)
        elif r > a.ratio:
            notes.append(f"sub-floor, ignored: {q} {p:.3f}->{n:.3f}")

    logs = [math.log(now[q] / prev[q]) for q in common
            if prev[q] > 0 and now[q] > 0]
    gm = math.exp(sum(logs) / max(1, len(logs)))
    print(f"common={len(common)} added={len(added)} dropped={len(dropped)} "
          f"geomean now/prev={gm:.3f}")
    for x in notes:
        print(f"  note: {x}")
    for q in added:
        print(f"  added: {q} ({now[q]:.3f}s)")
    ok = True
    if dropped:
        ok = False
        for q in dropped:
            print(f"  DROPPED: {q} (was {prev[q]:.3f}s) — regression class")
    if fails:
        ok = False
        print(f"  {len(fails)} unexplained >={a.ratio}x drift(s) on "
              "untouched queries:")
        for x in fails:
            print(f"  DRIFT: {x}")
    print("OK" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
