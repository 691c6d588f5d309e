#!/usr/bin/env python3
"""Diff two bench closing artifacts per workload.

Usage: python3 dev/compare_bench.py OLD.json NEW.json [--ratio 1.5]

Prints every workload whose median moved by more than the ratio (either
direction), plus streaming rec/sec moves and the run-hygiene line of each
artifact (totals, budget_exceeded, skipped, latency p50), so cross-round
regressions can be read from the committed dev/bench_closing_rNN.json series
without re-running anything. Exit code 1 when any regression (slower by more
than the ratio AND both runs quiet) is found — usable as a gate.

Older artifacts also carry a co-tenant verdict (`load.contended`); an
artifact flagged contended is not gated. Artifacts without that field
(every artifact since the detector was removed) count as quiet.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def hygiene(tag, d):
    return (
        f"{tag}: total={d.get('value', -1):.1f}s total_10x="
        f"{d.get('total_10x', -1):.1f}s "
        f"budget_exceeded={d.get('budget_exceeded')} "
        f"skipped={len(d.get('skipped', []))} "
        f"lat_p50={d.get('latency_ms', {}).get('p50', -1)}ms"
    )


def quiet(d):
    return not d.get("load", {}).get("contended", False)


def main():
    args, ratio = [], 1.5
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--ratio":
            ratio = float(next(it))
        elif a.startswith("--ratio="):
            ratio = float(a.split("=", 1)[1])
        else:
            args.append(a)
    if len(args) != 2:
        sys.exit(__doc__)
    old, new = load(args[0]), load(args[1])
    print(hygiene("old", old))
    print(hygiene("new", new))
    both_quiet = quiet(old) and quiet(new)

    qo, qn = old.get("queries", {}), new.get("queries", {})
    slower, faster = [], []
    for wl in sorted(set(qo) & set(qn)):
        r = qn[wl] / qo[wl] if qo[wl] > 0 else float("inf")
        if r > ratio:
            slower.append((r, wl))
        elif r < 1.0 / ratio:
            faster.append((r, wl))
    for r, wl in sorted(slower, reverse=True):
        print(f"SLOWER {r:5.2f}x  {wl}  ({qo[wl]:.3f}s -> {qn[wl]:.3f}s)")
    for r, wl in sorted(faster):
        print(f"faster {r:5.2f}x  {wl}  ({qo[wl]:.3f}s -> {qn[wl]:.3f}s)")
    gone = sorted(set(qo) - set(qn))
    added = sorted(set(qn) - set(qo))
    if gone:
        print(f"missing in new ({len(gone)}): {', '.join(gone)}")
    if added:
        print(f"new workloads ({len(added)}): {', '.join(added)}")

    ro, rn = old.get("rec_sec", {}), new.get("rec_sec", {})
    for wl in ("yahoo-streaming", "state-store", "window-store",
               "stream-table-join-live"):
        if wl in ro and wl in rn and ro[wl] > 0:
            print(f"stream {wl}: {ro[wl]} -> {rn[wl]} rec/s "
                  f"({rn[wl] / ro[wl]:.2f}x)")

    n_same = len(set(qo) & set(qn))
    print(f"compared {n_same} workloads at ratio {ratio}: "
          f"{len(slower)} slower, {len(faster)} faster")
    if slower and both_quiet:
        sys.exit(1)


if __name__ == "__main__":
    main()
