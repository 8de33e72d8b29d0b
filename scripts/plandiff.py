#!/usr/bin/env python3
"""Diff the canonicalized static-plan fingerprints of two Bench JSONs.

Usage: python3 scripts/plandiff.py BENCH_a.json BENCH_b.json

Bench (since round 5) emits "plans": {query: md5-of-canonicalized-plan}.
A changed hash means the PLANNED shape changed between the two runs —
broadcast->SMJ flips, new shuffles, rewrite-rule changes — which is the
thing to investigate before reading timing deltas (host noise moves
numbers; it never moves plan hashes). AQE runtime re-plans are not
visible here (the hash is the static plan); stats-driven flips are.

Also reports per-query best-sample timing deltas >2x alongside, flagged
NOISE when the run's sentinel marked the host loaded. When both records
carry Bench's per-query "profile" counters, each flip also shows its jobs,
tasks and executor-CPU deltas, and queries whose job or task count moved
without a flip are listed; older records without them diff as before.
"""
import json, sys

def load(p):
    with open(p) as f:
        txt = f.read()
    # Bench prints one JSON object line; tolerate surrounding log lines
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith('{"metric"'):
            return json.loads(line)
    d = json.loads(txt)
    # the per-round BENCH_rNN.json wrap Bench's record under "parsed"
    return d.get("parsed") or d

def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    pa, pb = a.get("plans", {}), b.get("plans", {})
    qa, qb = a.get("queries", {}), b.get("queries", {})
    if not pa or not pb:
        missing = [p for p, d in ((sys.argv[1], pa), (sys.argv[2], pb)) if not d]
        sys.exit(f"no \"plans\" field in: {', '.join(missing)} (pre-round-5 bench?)")
    common = sorted(set(pa) & set(pb))
    flipped = [q for q in common if pa[q] != pb[q]]
    only_a = sorted(set(pa) - set(pb))
    only_b = sorted(set(pb) - set(pa))
    noisy = a.get("sentinel", {}).get("noisy") or b.get("sentinel", {}).get("noisy")

    fa, fb = a.get("profile", {}), b.get("profile", {})

    def counters(q):
        if q not in fa or q not in fb:
            return ""
        x, y = fa[q], fb[q]
        return (f"  jobs {x['jobs']}->{y['jobs']} tasks {x['tasks']}->{y['tasks']}"
                f" cpu {x['cpu_s']}s->{y['cpu_s']}s")

    print(f"{len(common)} common queries; {len(flipped)} plan flips")
    for q in flipped:
        print(f"  FLIP {q}: {pa[q]} -> {pb[q]}  ({qa.get(q, '?')}s -> {qb.get(q, '?')}s)"
              + counters(q))
    if only_a: print(f"only in {sys.argv[1]}: {', '.join(only_a)}")
    if only_b: print(f"only in {sys.argv[2]}: {', '.join(only_b)}")

    recounted = [q for q in common if q not in flipped and q in fa and q in fb
                 and (fa[q]["jobs"], fa[q]["tasks"]) != (fb[q]["jobs"], fb[q]["tasks"])]
    if recounted:
        print(f"\n{len(recounted)} job/task count moves without a plan flip:")
        for q in recounted:
            print(f"  {q}:{counters(q)}")

    moved = [(q, qa[q], qb[q]) for q in common
             if isinstance(qa.get(q), (int, float)) and isinstance(qb.get(q), (int, float))
             and qa[q] > 0 and qb[q] > 0 and max(qa[q] / qb[q], qb[q] / qa[q]) > 2.0]
    if moved:
        tag = " [host NOISY — timing deltas unreliable]" if noisy else ""
        print(f"\n{len(moved)} timing moves >2x (same plan unless flagged above){tag}:")
        for q, x, y in sorted(moved, key=lambda t: -max(t[1] / t[2], t[2] / t[1])):
            print(f"  {q}: {x}s -> {y}s")
    sys.exit(1 if flipped else 0)

if __name__ == "__main__":
    main()
