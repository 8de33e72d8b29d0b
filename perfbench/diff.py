#!/usr/bin/env python3
"""Compare two benchmark records field by field.

Usage: python3 perfbench/diff.py A.json B.json [--all]

A and B are records written by perfbench/run.py (perfbench/work/out/...).
The records must carry the same stamp (host, JDK/Spark/Scala versions,
shuffle width, split size, AQE flags, workload, seed and input
fingerprints); only the commit may differ. Otherwise the comparison is
refused with exit code 2.

Prints the end-to-end and per-layer metrics side by side with their ratio
B/A, then, for traced records, the per-query rows (median over traced
passes) sorted by the largest absolute wall-time change, including plan
hash changes. --all prints unchanged fields too.
"""
import json
import statistics
import sys

SKIP_STAMP = {"commit"}


def load(path):
    with open(path) as fh:
        return json.load(fh)


def stamp_diff(a, b):
    sa, sb = a.get("stamp", {}), b.get("stamp", {})
    return sorted(k for k in set(sa) | set(sb) if k not in SKIP_STAMP and sa.get(k) != sb.get(k))


def ratio(x, y):
    if isinstance(x, (int, float)) and isinstance(y, (int, float)) and x:
        return f"{y / x:8.3f}"
    return "       -"


def fmt(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def table(title, a, b, show_all):
    keys = list(dict.fromkeys(list(a) + list(b)))
    rows = [(k, a.get(k), b.get(k)) for k in keys if show_all or a.get(k) != b.get(k)]
    if not rows:
        return
    print(f"== {title}")
    for k, x, y in rows:
        print(f"  {k:44s} {fmt(x):>14s} {fmt(y):>14s} {ratio(x, y)}")


def per_query(rec):
    """query -> field -> median over traced passes (numbers) or last value."""
    by_q = {}
    for r in rec.get("queries", []):
        by_q.setdefault(r["query"], []).append(r)
    out = {}
    for q, rs in by_q.items():
        row = {}
        for k in rs[0]:
            if k in ("pass", "query"):
                continue
            vals = [r.get(k) for r in rs]
            if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
                row[k] = statistics.median(vals)
            elif k == "observed":
                for ok, ov in (vals[-1] or {}).items():
                    row["cand." + ok] = ov
            else:
                row[k] = vals[-1]
        out[q] = row
    return out


def main():
    args = [x for x in sys.argv[1:] if not x.startswith("--")]
    show_all = "--all" in sys.argv
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = load(args[0]), load(args[1])
    bad = stamp_diff(a, b)
    if bad:
        print("refusing to compare: stamps differ in " + ", ".join(bad), file=sys.stderr)
        for k in bad:
            print(f"  {k}: {a['stamp'].get(k)!r} vs {b['stamp'].get(k)!r}", file=sys.stderr)
        sys.exit(2)
    print(f"workload {a['stamp']['workload']}  seed {a['stamp']['seed']}  "
          f"commits {a['stamp'].get('commit')} -> {b['stamp'].get('commit')}")
    table("end to end", a.get("end_to_end", {}), b.get("end_to_end", {}), True)
    table("per layer", a.get("per_layer", {}), b.get("per_layer", {}), show_all)
    qa, qb = per_query(a), per_query(b)
    if qa or qb:
        names = sorted(set(qa) | set(qb), key=lambda q: -abs(
            (qb.get(q, {}).get("wall_s") or 0) - (qa.get(q, {}).get("wall_s") or 0)))
        for q in names:
            table(f"query {q}", qa.get(q, {}), qb.get(q, {}), show_all)
    else:
        table("query seconds (median)",
              {q: v["median"] for q, v in a.get("query_s", {}).items()},
              {q: v["median"] for q, v in b.get("query_s", {}).items()}, show_all)


if __name__ == "__main__":
    main()
