#!/usr/bin/env python3
"""Compare two bench profile JSONs (per-query min-of-runs).

Usage: cmp_profiles.py A.json B.json [threshold]

Prints total, geomean speedup A->B, and per-query deltas beyond the
threshold (default 10%), sorted by absolute seconds delta. When both
profiles carry the per-run Spark job counts (`"jobs"`), it then prints
every common query whose first-run job count changed; when both carry
the per-run IO profiles (`"io"`), every common query whose first run's
hash-exchange count or shuffle bytes changed.
"""
import json
import math
import sys


def main() -> None:
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    print(f"A total={a['value']:.3f}s (cpus={a.get('cpus')})  "
          f"B total={b['value']:.3f}s (cpus={b.get('cpus')})  "
          f"common={len(common)}")
    ratios = [qa[q] / qb[q] for q in common if qa[q] > 0 and qb[q] > 0]
    if ratios:
        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(f"geomean speedup A->B: {geo:.3f}")
    else:
        print("geomean speedup A->B: n/a (no common positive-time queries)")
    rows = []
    for q in common:
        d = qb[q] - qa[q]
        if qa[q] > 0 and abs(d) / qa[q] >= thr and abs(d) >= 0.05:
            rows.append((d, q))
    rows.sort()
    for d, q in rows:
        print(f"{'+' if d > 0 else ''}{d:7.3f}s  {qa[q]:7.3f} -> {qb[q]:7.3f}  {q}")
    print_job_changes(a, b, common)
    print_io_changes(a, b, common)


def print_job_changes(a: dict, b: dict, common: list) -> None:
    """Per-query change in Spark jobs launched by each query's first run."""
    if "jobs" not in a or "jobs" not in b:
        print("jobs: n/a (a profile predates the \"jobs\" field)")
        return
    ja, jb = a["jobs"], b["jobs"]
    rows = [(jb[q][0] - ja[q][0], q) for q in common
            if ja.get(q) and jb.get(q)]
    changed = sorted(r for r in rows if r[0] != 0)
    print(f"jobs (first run): {len(changed)} of {len(rows)} queries changed")
    for d, q in changed:
        print(f"{d:+5d} jobs  {ja[q][0]:4d} -> {jb[q][0]:4d}  {q}")


def print_io_changes(a: dict, b: dict, common: list) -> None:
    """Per-query change in the first run's hash exchanges and shuffle bytes."""
    if "io" not in a or "io" not in b:
        print("io: n/a (a profile predates the \"io\" field)")
        return
    rows = []
    for q in common:
        ia, ib = (p["io"].get(q, [None])[0] for p in (a, b))
        if ia and ib:
            rows.append((q, ia, ib))
    changed = [r for r in rows
               if r[1]["hash_exchanges"] != r[2]["hash_exchanges"]
               or r[1]["shuffle_bytes"] != r[2]["shuffle_bytes"]]
    print(f"io (first run): {len(changed)} of {len(rows)} queries changed "
          "hash exchanges or shuffle bytes")
    for q, ia, ib in changed:
        print(f"{ib['hash_exchanges'] - ia['hash_exchanges']:+3d} hashEx  "
              f"{ib['shuffle_bytes'] - ia['shuffle_bytes']:+12d} B  "
              f"{ia['shuffle_bytes']:12d} -> {ib['shuffle_bytes']:12d}  {q}")


if __name__ == "__main__":
    main()
