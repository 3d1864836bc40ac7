#!/usr/bin/env python3
"""Compare two sets of benchmark run records, per workload and metric.

Usage::

    python3 perfbench/compare.py BASE.jsonl CHANGED.jsonl

Each file holds run records as ``perfbench/run.py`` writes them to
``perfbench/.work/records.jsonl`` (one JSON object per line; the
``{"record": ...}`` lines of its stdout are accepted too). For every
workload and metric of the result lines it prints each side's median,
quartile spread as a share of the median, and the change of the median.

Records taken on different core counts do not compare: the command refuses
to mix records whose ``nproc``, ``master`` or ``default_parallelism``
differ, within a set or between the two.
"""

from __future__ import annotations

import json
import statistics
import sys

PROVENANCE = ("nproc", "master", "default_parallelism")


def load(path: str) -> list[dict]:
    records = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            records.append(obj.get("record", obj))
    if not records:
        raise SystemExit(f"{path}: no run records")
    return records


def host_of(records: list[dict], path: str) -> tuple:
    hosts = {tuple(r.get(k) for k in PROVENANCE) for r in records}
    if len(hosts) != 1:
        raise SystemExit(f"{path}: records from different core counts {sorted(hosts, key=str)}")
    return hosts.pop()


def summary(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    hosts = [host_of(s, p) for s, p in zip(sets, argv)]
    if hosts[0] != hosts[1]:
        raise SystemExit(
            f"refusing to compare records from different hosts: "
            f"{dict(zip(PROVENANCE, hosts[0]))} vs {dict(zip(PROVENANCE, hosts[1]))}")
    table: dict[tuple[str, str], list[list[float]]] = {}
    units: dict[str, str] = {}
    for side, records in enumerate(sets):
        for r in records:
            for name, m in r["result"]["metrics"].items():
                table.setdefault((r["workload"], name), [[], []])[side].append(m["value"])
                units[name] = m["unit"]
    print(f"{'workload':<15} {'metric':<38} {'base':>12} {'spread':>7} "
          f"{'changed':>12} {'spread':>7} {'change':>8}  n")
    for (workload, name), (a, b) in sorted(table.items()):
        if not a or not b:
            continue
        (ma, sa), (mb, sb) = summary(a), summary(b)
        change = f"{mb / ma - 1:+.1%}" if ma else "n/a"
        print(f"{workload:<15} {name:<38} {ma:>12.4g} {sa:>7.1%} {mb:>12.4g} "
              f"{sb:>7.1%} {change:>8}  {len(a)}/{len(b)} {units[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
