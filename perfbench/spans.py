#!/usr/bin/env python3
"""Per-operation breakdown of a traced run's span file.

    python3 perfbench/spans.py perfbench/traces/wide_table-seed1.jsonl

For each kind of operation (root span name) prints how many ran, their
mean wall time and Spark jobs, and then every span name inside them with
its self time (duration minus the time its child spans cover) and the
Spark jobs charged to it, per operation.
"""
import collections
import json
import sys


def main():
    spans, jobs = [], []
    with open(sys.argv[1]) as f:
        for line in f:
            d = json.loads(line)
            (spans if "name" in d else jobs).append(d)
    dur = {s["span"]: (s["end_ns"] - s["start_ns"]) / 1e6 for s in spans}
    covered = collections.Counter()
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] += dur[s["span"]]
    by_id = {s["span"]: s for s in spans}
    root_of = {s["op"]: s for s in spans if s["parent"] < 0}

    kinds = collections.defaultdict(list)  # root name -> ops
    for op, r in root_of.items():
        kinds[r["name"]].append(op)
    self_ms = collections.defaultdict(collections.Counter)  # root name -> span -> ms
    job_n = collections.defaultdict(collections.Counter)
    for s in spans:
        kind = root_of[s["op"]]["name"]
        self_ms[kind][s["name"]] += dur[s["span"]] - covered[s["span"]]
    for j in jobs:
        s = by_id.get(j["span"])
        if s:
            job_n[root_of[s["op"]]["name"]][s["name"]] += 1

    for kind, ops in sorted(kinds.items()):
        n = len(ops)
        wall = sum(dur[root_of[op]["span"]] for op in ops) / n
        print("%s: %d ops, %.0f ms wall/op, %.1f jobs/op"
              % (kind, n, wall, sum(job_n[kind].values()) / n))
        for name, ms in self_ms[kind].most_common():
            print("  %-50s %9.1f ms %6.1f jobs" % (name, ms / n, job_n[kind][name] / n))


if __name__ == "__main__":
    main()
