#!/usr/bin/env python3
"""Summarize the spans of a traced run.

    python3 perfbench/spans.py .bench_build/logs/<run>.spans.jsonl

Prints, per span name, the call count, wall, self and driver-gap seconds,
then splits the time of the timed region (the `round` spans) into job
execution, driver gap, Catalyst phases and codegen compile, and checks that
the ops' wall accounts for the rounds.
"""
import collections
import json
import sys


def main(path):
    spans = [json.loads(l) for l in open(path)]
    by = collections.OrderedDict()
    for s in spans:
        a = by.setdefault(s["name"], collections.Counter())
        a["n"] += 1
        a["wall"] += s["wall_s"]
        a["self"] += s["self_s"]
        a["gap"] += s["driver_gap_s"]
        for k in ("jobs", "analysis_s", "optimization_s", "physical_s",
                  "codegen_compile_s", "task_s"):
            a[k] += s["counters"].get(k, 0.0)
    print("%-34s %5s %9s %9s %9s %6s" % ("span", "n", "wall_s", "self_s", "gap_s", "jobs"))
    for name, a in by.items():
        print("%-34s %5d %9.3f %9.3f %9.3f %6d" % (name, a["n"], a["wall"], a["self"],
                                                 a["gap"], a["jobs"]))
    r = by.get("round")
    if not r:
        return
    ops = sum(s["wall_s"] for s in spans
              if s["parent"] >= 0 and spans[s["parent"]]["name"] == "round")
    phases = r["analysis_s"] + r["optimization_s"] + r["physical_s"]
    print()
    print("timed region (rounds)     %8.3f s" % r["wall"])
    print("  ops inside rounds       %8.3f s (%.1f%% of rounds)" % (ops, 100 * ops / r["wall"]))
    print("  job running             %8.3f s" % (r["wall"] - r["gap"]))
    print("  driver gap (no job)     %8.3f s" % r["gap"])
    print("    Catalyst phases       %8.3f s (analysis %.3f, optimization %.3f, physical %.3f)"
          % (phases, r["analysis_s"], r["optimization_s"], r["physical_s"]))
    print("    codegen compile       %8.3f s" % r["codegen_compile_s"])
    print("  executor task time      %8.3f s over %d jobs" % (r["task_s"], r["jobs"]))


if __name__ == "__main__":
    main(sys.argv[1])
