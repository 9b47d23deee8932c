#!/usr/bin/env python3
"""Profiles every tagged telemetry query and picks the pass's queries.

Usage (from the root of an engine checkout):

    python3 perfbench/pick_queries.py [subset size, default 14]

Runs every query of TelemetryMix's tag table once to warm up and then
three times traced (perfbench.Main --profile), and picks the subset
whose mean per-query profile is closest to the full set's: latency,
query build time, Spark analysis, optimization, planning and codegen
time, jobs, tasks, task time, driver idle time, and the share of time
per operator family. It prints the subset and both profiles side by
side. `TelemetryMix.queries` holds the subset this picked.
"""
import json
import math
import os
import sys

import run

FEATURES = ["latency_ms", "queries.build_ms", "spark.analysis_ms",
            "spark.optimization_ms", "spark.planning_ms", "spark.codegen_ms",
            "spark.jobs", "spark.tasks", "spark.task_run_s",
            "spark.driver_idle_s"]


def family(m):
    return next(k[len("operators."):-2] for k in m if k.startswith("operators."))


def summary(prof, qs):
    mean = {f: sum(prof[q].get(f, 0.0) for q in qs) / len(qs) for f in FEATURES}
    total = sum(prof[q]["latency_ms"] for q in qs)
    shares = {}
    for q in qs:
        fam = family(prof[q])
        shares[fam] = shares.get(fam, 0.0) + prof[q]["latency_ms"] / total
    return mean, shares


def loss(prof, qs, full):
    mean, shares = summary(prof, qs)
    fmean, fshares = full
    err = sum(abs(math.log(max(mean[f], 1e-9) / max(fmean[f], 1e-9)))
              for f in FEATURES) / len(FEATURES)
    return err + sum(abs(shares.get(k, 0.0) - v) for k, v in fshares.items())


def pick(prof, k):
    """Greedy forward selection, then pairwise swaps until none helps."""
    names = sorted(prof)
    full = summary(prof, names)
    chosen = []
    while len(chosen) < k:
        chosen.append(min((q for q in names if q not in chosen),
                          key=lambda q: loss(prof, chosen + [q], full)))
    improved = True
    while improved:
        improved = False
        for i in range(k):
            for q in names:
                if q in chosen:
                    continue
                trial = chosen[:i] + [q] + chosen[i + 1:]
                if loss(prof, trial, full) < loss(prof, chosen, full) - 1e-12:
                    chosen, improved = trial, True
    return sorted(chosen)


def main():
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 14
    cp = run.classpath()
    data, _ = run.fixtures()
    out = os.path.join(run.BUILD, "profile-telemetry_mix.json")
    run.jvm(cp, "telemetry_mix", 0, 1, 1, data, 600, ["--profile", out])
    with open(out) as f:
        prof = json.load(f)
    chosen = pick(prof, k)
    (fm, fs), (sm, ss) = summary(prof, sorted(prof)), summary(prof, chosen)
    print(f"subset of {k} of {len(prof)}: {' '.join(chosen)}")
    print(f"{'per query':24} {'all':>10} {'subset':>10}")
    for f in FEATURES:
        print(f"{f:24} {fm[f]:10.3f} {sm[f]:10.3f}")
    print("share of latency by family")
    for fam in sorted(fs):
        print(f"{fam:24} {fs[fam]:10.3f} {ss.get(fam, 0.0):10.3f}")


if __name__ == "__main__":
    main()
