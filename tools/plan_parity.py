#!/usr/bin/env python3
"""Compare two PlanDump directories after masking what differs run to run:
expression ids, plan ids, RDD ids and call sites, temp paths, the old
explode barrier's metric names and lambda-variable counters. Prints each file
whose masked plan differs and exits 1 if any does.
Usage: plan_parity.py <dirA> <dirB>
"""
import os, re, sys, difflib

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at \w+ at [\w.]+:\d+"), "RDD[N] at CALLSITE"),
    (re.compile(r"\[\d+\]"), "[N]"),
    (re.compile(r"/tmp/\S+?(?=[\s\]/])"), "/tmp/T"),
    # barrier metric names, in dumps of commits that still fenced explodes:
    # graft_barrier_<k> (the Barrier object), fixed *_base names before it
    (re.compile(r"\bgraft_barrier_\d+\b|\b\w+_base\b(?=,)"), "BARRIER"),
    # lambda variables draw names from a process-wide counter, so building
    # lambdas in another order renames every later one (x_75 -> x_80)
    (re.compile(r"\b[xy]_\d+\b"), "x_N"),
]


def masked(path):
    text = open(path).read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines()


a, b = sys.argv[1], sys.argv[2]
names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
bad = 0
for n in names:
    pa, pb = os.path.join(a, n), os.path.join(b, n)
    if not (os.path.exists(pa) and os.path.exists(pb)):
        print(f"ONLY IN ONE: {n}")
        bad += 1
        continue
    diff = list(difflib.unified_diff(masked(pa), masked(pb), pa, pb, lineterm="", n=1))
    if diff:
        bad += 1
        print("\n".join(diff[:40]))
print(f"{len(names) - bad}/{len(names)} plans identical after masking")
sys.exit(1 if bad else 0)
