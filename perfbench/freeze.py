#!/usr/bin/env python3
"""Freeze the query samples and their goldens.

    python3 perfbench/freeze.py

Run from the repository root. It draws each query workload's sample by the
rules below, evaluates every sampled query on the benchmark corpus in two
separate JVMs, drops any query whose row count or order-insensitive hash
differs between the two, and writes `perfbench/workloads.json` and
`perfbench/goldens.json`. Re-run it only when a change is meant to alter a
query's result or the sample; the benchmark itself only reads the files.

Sampling rule, over the query names in `bench_reference.json` (the
per-query floors at sf0.1), sorted, sized so that a run with its warm-up
fits the benchmark's time budget:
- short_queries: floor under 0.5 s, outside the graph (g), dedup (d) and
  curation (c) families; every 15th from the first.
"""
import json
import os
import shutil
import sys

import run

STEP = {"short_queries": 15}
WHY = {
    "short_queries": "closed loop of short queries: per-job dispatch and Catalyst "
                     "planning dominate, not data volume",
}


def candidates(reference):
    floors = reference["queries"]
    names = sorted(floors)
    return {
        "short_queries": [q for q in names if floors[q] < 0.5 and q[0] not in "gdc"],
    }


def evaluate(build, names, tmp, tag):
    corpus = os.path.join(tmp, "corpus")
    spec = {"workload": "freeze", "seconds": 0, "trace": False,
            "cores": os.cpu_count() or 1, "corpus_dir": corpus, "queries": names,
            "out": os.path.join(tmp, f"freeze-{tag}.json")}
    work = os.path.join(tmp, tag)
    os.makedirs(work)
    return run.launch(build, spec, work, float("inf"))["goldens"]


def main():
    with open(os.path.join(run.ROOT, "bench_reference.json")) as f:
        samples = {w: pool[::STEP[w]] for w, pool in candidates(json.load(f)).items()}
    build, _ = run.ensure_build()
    tmp = os.path.join(run.WORK, "tmp", "freeze")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        run.gen_corpus.write(os.path.join(tmp, "corpus"))
        names = sorted({q for sample in samples.values() for q in sample})
        a = evaluate(build, names, tmp, "a")
        b = evaluate(build, names, tmp, "b")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    stable = {q for q in names if "error" not in a[q] and
              (a[q]["rows"], a[q]["hash"]) == (b[q]["rows"], b[q]["hash"])}
    for q in sorted(set(names) - stable):
        print(f"skipped {q}: {a[q].get('error') or 'result differs between runs'}",
              file=sys.stderr)
    workloads, goldens = {}, {}
    for w, sample in samples.items():
        picked = [q for q in sample if q in stable]
        workloads[w] = {"why": WHY[w], "queries": picked}
        print(f"{w}: {len(picked)} queries, check pass "
              f"{sum(min(a[q]['s'], b[q]['s']) for q in picked):.1f} s")
        for q in picked:
            goldens[q] = {"rows": a[q]["rows"], "hash": a[q]["hash"]}
    with open(os.path.join(run.HERE, "workloads.json"), "w") as f:
        json.dump(workloads, f, indent=1)
        f.write("\n")
    with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
        json.dump({"corpus": {"seed": run.gen_corpus.CORPUS_SEED,
                              "scale": run.gen_corpus.CORPUS_SCALE},
                   "queries": dict(sorted(goldens.items()))}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
