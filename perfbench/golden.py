#!/usr/bin/env python3
"""Rewrite golden.json: the reference digest summary of every workload
for the default seed, as computed by the per-doc engine without Spark.

    python3 perfbench/golden.py

Run it only when an engine change is meant to alter output; the timed
runs on the default seed fail their check while golden.json disagrees
with the engine.
"""

from __future__ import annotations

import json
import os
import sys

import run

if __name__ == "__main__":
    sys.path[:0] = [run.HERE, run.ROOT]
    import corpus

    procs = len(os.sched_getaffinity(0))
    golden = {
        w: run.digest_summary(corpus.prepare(run.CACHE_DIR, w, run.DEFAULT_SEED, procs)[1])
        for w in run.WORKLOADS
    }
    with open(run.GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=2)
        fh.write("\n")
    print(json.dumps(golden))
