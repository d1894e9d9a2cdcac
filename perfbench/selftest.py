#!/usr/bin/env python3
"""Self-test of the benchmark's output check: a deliberately corrupted
pipeline output must be counted as failed documents.

    python3 perfbench/selftest.py

Runs deep_nesting on the default seed through the same checked action
the timed runs use: first the real output (0 failed docs expected), then
the output with one document's texts replaced and another document
dropped (exactly 2 failed docs expected). Exits 0 when both hold.
"""

from __future__ import annotations

import os
import shutil
import sys

import procs
import run

WORKLOAD = "deep_nesting"


def main() -> int:
    sys.path[:0] = [run.HERE, run.ROOT]
    import corpus
    import spark_stages
    from pyspark.sql import functions as F

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(run.HERE, ".run", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    run.host_settings(run_dir, cpus)
    procs.become_subreaper()
    watchdog = run.Watchdog(run.DEADLINE_S)
    bench = None
    try:
        data_path, ref = corpus.prepare(run.CACHE_DIR, WORKLOAD, run.DEFAULT_SEED, cpus)
        changed, dropped = sorted(ref)[:2]
        bench = spark_stages.Bench(WORKLOAD, data_path, ref, cpus)
        bench.setup()
        _wall, clean = bench.action(bench.out)
        corrupted = bench.out.withColumn(
            "texts",
            F.when(F.col("doc_id") == changed, F.array(F.lit("corrupted"))).otherwise(
                F.col("texts")
            ),
        ).filter(F.col("doc_id") != dropped)
        _wall, bad = bench.action(corrupted)
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            procs.reap_all()
            shutil.rmtree(run_dir, ignore_errors=True)
            watchdog.cancel()
    failed_frac = bench.failed / bench.attempted
    print(f"clean output: {clean} failed docs; corrupted output: {bad} failed docs")
    print(f"failed_frac over both actions: {failed_frac:.6f}")
    ok = clean == 0 and bad == 2 and failed_frac > 0
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
