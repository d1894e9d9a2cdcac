#!/usr/bin/env python3
"""Extraction benchmark: documents per second through the public
pipeline functions, on three pipeline shapes.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json):
selector_fields, full_page, deep_nesting.

--trace 0 times the workload's pipeline at local[nproc] and prints the
end-to-end metrics; --trace 1 prints the per-layer metrics instead:
Spark stage-isolation jobs plus a traced single-process replay of the
per-doc engine calls. Every timed action's output is checked against a
reference computed without Spark. Progress and diagnostics go to
stderr; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")
OUT_DIR = os.path.join(HERE, ".out")
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ("selector_fields", "full_page", "deep_nesting")
DEFAULT_SEED = 1
DEADLINE_S = 170  # the whole run must end well inside 180 s
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def process_start_wall() -> float:
    """Wall-clock time this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_probe() -> float:
    """Fixed single-thread engine loop (100 fixture docs, best of 3). Its
    wall moves only with the host's clock state: a diagnostic, logged
    with every run, never a metric."""
    from parse_html_spark.boilerplate import main_content_spans
    from parse_html_spark.fixtures import gen_doc
    from parse_html_spark.pipeline import assemble
    from parse_html_spark.tokenizer import DocIndex

    pairs = [assemble(gen_doc(i)["spans"]) for i in range(100)]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for h, m in pairs:
            main_content_spans(DocIndex(h), m)
        best = min(best, time.perf_counter() - t0)
    return best


def host_settings(run_dir: str, cpus: int) -> None:
    """Settings that keep a run on this host and inside the checkout."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM  # get_spark defaults to 48g
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a run-private temp dir: ensure_py_files names its package zip by pid
    # and reuses an existing one, so a shared /tmp could ship another
    # checkout's code
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir  # overrides spark.local.dir
    # the whole heap is committed and touched at start-up, so the JVM's
    # share of peak_rss_mb does not drift with GC heap sizing
    java_opts = (
        f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{java_opts}' pyspark-shell"
    )
    # spark-submit's own launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Watchdog:
    """Stops every process the run started and exits non-zero if the
    run overruns."""

    def __init__(self, seconds: float):
        self._timer = threading.Timer(seconds, self._fire)
        self._timer.daemon = True
        self._timer.start()

    def _fire(self) -> None:
        log(f"run exceeded {DEADLINE_S} s; aborting")
        procs.reap_all(grace_s=0)
        os._exit(3)

    def cancel(self) -> None:
        self._timer.cancel()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def digest_summary(ref: dict) -> dict:
    return {
        "docs": len(ref),
        "rows": sum(v[0] for v in ref.values()),
        "crc": sum(v[1] for v in ref.values()),
    }


def golden_ok(workload: str, seed: int, ref: dict) -> bool:
    """The reference itself must match the committed digest for the
    default seed, so an engine change that alters output is caught even
    though the reference is recomputed by the same engine."""
    if seed != DEFAULT_SEED:
        return True
    with open(GOLDEN) as fh:
        want = json.load(fh)[workload]
    got = digest_summary(ref)
    if got != want:
        log(f"reference digest {got} != golden {want}")
    return got == want


def main(argv=None) -> int:
    args = parse_args(argv)
    proc_start = process_start_wall()
    sys.path[:0] = [HERE, ROOT]
    try:
        import parse_html_spark  # noqa: F401
    except ImportError as exc:
        log(f"parse_html_spark is not importable from {ROOT}: {exc}")
        return 2

    import corpus
    import spark_stages

    procs.become_subreaper()
    watchdog = Watchdog(DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    host_settings(run_dir, cpus)
    bench = None
    try:
        t0 = time.time()
        probe = host_probe()
        data_path, ref = corpus.prepare(CACHE_DIR, args.workload, args.seed, cpus)
        golden = golden_ok(args.workload, args.seed, ref)
        excluded = time.time() - t0
        log(
            f"host probe {probe:.4f} s, loadavg {os.getloadavg()[0]:.2f}, "
            f"inputs ready in {excluded:.1f} s ({len(ref)} docs)"
        )
        bench = spark_stages.Bench(args.workload, data_path, ref, cpus)
        bench.setup()
        setup_s = time.time() - proc_start - excluded
        if args.trace:
            metrics = bench.trace_metrics(OUT_DIR, args.seed)
        else:
            reps = bench.timed_loop(args.seconds)
            metrics = {
                "docs_per_s": (statistics.median(r["docs_per_s"] for r in reps), "docs/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (statistics.median(r["rss_mb"] for r in reps), "MB"),
            }
            log(
                "diag " + json.dumps(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "host_probe_s": round(probe, 4),
                        "action_s": [round(r["wall_s"], 4) for r in reps],
                        "rss_mb": [round(r["rss_mb"], 1) for r in reps],
                        "get_spark_s": round(bench.get_spark_s, 3),
                        "warmup_s": round(bench.warmup_s, 3),
                    }
                )
            )
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            procs.reap_all()
            shutil.rmtree(run_dir, ignore_errors=True)
            watchdog.cancel()

    attempted, failed = bench.attempted, bench.failed
    failed_frac = failed / attempted if attempted else 1.0
    rows = [(k, v, u) for k, (v, u) in metrics.items()]
    rows.append(("failed_frac", failed_frac, "frac"))
    for name, value, unit in rows:
        print(f"{args.workload:16s} {name:44s} {value:16.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": golden and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
