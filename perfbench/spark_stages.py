"""The Spark side of a benchmark run: session, timed actions with their
output check, peak RSS, stage-isolation jobs and the traced replay."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

import replay
from procs import process_tree

PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_SAMPLE_S = 0.02
TREE_EVERY = 25
STAGE_REPS = 3
WARMUP_ACTIONS = 2
WARMUP_S = 8.0


def pipeline(workload: str, df):
    """The public pipeline function a workload times."""
    from parse_html_spark import pipeline as P

    if workload == "selector_fields":
        return P.select_spans_multi(df, replay.SELECTORS, mode="text")
    if workload == "full_page":
        return P.extract_page(df)
    return P.extract_spans_compact(df)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue  # exited since the tree was listed
    return total


class PeakRss:
    """Samples the summed RSS of the JVM + Python worker tree while the
    block runs: every RSS_SAMPLE_S, re-listing the tree every
    TREE_EVERY samples (workers persist, and a full /proc scan per
    sample would take CPU from the measured job)."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        k = 0
        while True:
            if k % TREE_EVERY == 0:
                tree = process_tree(self.root)
            self.peak = max(self.peak, rss_bytes(tree))
            k += 1
            if self._stop.wait(RSS_SAMPLE_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload: str, data_path: str, ref: dict, cpus: int):
        self.workload = workload
        self.data_path = data_path
        self.ref = ref
        self.n_docs = len(ref)
        self.want = (sum(v[0] for v in ref.values()), sum(v[1] for v in ref.values()))
        self.cpus = cpus
        self.spark = None
        self.proc = None
        self.attempted = 0
        self.failed = 0
        self._obs = 0

    # -- session -----------------------------------------------------------

    def setup(self) -> None:
        t0 = time.time()
        from parse_html_spark.session import get_spark

        self.spark = get_spark(cpus=self.cpus, app=f"perfbench_{self.workload}")
        self.proc = self.spark.sparkContext._gateway.proc
        self.get_spark_s = time.time() - t0
        t1 = time.time()
        # one byte-sized scan split per core: every mapInPandas task costs
        # ~0.3 core-seconds on its own, so at bench.py's 4 splits per core
        # (or finer) that overhead made up half of every action's wall
        split = max(os.path.getsize(self.data_path) // self.cpus, 4096)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        self.spark.sparkContext.addPyFile(os.path.join(os.path.dirname(__file__), "replay.py"))
        self.df = self.spark.read.parquet(self.data_path)
        self.out = pipeline(self.workload, self.df)
        # full checked actions: start a Python worker per core and let the
        # JVM compile its hot paths. Action walls keep falling for the
        # first ~8 s of actions after start-up, however short each action
        # is; warming up for fewer left a trend inside the timed window
        t_warm = time.perf_counter()
        k = 0
        while k < WARMUP_ACTIONS or time.perf_counter() - t_warm < WARMUP_S:
            self.action(self.out)
            k += 1
        self.warmup_s = time.time() - t1

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            self.proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                self.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: make sure it dies
                self.proc.kill()
                self.proc.wait()
        self.spark = None

    # -- the timed action and its output check -------------------------------

    def action(self, out) -> tuple[float, int]:
        """Run ``out`` to a noop sink with its row count and order-free
        row digest observed on the same action; returns (wall s, docs
        failed) and adds both docs and failures to the run's counts. A
        failed or mismatched action is diagnosed per doc."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._obs += 1
        obs = Observation(f"check_{self._obs}")
        checked = out.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(replay.row_crc_col(self.workload)).alias("crc"),
        )
        t0 = time.perf_counter()
        try:
            noop(checked)
            wall = time.perf_counter() - t0
            got = obs.get
            bad = 0
            if (int(got["rows"]), int(got["crc"] or 0)) != self.want:
                bad = max(1, self.mismatched_docs(out))
        except Exception as exc:  # noqa: BLE001 - a failed job fails every doc
            log(f"action failed: {exc!r}"[:2000])
            wall, bad = time.perf_counter() - t0, self.n_docs
        self.attempted += self.n_docs
        self.failed += bad
        return wall, bad

    def mismatched_docs(self, out) -> int:
        """Docs whose (rows, crc) differ from the reference, including
        docs missing from the output or absent from the reference."""
        from pyspark.sql import functions as F

        per_doc = out.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(replay.row_crc_col(self.workload)).alias("crc"),
        )
        got = {r["doc_id"]: [r["rows"], r["crc"]] for r in per_doc.collect()}
        bad = sum(1 for d, v in self.ref.items() if got.get(d, [0, 0]) != v)
        return bad + sum(1 for d in got if d not in self.ref)

    def timed_loop(self, seconds: float) -> list[dict]:
        reps = []
        t_end = time.perf_counter() + seconds
        # start another action only if one more is expected to fit
        while not reps or time.perf_counter() + reps[-1]["wall_s"] <= t_end:
            with PeakRss(self.proc.pid) as rss:
                wall, _bad = self.action(self.out)
            reps.append(
                {
                    "wall_s": wall,
                    "docs_per_s": self.n_docs / wall,
                    "rss_mb": rss.peak / 2**20,
                }
            )
        return reps

    # -- traced run ----------------------------------------------------------

    def stage_times(self) -> dict[str, float]:
        """Median walls of the stage-isolation jobs, interleaved."""
        base = self.df.select("doc_id", "spans")
        jobs = {
            "scan": lambda: noop(base),
            "boundary": lambda: noop(base.mapInPandas(replay.passthrough_ids, "doc_id string")),
            "map": lambda: noop(self.out),
        }
        walls: dict[str, list[float]] = {k: [] for k in (*jobs, "timed")}
        for _ in range(STAGE_REPS):
            for name, job in jobs.items():
                t0 = time.perf_counter()
                job()
                walls[name].append(time.perf_counter() - t0)
            walls["timed"].append(self.action(self.out)[0])
        return {k: median(v) for k, v in walls.items()}

    def partition_stats(self) -> dict[str, float]:
        rows = self.df.mapInPandas(
            replay.partition_probe(self.workload),
            "partition int, docs long, engine_ns long",
        ).collect()
        # skew over the partitions that hold docs: a byte-sized split can
        # miss every row group and run empty
        docs = [r["docs"] for r in rows if r["docs"]]
        ns = [r["engine_ns"] for r in rows if r["docs"]]
        return {
            "spark.partitions": len(rows),
            "spark.partition_docs_skew": max(docs) / median(docs),
            "spark.partition_engine_skew": max(ns) / median(ns),
        }

    def trace_metrics(self, out_dir: str, seed: int) -> dict:
        """Per-layer metrics: Spark stage isolation, partition skew, and
        the per-doc replay traced and untraced."""
        import layers

        stages = self.stage_times()
        m = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "spark.scan_s": (stages["scan"], "s"),
            "spark.boundary_s": (stages["boundary"], "s"),
            "spark.map_s": (stages["map"], "s"),
            "spark.post_s": (stages["timed"] - stages["map"], "s"),
        }
        m.update({k: (v, "x" if "skew" in k else "count") for k, v in self.partition_stats().items()})
        docs = layers.load_docs(self.data_path)
        result = layers.replay_metrics(self.workload, docs, self.ref)
        self.attempted += result.attempted
        self.failed += result.failed
        m.update(result.metrics)
        result.write(os.path.join(out_dir, f"trace-{self.workload}-s{seed}.json"))
        return m
