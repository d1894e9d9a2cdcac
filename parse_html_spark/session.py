"""SparkSession factory tuned for the extraction pipeline, and the one
batch kernel (``_batch_map``) every Python map stage of the package runs
through.

Local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same settings apply per executor via spark-submit --py-files.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport
from itertools import chain

import numpy as np

# CPython >= 3.12 invalidates a zipimporter lazily (gh-103200); older
# versions re-read the whole archive on every invalidate_caches().
_LAZY_ZIP_INVALIDATION = sys.version_info >= (3, 12)


def _zip_files(self):
    """``zipimporter._files`` as CPython 3.12 reads it: the shared
    directory cache entry of the archive, re-read only when missing."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _keep_zip_files(self, _files) -> None:
    """``zipimporter.__init__`` assigns ``_files`` before ``archive``,
    after it has filled the cache itself: nothing to store."""


def _invalidate_zip(self) -> None:
    """``zipimporter.invalidate_caches`` as in CPython 3.12: drop the
    archive's cache entry; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


class _FreezeAtTaskStart:
    """A meta path finder that finds nothing and freezes the heap when
    import caches are invalidated. pyspark's worker calls
    ``importlib.invalidate_caches()`` at the start of every task, after
    the daemon's collection of the last task and before it reads the
    new task's function: that call reaches every finder's
    ``invalidate_caches``, so this one freezes at each task start."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches() -> None:
        gc.freeze()


def _worker_setup() -> None:
    """Per-task setup of every Python function that runs on a worker.
    Two jobs, both for a reused worker process:

    - Freeze the heap at every task start. pyspark's daemon runs a full
      ``gc.collect()`` after every task of a reused worker; a worker
      holding pyspark, pandas, pyarrow, numpy and this package tracks
      ~74,000 objects, so each collection walked them all (~43 ms).
      ``gc.freeze()`` moves everything alive to the permanent
      generation, which no collection walks: the post-task collection
      then sees only what the task made. The first call freezes and
      installs ``_FreezeAtTaskStart``, which freezes again at the start
      of every later task, before pyspark reads the task's function,
      so what pyspark imports lazily (pyarrow, pandas) is frozen
      from the next task on. Later calls freeze nothing: a
      ``pandas_udf`` function runs after pyspark built the task's Arrow
      converters, whose recursive closures are cycles; frozen alive,
      they would never be collected once garbage. Only the first task
      of a worker keeps those.
    - Before CPython 3.12, make zip invalidation lazy. pyspark's worker
      calls ``importlib.invalidate_caches()`` at the start of every
      task, and every cached ``zipimporter`` (one per imported
      sub-package of ``pyspark.zip``, the shipped package zip, the jars
      on the path) re-read its whole archive at once: 0.17-0.28 s of
      each task, far more than most tasks' row work. This backports
      3.12's lazy invalidation into the process, so only an archive a
      later import actually consults is read again. The first task of a
      fresh worker still pays, since its invalidation ran before this
      call.

    Idempotent: a later call installs nothing."""
    if _FreezeAtTaskStart not in sys.meta_path:
        sys.meta_path.append(_FreezeAtTaskStart)
        gc.freeze()
    cls = zipimport.zipimporter
    if _LAZY_ZIP_INVALIDATION or cls.invalidate_caches is _invalidate_zip:
        return
    cls._files = property(_zip_files, _keep_zip_files)
    cls.invalidate_caches = _invalidate_zip


def get_spark(cpus: int | None = None, app: str = "parse_html_spark"):
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches sized for documents (large strings): keep batches
        # small enough that a batch of mega-docs fits comfortably in the
        # Python worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
    )
    # Shuffle spill/exchange files on this VM's virtual disk serialize
    # badly under 32 concurrent writers (measured 3x extract slowdown);
    # a RAM-backed local dir restores scaling. On a real cluster this is
    # the node's NVMe scratch (spark.local.dir default on YARN/K8s).
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    return spark


_SHIPPED: set[int] = set()


def _package_zip(pkg_dir: str) -> str:
    """Zip of the package's .py files under the temp dir, named by a
    hash of their relative paths and bytes: a checkout with different
    code never reuses another's zip, even under a reused pid. Written
    to a private name and renamed, so a concurrent reader never sees a
    half-written zip."""
    import hashlib
    import tempfile
    import zipfile

    root = os.path.dirname(pkg_dir)
    files = []
    for d, _dirs, names in os.walk(pkg_dir):
        files += [os.path.join(d, fn) for fn in names if fn.endswith(".py")]
    files.sort()
    h = hashlib.sha256()
    for full in files:
        h.update(os.path.relpath(full, root).encode() + b"\0")
        with open(full, "rb") as fh:
            h.update(fh.read() + b"\0")
    name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{name}_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in files:
                zf.write(full, os.path.relpath(full, root))
        os.replace(tmp, zip_path)
    return zip_path


def ensure_py_files(spark) -> None:
    """Ship the parse_html_spark package to executors (the --py-files
    story): zips the package once per session and addPyFile's it, so
    worker closures can import it on any worker regardless of the
    driver's PYTHONPATH."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    spark.sparkContext.addPyFile(_package_zip(pkg_dir))
    _SHIPPED.add(key)


def _on_error_columns(on_error: str, columns: str) -> str:
    """The one ``on_error`` check: 'raise' or 'flag', else ValueError.
    Returns the schema suffix flag mode adds (``", " + columns``; empty
    in raise mode)."""
    if on_error not in ("raise", "flag"):
        raise ValueError(f"on_error must be 'raise' or 'flag': {on_error!r}")
    return f", {columns}" if on_error == "flag" else ""


# Output bound of every batch map: a batch is flushed downstream once it
# holds this many rows or this much measured payload, so a task's
# resident output is O(bound + one input row's output), never O(batch)
# -- a fat WARC archive or a batch of image-heavy PDFs must not build one
# giant record batch. mapInArrow accepts any number of batches per input.
_FLUSH_ROWS = 4096
_FLUSH_SIZE = 1 << 25


def _frame(blocks, counts, owners, keys, key, schema):
    import pyarrow as pa

    cols = {
        name: np.concatenate(bl)
        if isinstance(bl[0], np.ndarray)
        else list(chain.from_iterable(bl))
        for name, bl in blocks.items()
    }
    if key is not None:
        cols[key] = keys.take(np.repeat(owners, counts))
    return pa.RecordBatch.from_pydict(cols, schema=schema)


def _batch_fn(row, inputs, schema, key=None, size=None):
    """The batch function of ``_batch_map`` (see there) with the output
    ``pa.Schema``, separate so it runs on record batches without Spark."""

    def run(batches):
        _worker_setup()
        for rb in batches:
            keys = rb.column(key) if key is not None else None
            blocks: dict[str, list] = {}
            counts: list[int] = []
            owners: list[int] = []
            rows = weight = 0
            values = [rb.column(c).to_pylist() for c in inputs]
            for i, out in enumerate(map(row, *values)):
                for part in (out,) if isinstance(out, dict) else out:
                    n = 0  # a part with no columns has no rows
                    for name, block in part.items():
                        blocks.setdefault(name, []).append(block)
                        n = len(block)
                    counts.append(n)
                    owners.append(i)
                    rows += counts[-1]
                    if size is not None:
                        weight += size(part)
                    if rows >= _FLUSH_ROWS or weight >= _FLUSH_SIZE:
                        yield _frame(blocks, counts, owners, keys, key, schema)
                        blocks, counts, owners = {}, [], []
                        rows = weight = 0
            if rows:
                yield _frame(blocks, counts, owners, keys, key, schema)

    return run


def _batch_map(df, row, schema: str, inputs, key=None, size=None):
    """The one Python map stage: ``df`` rows -> ``schema`` rows.

    ``row(*values)`` gets one input row's ``inputs`` values (bytes, a
    list of dicts, None, ...) and returns its output as column blocks
    ``{column: block}`` -- a list, range or 1-D ndarray per column, all
    of one length, one entry per output row -- or an iterable of such
    dicts (a generator lets one input row, e.g. a WARC archive, span
    several batches). The kernel owns the rest:
    - the package ships to executors (``ensure_py_files``), and each
      task starts with ``_worker_setup()``, which has the worker's
      heap frozen at every task start (so the daemon's post-task
      collection walks only what the task made) and, before CPython
      3.12, makes zip invalidation lazy;
    - only ``inputs`` cross the Arrow bridge: mapInArrow cannot tell
      Catalyst which columns it reads, so a wide table would otherwise
      serialize every column into Python;
    - ``key`` (one of ``inputs``) is repeated per output row;
    - each column's blocks are concatenated ONCE per batch, so outputs
      cross the bridge as parallel columns, never per-row records (row
      tuples transposed per batch measured 1.1-1.6x slower);
    - a batch is flushed at ``_FLUSH_ROWS`` rows or ``_FLUSH_SIZE`` of
      ``size(part)``, summed over the dicts ``row`` returned;
    - no output rows, no batch.
    Columns are matched to ``schema`` by name and cast to its exact
    Arrow types: pyspark checks only that a batch is a RecordBatch."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    ensure_py_files(df.sparkSession)
    if list(df.columns) != list(inputs):
        df = df.select(*inputs)
    pa_schema = to_arrow_schema(StructType.fromDDL(schema))
    return df.mapInArrow(_batch_fn(row, inputs, pa_schema, key, size), schema)
