"""SparkSession factory tuned for the extraction pipeline.

Local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same settings apply per executor via spark-submit --py-files.
"""

from __future__ import annotations

import os


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
    mapInPandas closures can import it on any worker regardless of the
    driver's PYTHONPATH."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    spark.sparkContext.addPyFile(_package_zip(pkg_dir))
    _SHIPPED.add(key)
