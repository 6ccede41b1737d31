"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100TB design point (AQE on, skew-join on, Arrow
transport for pandas UDFs) but sized here for local[N] testing.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip jvector_spark for shipping to executors (spark-submit --py-files
    equivalent; the north rule's deployment mode). Cached per process."""
    pkg_dir = Path(__file__).resolve().parent
    # imported from a zip (spark-submit --py-files)? ship that zip verbatim —
    # rglob inside a zip finds nothing, and regenerating here once silently
    # truncated the very zip we were imported from
    for parent in pkg_dir.parents:
        if parent.suffix == ".zip" and parent.is_file():
            return str(parent)
    out = Path(tempfile.gettempdir()) / "jvector_spark_pyfiles.zip"
    files = sorted(pkg_dir.rglob("*.py"))
    if not files:
        raise RuntimeError(f"package_zip: no sources under {pkg_dir}")
    # write-then-rename: concurrent sessions regenerate this zip, and an
    # in-place ZipFile('w') truncation would hand executors a partial file
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=out.parent)
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as zf:
        for py in files:
            zf.write(py, Path("jvector_spark") / py.relative_to(pkg_dir))
    os.replace(tmp, out)
    return str(out)


# glibc malloc tuning for python workers: numpy buffers above the default
# mmap threshold (128 KiB) are munmap'd on free, so every fresh array in the
# encode/sort hot loops re-faults zero-filled pages (~1.8 GB/s measured here
# vs ~7-9 GB/s when the allocator reuses pages). Raising the thresholds keeps
# freed blocks on the heap free lists across allocations — a per-process
# setting, so it applies identically per node on a real cluster.
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def _infer_shuffle_partitions(master: str) -> int:
    """Local mode: match shuffle partitions to cores (on a real cluster
    this would be ~2-3x total executor cores; AQE coalesces the excess).
    Handles local[N], local[N,maxFailures], local-cluster[n,c,m]; "*",
    cluster URLs, or anything unparseable falls back to 32."""
    n = master[master.find("[") + 1: master.find("]")] if "[" in master else "32"
    fields = [f.strip() for f in n.split(",")]
    try:
        if master.strip().startswith("local-cluster"):
            # local-cluster[numWorkers, coresPerWorker, memPerWorker]:
            # total cores = workers x cores, not the first field alone
            return int(fields[0]) * int(fields[1])
        return 32 if fields[0] == "*" else int(fields[0])
    except (ValueError, IndexError):
        return 32


def get_spark(
    app_name: str = "jvector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # local mode: python workers fork from a daemon spawned by the in-process
    # JVM, which inherits os.environ set before getOrCreate
    for k, v in _MALLOC_TUNING.items():
        os.environ.setdefault(k, v)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _infer_shuffle_partitions(master)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # cluster mode: executors run in their own JVMs — ship the same tuning
    for k, v in _MALLOC_TUNING.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    # ship the package to executors so UDF closures can import it regardless
    # of the worker's cwd/PYTHONPATH (same contract as --py-files)
    spark.sparkContext.addPyFile(package_zip())
    return spark
