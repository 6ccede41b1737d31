"""jvector_spark — a PySpark-native full-text (inverted-index / BM25) engine.

Built from scratch with the *capabilities* of sam-herman/jvector (an embedded
ANN graph-index library), re-expressed as the inverted-index analog per the
project north star: posting-list construction with docID-delta compressed
blocks + block-max metadata, doc-partitioned segments, sort-merge compaction,
and top-k BM25 queries via block-max pruned scoring with a bounded k-heap —
rank-identical (score desc, docid asc; cf. reference
jvector-base/.../graph/SearchResult.java:101-106) to a brute-force oracle.

Layout:
  functions/   tokenizer, BM25 scoring expressions, codecs (numpy-vectorized)
  operators/   DataFrame-level operators: stats, postings, query, dedup, ANN
  sources/     segment format readers/writers (the OnDiskGraphIndex analog)
  plans/       build pipeline, checkpoints/resume, merge-compaction
  streaming/   incremental micro-segment build (Structured Streaming)
"""

import os
import sys

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128
# v2: adaptive per-(term, stream) codec — varint (v1 layout) or FOR
# bit-packed blocks; v1 segments (no codec dictionary columns) still load
SEGMENT_FORMAT_VERSION = 2


def _install_zip_refresh() -> bool:
    """Make zipimporter.invalidate_caches re-read an archive only when its
    (st_ino, st_size, st_mtime_ns) stamp changed or its stat fails.

    Why: pyspark's worker_util.setup_spark_files calls
    importlib.invalidate_caches() before every task, and on Python < 3.13
    each zipimporter (one per imported subpackage) then re-reads its whole
    central directory: pyspark.zip, the spark-core jar on the worker's
    PYTHONPATH and the package zip, about 0.14 s of pure Python per task
    on a reused worker. A zip that really changed is still re-read, as the
    stdlib does. Installed only inside a Spark Python worker, which imports
    this package when it unpickles package code; the driver is left alone.
    Delete this hook once the oldest supported Python is 3.13, whose
    zipimporter refreshes lazily. Returns whether the hook is in place."""
    files = sys.modules.get("pyspark.core.files")
    if (sys.version_info >= (3, 13) or files is None
            or not files.SparkFiles._is_running_on_worker):
        return False
    import zipimport

    full_refresh = zipimport.zipimporter.invalidate_caches
    if getattr(full_refresh, "stat_checked", False):
        return True

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_refresh_stamp", None) != stamp:
            full_refresh(self)
            self._refresh_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


_install_zip_refresh()
