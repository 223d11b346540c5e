"""htrtf_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the query/data-processing capabilities of the reference
HTR pipeline (josarajar/HTRTF, at /root/reference) as idiomatic Spark:
DataFrame/SQL plans optimized by Catalyst, with the per-turn
text-recognition-and-cleanup semantics (charset projection, CTC-style
greedy decode, blank collapse, whitespace canonicalization, boilerplate
classification) implemented as one Arrow-native kernel (pyarrow.compute
RE2 kernels + numpy, run by mapInArrow and Arrow UDFs) — no per-row
Python and no pandas conversion in the hot path.

Package map
-----------
- ``charset``    : canonical charset + spec constants (shared by both
                   implementations of the extraction semantics)
- ``oracle``     : single-process, row-at-a-time pure-Python reference
                   oracle (the byte-exactness ground truth)
- ``operators``  : vectorized operators (the Arrow extraction kernel, ctc
                   decode, dedup, similarity search, text stats,
                   multimodal plumbing)
- ``plans``      : job-level plans (extraction pipeline, salted
                   repartitioning/ordering, checkpoint/resume manifest)
- ``sources``    : table readers (parquet + JSONL; Iceberg behind a gate)
- ``functions``  : spark.sql-registrable extraction UDFs (htrtf_*)
- ``streaming``  : Structured Streaming extraction (stateless stage +
                   applyInPandasWithState conversation accumulator)
- ``synth``      : deterministic synthetic transcripts generator
"""

import sys

__version__ = "0.1.0"


# Spark's Python worker calls importlib.invalidate_caches() before every
# task (pyspark/worker_util.py: setup_spark_files). On CPython < 3.13,
# zipimporter.invalidate_caches eagerly re-parses the archive's whole
# central directory, and a worker's sys.path starts with pyspark.zip,
# the py4j zip and the spark-core jar: about 16 importers, 0.1-0.4 s of
# fixed cost per task, often more than the task's own work. Workers are
# reused across tasks and every htrtf task function unpickles through
# this package, so the shim below is in place from a worker's second
# task on. It re-reads an archive only when its (mtime_ns, size) changed
# since this importer last read it; a rewritten archive is still
# re-read. CPython 3.13 made the re-read lazy upstream (gh-103200; 3.12
# still re-reads eagerly): delete this once the supported floor is 3.13.
def _install_zipimport_shim() -> None:
    import os
    import zipimport

    cls = zipimport.zipimporter
    installed = hasattr(cls.invalidate_caches, "_htrtf_orig")
    if sys.version_info >= (3, 13) or installed:
        return
    orig = cls.invalidate_caches

    def _key(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size)

    def invalidate_caches(self) -> None:
        key = _key(self.archive)
        if key is None or self.__dict__.get("_htrtf_dir_key") != key:
            orig(self)
            self._htrtf_dir_key = key

    invalidate_caches._htrtf_orig = orig
    cls.invalidate_caches = invalidate_caches
    # the importers already cached were re-read by this task's setup
    # moments ago: record them as current so the next task skips them
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._htrtf_dir_key = _key(imp.archive)


_install_zipimport_shim()
