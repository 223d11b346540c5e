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

__version__ = "0.1.0"
