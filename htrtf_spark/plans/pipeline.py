"""The flagship extraction plan: transcripts in → extracted turns out.

Spark lifecycle (SURVEY.md §3.3), restructured for scale after profiling:

  scan ──► mapInArrow extraction (NARROW — pipelined with the scan, no
           shuffle touches the raw payload; Arrow batches go straight
           into the kernel, no pandas conversion) ──► per-conversation
           stages (window rank / salted aggregates) on the EXTRACTED rows.

Why extraction is narrow: the stage is stateless per-row, so partitioning
is irrelevant to its correctness and any pre-shuffle of the raw text is
pure overhead — profiling showed the shuffle write+fetch of raw text
costing more CPU than the extraction itself. Long-conversation skew
cannot hurt a stateless map; it only matters for key-local operations,
which run *after* decode where rows are strictly smaller (markup and
blanks stripped) — same ordering as the reference, which decodes first
and orders/aggregates after (/root/reference/Modules/tasks.py:172-184).

Catalyst handles column pruning: we select only the 4 columns the stage
needs, so the parquet scan reads exactly those (.explain → ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from htrtf_spark.operators.extraction import EXTRACTED_DDL, extract_map_in_arrow
from htrtf_spark.schema import check_input_schema


# the extraction kernel in the (batch function, DDL) form that
# ``mapInArrow`` and the Iceberg write entry points take
EXTRACT_KERNEL = (extract_map_in_arrow, EXTRACTED_DDL)


def extraction_input(df: DataFrame, check_schema: bool = True) -> DataFrame:
    """The four transcript columns the extraction kernel reads. Hand it
    with ``EXTRACT_KERNEL`` to an Iceberg write entry point to extract
    inside the writing tasks: ``extract_turns`` without the trip back
    to the JVM."""
    if check_schema:
        check_input_schema(df)
    return df.select("conv_id", "turn_idx", "role", "text")


def extract_turns(
    df: DataFrame,
    num_partitions: int | None = None,
    check_schema: bool = True,
) -> DataFrame:
    """Run main-content extraction over a transcripts DataFrame.

    Narrow by default (the fast path). ``num_partitions`` forces a salted
    repartition first — useful only when the source's own splits are too
    few/skewed to parallelize (e.g. one giant unsplittable file), not for
    healthy parquet/Iceberg inputs.

    Returns EXTRACTED_SCHEMA rows, one per input turn (rows_in == rows_out
    + rejected-with-reason; nothing silently dropped — the audit-counter
    invariant, /root/reference/Projects/IAM_lines/create_IAM_lines_dataset.py:57-65).
    """
    cols = extraction_input(df, check_schema)
    if num_partitions:
        from htrtf_spark.plans.ordering import salted_repartition

        cols = salted_repartition(cols, num_partitions)
    return cols.mapInArrow(*EXTRACT_KERNEL)


def extract_turns_with_spans(
    df: DataFrame, check_schema: bool = True
) -> DataFrame:
    """Extraction + kept-content provenance spans (span_starts/span_ends:
    offsets into the original text of the regions each turn's content
    came from — the north rule's "extracted text/spans"). Same narrow
    plan and Arrow kernel as extract_turns; the span bookkeeping is paid
    only here."""
    from htrtf_spark.operators.extraction import (
        EXTRACTED_SPANS_DDL,
        extract_spans_map_in_arrow,
    )

    if check_schema:
        check_input_schema(df)
    cols = df.select("conv_id", "turn_idx", "role", "text")
    return cols.mapInArrow(extract_spans_map_in_arrow, schema=EXTRACTED_SPANS_DDL)


def ordered_extract(df: DataFrame, check_schema: bool = True) -> DataFrame:
    """Extraction + stable per-conversation rank (the north rule's
    '(conv_id, turn_idx) stable ordering via window functions'): one
    shuffle, on the extracted (smaller) rows."""
    from htrtf_spark.plans.ordering import with_turn_rank

    return with_turn_rank(extract_turns(df, check_schema=check_schema))


def conversation_stats(extracted: DataFrame) -> DataFrame:
    """Per-conversation rollup via two-phase salted aggregation: partial
    agg on (conv_id, salt) bounds any whale conversation's contribution to
    one task per salt, then a tiny final agg merges salts — the groupBy
    analog of the reference's width chunking
    (/root/reference/Modules/layers.py:345-369)."""
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(16))  # 16 salts per conv
    partial = (
        extracted.groupBy("conv_id", salt.alias("_salt"))
        .agg(
            F.count("*").alias("t"),
            F.sum(F.coalesce("n_chars", F.lit(0)).cast("long")).alias("ch"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("rej"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.sum("t").alias("n_turns"),
            F.sum("ch").alias("total_chars"),
            F.sum("rej").alias("n_rejected"),
        )
    )


def conversation_documents(
    extracted: DataFrame,
    max_turns: int | None = None,
    max_doc_chars: int | None = None,
) -> DataFrame:
    """Assemble one training document per conversation: extracted turns
    concatenated in (turn_idx) order — the output shape a training-data
    pipeline feeds downstream. One shuffle on the extracted rows;
    in-group ordering via array_sort on (turn_idx, text) structs, so the
    result is deterministic regardless of partitioning.

    Whale-document cap (the 100 TB shape): without a cap, a 10^6-turn
    whale conversation funnels its ENTIRE extracted text through one
    task's collect_list — the one aggregation in the pipeline whose
    per-task memory is proportional to the largest group, not to a
    tunable. ``max_turns`` / ``max_doc_chars`` bound it: turns are
    ranked in (turn_idx) order and the document keeps the deterministic
    PREFIX — at most ``max_turns`` turns, stopping before the turn at
    which the running character total has already reached
    ``max_doc_chars`` (the first turn is always kept). The cap is
    applied BEFORE the collect, inside the same single shuffle (window
    rank + groupBy share the conv_id hash partitioning — one Exchange
    in the plan), so task memory is bounded by the CAP, not by the
    whale; the window sort itself spills to disk like any Spark sort.
    Capped output adds ``n_turns_kept`` / ``truncated`` columns and
    reports ``n_turns`` as the conversation's TOTAL turn count, so
    truncation is observable downstream (the training-data provenance
    rule). Reference analog: width chunking bounds per-step work the
    same way (/root/reference/Modules/layers.py:345-369).

    Uncapped (both None, the default) keeps the exact historical
    schema and semantics (q62 gate)."""
    if max_turns is None and max_doc_chars is None:
        assembled = F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("turn_idx", "extracted_text"))
                ),
                lambda s: s["extracted_text"],
            ),
        )
        # string_agg semantics: a conversation with zero non-null texts
        # yields NULL, not '' (concat_ws alone would give '')
        doc_text = F.when(F.count("extracted_text") > 0, assembled)
        return extracted.groupBy("conv_id").agg(
            doc_text.alias("doc_text"),
            F.count("*").alias("n_turns"),
        )

    if max_turns is not None and max_turns < 1:
        raise ValueError(f"max_turns must be >= 1, got {max_turns}")
    if max_doc_chars is not None and max_doc_chars < 1:
        raise ValueError(f"max_doc_chars must be >= 1, got {max_doc_chars}")

    # deterministic tiebreak for duplicate turn_idx: the RAW text —
    # the SAME secondary key the uncapped path's array_sort uses, so a
    # cap that never binds (huge max_turns/max_doc_chars) reproduces
    # the historical uncapped doc_text byte-for-byte (ADVICE r5; an
    # earlier md5 tiebreak could reorder tied turns relative to q62).
    # Explicit ROWS frame so the running total never lumps tied peers
    # together (RANGE default).
    w = Window.partitionBy("conv_id").orderBy(
        "turn_idx", F.coalesce("extracted_text", F.lit(""))
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ln = F.coalesce(F.length("extracted_text"), F.lit(0)).cast("long")
    rows = (
        extracted.select("conv_id", "turn_idx", "extracted_text")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_before", F.sum(ln).over(wf) - ln)
    )
    keep = F.lit(True)
    if max_turns is not None:
        keep = keep & (F.col("_rn") <= max_turns)
    if max_doc_chars is not None:
        # greedy prefix: a turn enters while the budget is not yet
        # exhausted BEFORE it — the first turn (running total 0) always
        # fits, so every conversation yields a document
        keep = keep & (F.col("_before") < max_doc_chars)

    # collect_list skips NULL elements: only kept turns are gathered,
    # so the per-group array is bounded by the cap; the coalesced-text
    # key makes the assembled order identical to the window's tiebreak
    kept_struct = F.when(
        keep,
        F.struct(
            "turn_idx",
            F.coalesce("extracted_text", F.lit("")).alias("_tb"),
            "extracted_text",
        ),
    )
    assembled = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(kept_struct)),
            lambda s: s["extracted_text"],
        ),
    )
    n_nonnull_kept = F.count(F.when(keep, F.col("extracted_text")))
    n_kept = F.sum(keep.cast("long"))
    return rows.groupBy("conv_id").agg(
        F.when(n_nonnull_kept > 0, assembled).alias("doc_text"),
        F.max("_rn").cast("long").alias("n_turns"),
        n_kept.alias("n_turns_kept"),
        (F.sum(keep.cast("long")) < F.max("_rn")).alias("truncated"),
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Aggregate acceptance metrics (the CER/WER-report analog,
    /root/reference/Modules/tasks.py:183-194 — here exact-match is
    asserted upstream, so metrics are audit counts + sizes)."""
    return extracted.groupBy("mode").agg(
        F.count("*").alias("turns"),
        F.sum((F.col("reject_reason").isNotNull()).cast("long")).alias("rejected"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")).alias("total_chars"),
    )
