"""Exact repeated-substring deduplication (the suffix-array family of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better") over any (id, text) DataFrame.

Semantics: a character is *duplicated* when it lies inside at least one
length-``min_len`` window that occurs >= 2 times across the corpus (in
another document, or at another position of the same document); maximal
runs of duplicated characters form the spans — the union of the hit
windows' coverage, so spans are disjoint by construction. This is the
character set a suffix array surfaces with match length >= ``min_len``
(Lee et al. remove exactly these regions) — re-expressed Spark-first as
a fixed-window fingerprint shuffle instead of a monolithic suffix sort:

1. every document emits its length-L character windows (pos, gram),
   generated in bounded CHUNKS so no per-row array scales with whole-
   document length (a 100 MB whale yields ~1.5k outer chunk rows, each
   owning <= ``chunk_chars`` positions — never one 10^8-element array);
2. phase 1 counts occurrences per 8-byte gram fingerprint with ONE
   map-side-combined groupBy (16 bytes/row shuffled; a fingerprint
   repeated 10^9 times partially aggregates to ~one row per task — no
   per-key buffering, no straggler), then joins the repeated classes
   back onto the window table (AQE broadcasts the class set when it is
   small — the common corpus — leaving the window table unshuffled).
   BOILERPLATE ROUTING (``max_gram_freq``, ON by default): classes
   whose exact count exceeds the cap — license headers, templates,
   repeated 10^6-10^9 times across a web corpus — would buffer their
   entire occurrence set inside ONE exact-check window task (the
   classic straggler); they take the windowless aggregated exact check
   instead. The cap only routes: output is identical at every cap
   (pytest-asserted against a brute-force scan), only the plan shape
   changes;
3. per document, hit windows whose [pos, pos+L) intervals overlap or
   touch merge into MAXIMAL DISJOINT spans (interval merge: a new span
   starts when pos - previous_pos > L — plain gaps-and-islands on
   consecutive positions would emit OVERLAPPING spans whenever hit
   positions skip fewer than L characters, e.g. hits at 0 and 2).

A naive single-phase plan would shuffle L bytes per input character —
the wide gram next to every position. Phase 1 keeps the wide rows out
of the exchanges: it aggregates 8-byte xxhash64 fingerprints only, and
only the surviving candidate windows (a few % of positions in the
common corpus) are re-checked against the real grams; a same-hash
different-gram collision is discarded by the exact phase (false
negatives are impossible — equal grams hash equal).

At 100 TB: windows are O(total chars) rows but the plan is narrow map
stages + map-side-combined aggregations + AQE-sized shuffles — no
driver state, no per-executor corpus residency, no suffix array that
must fit one machine. Exact-check window buffering is bounded by
``max_gram_freq`` rows per key (heavier classes take the windowless
aggregated check), per-row arrays are bounded by ``chunk_chars``, and
heavy detection is free: phase 1's exact class counts are the
detector. The cap's effect is observable through
``repeated_gram_stats`` (the ``stop_shingle_stats`` sibling).

Policy note: ``strip_repeated_spans`` removes EVERY duplicated span,
including the "first" occurrence — a keep-one-copy variant is
deliberately not offered at span level because spans are merged UNIONS
of many overlapping window hits with different duplication partners:
no single occurrence is canonical, and Lee et al.'s own release
removes all occurrences the same way. For keep-first semantics use the
coarser granularities (exact_duplicates / strip_duplicated_lines),
where occurrences are well-defined.

Reference analog: the reference has no substring dedup; this fills the
corpus-hygiene tier between exact-document
(operators/dedup.exact_duplicates) and near-duplicate
(operators/dedup.minhash_lsh_pairs) dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MIN_LEN = 50

# Window-generation chunk: one outer row owns at most this many window
# positions, so the largest per-row array is chunk_chars ints (~512 KB)
# and the largest carried substring is chunk_chars + L - 1 chars — both
# constants, regardless of document size. Outer chunk count is
# doc_len / chunk_chars (a 100 MB whale -> ~1.5k rows), so neither level
# of the two-level generate scales a per-row allocation with the whale.
DEFAULT_CHUNK_CHARS = 65536

# Occurrence cap above which a fingerprint class is boilerplate: it
# takes the windowless aggregated exact check instead of the per-key
# window, bounding window-task buffering to cap rows per key. Counts
# are exact (phase 1's groupBy), so routing needs no detection pass.
DEFAULT_MAX_GRAM_FREQ = 100_000

# Repeated-class sets up to this many rows are broadcast for the
# phase-2 reattach join, keeping the wide window table entirely
# unshuffled (plan-time broadcast — AQE's runtime SMJ→BHJ conversion
# would have materialized the wide shuffle first). Past the bound the
# reattach degrades to a shuffle join (skew-split by AQE) — the same
# bytes the single-phase plan would have moved. Sizing counts the
# BUILT relation, not the raw payload: a BroadcastHashJoin build runs
# ~50-70 B/row over the 16 B (hash, count) class, so 2M classes is a
# ~100-150 MB build per executor — heavy but workable.
DUP_CLASS_BROADCAST_MAX = 2_000_000


def _windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    L: int,
    chunk: int = DEFAULT_CHUNK_CHARS,
) -> DataFrame:
    """(id, pos, g): every length-L character window of every document
    long enough to hold one. Narrow (no shuffle); generated JVM-side in
    two bounded explodes:

    - outer: chunk start offsets 0, C, 2C, ... <= len-L — an array of
      O(doc_len / C) longs (a 100 MB doc at C=64Ki -> ~1.5k elements);
    - inner: positions within one chunk — at most C ints, over a
      carried chunk substring of C + L - 1 chars.

    No generated array or carried string scales with WHOLE-document
    length (a single F.sequence(0, len-L) would put ~10^8 longs of one
    whale into one Generate row — exactly the per-task residency this
    module promises not to have)."""
    return (
        df.where(F.length(text_col) >= L)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(
                    F.lit(0), F.length(text_col) - L, F.lit(int(chunk))
                )
            ).alias("_c0"),
        )
        .select(
            "id",
            "_c0",
            F.least(
                F.lit(int(chunk) - 1), F.length("_t") - L - F.col("_c0")
            ).alias("_hi"),
            F.expr(f"substring(_t, _c0 + 1, {int(chunk) + L - 1})").alias(
                "_ct"
            ),
        )
        .select(
            "id",
            "_c0",
            "_ct",
            F.explode(F.sequence(F.lit(0), F.col("_hi"))).alias("_p"),
        )
        .select(
            "id",
            (F.col("_c0") + F.col("_p")).alias("pos"),
            F.expr(f"substring(_ct, _p + 1, {L})").alias("g"),
        )
    )


def _exact_hits_small(rows: DataFrame) -> DataFrame:
    """Exact >= 2 check for the (small) heavy route WITHOUT a window:
    map-side-combined gram counts, semi-joined back. Hash-collision
    artifacts occurring once inside a heavy class are dropped here,
    which is what keeps the cap routing-only. No broadcast hint: with
    the default cap the distinct heavy grams are few and AQE broadcasts
    them at runtime; under an adversarially tiny cap (max_gram_freq=1
    routes EVERY repeated class here) the gram set is the whole
    repeated vocabulary and a forced broadcast would OOM — the shuffle
    semi join AQE falls back to is the safe shape."""
    gcounts = (
        rows.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_gn"))
        .filter(F.col("_gn") >= 2)
        .select("g")
    )
    return rows.join(gcounts, "g", "left_semi").select("id", "pos")


def _window_hits(rows: DataFrame, key: str) -> DataFrame:
    """Rows of keys occurring >= 2 times, via a per-key window count
    (one shuffle). Only ever fed key classes bounded by the cap."""
    return (
        rows.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(key))
        )
        .where(F.col("_n") >= 2)
        .drop("_n")
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_LEN,
    max_gram_freq: int = DEFAULT_MAX_GRAM_FREQ,
    chunk_chars: int = DEFAULT_CHUNK_CHARS,
) -> DataFrame:
    """Maximal duplicated character spans, as
    (id, span_start, span_end, span_len) with [span_start, span_end)
    0-based character offsets into the document text. See module
    docstring for semantics and the scale shape.

    ``max_gram_freq`` routes boilerplate classes around the per-key
    exact-check windows (output identical at every cap; bounds window
    buffering to the cap — routing reads phase 1's exact counts, no
    detection pass). ``chunk_chars`` bounds per-row generated arrays
    (output independent of it; tune only if L approaches the chunk
    size).

    NOT fully lazy (same as the pre-r7 detection ``head()``): building
    the result runs phase 1 eagerly — the class-count job both
    populates the persisted class set and decides the reattach regime
    at plan time. The persisted set is registered with
    ``operators.dedup.release_caches()``; sessions running many dedup
    jobs should release between runs."""
    L = int(min_len)
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    cap = int(max_gram_freq)
    if cap < 1:
        raise ValueError(f"max_gram_freq must be >= 1, got {max_gram_freq}")
    if int(chunk_chars) < 1:
        raise ValueError(f"chunk_chars must be >= 1, got {chunk_chars}")
    from htrtf_spark.plans.ordering import fan_out

    # single-split inputs would serialize the window generation (the
    # most CPU-dense narrow stage in the library) onto one core; at
    # warehouse scale the scan is already parallel and this is a no-op
    docs = fan_out(df, id_col)
    grams = _windows(docs, id_col, text_col, L, chunk=int(chunk_chars))

    # phase 1: EXACT per-fingerprint counts via map-side-combined
    # groupBy over ONLY the 8-byte hash (16 bytes/row shuffled vs the
    # full (id, pos, gram) row a window would move — guide §2.3; a
    # fingerprint repeated 10^9 times partially aggregates to ~one row
    # per task, so there is no per-key buffering and no straggler
    # anywhere in this phase). The counts are exact, so the former
    # sampled heavy-DETECTION pass is subsumed: classes above the cap
    # are routed by the same ``_n`` the phase already computed.
    from htrtf_spark.operators.dedup import _register_cache

    counts = (
        grams.select(F.xxhash64("g").alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
    )
    # reattach: candidate windows are the rows whose fingerprint class
    # repeats. The class set is cached (tiny — 16 B/class) and counted
    # ONCE to pick the regime at plan time: broadcast (the common
    # corpus — a few % duplicated — leaving the wide window table
    # entirely unshuffled) or, past the bound, a shuffle join on _h that
    # AQE skew-splits (a window could not be split this way). Relying on
    # AQE's runtime SMJ→BHJ conversion instead would materialize the
    # wide shuffle before converting — the exact cost this phase exists
    # to avoid.
    dup = _register_cache(counts.persist())
    small = dup.count() <= DUP_CLASS_BROADCAST_MAX
    cand = grams.withColumn("_h", F.xxhash64("g")).join(
        F.broadcast(dup) if small else dup, "_h"
    )
    # light classes (2 <= n <= cap): exact >= 2 re-check over the REAL
    # gram (collision-proof) — per-key window buffering is bounded by
    # the cap by construction.
    light = cand.filter(F.col("_n") <= cap).drop("_h", "_n")
    # heavy classes (n > cap): boilerplate — exact check WITHOUT a
    # window (_exact_hits_small: map-side-combined gram counts + semi
    # join), so no window task ever buffers an unbounded occurrence set.
    heavy = cand.filter(F.col("_n") > cap).drop("_h", "_n")
    hits = _window_hits(light, "g").select("id", "pos").unionByName(
        _exact_hits_small(heavy)
    )

    # interval merge, not consecutive-position islands: hit intervals
    # [pos, pos+L) overlap-or-touch exactly when the position gap is
    # <= L, so a new span starts on a gap > L — output spans are
    # maximal AND disjoint (the invariant strip_repeated_spans relies
    # on; consecutive-position grouping broke it for near-offset hits)
    run = Window.partitionBy("id").orderBy("pos")
    runf = run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_span = (
        F.lag("pos").over(run).isNull()
        | (F.col("pos") - F.lag("pos").over(run) > F.lit(L))
    )
    return (
        hits.withColumn("grp", F.sum(new_span.cast("long")).over(runf))
        .groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def repeated_gram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_LEN,
    max_gram_freq: int = DEFAULT_MAX_GRAM_FREQ,
    chunk_chars: int = DEFAULT_CHUNK_CHARS,
) -> DataFrame:
    """Lineage row for the boilerplate cap (the ``stop_shingle_stats``
    sibling, operators/dedup.py): (n_grams_distinct, n_heavy_grams,
    n_heavy_positions, max_freq) — how many gram classes the cap routes
    around the window and how skewed the gram frequency distribution
    is. One map-side-combined aggregate over the window table."""
    grams = _windows(df, id_col, text_col, int(min_len), int(chunk_chars))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    cap = int(max_gram_freq)
    return freq.agg(
        F.count(F.lit(1)).alias("n_grams_distinct"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias(
            "n_heavy_grams"
        ),
        F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(0)).alias(
            "n_heavy_positions"
        ),
        F.max("n").alias("max_freq"),
    )


def strip_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply-side: cut every duplicated span out of the text (the
    drop-duplicated-regions policy; documents without spans pass through
    unchanged). Returns the input columns with ``text_col`` replaced by
    the kept text plus ``removed_chars``.

    Spans per document are collected into one sorted array (spans are
    maximal, hence disjoint) and the kept text is rebuilt with a single
    JVM-side ``aggregate`` over the gaps — no UDF, no per-row Python.
    Per-task memory is bounded by the largest single document, exactly
    like conversation assembly (plans/pipeline.py)."""
    sp = (
        spans.groupBy(F.col("id").alias(id_col))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_spans")
        )
    )
    joined = df.join(sp, on=id_col, how="left")
    kept = F.expr(
        f"""CASE WHEN _spans IS NULL THEN {text_col} ELSE
        aggregate(
          _spans,
          struct(0 AS cur, '' AS acc),
          (s, x) -> struct(
            x.span_end AS cur,
            concat(s.acc,
                   substring({text_col}, s.cur + 1, x.span_start - s.cur))
              AS acc),
          s -> concat(s.acc, substring({text_col}, s.cur + 1,
                                       length({text_col}) - s.cur)))
        END"""
    )
    out_cols = [
        kept.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *out_cols,
        (F.length(text_col) - F.length(kept)).alias("removed_chars"),
    )
