"""Deduplication operators over any (id, text) DataFrame — the library
API. (The driver-gate wrappers over the ``documents`` table live in
htrtf_spark.queries.dedup and call into these.)

Families:
- exact:            md5-fingerprint hash-groupBy (one shuffle)
- n-gram Jaccard:   shingle posting lists → ordered id pairs (no cross
                    product)
- MinHash + LSH:    engine-portable string minhash → bands → bucket join
- SimHash:          64-bit hash sign-aggregation, hamming-bucket pairing

Scale notes: at 10^9+ documents the posting-list pair expansion needs a
stop-shingle cut (drop shingles with document frequency above a cap —
they produce quadratic fan-out and carry no discriminative signal); LSH
keeps candidate generation linear in (docs × bands). Both are plain
shuffles Catalyst/AQE handles; no driver-side state anywhere.

Every operator here is lazy: building its plan runs no Spark job. The
stop list is a df-count aggregation removed by a broadcast left anti
join inside the caller's action (``_capped``), never collected at plan
build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htrtf_spark.operators.textstats import tokens

DEFAULT_NGRAM = 3
DEFAULT_MINHASHES = 8
DEFAULT_BAND_WIDTH = 2
# Stop-shingle document-frequency cap, ON by default: a shingle present in
# more than this many documents is boilerplate, carries no near-dup signal,
# and fans out quadratically in the posting-list pair expansion (df²
# pairs per shingle). Callers must pass max_doc_freq=None explicitly to disable.
DEFAULT_MAX_DOC_FREQ = 1000

# Caches these operators create outlive the returned (lazy) DataFrame —
# the caller's terminal action is what reads them, so the operator
# cannot unpersist eagerly. Every lingering cache is registered here;
# callers doing repeated dedup runs in one session release them between
# runs with release_caches(). (Unreleased caches are MEMORY_AND_DISK
# and LRU-evicted under pressure — the registry makes cleanup exact.)
_LIVE_CACHES: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every cached frame the dedup operators have left
    behind (call after the terminal action of a dedup job). Returns the
    number of caches released."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def word_ngrams(text_col: str, n: int = DEFAULT_NGRAM) -> F.Column:
    """Distinct word n-gram shingles as an array column (guarded for
    short texts; Catalyst evaluates this JVM-side, no Python)."""
    w = tokens(text_col)
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.array_join(F.slice(w, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = DEFAULT_NGRAM,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """(id, ng) exploded distinct shingles; stop-shingles whose document
    frequency exceeds ``max_doc_freq`` are dropped (the web-scale fan-out
    guard — ON by default, pass None to disable explicitly). Lazy: the
    stop list is removed inside the caller's action (see ``_capped``);
    the explode runs once for the df count and once for the probe."""
    from htrtf_spark.plans.ordering import fan_out

    # the ngram transform + explode is the CPU-dense narrow stage of
    # every dedup family; a single-split local scan would serialize it
    # onto one core (no-op when the scan is already parallel)
    g = fan_out(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(word_ngrams(text_col, n)).alias("ng")
    )
    return _capped(g, max_doc_freq)


def _stop_list(g: DataFrame, max_doc_freq: int) -> DataFrame:
    """(ng) of every shingle in posting table ``g`` whose document
    frequency exceeds ``max_doc_freq``. Small by construction: only
    boilerplate clears a high-df bar."""
    return (
        g.groupBy("ng").agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_doc_freq)
        .select("ng")
    )


def _apply_stop_list(g: DataFrame, stop_list: DataFrame) -> DataFrame:
    """Drop a GIVEN stop list from a posting table — broadcast anti join
    (the list is bounded-small; see _stop_list). Semi-joining the
    keep-list instead would broadcast nearly the whole vocabulary. Keeps
    ``g``'s column order (the USING join would move ``ng`` first)."""
    return g.join(F.broadcast(stop_list.select("ng")), "ng", "left_anti").select(
        *g.columns
    )


def _capped(g: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """The stop-shingle cap — its ONE implementation: drop from posting
    table ``g`` the shingles whose df in ``g`` exceeds the cap, as a
    lazy broadcast anti join that runs inside the caller's action.
    ``g`` feeds both the df count and the probe: callers whose ``g`` is
    expensive cache it first."""
    if max_doc_freq is None:
        return g
    return _apply_stop_list(g, _stop_list(g, max_doc_freq))


def stop_shingle_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = DEFAULT_NGRAM,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Lineage row for the cap: (n_shingles, n_stop_shingles,
    n_postings_dropped, max_df) — what the cap removed and how skewed the
    shingle df distribution is. One aggregate over the shingle table."""
    g = shingle_table(df, id_col, text_col, n, max_doc_freq=None)
    freq = g.groupBy("ng").agg(F.count("*").alias("df_"))
    return freq.agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.when(F.col("df_") > max_doc_freq, 1).otherwise(0)).alias(
            "n_stop_shingles"
        ),
        F.sum(F.when(F.col("df_") > max_doc_freq, F.col("df_")).otherwise(0)).alias(
            "n_postings_dropped"
        ),
        F.max("df_").alias("max_df"),
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: (fp, rep_id, n_copies)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("rep_id"), F.count("*").alias("n_copies"))
    )


def _min_hashes(grams: DataFrame, k: int) -> DataFrame:
    """(id, mh0..mh{k-1}) engine-portable MinHash of a posting table:
    h_i(S) = lexicographic MIN of md5(i || ':' || shingle)."""
    return grams.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("ng")))).alias(f"mh{i}")
            for i in range(k)
        ]
    )


def _verified(inter: DataFrame, sizes: DataFrame, min_jaccard_bp: int) -> DataFrame:
    """Jaccard verify tail: (id_a, id_b, inter) pair intersections plus
    per-document shingle counts (id, sz) → (id_a, id_b, jaccard_bp) at
    or above ``min_jaccard_bp``. ``sizes`` (one row per DOCUMENT) feeds
    both join sides, so it is persisted — or its groupBy runs twice."""
    sizes = _register_cache(sizes.persist())
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.round(
        F.col("inter") * F.lit(10000.0) / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    ).cast("long")
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard_bp"))
        .filter(F.col("jaccard_bp") >= min_jaccard_bp)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_NGRAM,
    min_jaccard_bp: int = 5000,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jaccard_bp) via posting-list pair
    expansion: group shingles once, emit each posting list's ordered id
    pairs with a JVM-side nested transform, then count per pair. The
    quadratic blow-up is bounded per list, which is why the stop-shingle
    cap is active by default (DEFAULT_MAX_DOC_FREQ; pass
    ``max_doc_freq=None`` to opt out explicitly): df_cap² ×
    n_kept_shingles is the worst-case row count."""
    grams = shingle_table(df, id_col, text_col, n, max_doc_freq=None)
    posting = grams.groupBy("ng").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    if max_doc_freq is not None:
        # the cap rides the posting-list groupBy (df == size(ids)) — no
        # separate df-count shuffle or anti join
        posting = posting.filter(F.size("ids") <= max_doc_freq)
    # posting feeds both the pair expansion and the sizes — cache or the
    # word-ngram transform and its groupBy run twice
    posting = _register_cache(posting.cache())
    # sizes count the KEPT shingles per doc (Jaccard over the capped
    # space)
    sizes = (
        posting.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posting.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return _verified(inter, sizes, min_jaccard_bp)


def corpus_stop_list(
    df: DataFrame, id_col: str, text_col: str, n: int = DEFAULT_NGRAM,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """The corpus's stop-shingle list (ng) — every shingle whose corpus
    document frequency exceeds ``max_doc_freq``. Small by construction
    (only boilerplate clears a high-df bar). Persist it NEXT TO the band
    index and apply the SAME list to every probe batch: a per-side cap
    computed from each batch's own frequencies makes identical documents
    band differently between index and probe (systematic recall loss)."""
    return _stop_list(
        shingle_table(df, id_col, text_col, n, max_doc_freq=None), max_doc_freq
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    n: int = DEFAULT_NGRAM, k: int = DEFAULT_MINHASHES,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    stop_list: DataFrame | None = None,
) -> DataFrame:
    """Engine-portable MinHash (id, mh0..mh{k-1}): h_i(S) = lexicographic
    MIN of md5(i || ':' || shingle). Documents with no (kept) shingles
    are absent. The stop-shingle cap is active by default so signatures
    are computed over discriminative shingles only. With the cap, the
    raw posting table is cached: it feeds both the stop-list df count
    and the anti-join probe, so the ngram explode runs once.

    ``stop_list`` (a DataFrame of ``ng``) overrides the self-computed
    cap: the given shingles are dropped instead — the shared-stop-list
    form probe batches must use so their signatures band identically to
    a corpus index built with that list."""
    grams = shingle_table(df, id_col, text_col, n, max_doc_freq=None)
    if stop_list is not None:
        grams = _apply_stop_list(grams, stop_list)
    elif max_doc_freq is not None:
        grams = _capped(_register_cache(grams.cache()), max_doc_freq)
    return _min_hashes(grams, k)


def band_signatures(
    sig: DataFrame, k: int = DEFAULT_MINHASHES, band_width: int = DEFAULT_BAND_WIDTH
) -> DataFrame:
    """(id, band_id, band_val) LSH banding of a signature table — the
    persistable index shape: write it once per corpus, bucket-join new
    batches against it (incremental dedup).

    One pass: each signature row explodes an inline array of its
    (band_id, band_val) structs. The pre-r7 union-of-N-selects form
    re-planned ``sig`` once per band — when ``sig`` is an aggregation
    (the usual case), that was N copies of the signature groupBy in the
    plan unless exchange reuse happened to fire; the explode form
    carries ONE copy by construction and emits identical rows."""
    n_bands = k // band_width
    if n_bands < 1:
        # the pre-r7 union form returned None here and crashed at the
        # call site; the explode form would silently emit ZERO bands —
        # every probe would report lsh_hit=0 (total recall loss), so
        # fail fast instead
        raise ValueError(
            f"band_width={band_width} exceeds k={k}: zero bands would "
            "silently disable LSH"
        )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{band * band_width + j}")
                            for j in range(band_width)
                        ],
                    )
                ).alias("band_val"),
            )
            for band in range(n_bands)
        ]
    )
    return sig.select("id", F.explode(bands_arr).alias("_b")).select(
        "id", F.col("_b.band_id").alias("band_id"),
        F.col("_b.band_val").alias("band_val"),
    )


def band_index(
    df: DataFrame, id_col: str, text_col: str,
    n: int = DEFAULT_NGRAM, k: int = DEFAULT_MINHASHES,
    band_width: int = DEFAULT_BAND_WIDTH,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    stop_list: DataFrame | None = None,
) -> DataFrame:
    """Corpus LSH band index (id, band_id, band_val): minhash + banding
    in one call. At scale this is PERSISTED once (parquet/Iceberg,
    bucketed by (band_id, band_val)) and every new ingest batch joins
    against it — the index is O(docs × bands) rows, never rebuilt.
    ``stop_list`` forces a SHARED cap (see minhash_signatures)."""
    return band_signatures(
        minhash_signatures(
            df, id_col, text_col, n, k, max_doc_freq, stop_list=stop_list
        ),
        k, band_width,
    )


def build_corpus_index(
    df: DataFrame, id_col: str, text_col: str,
    n: int = DEFAULT_NGRAM, k: int = DEFAULT_MINHASHES,
    band_width: int = DEFAULT_BAND_WIDTH,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """Everything a continuous-ingest pipeline persists per corpus, in
    one call: ``(index, stop, fps)`` —

    - ``index``: (id, band_id, band_val) LSH band index,
    - ``stop``: the corpus stop-shingle list the index was capped with
      (None when ``max_doc_freq`` is None) — probes MUST reuse it,
    - ``fps``: (fp) distinct md5 text fingerprints for the exact probe.

    Write all three (parquet/Iceberg); per-batch ticks then call
    ``incremental_dedup_flags(new, corpus_index=index,
    corpus_stop=stop, corpus_fps=fps)`` — no corpus rescan, no index
    rebuild, probe cost O(batch × bands)."""
    stop = (
        None if max_doc_freq is None
        else corpus_stop_list(df, id_col, text_col, n, max_doc_freq)
    )
    idx = band_index(
        df, id_col, text_col, n, k, band_width,
        max_doc_freq=None, stop_list=stop,
    )
    fps = df.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    return idx, stop, fps


def incremental_dedup_flags(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASHES,
    band_width: int = DEFAULT_BAND_WIDTH,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    corpus_index: DataFrame | None = None,
    corpus_stop: DataFrame | None = None,
    corpus_fps: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingest dedup: flag each NEW document against an
    EXISTING corpus — (id, exact_dup, lsh_hit, novel), all int 0/1.
    exact_dup: md5(text) collides with a corpus fingerprint (one
    shuffle of 128-bit fps). lsh_hit: any LSH band bucket shared with a
    corpus document (bucket equi-join against the corpus band index —
    O(new × bands) probe, never corpus × new). novel = neither.

    Two forms:

    - **Persisted-index** (the per-tick production shape): pass
      ``corpus_index`` (+ ``corpus_stop`` if the index was built with a
      cap, + ``corpus_fps``) from ``build_corpus_index`` — the corpus
      is never rescanned and the index never rebuilt; ``corpus_df`` may
      be omitted entirely (it is only consulted for whichever persisted
      piece is missing).
    - **Self-contained**: pass the raw ``corpus_df``; index, stop list
      and fps are computed inline.

    Either way the stop cap is SYMMETRIC: one stop list — persisted or
    derived once from the CORPUS — is applied to both the index and the
    probe shingles. (A per-side cap from each side's own document
    frequencies makes identical documents band differently between
    index and probe: systematic missed near-dups.)"""
    if corpus_df is None and (corpus_index is None or corpus_fps is None):
        raise ValueError(
            "incremental_dedup_flags needs corpus_df, or BOTH "
            "corpus_index and corpus_fps (the persisted form)"
        )
    if corpus_index is not None and corpus_stop is None and max_doc_freq is not None:
        # refusing beats silent recall loss: an index built WITH a cap
        # but probed WITHOUT its stop list bands identical documents
        # differently (the exact asymmetry this function exists to
        # prevent). Pass the persisted stop list (empty is fine), or
        # state the index is uncapped with max_doc_freq=None.
        raise ValueError(
            "corpus_index given without corpus_stop while max_doc_freq "
            "is set: pass the index's persisted stop list (may be "
            "empty), or max_doc_freq=None if the index was built uncapped"
        )
    ids = new_df.select(F.col(id_col).alias("id")).distinct()
    fps = (
        corpus_fps.select("fp")
        if corpus_fps is not None
        else corpus_df.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    )
    exact = (
        new_df.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp")
        )
        .join(fps, "fp", "left_semi")
        .select("id")
        .distinct()
        .withColumn("exact_dup", F.lit(1))
    )
    # ONE stop list for both sides, from the corpus (or persisted)
    stop = corpus_stop
    if stop is None and max_doc_freq is not None and corpus_index is None:
        stop = corpus_stop_list(corpus_df, id_col, text_col, n, max_doc_freq)
    if corpus_index is not None:
        idx = corpus_index.select("band_id", "band_val").distinct()
    else:
        idx = band_index(
            corpus_df, id_col, text_col, n, k, band_width,
            max_doc_freq=None, stop_list=stop,
        ).select("band_id", "band_val").distinct()
    probes = band_index(
        new_df, id_col, text_col, n, k, band_width,
        max_doc_freq=None, stop_list=stop,
    )
    lsh = (
        probes.join(idx, ["band_id", "band_val"], "left_semi")
        .select("id")
        .distinct()
        .withColumn("lsh_hit", F.lit(1))
    )
    out = (
        ids.join(exact, "id", "left")
        .join(lsh, "id", "left")
        .select(
            "id",
            F.coalesce("exact_dup", F.lit(0)).alias("exact_dup"),
            F.coalesce("lsh_hit", F.lit(0)).alias("lsh_hit"),
        )
    )
    return out.withColumn(
        "novel",
        ((F.col("exact_dup") == 0) & (F.col("lsh_hit") == 0)).cast("int"),
    )


def lsh_candidates(
    sig: DataFrame, k: int = DEFAULT_MINHASHES, band_width: int = DEFAULT_BAND_WIDTH
) -> DataFrame:
    """Band the signatures, self-join each band bucket, distinct pairs."""
    bands = band_signatures(sig, k, band_width)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASHES,
    band_width: int = DEFAULT_BAND_WIDTH,
    min_jaccard_bp: int | None = 5000,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """LSH candidates, optionally verified with true Jaccard (both
    phases computed over cap-filtered shingles). One explode: with the
    cap, the RAW posting table is cached — it feeds the stop-list df
    count and the anti-join probe. With verification, the CAPPED table
    is cached too — it feeds the signature agg, the per-doc sizes and
    both verify join sides (uncached, each persisted consumer would
    rebuild the stop-list broadcast)."""
    grams = shingle_table(df, id_col, text_col, n, max_doc_freq=None)
    if max_doc_freq is not None:
        grams = _capped(_register_cache(grams.cache()), max_doc_freq)
    if min_jaccard_bp is not None:
        grams = _register_cache(grams.cache())
    # persist the signature table (k hashes per DOCUMENT — tiny next to
    # the posting table): the band self-join and its distinct would
    # otherwise carry two copies of the signature aggregation over the
    # full posting cache (one per join side — exchange reuse is not
    # guaranteed once AQE re-plans the sides independently)
    sig = _register_cache(_min_hashes(grams, k).persist())
    cand = lsh_candidates(sig, k, band_width)
    if min_jaccard_bp is None:
        return cand
    ga = grams.select(F.col("id").alias("id_a"), "ng")
    gb = grams.select(F.col("id").alias("id_b"), "ng")
    inter = (
        cand.join(ga, "id_a").join(gb, ["id_b", "ng"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
    return _verified(inter, sizes, min_jaccard_bp)


# ---------------------------------------------------------------- SimHash
def portable_token_hash(tok_col) -> F.Column:
    """60-bit token hash reproducible in any engine with md5: first 15 hex
    chars of md5 as a long. Slower than xxhash64 — used where a cross-
    engine oracle must recompute the identical simhash."""
    return F.conv(F.substring(F.md5(tok_col), 1, 15), 16, 10).cast("long")


def simhash64(df: DataFrame, id_col: str, text_col: str, hash_fn=None) -> DataFrame:
    """64-bit SimHash per document, computed entirely JVM-side:
    per-token hash (xxhash64 by default; pass ``hash_fn`` for an
    engine-portable variant) → per-bit ±1 vote weighted by token
    multiplicity → sign → bit. Returns (id, simhash: long)."""
    from htrtf_spark.plans.ordering import fan_out

    tok = fan_out(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    )
    h = hash_fn(F.col("tok")) if hash_fn is not None else F.xxhash64("tok")
    # vote_j = +1 if bit j set else -1; sum votes per doc, bit = sum > 0
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(64)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sh = None
    for j in range(64):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sh = term if sh is None else sh.bitwiseXOR(term)
    return agg.select("id", sh.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, using 4×16-bit block
    LSH (a pair within hamming ≤ 3 of 64 bits shares at least one exact
    16-bit block — pigeonhole, so recall is exactly 1) then exact
    hamming verify."""
    sh = _register_cache(simhash64(df, id_col, text_col, hash_fn=hash_fn).cache())
    blocks = None
    for blk in range(4):
        part = sh.select(
            "id",
            F.lit(blk).alias("blk"),
            F.shiftright("simhash", blk * 16).bitwiseAND(F.lit(0xFFFF)).alias("bval"),
            "simhash",
        )
        blocks = part if blocks is None else blocks.union(part)
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup CLUSTERS from a pair list: min-label propagation to a
    fixpoint — every node's label becomes the smallest id reachable
    through the (undirected) edge set, i.e. its connected component
    representative. Returns (id, cluster_rep).

    Scale shape: each iteration is one join (labels ⋈ edges) + one
    partial-aggregated min groupBy — plain shuffles, no driver-side
    graph state; the loop is over ITERATIONS (O(component diameter),
    which for near-dup clusters is tiny), not over data. Convergence is
    detected by a changed-label count; AQE handles the shrinking
    frontier. This is the dedup-cluster step every web-scale pipeline
    runs between pair generation and keep-one-per-cluster."""
    import gc

    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            # candidate labels: my own + the labels of my neighbors
            from_neighbors = (
                sym.join(labels, sym.src == labels.id)
                .select(F.col("dst").alias("id"), "label")
            )
            prop = (
                labels.unionByName(from_neighbors)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
            # pointer jumping (label := label's label): halves the
            # distance to the component minimum every round →
            # O(log diameter) iterations instead of O(diameter)
            jump = prop.select(
                F.col("id").alias("jid"), F.col("label").alias("jlabel")
            )
            # localCheckpoint (eager) TRUNCATES the lineage — without
            # it every iteration re-analyzes a one-deeper plan and the
            # loop goes quadratic in planning time (the classic
            # iterative-Spark pitfall; same reason GraphX checkpoints
            # Pregel supersteps). Checkpoint blocks are reclaimed by
            # the ContextCleaner once the PREVIOUS iteration's
            # DataFrame is garbage — the rebind below drops the only
            # reference and the explicit gc.collect() makes that
            # prompt instead of whenever CPython feels like it.
            new_labels = (
                prop.join(jump, prop.label == jump.jid, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("jlabel", "label")
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            gc.collect()  # release the prior iteration's checkpoint blocks
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations"
            )
    finally:
        sym.unpersist()
    return labels.select("id", F.col("label").alias("cluster_rep"))


def benchmark_contamination(
    corpus_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    bench_id_col: str = "id",
    bench_text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    min_shared: int = 2,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Train/test DECONTAMINATION: flag corpus documents that share at
    least ``min_shared`` distinct word n-grams with any benchmark
    document — the standard pre-training hygiene pass that keeps
    evaluation sets out of the training corpus.

    Returns (id, bench_id, shared_ngrams) — one row per contaminated
    (corpus doc, benchmark doc) pair; anti-join the corpus against its
    ``id`` column to drop contaminated docs.

    Scale shape: the benchmark side is SMALL (thousands of eval docs vs
    a 10^12-turn corpus), so its shingle table broadcasts and the probe
    is a broadcast equi-join on the shingle — the corpus is scanned
    once, never shuffled on text. The stop-shingle cap (corpus document
    frequencies) drops boilerplate shingles that would otherwise flag
    everything; it is applied to BOTH sides (the symmetric-cap rule)."""
    corpus_g = shingle_table(corpus_df, id_col, text_col, n, max_doc_freq=None)
    bench_g = shingle_table(
        bench_df, bench_id_col, bench_text_col, n, max_doc_freq=None
    )
    if max_doc_freq is not None:
        # ONE cache of the corpus posting table feeds the stop-list agg,
        # the capped corpus side AND the bench-side stop filter —
        # deriving the stop list from corpus_df again would run the
        # biggest explode in the job twice
        corpus_g = _register_cache(corpus_g.cache())
        bench_g = _apply_stop_list(bench_g, _stop_list(corpus_g, max_doc_freq))
    corpus_g = _capped(corpus_g, max_doc_freq)
    bench_g = bench_g.select(F.col("id").alias("bench_id"), "ng")
    return (
        corpus_g.join(F.broadcast(bench_g), "ng")
        .groupBy("id", "bench_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def strip_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """C4-style corpus-level LINE dedup (Raffel et al. 2020 §2.2 run a
    three-sentence-span variant; the line form is the common production
    shape): a non-empty line occurring >= ``min_count`` times across
    the corpus is removed from every document — except, with
    ``keep_first`` (default), its canonical first occurrence, the one
    with the smallest (id, line_idx). Empty lines are never dedup
    candidates (they are layout, not content). Returns the input
    columns with ``text_col`` rebuilt plus ``n_lines`` /
    ``n_lines_removed``.

    Sits between exact-document dedup (whole text equal) and
    repeated-substring dedup (any >=L-char window): cheaper than
    substrings, finer than documents — the right tool for boilerplate
    that is line-structured (nav menus, cookie banners, signatures).

    Scale shape: lines explode narrow; the duplicate-line table is a
    map-side-combined groupBy on the RAW line (a line repeated 10^9
    times partially aggregates per task — no per-key window anywhere;
    exact grouping, so no hash-collision hazard); the join back is a
    hash join on the line (AQE splits a skewed probe side); reassembly
    groups by document, per-task memory bounded by one document like
    conversation assembly."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    reserved = {"n_lines", "n_lines_removed"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has reserved output column(s) {sorted(reserved)}"
        )
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "line_idx", "line"
            ),
        )
    )
    # group on the RAW line (ADVICE r6: keying duplicate detection on
    # md5 alone lets an adversarially constructed collision delete a
    # non-duplicate line — the q104 oracle groups the raw line, so the
    # exact group matches it by construction). Map-side combine still
    # bounds memory — a line repeated 10^9 times partially aggregates
    # per task. Byte cost of the exact key: the dup-table AGGREGATION
    # exchange now ships one full line text per distinct line per task
    # (vs a 16-byte digest before); the join probe side carried the
    # line either way. That per-distinct-line delta is the price of a
    # collision-proof gate, same call as substr_dedup's exact phase.
    dup = (
        lines.where(F.length("line") > 0)
        .groupBy(F.col("line").alias("_lk"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("id", "line_idx")).alias("_first"),
        )
        .where(F.col("_n") >= min_count)
    )
    keyed = lines.withColumn(
        "_lk",
        F.when(F.length("line") > 0, F.col("line")),
    )
    joined = keyed.join(dup, "_lk", "left")
    is_dup = F.col("_n").isNotNull()
    if keep_first:
        is_canon = (F.col("_first.id") == F.col("id")) & (
            F.col("_first.line_idx") == F.col("line_idx")
        )
        drop = is_dup & ~is_canon
    else:
        drop = is_dup
    kept = (
        joined.withColumn("_drop", drop)
        .groupBy("id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct("line_idx", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("_new_text"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_lines_removed"),
        )
    )
    # LEFT join: a NULL-text document emits no lines, so it has no
    # ``kept`` row — it must pass through unchanged (text stays NULL,
    # zero counts), never silently vanish (review r6)
    joined_back = df.join(kept, df[id_col] == kept["id"], "left")
    new_text = F.when(kept["id"].isNotNull(), F.col("_new_text")).otherwise(
        df[text_col]
    )
    out_cols = [
        new_text.alias(text_col) if c == text_col else df[c]
        for c in df.columns
    ]
    return joined_back.select(
        *out_cols,
        F.coalesce(kept["n_lines"], F.lit(0)).alias("n_lines"),
        F.coalesce(kept["n_lines_removed"], F.lit(0)).alias(
            "n_lines_removed"
        ),
    )
