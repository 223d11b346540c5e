"""Text-analysis column builders (JVM-side, codegen'd — zero Python).
This module is the one implementation of the text primitives every
gate, operator and job calls: the canonical clean (``clean_text``, run
by gates q18 and q64; ``fingerprint``, q22), the token split
(``tokens``), the stopword list and the quality rule (``stop_count``,
``keeps_quality``: q77, q101 and jobs/build_training_set.py), lang-ID
(``langid_pred``, q21), plus token counting, quality scoring and
rolling-hash fingerprinting. The gate wrappers live in
queries/textops.py and queries/textops2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htrtf_spark import charset as cs

STOPWORDS = ["the", "a", "and", "of", "for", "with", "over"]


def clean_text(col) -> F.Column:
    """Charset projection + whitespace canonicalization (the SQL-
    expressible core of the extraction spec, ``oracle._finish``) as a
    JVM expression. Whitespace is the spec's explicit class, not Java's
    ``\\s``, which misses U+0085, U+001C..U+001F and the Unicode spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(c, cs.CHARSET_FILTER_PATTERN, ""), cs.WS_RUN_PATTERN, " "
        )
    )


def tokens(col) -> F.Column:
    """The space-split token array (empty pieces dropped)."""
    return F.filter(F.split(col, " "), lambda x: x != F.lit(""))


def token_count(col) -> F.Column:
    return F.size(tokens(col))


def stop_count(col) -> F.Column:
    """Number of tokens that are STOPWORDS."""
    return F.size(F.filter(tokens(col), lambda x: x.isin(*STOPWORDS)))


def stop_ratio_bp(n_stop, n_tokens) -> F.Column:
    """ROUND(n_stop * 10^4 / n_tokens) as BIGINT; NULL when n_tokens is 0."""
    return F.round(n_stop * 10000.0 / n_tokens).cast("long")


def keeps_quality(n_tokens, n_stop, min_tokens: int, max_stop_ratio_bp: int) -> F.Column:
    """The training-set quality rule over token and stopword counts. A
    token-less row has a NULL ratio, so it is dropped even at
    ``min_tokens=0``."""
    return (n_tokens >= min_tokens) & (
        stop_ratio_bp(n_stop, n_tokens) <= max_stop_ratio_bp
    )


def bpe_ish_token_count(col) -> F.Column:
    """Sub-word-ish token proxy: split on whitespace AND on
    letter/digit/punct boundaries (a regex stand-in for BPE granularity
    when no tokenizer model is shippable)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(
        F.regexp_replace(c, r"([0-9]+|[^\sA-Za-z0-9]+)", r" $1 "), r"\s+"
    )
    return F.size(F.filter(pieces, lambda x: x != F.lit("")))


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality feature table (length / punct / stopword /
    type-token ratios — the boilerplate-ish quality heuristics a
    training-data pipeline filters on)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_alnum = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.round(n_alnum * F.lit(10000.0) / F.greatest(n_chars, F.lit(1)))
        .cast("long")
        .alias("alnum_ratio_bp"),
        F.round(n_punct * F.lit(10000.0) / F.greatest(n_chars, F.lit(1)))
        .cast("long")
        .alias("punct_ratio_bp"),
        # 0, not NULL, for a token-less document
        stop_ratio_bp(stop_count(c), F.greatest(n_tok, F.lit(1))).alias("stop_ratio_bp"),
        F.round(
            F.length(c) * F.lit(100.0) / F.greatest(n_tok, F.lit(1))
        ).cast("long").alias("avg_token_len_cp"),
    )


def langid_pred(col) -> F.Column:
    """Marker-token language heuristic (deterministic, both-engine
    expressible; the operator shape matters, not linguistic accuracy)."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    return (
        F.when(padded.contains(" the ") | padded.contains(" a "), "en")
        .when(padded.contains(" der ") | padded.contains(" und "), "de")
        .when(padded.contains(" le ") | padded.contains(" et "), "fr")
        .otherwise("unknown")
    )


def text_density_bp(col) -> F.Column:
    """Text density of markup-bearing text in basis points: length of the
    tag-stripped, whitespace-canonicalized content over the raw length —
    the classic boilerplate heuristic (low density = chrome/markup-heavy;
    the north star's text-density counterpart of link density). JVM-only
    expression; NULL raw or empty raw yields NULL."""
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(col, cs.TAG_STRIP_PATTERN, " "), cs.WS_RUN_PATTERN, " "
        )
    )
    return F.when(
        F.length(col) > 0,
        F.round(F.length(stripped) * 10000.0 / F.length(col)).cast("long"),
    )


def fingerprint(col) -> F.Column:
    """Canonical-text digest (exact-dedup / lineage key)."""
    return F.md5(clean_text(col))


def rolling_fingerprints(
    df: DataFrame, id_col: str, text_col: str, window_tokens: int = 16, stride: int = 8
) -> DataFrame:
    """Rolling window fingerprints: md5 per token window (the
    'document fingerprinting' primitive for partial-overlap detection).
    Returns (id, win_idx, fp)."""
    toks = tokens(text_col)
    # zero-token docs emit NO windows: md5('') rows would make every
    # empty doc "overlap" every other one
    df = df.filter(F.size(toks) > 0)
    n_win = F.greatest(
        F.ceil((F.size(toks) - window_tokens) / stride + 1).cast("int"), F.lit(1)
    )
    wins = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.struct(
            i.alias("win_idx"),
            F.md5(
                F.array_join(F.slice(toks, i * stride + 1, window_tokens), " ")
            ).alias("fp"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(wins).alias("w")
    ).select("id", F.col("w.win_idx").alias("win_idx"), F.col("w.fp").alias("fp"))


def _bp_div(num, den) -> F.Column:
    """FLOOR((num*10000)/den) in exact long arithmetic — engine-portable
    (DuckDB restates it as (num*10000)//den; ROUND would differ at
    half-bp boundaries between HALF_UP and HALF_EVEN engines)."""
    t = num.cast("long") * F.lit(10000).cast("long")
    return ((t - F.pmod(t, den.cast("long"))) / den.cast("long")).cast("long")


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 "repetitious text" rules), per document:

    - ``top_word_ratio_bp``: occurrences of the most frequent word /
      total words (ties: the highest ratio — identical either way),
    - ``top_bigram_ratio_bp``: same for word 2-grams WITH repeats (not
      the distinct shingles dedup uses — repetition is the signal),
    - ``dup_line_frac_bp``: fraction of newline-separated lines that
      are duplicates of an earlier identical line.

    All ratios are FLOOR'd integer basis points (exact long arithmetic,
    engine-portable — no double rounding); docs
    with no words (or < 2 words / no lines) report 0 for the affected
    ratio. Narrow projections only — JVM higher-order functions, no
    shuffle, no Python; composes with ``stratified_sample`` to drop
    high-repetition strata the way the Gopher rules do."""
    w, bigrams, lines = F.col("w"), F.col("bigrams"), F.col("lines")

    def top_ratio(arr):
        # max count of any value / size — via sort + adjacent run-length
        sorted_ = F.array_sort(arr)
        runs = F.aggregate(
            sorted_,
            F.struct(
                F.lit(0).alias("best"), F.lit(0).alias("run"),
                F.lit(None).cast("string").alias("prev"),
            ),
            lambda acc, x: F.struct(
                F.greatest(
                    acc["best"],
                    F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(1),
                ).alias("best"),
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                x.alias("prev"),
            ),
            lambda acc: acc["best"],
        )
        return F.when(
            F.size(arr) > 0, _bp_div(runs, F.size(arr))
        ).otherwise(F.lit(0).cast("long"))

    # tokens, then bigrams, are projected as columns before use: inlined,
    # the split would run again for every bigram and every reference
    words = df.select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("w"),
        F.filter(
            F.split(F.col(text_col), "\n"), lambda x: x != F.lit("")
        ).alias("lines"),
    )
    with_bigrams = words.select(
        "id", "w", "lines",
        F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("bigrams"),
    )

    dup_lines = F.size(lines) - F.size(F.array_distinct(lines))
    dup_frac = F.when(
        F.size(lines) > 0, _bp_div(dup_lines, F.size(lines))
    ).otherwise(F.lit(0).cast("long"))

    return with_bigrams.select(
        "id",
        F.size(w).cast("long").alias("n_words"),
        top_ratio(w).alias("top_word_ratio_bp"),
        top_ratio(bigrams).alias("top_bigram_ratio_bp"),
        dup_frac.alias("dup_line_frac_bp"),
    )


# ------------------------------------------------------------- URLs
# Link analysis — the web-pipeline hygiene staple the quality/Gopher
# rules compose with (a link farm has high link_density_bp; domain
# frequency drives allowlist/blocklist decisions). Patterns use fully
# EXPLICIT ASCII character classes (no \s, no \w — those differ between
# Java, RE2, and Python; memory: '\\s' is not portable), so the same
# pattern string drives Spark and the DuckDB oracle.

# scheme spelled as explicit case classes (no case-insensitive flag —
# flag syntax differs across engines; review r6: a lowercase-only
# scheme let HTTPS:// link farms bypass the density guard entirely)
URL_PATTERN = (
    r"[Hh][Tt][Tt][Pp][Ss]?://[A-Za-z0-9.-]+(?::[0-9]+)?"
    r"(?:/[A-Za-z0-9._~%/?#=&+-]*)?"
)
#: group 1 = the host, stopping at port / path / query
URL_HOST_PATTERN = r"[Hh][Tt][Tt][Pp][Ss]?://([A-Za-z0-9.-]+)"


def extract_urls(col) -> F.Column:
    """Array of URL matches (leftmost non-overlapping)."""
    return F.regexp_extract_all(col, F.lit(URL_PATTERN), F.lit(0))


def url_domain(url_col) -> F.Column:
    """Lower-cased host of one URL string."""
    return F.lower(F.regexp_extract(url_col, URL_HOST_PATTERN, 1))


def url_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document link profile: (id, n_urls, n_domains,
    link_density_bp) where link_density_bp = floor(1e4 · urls/tokens)
    (0 for token-less docs). One narrow projection — no shuffle, no
    UDF; composes with quality_features/repetition_stats as another
    hygiene column block."""
    urls = extract_urls(F.col(text_col))
    domains = F.array_distinct(F.transform(urls, url_domain))
    toks = token_count(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(urls).cast("long").alias("n_urls"),
        F.size(domains).cast("long").alias("n_domains"),
        F.when(toks > 0, _bp_div(F.size(urls), toks))
        .otherwise(F.lit(0).cast("long"))
        .alias("link_density_bp"),
    )


def top_domains(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Corpus-level domain frequency: (domain, doc_freq, n_urls) —
    doc_freq counts documents containing the domain at least once,
    n_urls counts every URL occurrence — top-k by (doc_freq, n_urls,
    domain) totally tie-broken.

    Scale shape: explode only the per-doc DISTINCT domain list for
    doc_freq and carry the per-doc occurrence count alongside, so the
    shuffled rows are O(docs × distinct-domains-per-doc), map-side
    combined into one TakeOrderedAndProject — no global window, no
    second pass over the text."""
    urls = extract_urls(F.col(text_col))
    # extract each URL's domain ONCE (O(U) regex calls), then count
    # occurrences by plain string equality — the nested form that
    # re-ran url_domain per (domain, url) pair was O(D·U) regex
    # executions on exactly the link-farm rows this operator targets
    per_doc = df.select(
        F.col(id_col).alias("id"),
        F.transform(urls, url_domain).alias("_doms"),
    ).select(
        "id",
        F.explode(
            F.transform(
                F.array_distinct("_doms"),
                lambda d: F.struct(
                    d.alias("domain"),
                    F.size(
                        F.filter("_doms", lambda x: x == d)
                    ).cast("long").alias("occ"),
                ),
            )
        ).alias("d"),
    ).select("id", "d.domain", "d.occ")
    return (
        per_doc.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("occ").alias("n_urls"),
        )
        .orderBy(
            F.col("doc_freq").desc(), F.col("n_urls").desc(), "domain"
        )
        .limit(int(k))
    )


def tfidf_topk_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the keyword-extraction /
    relevance primitive (contamination triage, topic tagging):
    (id, term, tf, df_docs, score) with
    ``score = tf * floor(ln(N / df_docs) * 1e6)`` — the idf is
    quantized to an integer micro-idf immediately after the single
    libm call (the q100 engine-parity recipe), so everything the
    ranking compares is exact BIGINT.

    ``n_docs`` overrides N (pass a known corpus size to skip the count
    action); documents with no tokens emit nothing.

    Scale shape: tokens explode narrow; tf is a map-side-combined
    (id, term) groupBy; df_docs a map-side-combined term groupBy of the
    DISTINCT (id, term) table (already produced by the tf agg — reused,
    not recomputed); top-k is a per-DOCUMENT window (bounded by one
    doc's vocabulary, never global)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_docs is not None and int(n_docs) < 1:
        raise ValueError(f"n_docs must be >= 1, got {n_docs}")
    n = int(n_docs) if n_docs is not None else df.count()
    toks = tokens(text_col)
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    idf_micro = F.floor(
        F.log(F.lit(float(n)) / F.col("df_docs").cast("double")) * 1000000
    ).cast("long")
    scored = tf.join(dfreq, "term").select(
        "id",
        "term",
        "tf",
        "df_docs",
        (F.col("tf") * idf_micro).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_matches: bool = False,
) -> DataFrame:
    """Domain blocklist — the allow/deny companion of ``top_domains``:
    drop (or, with ``keep_matches``, keep only) documents containing at
    least one URL whose domain IS a blocked entry or a SUBDOMAIN of one
    (entry "spam.com" blocks "spam.com" and "x.spam.com", never
    "notspam.com"). One narrow filter, blocklist inlined as literals —
    no join, fully pushdown-friendly; for 10^5+-entry lists broadcast a
    suffix table instead."""
    if not blocked:
        raise ValueError("blocked list must be non-empty")
    norm = sorted({b.lower().strip(".") for b in blocked})

    def _is_blocked(d):
        # strip trailing dots: a FQDN host "spam.com." is the same
        # domain as "spam.com" to DNS — without this a trailing dot
        # bypasses the blocklist (review r6)
        d = F.regexp_replace(d, "[.]+$", "")
        cond = F.lit(False)
        for b in norm:
            cond = cond | (d == F.lit(b)) | d.endswith("." + b)
        return cond

    doms = F.transform(extract_urls(F.col(text_col)), url_domain)
    # NULL text -> NULL array -> NULL exists(); coalesce to false so a
    # URL-less NULL document is "not blocked", never silently dropped
    # from BOTH modes (review r6)
    hit = F.coalesce(F.exists(doms, _is_blocked), F.lit(False))
    return df.filter(hit if keep_matches else ~hit)
