"""Unit tests for the operator library: dedup (exact / jaccard / minhash-LSH
/ simhash), similarity search (brute force / LSH / IVF), text stats,
multimodal plumbing, CTC array ops."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from htrtf_spark.operators import ctc, dedup, multimodal, simsearch, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different text about spark shuffles and partitions here"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "tiny"),
        (5, "spark shuffles and partitions here with completely different text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# Pure-python restatement of the near-dup spec: word trigram shingles,
# the stop-shingle cap, Jaccard basis points and md5 MinHash banding.
def _py_shingles(text: str) -> set[str]:
    ws = [w for w in text.split(" ") if w]
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def _py_capped(texts: dict[int, str], cap: int | None) -> dict[int, set[str]]:
    """Each document's shingles minus the stop list (df > cap); documents
    left with no shingle are absent, as in the posting table."""
    from collections import Counter

    sh = {d: _py_shingles(t) for d, t in texts.items()}
    freq = Counter(g for s in sh.values() for g in s)
    kept = {
        d: {g for g in s if cap is None or freq[g] <= cap} for d, s in sh.items()
    }
    return {d: s for d, s in kept.items() if s}


def _py_bands(ngs: set[str]) -> set[tuple[int, str]]:
    import hashlib

    if not ngs:
        return set()
    sig = [
        min(hashlib.md5(f"{i}:{g}".encode()).hexdigest() for g in ngs)
        for i in range(dedup.DEFAULT_MINHASHES)
    ]
    w = dedup.DEFAULT_BAND_WIDTH
    return {
        (b, hashlib.md5("|".join(sig[w * b : w * b + w]).encode()).hexdigest())
        for b in range(dedup.DEFAULT_MINHASHES // w)
    }


def _py_jaccard_bp(a: set[str], b: set[str]) -> int:
    """round-half-up(10000 · |a ∩ b| / |a ∪ b|) in integer arithmetic."""
    inter, union = len(a & b), len(a | b)
    return (inter * 20000 + union) // (2 * union)


def test_exact_duplicates(spark, docs):
    out = {r["fp"]: (r["rep_id"], r["n_copies"]) for r in dedup.exact_duplicates(docs, "doc_id", "text").collect()}
    # 0 and 3 share a fingerprint
    assert sorted(v for v in out.values()) .count((0, 2)) == 1
    assert sum(n for _, n in out.values()) == 6


def test_jaccard_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_bp"]
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", min_jaccard_bp=5000).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 10000  # exact dup
    assert (0, 1) in pairs and 5000 <= pairs[(0, 1)] < 10000  # near dup
    assert (1, 3) in pairs
    assert all(a < b for a, b in pairs)


def test_minhash_lsh_finds_neardups(spark, docs):
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", min_jaccard_bp=None).collect()
    }
    assert (0, 3) in cand  # exact dup always collides on every band
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard_bp"]
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", min_jaccard_bp=5000).collect()
    }
    assert verified[(0, 3)] == 10000


def test_simhash(spark, docs):
    sh = {r["id"]: r["simhash"] for r in dedup.simhash64(docs, "doc_id", "text").collect()}
    assert sh[0] == sh[3]  # identical text → identical simhash
    mask = (1 << 64) - 1  # simhash is a signed long; hamming needs raw bits
    ham01 = bin((sh[0] ^ sh[1]) & mask).count("1")
    ham02 = bin((sh[0] ^ sh[2]) & mask).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs[(0, 3)] == 0


def test_stop_shingle_cap(spark, docs):
    # with an absurdly low doc-freq cap every shingle is dropped
    g = dedup.shingle_table(docs, "doc_id", "text", max_doc_freq=0)
    assert g.count() == 0


@pytest.fixture(scope="module")
def vecs(spark):
    rs = np.random.RandomState(7)
    base = rs.randn(40, 16).astype(np.float64)
    base[1] = base[0] * 1.01 + 0.001  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, vecs):
    q = vecs.filter("vec_id = 0")
    top = simsearch.brute_force_topk(vecs, "vec_id", "embedding", q, k=5).collect()
    assert top[0]["id"] == 0 and top[0]["sim_bp"] == 10000  # self
    assert top[1]["id"] == 1  # planted near-dup
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]


def test_lsh_topk_overlaps_bruteforce(spark, vecs):
    q = vecs.filter("vec_id = 0")
    exact = [r["id"] for r in simsearch.brute_force_topk(vecs, "vec_id", "embedding", q, k=5).collect()]
    approx = [r["id"] for r in simsearch.lsh_topk(vecs, "vec_id", "embedding", q, k=5, bits=4).collect()]
    # the query itself and its planted near-dup land in the query's bucket
    assert 0 in approx
    assert len(set(exact) & set(approx)) >= 2


def test_ivf_topk(spark, vecs):
    q = vecs.filter("vec_id = 0")
    res = simsearch.ivf_topk(vecs, "vec_id", "embedding", q, k=5, n_cells=8, nprobe=8)
    ids = [r["id"] for r in res.collect()]
    assert ids[0] == 0  # probing all cells == exact
    assert 1 in ids


def test_quality_features(spark, docs):
    qf = {r["id"]: r for r in textstats.quality_features(docs, "doc_id", "text").collect()}
    assert qf[4]["n_tokens"] == 1
    assert qf[0]["n_tokens"] == 13
    assert qf[0]["stop_ratio_bp"] > 0
    assert qf[0]["alnum_ratio_bp"] + qf[0]["punct_ratio_bp"] <= 10000


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello, world! x2",)], "t string")
    n = df.select(textstats.bpe_ish_token_count("t").alias("n")).collect()[0]["n"]
    # hello , world ! x 2  → 6 pieces
    assert n == 6


def test_rolling_fingerprints(spark, docs):
    fp = textstats.rolling_fingerprints(docs, "doc_id", "text", window_tokens=4, stride=2)
    rows = fp.filter("id = 0").collect()
    assert len(rows) >= 4
    assert len({r["fp"] for r in rows}) == len(rows)  # distinct windows
    # identical docs produce identical fingerprint sets
    a = {(r["win_idx"], r["fp"]) for r in fp.filter("id = 0").collect()}
    b = {(r["win_idx"], r["fp"]) for r in fp.filter("id = 3").collect()}
    assert a == b


def test_clean_text_is_the_oracle_finish_on_unicode_whitespace(spark):
    """textstats.clean_text is the JVM form of the extraction spec's
    charset projection + whitespace canonicalization (oracle._finish),
    and fingerprint is the md5 of it — on every whitespace class Java's
    \\s misses as well as the ASCII ones."""
    import hashlib

    from htrtf_spark import oracle

    probes = [
        "a\u00a0b", "a\u001cb", "a\u0085b", "a\u2028b", "a\u3000b",
        " \t\u3000 mixed \u0085\u00a0\u2028 run\u001c\u001f ",
        "\u3000\u2028leading and trailing\u0085\u00a0",
        "x\r\n\x0by  z", "plain text", "",
    ]
    df = spark.createDataFrame(list(enumerate(probes)), "i int, s string")
    rows = df.select(
        "i",
        textstats.clean_text("s").alias("clean"),
        textstats.fingerprint("s").alias("fp"),
    ).collect()
    assert len(rows) == len(probes)
    for r in rows:
        want = oracle._finish(probes[r["i"]])
        assert r["clean"] == want, (probes[r["i"]], r["clean"], want)
        assert r["fp"] == hashlib.md5(want.encode("utf-8")).hexdigest()


def test_one_home_per_text_primitive():
    """Structural guard: under htrtf_spark/ and jobs/, the space-split
    token filter, a stopword list literal and a JVM regexp_replace on the
    charset-projection pattern are spelled only in operators/textstats.py;
    queries/vectors.py defines no dot product of its own; jobs/ import
    nothing from htrtf_spark.queries (a gate module)."""
    import ast
    from pathlib import Path

    root = Path(textstats.__file__).resolve().parents[2]
    stop = set(textstats.STOPWORDS)

    def _name(node):
        return getattr(node, "id", None) or getattr(node, "attr", None)

    def _f_call(node, fn):
        f = node.func
        return isinstance(f, ast.Attribute) and f.attr == fn and _name(f.value) == "F"

    found = []
    files = sorted((root / "htrtf_spark").rglob("*.py")) + sorted((root / "jobs").rglob("*.py"))
    for path in files:
        tree = ast.parse(path.read_text())
        # names bound to the pattern itself (e.g. _NEG = cs.CHARSET_FILTER_PATTERN)
        pattern = {"CHARSET_FILTER_PATTERN"} | {
            tgt.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign) and _name(node.value) == "CHARSET_FILTER_PATTERN"
            for tgt in node.targets
            if isinstance(tgt, ast.Name)
        }
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _f_call(node, "split"):
                sep = node.args[1] if len(node.args) > 1 else None
                if isinstance(sep, ast.Constant) and sep.value == " ":
                    found.append(("token split", rel))
            if isinstance(node, ast.Call) and _f_call(node, "regexp_replace"):
                if any(_name(a) in pattern for a in node.args):
                    found.append(("charset clean", rel))
            if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
                words = {e.value for e in node.elts if isinstance(e, ast.Constant)}
                if len(words & stop) >= 3:
                    found.append(("stopword list", rel))
            if rel.startswith("jobs/") and isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = [node.module or ""] if isinstance(node, ast.ImportFrom) else [
                    a.name for a in node.names
                ]
                if any(m.startswith("htrtf_spark.queries") for m in mods):
                    found.append(("gate import", rel))
            if rel == "htrtf_spark/queries/vectors.py":
                if isinstance(node, ast.FunctionDef) and "dot" in node.name:
                    found.append(("dot product", rel))
                if isinstance(node, ast.Call) and _f_call(node, "zip_with"):
                    found.append(("dot product", rel))
    assert sorted(set(found)) == [
        ("charset clean", "htrtf_spark/operators/textstats.py"),
        ("stopword list", "htrtf_spark/operators/textstats.py"),
        ("token split", "htrtf_spark/operators/textstats.py"),
    ]


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, n=30, seed=1)
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 30
    assert all(r["decode_ok"] for r in feats)
    assert all(len(r["feat"]) == multimodal.FEATURE_DIM for r in feats)
    # deterministic: same payload → same features
    again = multimodal.extract_features(media, fake=True).collect()
    assert {r["media_id"]: r["feat_norm_bp"] for r in feats} == {
        r["media_id"]: r["feat_norm_bp"] for r in again
    }
    stats = multimodal.media_size_stats(media).collect()
    assert {r["kind"] for r in stats} == {"image", "audio", "video"}
    assert sum(r["n"] for r in stats) == 30


def test_multimodal_real_decode_rejects_bad_payload():
    # real path: malformed bytes are a per-payload DATA error (ValueError),
    # mapped to decode_ok=False by the stage — not a config error anymore
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG", fake=False)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"not a png at all", fake=False)


def test_ctc_array_ops():
    assert ctc.greedy_decode(ctc.encode_frames("hello world")) == "hello world"
    assert ctc.greedy_decode(ctc.encode_frames("aa  bb")) == "aa bb"
    assert ctc.greedy_decode(np.array([], dtype=np.int64)) == ""
    # out-of-charset chars are dropped at encode (charset projection)
    assert ctc.greedy_decode(ctc.encode_frames("a€b")) == "ab"
    # explicit stream with blanks separating repeats
    import htrtf_spark.charset as cs

    c2i = cs.char_to_id()
    ids = np.array([c2i["x"], c2i["x"], cs.BLANK_ID, c2i["x"]])
    assert ctc.greedy_decode(ids) == "xx"


def test_block_matmul_near_pairs(spark):
    """BLAS block product equals the per-pair HOF formulation, handles
    zero vectors (NaN cosine → excluded) and emits only id_a < id_b."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    rows.append((40, [0.0] * 8))  # zero vector: cosine undefined → never paired
    rows.append((41, rows[0][1][:]))  # exact dup of vec 0 → sim_bp 10000
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["id_a"], r["id_b"]): r["sim_bp"]
        for r in simsearch.block_matmul_near_pairs(
            vecs, "vec_id", "embedding", min_sim_bp=5000
        ).collect()
    }

    # reference: plain python left-fold cosine
    def cos_bp(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return None
        return math.floor(sum(x * y for x, y in zip(a, b)) / (na * nb) * 10000 + 0.5)

    want = {}
    for i, (ida, va) in enumerate(rows):
        for idb, vb in rows[i + 1:]:
            bp = cos_bp(va, vb)
            if bp is not None and bp >= 5000:
                want[(ida, idb)] = bp

    assert got == want
    assert got[(0, 41)] == 10000
    assert all(a < b for a, b in got)


def test_binding_cap_matches_python_restatement(spark, docs):
    """At a BINDING stop-shingle cap (max_doc_freq=2 drops the trigrams
    docs 0, 1 and 3 share), jaccard_pairs and minhash_lsh_pairs in both
    modes equal the pure-python restatement: shingles minus the stop
    list, Jaccard basis points, md5 MinHash banding."""
    cap = 2
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    kept = _py_capped(texts, cap)
    assert kept != _py_capped(texts, None)  # the cap binds
    overlap = {
        (a, b): _py_jaccard_bp(kept[a], kept[b])
        for a in kept for b in kept if a < b and kept[a] & kept[b]
    }
    want_jac = {p: bp for p, bp in overlap.items() if bp >= 1}
    bands = {d: _py_bands(s) for d, s in kept.items()}
    want_cand = {
        (a, b) for a in kept for b in kept if a < b and bands[a] & bands[b]
    }
    want_ver = {p: bp for p, bp in want_jac.items() if p in want_cand}
    assert (0, 1) not in want_jac and want_jac[(0, 3)] == 10000

    def pairs(df, col=None):
        rows = df.collect()
        if col is None:
            return {(r["id_a"], r["id_b"]) for r in rows}
        return {(r["id_a"], r["id_b"]): r[col] for r in rows}

    try:
        assert pairs(
            dedup.jaccard_pairs(
                docs, "doc_id", "text", min_jaccard_bp=1, max_doc_freq=cap
            ), "jaccard_bp",
        ) == want_jac
        assert pairs(
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", min_jaccard_bp=None, max_doc_freq=cap
            )
        ) == want_cand
        assert pairs(
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", min_jaccard_bp=1, max_doc_freq=cap
            ), "jaccard_bp",
        ) == want_ver
    finally:
        dedup.release_caches()


def test_dedup_plans_build_without_jobs(spark, docs):
    """Building a near-dup plan launches no Spark job: the stop-shingle
    cap is a lazy broadcast anti join that runs inside the terminal
    action, never a stop list collected while the plan is built."""
    sc = spark.sparkContext
    corpus = docs.filter("doc_id < 3")
    new = docs.filter("doc_id >= 3")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "bench_id long, text string"
    )
    builders = {
        "jaccard_pairs": lambda: dedup.jaccard_pairs(docs, "doc_id", "text"),
        "minhash_signatures": lambda: dedup.minhash_signatures(
            docs, "doc_id", "text", max_doc_freq=2
        ),
        "minhash_lsh_pairs (candidates)": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", min_jaccard_bp=None
        ),
        "minhash_lsh_pairs (verified)": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text"
        ),
        "shingle_table": lambda: dedup.shingle_table(
            docs, "doc_id", "text", max_doc_freq=2
        ),
        "incremental_dedup_flags": lambda: dedup.incremental_dedup_flags(
            new, corpus, "doc_id", "text"
        ),
        "benchmark_contamination": lambda: dedup.benchmark_contamination(
            docs, bench, id_col="doc_id", bench_id_col="bench_id",
            max_doc_freq=2,
        ),
    }
    launched = {}
    try:
        for name, build in builders.items():
            group = f"dedup-build-{len(launched)}"
            sc.setJobGroup(group, name)
            build()
            launched[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        dedup.release_caches()
    assert launched == {name: [] for name in builders}


def test_block_matmul_topk_exact_across_partitions(spark):
    """Two-phase top-k (local per-batch top-k + window merge) is exact:
    matches per-query brute force on a many-partition corpus."""
    import math
    import random

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(60)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(12)

    got = simsearch.block_matmul_topk(
        vecs, "vec_id", "embedding", query_ids=[0, 1], k=4
    ).collect()

    def cos_bp(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(sum(x * y for x, y in zip(a, b)) / (na * nb) * 10000 + 0.5)

    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"], r["sim_bp"]))
    for qid in (0, 1):
        qv = rows[qid][1]
        want = sorted(
            ((cos_bp(v, qv), -i) for i, v in rows if i != qid), reverse=True
        )[:4]
        want = [(-neg_i, bp) for bp, neg_i in want]
        have = [(i, bp) for _rank, i, bp in sorted(by_q[qid])]
        assert have == want, qid


def test_block_matmul_near_pairs_blocked_exact(spark, monkeypatch):
    """Scored as 3 hash blocks, one left row per slice, the near pairs
    equal the single-block rows: the block pairs partition the pair
    space, so the union is exact and duplicate-free."""
    import random

    rng = random.Random(99)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(42)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return sorted(
            (r["id_a"], r["id_b"], r["sim_bp"])
            for r in simsearch.block_matmul_near_pairs(
                vecs, "vec_id", "embedding", min_sim_bp=0
            ).collect()
        )

    single = run()
    monkeypatch.setattr(simsearch, "BLOCK_ROWS", 15)  # 42 ids → 3 blocks
    monkeypatch.setattr(simsearch, "SLICE_ENTRIES", 1)  # 1 row per slice
    blocked = run()
    assert blocked == single and len(single) > 0


def test_block_matmul_near_pairs_uses_every_core(spark):
    """A corpus far below BLOCK_ROWS still scores on at least
    defaultParallelism block-pair tasks, and its pairs equal the
    single-block result."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    near = simsearch.block_matmul_near_pairs(
        vecs.coalesce(1), "vec_id", "embedding", min_sim_bp=-10000
    )
    got = near.select("*", F.spark_partition_id().alias("p")).collect()
    assert len({r["p"] for r in got}) >= spark.sparkContext.defaultParallelism

    v = np.array([vec for _i, vec in rows])
    ((_lo, bp),) = simsearch._sim_bp(v, v, v.size * len(v))  # one block
    i, j = np.triu_indices(len(rows), k=1)
    single = sorted(zip(i.tolist(), j.tolist(), bp[i, j].astype(np.int64).tolist()))
    assert sorted((r["id_a"], r["id_b"], r["sim_bp"]) for r in got) == single


def test_simsearch_plans_build_without_jobs(spark, vecs):
    """Building a similarity-search plan launches no Spark job: query
    vectors, centroids and the near-pairs block count are gathered
    inside the plan, and nothing is collected or written while it is
    built."""
    sc = spark.sparkContext
    q = vecs.filter("vec_id = 0")
    builders = {
        "brute_force_topk": lambda: simsearch.brute_force_topk(
            vecs, "vec_id", "embedding", q
        ),
        "lsh_topk": lambda: simsearch.lsh_topk(vecs, "vec_id", "embedding", q),
        "ivf_topk": lambda: simsearch.ivf_topk(vecs, "vec_id", "embedding", q),
        "block_matmul_topk": lambda: simsearch.block_matmul_topk(
            vecs, "vec_id", "embedding", query_ids=[0, 1]
        ),
        "block_matmul_near_pairs": lambda: simsearch.block_matmul_near_pairs(
            vecs, "vec_id", "embedding", min_sim_bp=5000
        ),
        "semantic_dedup_flags": lambda: simsearch.semantic_dedup_flags(
            vecs, "vec_id", "embedding", vecs.filter("vec_id < 4")
        ),
    }
    launched = {}
    try:
        for name, build in builders.items():
            group = f"simsearch-build-{len(launched)}"
            sc.setJobGroup(group, name)
            build()
            launched[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert launched == {name: [] for name in builders}


def test_cell_ties_go_to_the_lower_cell(spark):
    """A vector equidistant from two centroids is assigned the lower
    cell, and a query equidistant from two centroids probes the lower
    cell (ivf_topk with nprobe=1)."""
    from pyspark.sql import functions as F

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.1]),
            (3, [0.1, 2.0]), (4, [1.0, 1.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = simsearch.centroid_row(vecs.filter("vec_id < 2"), "vec_id", "embedding")
    cell = simsearch.assign_cells(F.col("embedding"), F.col("cents"))
    got = {
        r["vec_id"]: r["cell"]
        for r in vecs.crossJoin(cents).select("vec_id", cell.alias("cell")).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}
    q = spark.createDataFrame([([1.0, 1.0],)], "embedding array<double>")
    top = simsearch.ivf_topk(vecs, "vec_id", "embedding", q, n_cells=2, nprobe=1)
    assert sorted(r["id"] for r in top.collect()) == [0, 2, 4]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A tiny scale-factor directory: the embeddings and documents
    tables that the vector gates and q95 read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sf")
    emb = np.random.RandomState(11).randn(60, 8).astype(np.float32)
    emb[5] = emb[3]  # an exact duplicate: q29 and q94 have a hit
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(60), pa.int64()),
            "embedding": pa.array([list(map(float, r)) for r in emb],
                                  pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(60)], pa.int32()),
        }),
        d / "embeddings.parquet",
    )
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(4), pa.int64()),
            "text": ["a a a b", "x y x y", "l1\nl2\nl1", ""],
        }),
        d / "documents.parquet",
    )
    return str(d)


def test_near_pairs_gate_leaves_no_temp_dir(spark, sf_dir, tmp_path, monkeypatch):
    """q29 stages nothing on disk: no htrtf_blockmm_* directory is left
    in the temp directory after it runs."""
    import tempfile

    from htrtf_spark.queries.vectors import q29_near_pairs

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert q29_near_pairs(spark, sf_dir).count() > 0
    assert list(tmp_path.glob("htrtf_blockmm_*")) == []


def _per_element_faults(plan) -> list[str]:
    """Optimized-plan shapes that evaluate a per-row expression once per
    array element: a higher-order function in a Project directly above
    a Generate, and a lambda body that re-splits a column."""

    def lambda_bodies(s):
        start = s.find("lambdafunction(")
        while start >= 0:
            depth = 0
            for end in range(start + len("lambdafunction"), len(s)):
                depth += {"(": 1, ")": -1}.get(s[end], 0)
                if depth == 0:
                    break
            yield s[start:end + 1]
            start = s.find("lambdafunction(", start + 1)

    faults = []

    def walk(node):
        kids = [node.children().apply(i) for i in range(node.children().size())]
        exprs = node.expressions().toString()
        if (
            node.nodeName() == "Project"
            and "lambdafunction(" in exprs
            and any(k.nodeName() == "Generate" for k in kids)
        ):
            faults.append("higher-order function above Generate")
        if any("split(" in b or "regexp_" in b for b in lambda_bodies(exprs)):
            faults.append(f"lambda re-splits a column in {node.nodeName()}")
        for k in kids:
            walk(k)

    walk(plan)
    return faults


def test_hot_expressions_run_once_per_row(spark, vecs, docs, sf_dir):
    """q56's cell and q95's tokens and bigrams are projected once per
    row, never re-evaluated per array element; the guard itself flags
    both shapes."""
    from pyspark.sql import functions as F

    from htrtf_spark.queries.relational3 import q56_kmeans_step
    from htrtf_spark.queries.textops2 import q95_repetition_stats

    def faults(df):
        return _per_element_faults(df._jdf.queryExecution().optimizedPlan())

    for gate in (q56_kmeans_step, q95_repetition_stats):
        assert faults(gate(spark, sf_dir)) == [], gate.__name__
    v = F.col("embedding")
    hof_above_generate = vecs.select(
        F.array_max(F.transform(v, lambda x: x * 2)).alias("m"), F.posexplode(v)
    )
    resplit = docs.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda i: F.element_at(F.split("text", " "), i),
        )
    )
    assert faults(hof_above_generate) == ["higher-order function above Generate"]
    assert faults(resplit) == ["lambda re-splits a column in Project"]


def test_ann_topk_two_phase_plans(spark, vecs):
    """brute_force/lsh/ivf top-k must compile the candidate ranking to
    TakeOrderedAndProject (per-partition local top-k + driver merge of
    partitions×k rows) — never a global single-partition window sort of
    the scored set. The only Window in the plan runs over exactly k rows
    (above the GlobalLimit)."""
    q = vecs.filter("vec_id = 0")
    for fn, kw in [
        (simsearch.brute_force_topk, {}),
        (simsearch.lsh_topk, {"bits": 4}),
        (simsearch.ivf_topk, {"n_cells": 8, "nprobe": 8}),
    ]:
        df = fn(vecs, "vec_id", "embedding", q, k=5, **kw)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, (fn.__name__, plan)


def test_stop_shingle_cap_default(spark, docs):
    """The df cap is ON by default; when the cap exceeds the corpus size
    it provably changes nothing, and a binding cap drops boilerplate
    shingles from the index."""
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard_bp"]
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", min_jaccard_bp=1).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard_bp"]
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", min_jaccard_bp=1, max_doc_freq=None
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0  # cap ≥ |docs| is a no-op

    # binding cap: "the quick brown" has df=3 (docs 0,1,3) → dropped at cap 2
    g = dedup.shingle_table(docs, "doc_id", "text", max_doc_freq=2)
    assert g.columns == ["id", "ng"]  # the anti join keeps the column order
    assert g.filter("ng = 'the quick brown'").count() == 0
    assert g.count() > 0  # discriminative shingles survive


def test_stop_shingle_stats(spark, docs):
    row = dedup.stop_shingle_stats(docs, "doc_id", "text", max_doc_freq=2).collect()[0]
    assert row["max_df"] == 3
    assert row["n_stop_shingles"] >= 1
    assert row["n_postings_dropped"] >= 3
    assert row["n_shingles"] > row["n_stop_shingles"]


def test_video_frame_sampling(spark):
    media = multimodal.synth_media(spark, n=30, seed=1)
    frames = multimodal.sample_frames(media, stride_ms=200, max_frames=64)
    rows = frames.collect()
    vids = {r["media_id"]: r["duration_ms"]
            for r in media.filter("kind='video'").collect()}
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["media_id"], []).append(r)
    assert sorted(by_vid) == sorted(vids)
    for mid, frs in by_vid.items():
        n = min(-(-vids[mid] // 200), 64)
        assert [f["frame_idx"] for f in sorted(frs, key=lambda x: x["frame_idx"])] == list(range(n))
        assert all(f["frame_ts_ms"] == f["frame_idx"] * 200 for f in frs)
        assert all(f["frame_ts_ms"] < vids[mid] for f in frs)
    # deterministic digests (same payload+ts → same digest on rerun)
    again = {(r["media_id"], r["frame_idx"]): r["feat_digest"]
             for r in multimodal.sample_frames(media).collect()}
    first = {(r["media_id"], r["frame_idx"]): r["feat_digest"] for r in rows}
    assert first == again
    # distinct payloads → overwhelmingly distinct digests
    assert len(set(first.values())) > 0.99 * len(first)


def test_audio_framing(spark):
    media = multimodal.synth_media(spark, n=30, seed=1)
    rows = {r["media_id"]: r for r in
            multimodal.audio_framing(media, win_ms=25, hop_ms=10).collect()}
    auds = {r["media_id"]: r["duration_ms"]
            for r in media.filter("kind='audio'").collect()}
    assert sorted(rows) == sorted(m for m, d in auds.items() if d >= 25)
    for mid, r in rows.items():
        n = 1 + (auds[mid] - 25) // 10
        assert r["n_frames"] == n
        assert r["first_center_ms"] == 12
        assert r["last_center_ms"] == (n - 1) * 10 + 12
    # sub-window durations are dropped, not zero-row'd
    import pandas as pd

    short = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "kind": ["audio"],
                      "payload": [bytearray(b"x")], "width": [None],
                      "height": [None], "duration_ms": [10]}),
        schema=multimodal.MEDIA_SCHEMA,
    )
    assert multimodal.audio_framing(short).count() == 0


def test_frame_ops_skip_null_durations(spark):
    """NULL duration_ms rows (NaN through Arrow) are skipped, not a
    stage crash."""
    pdf = pd.DataFrame(
        {
            "media_id": [0, 1],
            "kind": ["video", "audio"],
            "payload": [bytearray(b"v"), bytearray(b"a")],
            "width": [None, None],
            "height": [None, None],
            "duration_ms": [None, None],
        }
    )
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    assert multimodal.sample_frames(media).count() == 0
    assert multimodal.audio_framing(media).count() == 0


def test_image_ops_skip_undecodable_only_batch(spark, tmp_path):
    """Every image operator gives 0 rows (not a stage crash) on an input
    whose only image rows do not decode: a corrupt payload and a NULL
    one. The feature extractor keeps both rows with decode_ok=false."""
    from htrtf_spark.operators import augment, convnet, mdlstm, rnn

    media = spark.createDataFrame(
        [(0, "image", bytearray(b"not a png"), 4, 4, None),
         (1, "image", None, 4, 4, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    conv_dir, net_dir = str(tmp_path / "conv"), str(tmp_path / "net")
    convnet.write_params(spark, convnet.synth_params(seed=5), conv_dir)
    convnet.write_params(
        spark, rnn.synth_net_params(seed=5, num_hidden=4, num_classes=4), net_dir
    )
    ops = {
        "image_stats": multimodal.extract_image_stats(media),
        "augment": augment.augment_images(media, seed=3),
        "deterministic_augment": augment.deterministic_augment(media),
        "conv": convnet.featurize_conv(media, conv_dir),
        "net": rnn.net_decode(media, net_dir, list("abc")),
        "mdlstm": mdlstm.mdlstm_features(media, units=2),
    }
    assert {name: df.count() for name, df in ops.items()} == dict.fromkeys(ops, 0)
    for fake in (False, True):
        rows = multimodal.extract_features(media, fake=fake).collect()
        assert sorted((r["media_id"], r["decode_ok"]) for r in rows) == [
            (0, fake), (1, fake)
        ]


def test_one_media_stage_and_one_ctc_collapse():
    """Structural guard: the recognition operators (multimodal, augment,
    convnet, rnn, mdlstm, ctc) import no pandas and call no mapInPandas;
    under htrtf_spark/ only multimodal.map_images and
    multimodal.decode_image call decode_png; the greedy repeat-merge
    (``x[1:]`` against ``x[:-1]``) is spelled once in ctc.py and once in
    extraction.ctc_collapse."""
    import ast
    from pathlib import Path

    pkg = Path(textstats.__file__).resolve().parents[1]
    recognition = {"multimodal", "augment", "convnet", "rnn", "mdlstm", "ctc"}

    def _name(node):
        return getattr(node, "id", None) or getattr(node, "attr", None)

    def _repeat_merge(node):
        if isinstance(node, ast.Compare):
            parts = [node.left, *node.comparators]
        elif isinstance(node, ast.Call):
            parts = node.args
        else:
            return False
        subs = {
            (ast.unparse(p.value), ast.unparse(p.slice))
            for p in parts
            if isinstance(p, ast.Subscript)
        }
        return any((v, "1:") in subs and (v, ":-1") in subs for v, _ in subs)

    found = []
    for path in sorted(pkg.rglob("*.py")):
        mod = path.stem
        for top in ast.parse(path.read_text()).body:
            where = f"{mod}.{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if mod in recognition and path.parent.name == "operators":
                    if isinstance(node, (ast.Import, ast.ImportFrom)):
                        mods = [node.module or ""] if isinstance(node, ast.ImportFrom) else [
                            a.name for a in node.names
                        ]
                        if any(m.split(".")[0] == "pandas" for m in mods):
                            found.append(("pandas import", where))
                    if isinstance(node, ast.Call) and _name(node.func) == "mapInPandas":
                        found.append(("mapInPandas", where))
                if isinstance(node, ast.Call) and _name(node.func) == "decode_png":
                    found.append(("decode_png", where))
                if _repeat_merge(node):
                    found.append(("repeat merge", where))
    assert sorted(found) == [
        ("decode_png", "multimodal.decode_image"),
        ("decode_png", "multimodal.map_images"),
        ("repeat merge", "ctc.collapse_ids"),
        ("repeat merge", "extraction.ctc_collapse"),
    ]


def test_connected_components(spark):
    """Min-label propagation: chains collapse to their min id, separate
    components stay separate, convergence needs diameter iterations."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_rep"]
           for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    # a long chain exercises multi-iteration convergence
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    gotc = {r["id"]: r["cluster_rep"]
            for r in dedup.connected_components(chain).collect()}
    assert set(gotc.values()) == {0} and len(gotc) == 31
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(chain, max_iter=1)


def test_dedup_cache_registry_release(spark, docs):
    """Operators register their lingering caches; release_caches() frees
    them (repeated dedup runs in one session must not accumulate cached
    blocks for the session lifetime)."""
    dedup.release_caches()  # start clean
    sig = dedup.minhash_signatures(docs, "doc_id", "text", max_doc_freq=2)
    assert sig.count() > 0
    assert len(dedup._LIVE_CACHES) >= 1
    released = dedup.release_caches()
    assert released >= 1
    assert dedup._LIVE_CACHES == []
    # idempotent
    assert dedup.release_caches() == 0


def test_minhash_signatures_capped_matches_shingle_space(spark, docs):
    """The capped signature must be computed over exactly the capped
    shingle space (same as jaccard's): recompute from shingle_table with
    the same cap and compare."""
    from pyspark.sql import functions as F

    cap = 2
    got = {
        r["id"]: tuple(r[f"mh{i}"] for i in range(dedup.DEFAULT_MINHASHES))
        for r in dedup.minhash_signatures(
            docs, "doc_id", "text", max_doc_freq=cap
        ).collect()
    }
    grams = dedup.shingle_table(docs, "doc_id", "text", max_doc_freq=cap)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("ng")))).alias(f"mh{i}")
        for i in range(dedup.DEFAULT_MINHASHES)
    ]
    want = {
        r["id"]: tuple(r[f"mh{i}"] for i in range(dedup.DEFAULT_MINHASHES))
        for r in grams.groupBy("id").agg(*aggs).collect()
    }
    dedup.release_caches()
    assert got == want and len(got) > 0


def test_incremental_dedup_flags(spark, docs):
    """New-batch-vs-corpus dedup checked against an INDEPENDENT pure
    python restatement of the md5 minhash/banding spec: exact copies
    flag exact_dup (and collide on every band), expected LSH hits are
    derived from the recomputed band sets, unrelated docs are novel,
    and only NEW ids appear in the output."""
    import hashlib

    corpus_rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    base = corpus_rows[0]
    near = " ".join(base.split()[:-1] + ["zzz"])
    new_rows = {
        1001: base,                        # exact dup of doc 0
        1002: near,                        # shares most shingles
        1003: "totally unrelated fresh content nothing shared here at all",
    }

    def bands(text):
        return _py_bands(_py_shingles(text))

    corpus_bands = set().union(*(bands(t) for t in corpus_rows.values()))
    corpus_fps = {hashlib.md5(t.encode()).hexdigest() for t in corpus_rows.values()}
    want = {}
    for did, text in new_rows.items():
        e = int(hashlib.md5(text.encode()).hexdigest() in corpus_fps)
        l = int(bool(bands(text) & corpus_bands))
        want[did] = (e, l, int(e == 0 and l == 0))

    new = spark.createDataFrame(
        sorted(new_rows.items()), "doc_id long, text string"
    )
    got = {
        r["id"]: (r["exact_dup"], r["lsh_hit"], r["novel"])
        for r in dedup.incremental_dedup_flags(
            new, docs, "doc_id", "text", max_doc_freq=None
        ).collect()
    }
    assert got == want
    assert want[1001][0] == 1 and want[1001][1] == 1  # exact → all bands
    assert want[1003] == (0, 0, 1)


def test_stratified_sample_deterministic_and_exact(spark, docs):
    """Membership is a pure function of (seed, key, stratum rate):
    identical across repartitionings, monotone in the rate (a kept row
    stays kept when its stratum's rate rises), and strata without a
    rate are dropped."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators.sampling import stratified_sample

    d = docs.withColumn(
        "grp", (F.col("doc_id") % 2 == 0).cast("string")
    )
    rates = {"true": 10000, "false": 5000}
    a = {r["doc_id"] for r in stratified_sample(d, "grp", rates, "doc_id").collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(
            d.repartition(7), "grp", rates, "doc_id"
        ).collect()
    }
    assert a == b
    assert {r["doc_id"] for r in d.filter("grp = 'true'").collect()} <= a
    lower = {
        r["doc_id"]
        for r in stratified_sample(
            d, "grp", {"true": 10000, "false": 1000}, "doc_id"
        ).collect()
    }
    assert lower <= a
    none = stratified_sample(d, "grp", {"true": 10000}, "doc_id")
    assert {r["grp"] for r in none.collect()} == {"true"}


def test_pack_documents_invariants(spark, docs):
    """Packing covers every doc exactly once, is stable under input
    repartitioning, never starts a sequence past the budget boundary
    (overrun bounded by one document), and orders ids within a
    sequence."""
    from htrtf_spark.operators.sampling import pack_documents

    packed = pack_documents(docs, "doc_id", "text", max_tokens=15, n_buckets=2)
    rows = packed.collect()
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4, 5]

    again = pack_documents(
        docs.repartition(5), "doc_id", "text", max_tokens=15, n_buckets=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # cum_before of the first doc in every seq is < seq boundary + doc
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r)
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r["id"])
        cum = 0
        for r in rs:
            assert r["seq_id"] == cum // 15
            cum += r["n_tokens"]


def test_incremental_dedup_shared_stop_list_symmetric(spark):
    """ADVICE r3 (medium): the stop cap must come from ONE list (the
    corpus's) applied to BOTH index and probe. Fixture: a boilerplate
    shingle is corpus-frequent (df > cap) but batch-rare (df = 1). A
    per-side cap keeps it in the probe signature while dropping it from
    the index signature, so a known near-dup can band differently and
    be missed; the shared list must recall it. Expected flags are
    recomputed with an independent pure-python restatement using the
    SHARED corpus stop list."""
    import hashlib

    boiler = "copyright two thousand"  # 3-gram present in every corpus doc
    corpus_rows = {
        i: f"{boiler} unique corpus document number {i} body text " + "w" * i
        for i in range(8)
    }
    target = corpus_rows[3]
    near = target + " zzz"  # near-dup: keeps every target shingle, adds 2
    new_rows = {100: near, 101: "entirely fresh unrelated material nothing shared"}
    cap = 4  # boiler df=8 > cap in corpus; every probe shingle df=1

    corpus = spark.createDataFrame(
        sorted(corpus_rows.items()), "doc_id long, text string"
    )
    new = spark.createDataFrame(
        sorted(new_rows.items()), "doc_id long, text string"
    )

    def shingles(text):
        ws = [w for w in text.split(" ") if w]
        return (
            {" ".join(ws[i: i + 3]) for i in range(len(ws) - 2)}
            if len(ws) >= 3 else set()
        )

    # shared stop list from CORPUS document frequencies only
    from collections import Counter
    df_count = Counter(g for t in corpus_rows.values() for g in shingles(t))
    stop = {g for g, c in df_count.items() if c > cap}
    assert stop, "fixture must produce a corpus stop shingle"

    def bands(text):
        ngs = shingles(text) - stop
        if not ngs:
            return set()
        sig = [
            min(hashlib.md5(f"{i}:{g}".encode()).hexdigest() for g in ngs)
            for i in range(dedup.DEFAULT_MINHASHES)
        ]
        return {
            (b, hashlib.md5("|".join(sig[2 * b: 2 * b + 2]).encode()).hexdigest())
            for b in range(dedup.DEFAULT_MINHASHES // dedup.DEFAULT_BAND_WIDTH)
        }

    corpus_bands = set().union(*(bands(t) for t in corpus_rows.values()))
    corpus_fps = {hashlib.md5(t.encode()).hexdigest() for t in corpus_rows.values()}
    want = {}
    for did, text in new_rows.items():
        e = int(hashlib.md5(text.encode()).hexdigest() in corpus_fps)
        l = int(bool(bands(text) & corpus_bands))
        want[did] = (e, l, int(e == 0 and l == 0))
    assert want[100][1] == 1, "fixture near-dup must be an LSH hit"

    got = {
        r["id"]: (r["exact_dup"], r["lsh_hit"], r["novel"])
        for r in dedup.incremental_dedup_flags(
            new, corpus, "doc_id", "text", max_doc_freq=cap
        ).collect()
    }
    assert got == want


def test_incremental_dedup_persisted_index_path(spark, tmp_path):
    """VERDICT r3 #3: the persisted-index form — build_corpus_index
    once, persist (index, stop, fps), probe ticks WITHOUT corpus_df.
    Corpus rescan / index rebuild is impossible by construction (the
    raw corpus is never passed), and flags equal the self-contained
    form's."""
    boiler = "copyright two thousand"
    corpus_rows = {
        i: f"{boiler} unique corpus document number {i} body text " + "w" * i
        for i in range(8)
    }
    near = corpus_rows[3] + " zzz"  # deterministic band collision
    corpus = spark.createDataFrame(
        sorted(corpus_rows.items()), "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100, near), (101, corpus_rows[5]),
         (102, "entirely fresh unrelated material nothing shared")],
        "doc_id long, text string",
    )
    cap = 4

    idx, stop, fps = dedup.build_corpus_index(
        corpus, "doc_id", "text", max_doc_freq=cap
    )
    for name, df in [("idx", idx), ("stop", stop), ("fps", fps)]:
        df.write.parquet(str(tmp_path / name))
    idx_p = spark.read.parquet(str(tmp_path / "idx"))
    stop_p = spark.read.parquet(str(tmp_path / "stop"))
    fps_p = spark.read.parquet(str(tmp_path / "fps"))

    via_index = {
        r["id"]: (r["exact_dup"], r["lsh_hit"], r["novel"])
        for r in dedup.incremental_dedup_flags(
            new, id_col="doc_id", text_col="text", max_doc_freq=cap,
            corpus_index=idx_p, corpus_stop=stop_p, corpus_fps=fps_p,
        ).collect()
    }
    self_contained = {
        r["id"]: (r["exact_dup"], r["lsh_hit"], r["novel"])
        for r in dedup.incremental_dedup_flags(
            new, corpus, "doc_id", "text", max_doc_freq=cap
        ).collect()
    }
    assert via_index == self_contained
    assert via_index[101] == (1, 1, 0)   # exact corpus copy
    assert via_index[100][1] == 1        # near-dup recalled through cap
    assert via_index[102] == (0, 0, 1)

    with pytest.raises(ValueError, match="corpus_df"):
        dedup.incremental_dedup_flags(new, corpus_index=idx_p)


def test_pack_documents_bucket_sizing_rule(spark, docs):
    """VERDICT r3 #6: n_buckets auto-sizes from a token-total hint so
    per-bucket volume stays bounded as the corpus grows (a fixed 64
    would funnel corpus/64 tokens through one window task at 100 TB)."""
    from htrtf_spark.operators.sampling import (
        TARGET_TOKENS_PER_BUCKET,
        pack_documents,
        packing_buckets,
    )

    # the rule itself: floor 64, then O(corpus/target)
    assert packing_buckets(0) == 64
    assert packing_buckets(10 * TARGET_TOKENS_PER_BUCKET) in (64, 11)
    big = 1000 * TARGET_TOKENS_PER_BUCKET
    n = packing_buckets(big)
    assert n >= 1000 and big / n <= TARGET_TOKENS_PER_BUCKET

    # auto-sized call produces the same schema/invariants as explicit
    auto = pack_documents(
        docs, "doc_id", "text", max_tokens=15, total_tokens_hint=100
    )
    assert auto.columns == ["bucket", "seq_id", "id", "n_tokens"]
    assert auto.count() == docs.count()
    # hint small → floor 64 buckets; explicit n_buckets still wins
    explicit = pack_documents(
        docs, "doc_id", "text", max_tokens=15, n_buckets=2
    )
    assert explicit.agg({"bucket": "max"}).collect()[0][0] <= 1


def test_bpe_token_count_matches_reference_scan(spark):
    """VERDICT r3 #5: the expression-chain BPE must equal an
    INDEPENDENT pure-python reference encode (apply merges in rank
    order, each exhaustively, leftmost-first) — including merge chains,
    repeats, words untouched by any rule, and multi-step merges."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators import bpe

    def ref_encode(word):
        toks = list(word)
        for left, right in bpe.DEFAULT_MERGES:
            out, i = [], 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and toks[i] == left
                    and toks[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    texts = [
        "the theater is near the north entrance",
        "aaaaaa bbb the the the",
        "click value 123 and re-enter",
        "xyzzy qqq",          # no rule applies
        "",                   # empty doc
        "   spaced    out   ",
        "internationalization",  # long multi-step chains
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(df, "doc_id", "text").collect()
    }
    want = {
        i: sum(len(ref_encode(w)) for w in t.split() if w)
        for i, t in enumerate(texts)
    }
    assert got == want
    assert want[3] == len("xyzzy") + len("qqq")  # untouched words
    assert want[4] == 0

    # tokenize() round-trips: concatenation restores the words
    toks = {
        r["id"]: r["tk"]
        for r in df.select(
            F.col("doc_id").alias("id"), bpe.bpe_tokenize("text").alias("tk")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert "".join(toks[i]) == "".join(t.split())
        assert toks[i] == [tok for w in t.split() for tok in ref_encode(w)]


def test_pack_documents_with_bpe_token_expr(spark, docs):
    """pack_documents budgets in real BPE units when token_expr is
    given: n_tokens must equal bpe_token_count per doc."""
    from htrtf_spark.operators import bpe
    from htrtf_spark.operators.sampling import pack_documents

    packed = pack_documents(
        docs, "doc_id", "text", max_tokens=10, n_buckets=2,
        token_expr=bpe.bpe_token_count("text"),
    )
    got = {r["id"]: r["n_tokens"] for r in packed.collect()}
    want = {
        r["id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(docs, "doc_id", "text").collect()
    }
    assert got == want and len(got) == 6


def test_bpe_udf_path_matches_expression_chain(spark, docs):
    """The large-vocab Arrow-UDF BPE must equal the expression-chain
    form exactly — same merge table, same counts — including on texts
    with repeats and whitespace edge cases."""
    from htrtf_spark.operators import bpe

    extra = spark.createDataFrame(
        [(100, "the the the aaaaaa"), (101, ""), (102, "   x   "),
         (103, "a\u00a0b"), (104, "a\x0bb")],  # NBSP is NOT \s; \x0b IS
        "doc_id long, text string",
    )
    d = docs.unionByName(extra)
    expr = {
        r["id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(d, "doc_id", "text").collect()
    }
    udf = {
        r["id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts_udf(d, "doc_id", "text").collect()
    }
    assert expr == udf and len(expr) == 11


def test_layout_reading_order_semantics(spark):
    """Handcrafted two-column page: column by x-center, line grouping
    by y-bin dense rank (gaps collapse), left-to-right in a line,
    column-major document assembly."""
    from htrtf_spark.operators.layout import (
        assemble_documents,
        assemble_lines,
        reading_order,
    )

    blocks = [
        # left column, line 0 (y bin 0), deliberately out of x order
        (1, 0, 130.0, 2.0, 100.0, 16.0, "left0b"),
        (1, 1, 0.0, 0.0, 100.0, 16.0, "left0a"),
        # left column, next line after a GAP (y bin 5 → dense rank 1)
        (1, 2, 0.0, 100.0, 100.0, 16.0, "left1"),
        # right column, one line
        (1, 3, 600.0, 0.0, 100.0, 16.0, "right0a"),
        (1, 4, 760.0, 3.0, 100.0, 16.0, "right0b"),
        # a second doc, single block
        (2, 0, 10.0, 10.0, 50.0, 10.0, "solo"),
    ]
    df = spark.createDataFrame(
        blocks,
        "doc_id long, block_id int, x double, y double, w double, "
        "h double, text string",
    )
    ro = {
        (r["doc_id"], r["block_id"]): (r["col_idx"], r["line_idx"], r["order_idx"])
        for r in reading_order(df).collect()
    }
    assert ro[(1, 1)] == (0, 0, 0) and ro[(1, 0)] == (0, 0, 1)
    assert ro[(1, 2)] == (0, 1, 2)      # gap collapsed to line 1
    assert ro[(1, 3)][0] == 1 and ro[(1, 3)][2] == 3
    assert ro[(1, 4)][2] == 4

    lines = {
        (r["doc_id"], r["col_idx"], r["line_idx"]): r["line_text"]
        for r in assemble_lines(df).collect()
    }
    assert lines[(1, 0, 0)] == "left0a left0b"
    assert lines[(1, 1, 0)] == "right0a right0b"

    docs = {r["doc_id"]: r for r in assemble_documents(df).collect()}
    assert docs[1]["doc_text"] == "left0a left0b\nleft1\nright0a right0b"
    assert docs[1]["n_lines"] == 3 and docs[1]["n_cols"] == 2
    assert docs[2]["doc_text"] == "solo" and docs[2]["n_cols"] == 1


def test_bpe_fuzz_expression_vs_reference(spark):
    """Hypothesis fuzz: the expression-chain BPE equals the pure-python
    reference scan on random texts over the merge alphabet (repeats,
    chains, punctuation, multi-space)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from htrtf_spark.operators import bpe

    def ref_encode(word):
        toks = list(word)
        for left, right in bpe.DEFAULT_MERGES:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    alphabet = "theinrandofgsmclupvw ., !?"
    texts = st.lists(
        st.text(alphabet=alphabet, min_size=0, max_size=40),
        min_size=1, max_size=16,
    )

    @settings(max_examples=12, deadline=None)
    @given(texts)
    def run(batch):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
        )
        got = {
            r["id"]: r["n_bpe_tokens"]
            for r in bpe.bpe_token_counts(df, "doc_id", "text").collect()
        }
        want = {
            i: sum(len(ref_encode(w)) for w in t.split(" ") if w)
            for i, t in enumerate(batch)
        }
        assert got == want

    run()


def test_benchmark_contamination(spark):
    """Decontamination: corpus docs sharing >= min_shared n-grams with
    a benchmark doc are flagged (and only those); the corpus stop list
    applies to BOTH sides so boilerplate shingles cannot flag."""
    boiler = "all rights reserved worldwide"
    corpus = spark.createDataFrame(
        [(0, f"the quick brown fox jumps over the lazy dog {boiler}"),
         (1, f"a completely different training document body {boiler}"),
         (2, f"third item with its own unrelated content {boiler}"),
         (3, f"the quick brown fox appears here too {boiler}"),
         (4, f"benchmark question about world capitals and rivers {boiler}")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark question about world capitals"),
         (101, "the quick brown fox")],
        "bench_id long, text string",
    )
    got = {
        (r["id"], r["bench_id"]): r["shared_ngrams"]
        for r in dedup.benchmark_contamination(
            corpus, bench, id_col="doc_id", text_col="text",
            bench_id_col="bench_id", bench_text_col="text",
            min_shared=2, max_doc_freq=4,
        ).collect()
    }
    # doc 4 shares the benchmark question trigrams; docs 0/3 share
    # "the quick brown (fox)" with bench 101
    assert (4, 100) in got and got[(4, 100)] >= 2
    assert (0, 101) in got and (3, 101) in got
    assert all(k[0] in (0, 3, 4) for k in got)
    # the boilerplate tail (df=5 > cap=4) flags nothing by itself:
    # docs 1 and 2 are absent even though every doc shares the boiler
    assert not any(k[0] in (1, 2) for k in got)


def test_semantic_dedup_flags(spark):
    """SemDeDup flags: planted near-identical vectors in one cell flag
    the HIGHER id (keep-first); distinct vectors keep."""
    import numpy as np

    from htrtf_spark.operators.simsearch import semantic_dedup_flags

    rs = np.random.RandomState(3)
    base = rs.randn(20, 16)
    base[7] = base[2] * 1.001 + 0.0005   # near-dup of 2
    base[11] = base[2] * 0.999           # another near-dup of 2
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = df.filter("vec_id < 4")
    got = {
        r["id"]: (r["cell"], r["sem_dup"], r["keep"])
        for r in semantic_dedup_flags(
            df, "vec_id", "v", cents, sim_threshold_bp=9900
        ).collect()
    }
    assert len(got) == 20
    # 2 keeps (lowest id of the trio); 7 and 11 are dups in 2's cell
    assert got[2][1] == 0 and got[2][2] == 1
    assert got[7] == (got[2][0], 1, 0)
    assert got[11] == (got[2][0], 1, 0)
    # everything flagged dup has a lower-id >=threshold neighbor: here
    # exactly the planted pair set
    assert sorted(i for i, v in got.items() if v[1] == 1) == [7, 11]


def test_repetition_stats_rules(spark):
    """Gopher repetition rules: exact floor'd bp for handcrafted docs
    (top word, top bigram WITH repeats, duplicate lines, 1-word and
    empty edges, a .5-bp boundary that must floor)."""
    docs2 = spark.createDataFrame(
        [(0, "a a a b"),                      # top word 3/4, top bigram 2/3
         (1, "x y x y x y"),                  # bigram "x y" 3/5
         (2, ""), (3, "solo"),
         (4, "l1\nl2\nl1\nl1"),               # dup lines 2/4
         (5, " ".join(["w"] + ["u"] * 31))],  # 1? top=31/32 -> floor 9687
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_words"], r["top_word_ratio_bp"],
                  r["top_bigram_ratio_bp"], r["dup_line_frac_bp"])
        for r in textstats.repetition_stats(docs2, "doc_id", "text").collect()
    }
    assert got[0] == (4, 7500, 6666, 0)
    assert got[1] == (6, 5000, 6000, 0)
    assert got[2] == (0, 0, 0, 0)
    assert got[3] == (1, 10000, 0, 0)
    assert got[4][3] == 5000
    assert got[5] == (32, 9687, 9677, 0)


def test_bpe_null_text_counts_zero(spark):
    """CODE-REVIEW r4: NULL text counts 0 on BOTH BPE paths (and
    tokenizes to an empty array) — a NULL would silently consume no
    packing budget and diverge from the oracle's COALESCE."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators import bpe

    df = spark.createDataFrame(
        [(0, None), (1, "the fox")], "doc_id long, text string"
    )
    expr = {r["id"]: r["n_bpe_tokens"]
            for r in bpe.bpe_token_counts(df, "doc_id", "text").collect()}
    udf = {r["id"]: r["n_bpe_tokens"]
           for r in bpe.bpe_token_counts_udf(df, "doc_id", "text").collect()}
    assert expr == udf and expr[0] == 0 and expr[1] > 0
    toks = df.select(bpe.bpe_tokenize("text").alias("t")).collect()
    assert [r["t"] for r in toks if r["t"] == []] == [[]]


def test_incremental_dedup_refuses_asymmetric_cap(spark, docs, tmp_path):
    """CODE-REVIEW r4: a capped persisted index probed WITHOUT its stop
    list is refused (silent asymmetric banding = recall loss)."""
    idx, stop, fps = dedup.build_corpus_index(
        docs, "doc_id", "text", max_doc_freq=2
    )
    with pytest.raises(ValueError, match="corpus_stop"):
        dedup.incremental_dedup_flags(
            docs, id_col="doc_id", text_col="text",
            corpus_index=idx, corpus_fps=fps, max_doc_freq=2,
        )
    # explicit uncapped declaration still works
    out = dedup.incremental_dedup_flags(
        docs, id_col="doc_id", text_col="text",
        corpus_index=idx, corpus_fps=fps, max_doc_freq=None,
    )
    assert out.count() == 6


def test_pii_redaction_semantics(spark):
    """PII masking: emails/IPv4/phones replaced by typed markers,
    counts from the original text, clean text untouched, markers never
    re-match later patterns."""
    from htrtf_spark.operators.pii import redact_pii

    rows = [
        (1, "mail a.b-c_d%x+1@sub.example.co.uk and b@x.io end"),
        (2, "v4 10.0.255.7 twice 192.168.1.1, not 1.2.3 or 300a"),
        (3, "call 555-123-4567 or +4915123456789 but not 12-34"),
        (4, "no pii here at all"),
        (5, "combo a@b.com 1.2.3.4 555-000-1111"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r for r in redact_pii(df, "text").collect()}

    assert got[1]["text"] == "mail <EMAIL> and <EMAIL> end"
    assert got[1]["n_email"] == 2 and got[1]["n_redactions"] == 2
    assert got[2]["text"] == "v4 <IP> twice <IP>, not 1.2.3 or 300a"
    assert got[2]["n_ipv4"] == 2
    assert got[3]["text"] == "call <PHONE> or <PHONE> but not 12-34"
    assert got[3]["n_phone"] == 1 and got[3]["n_phone_intl"] == 1
    assert got[4]["text"] == "no pii here at all"
    assert got[4]["n_redactions"] == 0
    assert got[5]["text"] == "combo <EMAIL> <IP> <PHONE>"
    assert got[5]["n_redactions"] == 3


def test_pii_phone_forms_ssn_and_luhn_cc(spark):
    """Round-6 breadth: paren/dot/space phone forms, SSN, and credit
    cards — candidates by digit shape, masked only when the Luhn
    checksum holds (JVM-side aggregate, no UDF)."""
    from htrtf_spark.operators.pii import redact_pii

    rows = [
        (1, "tel (555) 123-4567 and (555)123.4567 end"),
        (2, "dot 555.123.4567 spaced 555 123 4567 done"),
        (3, "ssn 123-45-6789 but not 123-456-789 or 12-34-5678"),
        (4, "card 4111 1111 1111 1111 pays"),
        (5, "fake 1234 5678 9012 3456 stays"),          # Luhn-invalid
        (6, "amex 378282246310005 and visa 4111-1111-1111-1111!"),
        (7, "plain 4111111111111111 run 12345678901234567890 too"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r for r in redact_pii(df, "text").collect()}

    assert got[1]["text"] == "tel <PHONE> and <PHONE> end"
    assert got[1]["n_phone_paren"] == 2
    assert got[2]["text"] == "dot <PHONE> spaced <PHONE> done"
    assert got[2]["n_phone_dot"] == 1 and got[2]["n_phone_space"] == 1
    assert got[3]["text"] == "ssn <SSN> but not 123-456-789 or 12-34-5678"
    assert got[3]["n_ssn"] == 1
    assert got[4]["text"] == "card <CC> pays" and got[4]["n_cc"] == 1
    assert got[5]["text"] == "fake 1234 5678 9012 3456 stays"
    assert got[5]["n_cc"] == 0 and got[5]["n_redactions"] == 0
    assert got[6]["text"] == "amex <CC> and visa <CC>!"
    assert got[6]["n_cc"] == 2
    # 16 plain digits Luhn-valid masks; a 20-digit run greedily
    # candidates its 19-digit prefix, which fails Luhn here and stays
    assert got[7]["text"].startswith("plain <CC> run ")
    assert got[7]["n_cc"] == 1


def test_pii_custom_replacement_escaping(spark):
    """ADVICE r5: custom replacements containing $ / \\ / quotes are
    taken literally on BOTH engines (no Java group-ref explosion, no
    SQL injection in the oracle restatement)."""
    import duckdb

    from htrtf_spark.operators.pii import pii_sql, redact_pii

    pats = [("money", r"\bsecret\b", "[$1 \\ it's]")]
    rows = [(1, "a secret here"), (2, "no match")]
    df = spark.createDataFrame(rows, "id int, text string")
    want = {
        r["id"]: r["text"]
        for r in redact_pii(df, "text", patterns=pats, redact_cc=False)
        .collect()
    }
    assert want[1] == "a [$1 \\ it's] here" and want[2] == "no match"
    p = pii_sql("text", patterns=pats, redact_cc=False)
    con = duckdb.connect()
    con.execute("CREATE TABLE tt(id INT, text VARCHAR)")
    con.executemany("INSERT INTO tt VALUES (?, ?)", rows)
    got = dict(con.execute(f"SELECT id, {p['masked']} FROM tt").fetchall())
    assert got == want


def test_pii_sql_restatement_matches(spark):
    """pii_sql's DuckDB restatement produces byte-identical masking and
    counts for the same rows (the q99 drift guard, checked directly) —
    including adversarial rows: masked-inside-masked adjacency,
    overlapping kinds (intl phone that is also a 13-digit candidate,
    SSN touching a phone), Luhn accept/reject, mixed separators."""
    import duckdb

    from htrtf_spark.operators.pii import pii_sql, redact_pii

    rows = [
        (1, "x a@b.com y 10.0.0.1 z 555-123-4567 w +49151234567890"),
        (2, "clean"),
        (3, "edge a@b.co 255.255.255.255+4911111111111 t"),
        (4, "ssn 123-45-6789 tel (202) 555-0142 card 4111 1111 1111 1111"),
        (5, "adjacent 555-123-4567123-45-6789 and 4111-1111-1111-1111x"),
        (6, "cards 4111111111111111 378282246310005 1234 5678 9012 3456"),
        (7, "intl-as-cc +4111111111111 vs bare 4111111111111 thirteen"),
        (8, "a@b.io4111 1111 1111 1111 touching email then digits"),
        (9, "mixed 4111 1111-1111 1111 sep and 555 123 4567 spaced"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    want = {
        r["id"]: (r["text"], r["n_redactions"])
        for r in redact_pii(df, "text").collect()
    }
    p = pii_sql("text")
    total = " + ".join(p["counts"].values())
    con = duckdb.connect()
    con.execute("CREATE TABLE tt(id INT, text VARCHAR)")
    con.executemany("INSERT INTO tt VALUES (?, ?)", rows)
    got = {
        i: (m, int(n))
        for i, m, n in con.execute(
            f"SELECT id, {p['masked']}, {total} FROM tt"
        ).fetchall()
    }
    assert got == want


def test_temperature_mixture_rates_and_sample(spark):
    """tau<1 upweights small sources (rate_small > rate_large when both
    uncapped); tau=1 reproduces proportional sampling (every source gets
    ~target_frac); the member set is deterministic under repartitioning;
    and the realized per-source counts track n_s * rate_bp / 10000."""
    import duckdb
    from pyspark.sql import functions as F

    from htrtf_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_mixture_sample,
    )

    n_a, n_b = 900, 100
    rows = [(i, "a" if i < n_a else "b") for i in range(n_a + n_b)]
    d = spark.createDataFrame(rows, "doc_id long, src string")

    rates = {
        r["source"]: r["rate_bp"]
        for r in temperature_mixture_rates(
            d, "src", tau=0.5, target_frac_bp=5000
        ).collect()
    }
    # sqrt weighting: w_a=30, w_b=10 (×1e6), T=500 →
    # rate_a = floor(500*30/(40*900)*1e4) = 4166, rate_b = min(1e4, 12500)
    assert rates == {"a": 4166, "b": 10000}

    # tau=1: proportional — both sources get ~the global target fraction
    prop = {
        r["source"]: r["rate_bp"]
        for r in temperature_mixture_rates(
            d, "src", tau=1.0, target_frac_bp=5000
        ).collect()
    }
    assert prop == {"a": 5000, "b": 5000}

    got = temperature_mixture_sample(
        d, "src", "doc_id", tau=0.5, target_frac_bp=5000, seed=7
    )
    keys = {(r["key"], r["source"], r["rate_bp"]) for r in got.collect()}
    again = {
        (r["key"], r["source"], r["rate_bp"])
        for r in temperature_mixture_sample(
            d.repartition(13), "src", "doc_id", tau=0.5, target_frac_bp=5000, seed=7
        ).collect()
    }
    assert keys == again and len(keys) > 0
    # realized counts within 4 sigma of binomial expectation
    from collections import Counter

    c = Counter(s for (_k, s, _r) in keys)
    for src, n_s in (("a", n_a), ("b", n_b)):
        p = rates[src] / 10000.0
        mu, sd = n_s * p, max(1.0, (n_s * p * (1 - p)) ** 0.5)
        assert abs(c[src] - mu) <= 4 * sd, (src, c[src], mu)

    # cross-engine: DuckDB recomputes the identical member set from the
    # same quantized-rate arithmetic (the q100 oracle, parameterized)
    pdf = d.toPandas().rename(columns={"src": "source"})
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = con.execute(
        """
        WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        tot AS (SELECT SUM(n_s) AS n_total,
                       SUM(CAST(FLOOR(POWER(CAST(n_s AS DOUBLE), 0.5)*1000000) AS BIGINT)) AS w_total
                FROM counts),
        rates AS (SELECT source,
                         CAST(LEAST(10000, CAST(FLOOR(
                           CAST((n_total * 5000 // 10000)
                                * CAST(FLOOR(POWER(CAST(n_s AS DOUBLE), 0.5)*1000000) AS BIGINT) AS DOUBLE)
                           / CAST(w_total * n_s AS DOUBLE) * 10000.0) AS BIGINT)) AS BIGINT) AS rate_bp
                  FROM counts, tot)
        SELECT d.doc_id AS key, d.source, r.rate_bp
        FROM documents d JOIN rates r USING (source)
        WHERE ('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < r.rate_bp
        """
    ).fetchall()
    assert keys == {(k, s, r) for (k, s, r) in oracle}


def test_temperature_mixture_plan_shape(spark):
    """The corpus is scanned exactly twice (count pass + filter pass),
    the rate table reaches the corpus via a broadcast hash join, and the
    totals come from the post-aggregation window — a third lineage
    recomputation of the count (the crossJoin-of-aggregates antipattern)
    must not reappear."""
    rows = [(i, "a" if i % 3 else "b") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, src string")

    from htrtf_spark.operators.sampling import temperature_mixture_sample

    plan = (
        temperature_mixture_sample(d, "src", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # one source scan per pass (createDataFrame plans as Scan ExistingRDD)
    assert plan.count("Scan ExistingRDD") == 2


def test_mixture_rates_reuse_and_lineage(spark, tmp_path):
    """VERDICT r5 #4: a precomputed rates table makes the sample
    one-scan and must select the IDENTICAL member set as the two-scan
    path; the rate table round-trips through the Iceberg lineage
    property (record_mixture_rates / last_mixture_rates)."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators.sampling import (
        last_mixture_rates,
        record_mixture_rates,
        temperature_mixture_rates,
        temperature_mixture_sample,
    )
    from htrtf_spark.sources.iceberg import write_iceberg_table

    rows = [(i, "a" if i < 900 else ("b" if i < 980 else "c"))
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, src string")
    two_scan = sorted(
        map(tuple, temperature_mixture_sample(
            d, "src", "doc_id", tau=0.5, target_frac_bp=4000
        ).collect())
    )
    rates = temperature_mixture_rates(d, "src", 0.5, 4000)
    one_scan = sorted(
        map(tuple, temperature_mixture_sample(
            d, "src", "doc_id", rates=rates
        ).collect())
    )
    assert one_scan == two_scan and len(one_scan) > 0

    # lineage round-trip through a real Iceberg table property
    loc = str(tmp_path / "mix_dest")
    write_iceberg_table(d.limit(1), loc)
    payload = record_mixture_rates(loc, rates, tau=0.5, target_frac_bp=4000)
    assert payload["tau"] == 0.5 and len(payload["rates"]) == 3
    back, knobs = last_mixture_rates(spark, loc)
    assert knobs == {"tau": 0.5, "target_frac_bp": 4000}
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, rates.collect())
    )
    # and the read-back table drives the same member set
    replay = sorted(
        map(tuple, temperature_mixture_sample(
            d, "src", "doc_id", rates=back
        ).collect())
    )
    assert replay == two_scan


def test_pii_cc_fold_review_fixes(spark):
    """Round-6 review fixes: (a) a Luhn-INVALID digit run containing a
    valid candidate as an inner substring passes through untouched
    (\\b-bounded fold); (b) a Luhn-valid intl phone number is typed as
    a phone and NOT double-counted as a card; both byte-identical on
    the DuckDB restatement."""
    import duckdb

    from htrtf_spark.operators.pii import pii_sql, redact_pii

    rows = [
        # 17-digit run (Luhn-invalid) CONTAINS the valid 16-digit visa
        (1, "ref 34111111111111111 pay 4111111111111111 ok"),
        # 4222222222222 is the Luhn-valid 13-digit Visa test number:
        # phone_intl must own it; n_cc must be 0
        (2, "call +4222222222222 now"),
        # bare (no +) stays a card
        (3, "bare 4222222222222 card"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r for r in redact_pii(df, "text").collect()}
    assert got[1]["text"] == "ref 34111111111111111 pay <CC> ok"
    assert got[1]["n_cc"] == 1
    assert got[2]["text"] == "call <PHONE> now"
    assert got[2]["n_phone_intl"] == 1 and got[2]["n_cc"] == 0
    assert got[2]["n_redactions"] == 1
    assert got[3]["text"] == "bare <CC> card" and got[3]["n_cc"] == 1

    p = pii_sql("text")
    total = " + ".join(p["counts"].values())
    con = duckdb.connect()
    con.execute("CREATE TABLE tt(id INT, text VARCHAR)")
    con.executemany("INSERT INTO tt VALUES (?, ?)", rows)
    want = {
        r["id"]: (r["text"], r["n_cc"], r["n_redactions"])
        for r in redact_pii(df, "text").collect()
    }
    sql_got = {
        i: (m, int(c), int(n))
        for i, m, c, n in con.execute(
            f"SELECT id, {p['masked']}, {p['counts']['cc']}, {total} FROM tt"
        ).fetchall()
    }
    assert sql_got == want


def test_mixture_sample_missing_source_and_null_lineage(spark, tmp_path):
    """Review r6: a source that landed AFTER the reused rate table was
    computed samples at missing_rate_bp (default keep-all) instead of
    silently vanishing; missing_rate_bp=0 defers it; NULL sources in
    the corpus don't crash the lineage commit."""
    from htrtf_spark.operators.sampling import (
        record_mixture_rates,
        temperature_mixture_rates,
        temperature_mixture_sample,
    )
    from htrtf_spark.sources.iceberg import write_iceberg_table

    old = spark.createDataFrame(
        [(i, "a") for i in range(200)] + [(i + 200, "b") for i in range(50)],
        "doc_id long, src string",
    )
    rates = temperature_mixture_rates(old, "src", 0.5, 5000)
    grown = old.union(
        spark.createDataFrame(
            [(i + 1000, "c") for i in range(30)], "doc_id long, src string"
        )
    )
    kept = temperature_mixture_sample(grown, "src", "doc_id", rates=rates)
    from pyspark.sql import functions as F

    by_src = {
        r["source"]: r["cnt"]
        for r in kept.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_src.get("c") == 30  # keep-all default, visible in output
    c_rates = {r["rate_bp"] for r in kept.filter("source = 'c'").collect()}
    assert c_rates == {10000}
    dropped = temperature_mixture_sample(
        grown, "src", "doc_id", rates=rates, missing_rate_bp=0
    )
    assert dropped.filter("source = 'c'").count() == 0
    # the known sources sample identically with or without the stranger
    base = sorted(map(tuple, temperature_mixture_sample(
        old, "src", "doc_id", rates=rates).collect()))
    known = sorted(map(tuple, kept.filter("source <> 'c'").collect()))
    assert known == base

    # NULL-source corpus: rates contain a None stratum; lineage commit
    # must not TypeError on the sort
    nullish = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "doc_id long, src string"
    )
    nrates = temperature_mixture_rates(nullish, "src", 0.5, 10000)
    loc = str(tmp_path / "null_dest")
    write_iceberg_table(nullish.limit(1), loc)
    payload = record_mixture_rates(loc, nrates, 0.5, 10000)
    assert any(r[0] is None for r in payload["rates"])


def test_url_stats_and_top_domains(spark):
    """URL tier (round 6): per-doc link profile and corpus-level domain
    ranking — mixed-case hosts fold, ports/paths/queries parse, plain
    text contributes zero, density is floor-bp over whitespace
    tokens."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators.textstats import top_domains, url_stats

    rows = [
        (1, "see https://A.Example.COM/p/1 and http://b.org:8080/x?q=2 end"),
        (2, "twice https://a.example.com/1 https://a.example.com/2 t t t t"),
        (3, "no links at all here"),
        (4, ""),
        (5, "bare http://c.net"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    st = {r["id"]: r for r in url_stats(df, "doc_id", "text").collect()}
    assert (st[1]["n_urls"], st[1]["n_domains"]) == (2, 2)
    assert (st[2]["n_urls"], st[2]["n_domains"]) == (2, 1)
    assert st[2]["link_density_bp"] == 10000 * 2 // 7
    assert (st[3]["n_urls"], st[3]["link_density_bp"]) == (0, 0)
    assert (st[4]["n_urls"], st[4]["link_density_bp"]) == (0, 0)
    assert st[5]["n_domains"] == 1

    top = [(r["domain"], r["doc_freq"], r["n_urls"])
           for r in top_domains(df, "doc_id", "text", k=3).collect()]
    assert top[0] == ("a.example.com", 2, 3)  # mixed case folded in
    assert len(top) == 3 and {d for d, *_ in top} <= {
        "a.example.com", "b.org", "c.net"
    }


def test_strip_duplicated_lines(spark):
    """C4-style corpus line dedup: a line repeated across (or within)
    documents keeps only its canonical first occurrence (min (id,
    line_idx)); empty lines never dedup; unique lines untouched;
    keep_first=False removes every occurrence."""
    from htrtf_spark.operators.dedup import strip_duplicated_lines

    banner = "accept our cookies to continue"
    rows = [
        (1, f"intro one\n{banner}\nbody one"),
        (2, f"{banner}\nbody two"),
        (3, f"body three\n\n{banner}"),
        (4, "all unique here\n\nwith an empty line kept"),
        (5, f"{banner}"),  # whole doc is the banner
        (6, f"twice inside\n{banner}\n{banner}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_removed"])
        for r in strip_duplicated_lines(df, "doc_id", "text").collect()
    }
    # canonical first occurrence = (doc 1, line_idx 1)
    assert got[1] == (f"intro one\n{banner}\nbody one", 3, 0)
    assert got[2] == ("body two", 2, 1)
    assert got[3] == ("body three\n", 3, 1)  # empty line preserved
    assert got[4] == ("all unique here\n\nwith an empty line kept", 3, 0)
    assert got[5] == ("", 1, 1)
    assert got[6] == ("twice inside", 3, 2)

    # keep_first=False removes the canonical copy too
    all_gone = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(
            df, "doc_id", "text", keep_first=False
        ).collect()
    }
    assert all_gone[1] == "intro one\nbody one"
    # determinism under repartitioning
    again = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_removed"])
        for r in strip_duplicated_lines(
            df.repartition(7), "doc_id", "text"
        ).collect()
    }
    assert again == got


def test_tfidf_topk_terms(spark):
    """tf-idf ranking: corpus-wide common terms rank below doc-specific
    ones; ties broken by term; tf counts repeats; empty docs emit
    nothing; n_docs override matches the counted default."""
    from htrtf_spark.operators.textstats import tfidf_topk_terms

    rows = [
        (1, "common apple apple apple zebra"),
        (2, "common banana banana"),
        (3, "common cherry"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk_terms(df, "doc_id", "text", k=2)
    got = {
        (r["id"], r["term"]): (r["tf"], r["df_docs"], r["score"])
        for r in out.collect()
    }
    ids = {i for i, _ in got}
    assert ids == {1, 2, 3}
    # 'common' has df=3 -> idf ln(4/3); doc-specific terms df=1 ->
    # ln(4) — apple (tf 3) tops doc 1, zebra second
    top1 = sorted(
        [(k[1], v[2]) for k, v in got.items() if k[0] == 1],
        key=lambda p: -p[1],
    )
    assert top1[0][0] == "apple" and top1[1][0] == "zebra"
    assert (1, "common") not in got  # k=2 cut it
    import math

    assert got[(1, "apple")] == (
        3, 1, 3 * math.floor(math.log(4 / 1) * 1e6)
    )
    # n_docs override reproduces the counted default
    out2 = tfidf_topk_terms(df, "doc_id", "text", k=2, n_docs=4)
    assert sorted(map(tuple, out2.collect())) == sorted(
        map(tuple, out.collect())
    )


def test_filter_blocked_domains(spark):
    """Blocklist semantics: exact domain and subdomains block;
    superstring domains ('notspam.com') never do; keep_matches
    inverts; multi-URL docs block on any hit."""
    from htrtf_spark.operators.textstats import filter_blocked_domains

    rows = [
        (1, "x https://spam.com/a y"),
        (2, "x https://tracker.spam.com/b y"),
        (3, "x https://notspam.com/c y"),
        (4, "clean text, no urls"),
        (5, "mix https://ok.org/1 and HTTP://SPAM.com/2"),
        (6, "x https://spam.com.evil.net/d y"),  # spam.com as PREFIX
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in filter_blocked_domains(
        df, ["Spam.COM"], "doc_id", "text").collect()}
    assert kept == {3, 4, 6}
    hits = {r["doc_id"] for r in filter_blocked_domains(
        df, ["spam.com"], "doc_id", "text", keep_matches=True).collect()}
    assert hits == {1, 2, 5}


def test_line_dedup_and_blocklist_null_text(spark):
    """Review r6 third pass: NULL-text documents pass through
    strip_duplicated_lines unchanged (never silently vanish) and are
    'not blocked' in filter_blocked_domains' drop mode; reserved
    output columns are rejected; trailing-dot FQDN hosts cannot bypass
    the blocklist."""
    import pytest

    from htrtf_spark.operators.dedup import strip_duplicated_lines
    from htrtf_spark.operators.textstats import filter_blocked_domains

    rows = [(1, "dup line\nx"), (2, "dup line\ny"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_removed"])
        for r in strip_duplicated_lines(df, "doc_id", "text").collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[3] == (None, 0, 0)
    assert got[2] == ("y", 2, 1)
    with pytest.raises(ValueError, match="reserved"):
        strip_duplicated_lines(
            df.withColumnRenamed("doc_id", "n_lines"), "n_lines", "text"
        )

    bl_rows = [
        (1, "see https://spam.com./x with a trailing-dot FQDN"),
        (2, None),
        (3, "clean https://fine.org/ok"),
    ]
    bdf = spark.createDataFrame(bl_rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in filter_blocked_domains(
        bdf, ["spam.com"], "doc_id", "text").collect()}
    assert kept == {2, 3}  # NULL text kept; trailing dot blocked
    hits = {r["doc_id"] for r in filter_blocked_domains(
        bdf, ["spam.com"], "doc_id", "text", keep_matches=True).collect()}
    assert hits == {1}
