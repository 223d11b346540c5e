"""Seeded benchmark inputs, generated outside every timed region.

Each input is a pure function of the seed and of the generator code, and
is cached in the checkout under a key made of the seed and a hash of
``htrtf_spark/synth.py``, ``htrtf_spark/charset.py``, this file and
``workloads.py`` (which sizes the inputs), so an edited generator can
never be benchmarked against a stale input. The program under test only
ever receives the generated files.

Transcripts come from a pool of ``POOL_CONVS`` conversations made once
per generator version by ``synth.conv_pandas``; the seed picks which of
them, and in what order, form a workload's input. Writing a seeded
sample costs a second or two where generating it costs ten, and the
number of whales (``synth.is_whale``) in a sample is fixed, so the
input size hardly varies from seed to seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

READY = "_READY"


def generator_tag() -> str:
    from htrtf_spark import charset, synth

    h = hashlib.md5()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in (synth.__file__, charset.__file__, __file__, os.path.join(here, "workloads.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def cached(cache_dir: str, name: str, seed: int, build) -> tuple[str, dict]:
    """Directory holding input ``name`` for ``seed``, built by
    ``build(dir) -> info`` on a miss. ``info`` (a small JSON dict, e.g.
    row counts) is stored beside the data and returned on every hit.
    Builds in place, because Iceberg metadata records absolute paths; a
    directory without the ready marker is a crashed build and is redone."""
    d = os.path.join(cache_dir, f"{name}-s{seed}-{generator_tag()}")
    marker = os.path.join(d, READY)
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        info = build(d)
        with open(marker, "w") as f:
            json.dump(info, f)
    with open(marker) as f:
        return d, json.load(f)


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from the file footers."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


POOL_CONVS = 12_000  # 120 whales


def pool(spark, cache_dir: str) -> str:
    """Parquet directory of the conversation pool (built on first use)."""
    def build(d):
        synth_convs(spark, range(POOL_CONVS), 0).write.parquet(os.path.join(d, "convs"))
        return {}

    d, _ = cached(cache_dir, "pool", 0, build)
    return os.path.join(d, "convs")


def sample_convs(n: int, seed: int, whales: bool = True) -> list[str]:
    """``n`` conversation ids drawn from the pool by ``seed``: one whale in
    every 100 (the pool's share), each whale followed by 99 others; or,
    without ``whales``, none."""
    from htrtf_spark.synth import is_whale

    ks = np.arange(POOL_CONVS)
    whale = np.array([is_whale(int(k)) for k in ks])
    rs = np.random.RandomState(seed)
    n_whales = n // 100 if whales else 0
    picked = rs.choice(ks[whale], size=n_whales, replace=False)
    others = rs.choice(ks[~whale], size=n - n_whales, replace=False)
    order, o = [], 0
    for w in picked:
        order += [w, *others[o:o + 99]]
        o += 99
    order += list(others[o:])
    return [f"conv-{int(k):08d}" for k in order]


def pool_rows(spark, cache_dir: str, conv_ids: list[str], **cols):
    """The pool's rows of ``conv_ids``; each keyword adds a column holding
    a per-conversation value (a list aligned with ``conv_ids``)."""
    from pyspark.sql import functions as F

    keys = spark.createDataFrame(pd.DataFrame({"conv_id": conv_ids, **cols}))
    return spark.read.parquet(pool(spark, cache_dir)).join(F.broadcast(keys), "conv_id")


def synth_convs(spark, ids: list[int] | range, seed: int, partitions: int = 8):
    """Transcripts rows of conversations ``ids``, from the same
    per-conversation generator the tests use (``synth.conv_pandas``)."""
    from htrtf_spark.synth import TRANSCRIPTS_DDL, conv_pandas

    def gen(batches):
        for pdf in batches:
            frames = [conv_pandas(int(k), seed) for k in pdf["id"]]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    ids_df = spark.createDataFrame(pd.DataFrame({"id": list(ids)}, dtype="int64"))
    return ids_df.repartition(partitions).mapInPandas(gen, schema=TRANSCRIPTS_DDL)


# ------------------------------------------------------------ documents
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en"] * 8) + ["de", "es", "fr", "zh"] * 2


def documents_frame(n_docs: int, seed: int, near_dup_frac: float = 0.05) -> pd.DataFrame:
    """A ``documents`` table shaped like the scale-factor testdata one:
    10-100 words from a 30-word vocabulary, and a share of near-duplicates
    (an earlier document plus the word ``dup``), which is what q27's
    near-dup pairs and q101's repeated-substring strip find."""
    rs = np.random.RandomState(seed)
    texts = []
    for i in range(n_docs):
        if i > 10 and rs.rand() < near_dup_frac:
            texts.append(texts[rs.randint(0, i)] + " dup")
        else:
            n = rs.randint(10, 101)
            texts.append(" ".join(_DOC_WORDS[w] for w in rs.randint(0, len(_DOC_WORDS), n)))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[k] for k in rs.randint(0, len(_LANGS), n_docs)],
        "source": [f"src{k}" for k in rs.randint(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
