"""Corpus-scale exactness check: Spark-extract a large deterministic
corpus, byte-compare a hash-picked conversation sample (plus the largest
whale conversations) against the pure-Python oracle.

    python tools/parity_sample.py [n_convs] [n_whales]

Prints one JSON line with the sample size and mismatch count (must be 0
— the north rule's 100% per-turn exact-match claim at bench scale).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    n_whales = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from htrtf_spark import oracle
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.session import get_spark
    from tools.run_scaling import ensure_input

    # ensure_input stops the session it generates with, so it runs first
    path = ensure_input(n_convs)
    spark = get_spark(app_name="parity_sample")
    tdf = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)
    total = tdf.count()

    sample_hash = tdf.select("conv_id").distinct().filter(
        F.pmod(F.hash("conv_id"), 10000) == 7
    )
    whales = (
        tdf.groupBy("conv_id").count()
        .orderBy(F.desc("count"), "conv_id").limit(n_whales).select("conv_id")
    )
    convs = sample_hash.union(whales).distinct()
    sub = tdf.join(F.broadcast(convs), "conv_id")
    sub_pd = sub.orderBy("conv_id", "turn_idx").toPandas()

    cols = ["conv_id", "turn_idx", "mode", "extracted_text", "reject_reason"]
    got = (
        extract_turns(sub, check_schema=False)
        .orderBy("conv_id", "turn_idx").select(*cols)
        .toPandas().reset_index(drop=True)
    )
    gold = oracle.extract_frame(sub_pd)[cols].reset_index(drop=True)
    if len(got) != len(gold):
        print(json.dumps({
            "corpus_turns": total,
            "sampled_turns_spark": len(got),
            "sampled_turns_oracle": len(gold),
            "byte_mismatches": -1,
            "exact_match": False,
            "error": "row-count drift (rows_in == rows_out invariant broken)",
        }))
        spark.stop()
        return 1
    mismatches = 0
    for c in cols:
        g = gold[c].fillna("<N>") if gold[c].dtype == object else gold[c]
        f = got[c].fillna("<N>") if got[c].dtype == object else got[c]
        mismatches += int((g.values != f.values).sum())

    print(json.dumps({
        "corpus_turns": total,
        "sampled_convs": int(convs.count()),
        "sampled_turns": len(got),
        "byte_mismatches": mismatches,
        "exact_match": mismatches == 0,
    }))
    spark.stop()
    return 0 if mismatches == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
