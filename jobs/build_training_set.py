"""Production training-set builder: the full pipeline as one job.

    spark-submit --master <cluster> --py-files htrtf_spark.zip \
        jobs/build_training_set.py --input <transcripts.parquet> \
        --output <iceberg-table-dir> [--min-tokens 25] \
        [--max-stop-ratio-bp 8000] [--partition-by mode]

transcripts in (parquet / JSONL / ORC / CSV / Iceberg) → vectorized
extraction → per-turn quality filter (token count + stopword ratio) →
exact dedup keep-first on extracted text → Iceberg v2 table out
(identity-partitioned), with a lineage summary printed as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_training_set(
    spark,
    transcripts,
    output: str,
    min_tokens: int = 25,
    max_stop_ratio_bp: int = 8000,
    max_link_density_bp: int | None = None,
    partition_by: list[str] | None = None,
    sample_rates_bp: dict[str, int] | None = None,
    pack_tokens: int | None = None,
    mixture_tau: float | None = None,
    mixture_target_bp: int = 5000,
    reuse_mixture_rates: bool = False,
    overwrite: bool = False,
) -> dict:
    """Library form (the job body; importable for tests): returns the
    lineage summary dict.

    Mixture options (mutually exclusive with ``sample_rates_bp``):
    ``mixture_tau`` turns on temperature-based mixture sampling over
    the extraction ``mode`` column (rates computed FROM the corpus,
    operators/sampling.py); the rate table used is persisted onto the
    output table (``record_mixture_rates``) so every produced corpus
    records what mixture it was, and ``reuse_mixture_rates=True`` makes
    the NEXT run one-scan by sampling with the previously recorded
    rates (new modes keep-all by default; counts drift one tick,
    corrected at the next recompute)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from htrtf_spark.operators.textstats import keeps_quality, stop_count, token_count
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.iceberg import table_exists, write_iceberg_table

    if sample_rates_bp and mixture_tau is not None:
        raise ValueError(
            "sample_rates_bp and mixture_tau are mutually exclusive "
            "(literal rates vs corpus-derived temperature rates)"
        )
    if reuse_mixture_rates and mixture_tau is None:
        # the flag would otherwise be silently ignored AND double as
        # overwrite consent (review r6)
        raise ValueError(
            "reuse_mixture_rates requires mixture_tau (there is no "
            "mixture to reuse rates for)"
        )
    # overwrite consent is checked BEFORE any compute: a mistyped
    # --output must fail here, not after hours of extraction
    # (review r6); reuse ticks imply consent — and if the reuse later
    # finds no recorded rates, that is its own loud error below.
    if table_exists(output) and not (overwrite or reuse_mixture_rates):
        raise FileExistsError(
            f"Iceberg table already exists at {output}; pass "
            f"overwrite=True (--overwrite) to replace its rows"
        )

    extracted = extract_turns(transcripts, check_schema=False)
    # extraction preserves row count (one output row per turn), so the
    # lineage count comes from the INPUT — no second run of the Python
    # extraction stage just to count
    n_turns = transcripts.count()

    quality = extracted.filter(F.col("reject_reason").isNull()).select(
        "conv_id",
        "turn_idx",
        "role",
        "mode",
        "extracted_text",
        token_count("extracted_text").alias("n_tokens"),
        stop_count("extracted_text").alias("n_stop"),
    )
    kept = quality.filter(
        keeps_quality(
            F.col("n_tokens"), F.col("n_stop"), min_tokens, max_stop_ratio_bp
        )
    )
    if max_link_density_bp is not None:
        # link-farm guard (URL tier, operators/textstats.py): floor-bp
        # URLs-per-token over the extracted text, token-less rows pass
        # (nothing to be a link farm of) — same narrow projection as
        # the other quality rules, no extra pass over the corpus
        from htrtf_spark.operators.textstats import _bp_div, extract_urls

        n_urls = F.size(extract_urls(F.col("extracted_text")))
        kept = kept.filter(
            F.when(
                F.col("n_tokens") > 0, _bp_div(n_urls, F.col("n_tokens"))
            ).otherwise(F.lit(0))
            <= int(max_link_density_bp)
        )
    w = Window.partitionBy(F.md5("extracted_text"))
    key = F.struct("conv_id", "turn_idx")
    deduped = (
        kept.withColumn("_keep", F.min(key).over(w))
        .filter(key == F.col("_keep"))
        .drop("_keep", "n_stop")
    )
    mixture_summary = None
    if sample_rates_bp:
        # deterministic training-mixture downsampling per extraction
        # mode (content-hash membership — reproducible, auditable)
        from htrtf_spark.operators.sampling import stratified_sample

        deduped = stratified_sample(
            deduped.withColumn(
                "_key", F.concat_ws("#", "conv_id", F.col("turn_idx"))
            ),
            "mode",
            sample_rates_bp,
            key_col="_key",
            default_bp=10000,  # modes not named are kept (spec names
            # only what it downsamples; explicit 0 drops)
        ).drop("_key")
    elif mixture_tau is not None:
        from htrtf_spark.operators.sampling import (
            last_mixture_rates,
            temperature_mixture_rates,
            temperature_mixture_sample,
        )
        keyed = deduped.withColumn(
            "_key", F.concat_ws("#", "conv_id", F.col("turn_idx"))
        )
        rates = None
        reused = False
        if reuse_mixture_rates and not table_exists(output):
            raise ValueError(
                "reuse_mixture_rates: no existing output table at "
                f"{output} to reuse rates from (run once without the "
                f"flag to record them)"
            )
        if reuse_mixture_rates:
            # read the PREVIOUS run's recorded rates before this run's
            # write touches the table — the one-scan production tick
            got = last_mixture_rates(spark, output)
            if got is None:
                raise ValueError(
                    f"reuse_mixture_rates: table {output} has no "
                    f"recorded mixture rates (run once without the "
                    f"flag to record them)"
                )
            else:
                rates, knobs = got
                # reusing rates recorded under DIFFERENT knobs would
                # silently ignore the requested mixture and then
                # misattribute the provenance — fail loudly instead
                # (review r6); drop --reuse-mixture-rates for one run
                # to recompute under the new knobs
                if knobs != {
                    "tau": float(mixture_tau),
                    "target_frac_bp": int(mixture_target_bp),
                }:
                    raise ValueError(
                        f"recorded mixture rates were computed with "
                        f"{knobs}, but this run requests tau="
                        f"{mixture_tau} target_frac_bp="
                        f"{mixture_target_bp}; recompute (run once "
                        f"without reuse_mixture_rates) or match the "
                        f"recorded knobs"
                    )
                reused = True
        if rates is None:
            rates = temperature_mixture_rates(
                keyed, "mode", mixture_tau, mixture_target_bp
            )
        # the tiny rate table is re-read for the lineage record below;
        # cache it so the corpus count behind it runs once
        rates = rates.cache()
        deduped = temperature_mixture_sample(
            keyed, "mode", "_key", rates=rates, keep_columns=True
        ).drop("_key")
        mixture_summary = {
            "tau": float(mixture_tau),
            "target_frac_bp": int(mixture_target_bp),
            "reused_rates": reused,
        }
    if pack_tokens:
        # assign each kept turn to a fixed-token training sequence
        from htrtf_spark.operators.sampling import pack_documents

        keyed = deduped.withColumn(
            "_pid", F.concat_ws("#", "conv_id", F.col("turn_idx"))
        )
        packed = pack_documents(
            keyed, "_pid", "extracted_text", max_tokens=pack_tokens
        ).select(
            F.col("id").alias("_pid"),
            F.col("bucket").alias("pack_bucket"),
            F.col("seq_id").alias("pack_seq"),
        )
        deduped = keyed.join(packed, "_pid").drop("_pid")
    from htrtf_spark.sources.iceberg import current_metadata, overwrite_iceberg_table

    # consent to replace an existing table was checked before any compute
    # (top of function); the replace is ONE snapshot, history stays
    # time-travelable
    write = overwrite_iceberg_table if table_exists(output) else write_iceberg_table
    snapshot_id = write(deduped, output, partition_by=partition_by)
    # count from the committed snapshot's summary — free metadata
    n_out = next(
        int(sn.get("summary", {}).get("added-records", 0))
        for sn in current_metadata(output)["snapshots"]
        if sn["snapshot-id"] == snapshot_id
    )
    if mixture_summary is not None:
        # rate-table lineage ON the produced table (after the write so
        # the property lands on the new table state)
        from htrtf_spark.operators.sampling import record_mixture_rates

        record_mixture_rates(
            output, rates, mixture_tau, mixture_target_bp
        )
        rates.unpersist()
    summary = {
        "output": output,
        "turns_in": n_turns,
        "turns_out": n_out,
        "dropped": n_turns - n_out,
        "min_tokens": min_tokens,
        "max_stop_ratio_bp": max_stop_ratio_bp,
        "max_link_density_bp": max_link_density_bp,
        "partition_by": partition_by or [],
        "sample_rates_bp": sample_rates_bp or {},
        "pack_tokens": pack_tokens,
        "mixture": mixture_summary,
    }
    # lineage lives NEXT TO the data (north-rule style), not only stdout
    import os

    with open(os.path.join(output, "_summary.json"), "w") as fh:
        json.dump(summary, fh, indent=2)
    return summary


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--input-jsonl", help="transcripts JSON-lines path")
    src.add_argument("--input-orc", help="transcripts ORC path")
    src.add_argument("--input-csv", help="transcripts CSV path")
    src.add_argument("--iceberg-table", help="Iceberg transcripts table")
    p.add_argument("--output", required=True, help="Iceberg output table dir")
    p.add_argument("--min-tokens", type=int, default=25)
    p.add_argument("--max-stop-ratio-bp", type=int, default=8000)
    p.add_argument("--max-link-density-bp", type=int, default=None,
                   help="drop turns whose floor-bp URLs-per-token "
                        "exceeds this (link-farm guard; off by default)")
    p.add_argument("--partition-by", default=None,
                   help="comma-separated partition terms (identity / "
                        "days(col) / bucket(N,col) / truncate(W,col))")
    p.add_argument("--sample-rates", default=None, metavar="MODE=BP,...",
                   help="deterministic per-mode mixture rates in basis "
                        "points, e.g. plain=10000,dom=5000 (modes "
                        "omitted are kept — pass explicit 0 to drop)")
    p.add_argument("--pack-tokens", type=int, default=None,
                   help="assign turns to fixed-token training sequences "
                        "(adds pack_bucket/pack_seq columns)")
    p.add_argument("--mixture-tau", type=float, default=None,
                   help="temperature-based mixture sampling over the "
                        "extraction mode column (rates computed FROM "
                        "the corpus as n^tau, recorded on the output "
                        "table; mutually exclusive with --sample-rates)")
    p.add_argument("--mixture-target-bp", type=int, default=5000,
                   help="overall document budget for --mixture-tau in "
                        "basis points (default 5000 = keep half)")
    p.add_argument("--overwrite", action="store_true",
                   help="allow replacing an existing output table's "
                        "rows (one snapshot; history time-travelable). "
                        "Implied by --reuse-mixture-rates ticks.")
    p.add_argument("--reuse-mixture-rates", action="store_true",
                   help="sample with the rate table recorded by the "
                        "PREVIOUS run of this output table (one-scan "
                        "tick; new modes keep-all until the next "
                        "recompute)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from htrtf_spark.sources.transcripts import (
        read_transcripts_csv,
        read_transcripts_iceberg,
        read_transcripts_jsonl,
        read_transcripts_orc,
        read_transcripts_parquet,
    )

    if args.iceberg_table:
        tr = read_transcripts_iceberg(spark, args.iceberg_table)
    elif args.input_jsonl:
        tr = read_transcripts_jsonl(spark, args.input_jsonl)
    elif args.input_orc:
        tr = read_transcripts_orc(spark, args.input_orc)
    elif args.input_csv:
        tr = read_transcripts_csv(spark, args.input_csv)
    else:
        tr = read_transcripts_parquet(spark, args.input)

    rates = None
    if args.sample_rates:
        rates = {}
        for part in args.sample_rates.split(","):
            mode, _, bp = part.partition("=")
            rates[mode.strip()] = int(bp)
    summary = build_training_set(
        spark, tr, args.output,
        min_tokens=args.min_tokens,
        max_stop_ratio_bp=args.max_stop_ratio_bp,
        max_link_density_bp=args.max_link_density_bp,
        partition_by=(
            args.partition_by.split(",") if args.partition_by else None
        ),
        sample_rates_bp=rates,
        pack_tokens=args.pack_tokens,
        mixture_tau=args.mixture_tau,
        mixture_target_bp=args.mixture_target_bp,
        reuse_mixture_rates=args.reuse_mixture_rates,
        overwrite=args.overwrite,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
