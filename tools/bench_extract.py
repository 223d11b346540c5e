"""Single-run extraction benchmark worker — designed for spark-submit.

    spark-submit --master local[8] --py-files htrtf_spark.zip \
        tools/bench_extract.py <input_parquet> [timed_reps]

Reads a transcripts parquet, runs the full extraction plan (salted
repartition → mapInArrow → noop materialization), prints ONE JSON line:
    {"master": ..., "turns": N, "wall_sec": s, "turns_per_sec": t}

Timing excludes session startup and Python-worker spin-up (a warmup
action runs first), so two runs at different parallelism measure the
job, not the JVM.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    path = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.conf.get("spark.master")

    from htrtf_spark.plans.pipeline import extract_turns, ordered_extract
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

    df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)

    # Warmup: run the identical jobs once untimed so every executor thread
    # spawns its Python worker and imports pandas (one-time cost that
    # amortizes to zero on a long-running cluster job; timing it would
    # measure process spawn, not the pipeline).
    extract_turns(df, check_schema=False).write.mode("overwrite").format("noop").save()
    ordered_extract(df, check_schema=False).write.mode("overwrite").format(
        "noop"
    ).save()

    turns = df.count()

    # best-of-3: the sandbox VM shows large transient throughput noise;
    # min wall is the least-contended estimate of the job's real cost.
    def best_of(job, reps: int = reps) -> float:
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            job().write.mode("overwrite").format("noop").save()
            walls.append(time.monotonic() - t0)
        return min(walls)

    wall = best_of(lambda: extract_turns(df, check_schema=False))
    wall_ordered = best_of(lambda: ordered_extract(df, check_schema=False))

    print(
        json.dumps(
            {
                "master": master,
                "turns": turns,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(turns / wall, 1),
                "ordered_wall_sec": round(wall_ordered, 3),
                "ordered_turns_per_sec": round(turns / wall_ordered, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
