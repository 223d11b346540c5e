"""The benchmark's workloads. Each is a closed loop with one client: an
operation starts only after the previous one has finished.

A workload has ``inputs()`` (the cached seeded inputs), ``prepare()``
(per-run state such as output tables), ``op(i)`` (one timed operation
through the program's public entry points, into fresh outputs; returns
the number of input rows it processed), ``check()`` (correctness,
untimed; returns failure messages) and, for the traced run,
``source()`` (a transcripts DataFrame for the extraction-layer split, or
None), ``layer_metrics(i, ids)`` (metrics only this workload has, from
operation ``i``'s spans ``ids``) and ``passes()`` (traced passes run
once after the timed operations). A workload may also have
``before(i)``: an untimed step run before operation ``i``.

A pass has ``run()``, ``metrics(tracer, store, ids, m, released)`` (its
per-layer metrics, from its spans ``ids``, ``m`` as
``run.op_trace_metrics`` gives it for the pass, and what
``release_caches()`` returned after it) and ``check()``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.inputs import cached, documents_frame, parquet_rows, pool_rows, sample_convs


class Ctx:
    def __init__(self, spark, seed: int, cache: str, work: str):
        self.spark = spark
        self.seed = seed
        self.cache = cache
        self.work = work
        self.tracer = None

    def write(self, df, path: str) -> None:
        """Write ``df`` to parquet at ``path`` (the benchmark's own action)."""
        if self.tracer is None:
            df.write.parquet(path)
            return
        from perfbench.trace import ACTION_LAYER

        with self.tracer.span("parquet_write", ACTION_LAYER):
            df.write.parquet(path)

    def sample_ids(self, ids: list[str], k: int) -> list[str]:
        rs = np.random.RandomState(self.seed)
        return [str(c) for c in rs.choice(ids, size=min(k, len(ids)), replace=False)]


def _largest_convs(df, n: int) -> list[str]:
    from pyspark.sql import functions as F

    top = df.groupBy("conv_id").count().orderBy(F.desc("count"), "conv_id").limit(n)
    return [r["conv_id"] for r in top.collect()]


class BulkExtract:
    """Checkpointed extraction of a whole Iceberg corpus into a fresh
    output directory. The extraction stage (Arrow boundary plus kernel)
    is the largest share of an operation; the bucket shuffle, the staging
    write and the checkpoint commit take most of the rest."""

    name = "bulk_extract"
    CONVS = 8_000  # ~145k turns, 1% whales of 600-1200 turns
    BUCKETS = 8  # ~18k turns per bucket
    max_ops = 1_000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.outs: list[str] = []

    def inputs(self) -> None:
        from htrtf_spark.sources.iceberg import write_iceberg_table

        ctx = self.ctx
        self.ids = sample_convs(self.CONVS, ctx.seed)

        def build(d):
            loc = os.path.join(d, "table")
            write_iceberg_table(pool_rows(ctx.spark, ctx.cache, self.ids), loc)
            return {"rows": parquet_rows(os.path.join(loc, "data"))}

        d, info = cached(ctx.cache, "bulk", ctx.seed, build)
        self.loc, self.rows = os.path.join(d, "table"), info["rows"]
        self.hygiene = HygienePass(ctx)
        self.hygiene.inputs()

    def prepare(self) -> None:
        pass

    def passes(self) -> list:
        return [self.hygiene, OrderingPass(self.ctx, self.source())]

    def source(self):
        from htrtf_spark.sources.transcripts import read_transcripts_iceberg

        return read_transcripts_iceberg(self.ctx.spark, self.loc)

    def op(self, i: int) -> int:
        from htrtf_spark.plans.checkpoint import run_extraction_checkpointed
        from htrtf_spark.sources.transcripts import read_transcripts_iceberg

        out = os.path.join(self.ctx.work, f"bulk-{i}")
        self.outs.append(out)
        df = read_transcripts_iceberg(self.ctx.spark, self.loc)
        run_extraction_checkpointed(self.ctx.spark, df, out, n_buckets=self.BUCKETS)
        return self.rows

    def _manifest(self, out: str):
        from htrtf_spark.plans.checkpoint import MANIFEST_DIR

        return pq.read_table(os.path.join(out, MANIFEST_DIR)).to_pandas()

    def layer_metrics(self, i: int, ids: list[int]) -> dict:
        """The extraction+staging pass (the manifest's wall_ms) and the
        rest of the checkpointed run: lineage counts, renames, manifest
        publishes."""
        job = self.ctx.tracer.outermost_time(ids, {"run_extraction_checkpointed"})
        pass_s = self._manifest(self.outs[i])["wall_ms"].sum() / 1000.0
        commit_s = max(job - pass_s, 0.0)
        return {
            "checkpoint.pass_s": pass_s,
            "checkpoint.commit_s": commit_s,
            "checkpoint.commit_ms_per_bucket": 1000.0 * commit_s / self.BUCKETS,
        }

    def check(self) -> list[str]:
        from htrtf_spark.plans.checkpoint import STAGING_DIR, read_output

        fails = []
        for out in self.outs:
            rows_in = int(self._manifest(out)["rows_in"].sum())
            if rows_in != self.rows:
                fails.append(f"{out}: manifest rows_in {rows_in} != input rows {self.rows}")
            if os.path.exists(os.path.join(out, STAGING_DIR)):
                fails.append(f"{out}: staging directory left behind")
        if not self.outs:
            return fails
        got = read_output(self.ctx.spark, self.outs[-1])
        ids = self.ctx.sample_ids(self.ids, 40) + _largest_convs(got, 3)
        return fails + checks.parity("bulk_extract", got, self.source(), ids)


class IncrementalTicks:
    """Upstream appends one pre-generated batch to the source Iceberg
    table (untimed, ``before``); the timed operation is the consumer's
    exactly-once incremental tick into an Iceberg output table. Fixed
    per-tick costs (metadata reads, commits, job launch) dominate."""

    name = "incremental_ticks"
    BASE_CONVS = 200
    # ~1.8k turns per tick. No whales: one would make its tick's longest
    # task, and whale sizes differ by seed, so tick times would too
    BATCH_CONVS = 200
    max_ops = 40  # pre-generated batches
    BASE = -1  # the batch number of the initial load

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ticked: list[int] = []

    def _batch_path(self, b: int) -> str:
        return os.path.join(self.data, "batches", f"batch={b}")

    def _read(self, path: str):
        from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

        return self.ctx.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)

    def inputs(self) -> None:
        ctx = self.ctx
        self.ids = sample_convs(
            self.BASE_CONVS + self.max_ops * self.BATCH_CONVS, ctx.seed, whales=False
        )
        batch = [self.BASE] * self.BASE_CONVS + [
            b for b in range(self.max_ops) for _ in range(self.BATCH_CONVS)
        ]

        def build(d):
            rows = pool_rows(ctx.spark, ctx.cache, self.ids, batch=batch)
            out = os.path.join(d, "batches")
            # four files per batch, so each tick's jobs run on every core
            rows.repartition(4, "conv_id").write.partitionBy("batch").parquet(out)
            return {
                str(b): parquet_rows(os.path.join(out, f"batch={b}"))
                for b in range(self.BASE, self.max_ops)
            }

        self.data, info = cached(ctx.cache, "ticks", ctx.seed, build)
        self.batch_rows = {int(b): rows for b, rows in info.items()}

    def prepare(self) -> None:
        from htrtf_spark.plans.incremental import extract_increment_once
        from htrtf_spark.sources.iceberg import write_iceberg_table

        self.src = os.path.join(self.ctx.work, "source")
        self.dst = os.path.join(self.ctx.work, "extracted")
        write_iceberg_table(self._read(self._batch_path(self.BASE)), self.src)
        extract_increment_once(self.ctx.spark, self.src, self.dst)  # the full first load

    def source(self):
        return None

    def passes(self) -> list:
        return []

    def before(self, i: int) -> None:
        from htrtf_spark.sources.iceberg import append_iceberg_table

        append_iceberg_table(self._read(self._batch_path(i)), self.src)

    def op(self, i: int) -> int:
        from htrtf_spark.plans.incremental import extract_increment_once

        res = extract_increment_once(self.ctx.spark, self.src, self.dst)
        self.ticked.append(res["rows"])
        return res["rows"]

    def layer_metrics(self, i: int, ids: list[int]) -> dict:
        from htrtf_spark.sources.iceberg import current_metadata

        return {
            "incremental.tick_s": self.ctx.tracer.outermost_time(ids, {"extract_increment_once"}),
            "iceberg.snapshots": len(current_metadata(self.src)["snapshots"]),
        }

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from htrtf_spark.sources.iceberg import list_refs, read_iceberg_table

        spark = self.ctx.spark
        fails = [
            f"tick {i}: committed {n} rows, batch has {self.batch_rows[i]}"
            for i, n in enumerate(self.ticked)
            if n != self.batch_rows[i]
        ]
        out = read_iceberg_table(spark, self.dst)
        n_src = sum(self.batch_rows[i] for i in range(self.BASE, len(self.ticked)))
        keys = out.groupBy("conv_id", "turn_idx").count()
        n_out, dups = keys.agg(
            F.sum("count"), F.sum((F.col("count") > 1).cast("long"))
        ).first()
        if n_out != n_src:
            fails.append(f"exactly-once: output has {n_out} rows, source {n_src}")
        if dups:
            fails.append(f"exactly-once: {dups} duplicate (conv_id, turn_idx) keys")
        for loc in (self.src, self.dst):
            extra = set(list_refs(loc)) - {"main"}
            if extra:
                fails.append(f"{loc}: refs left behind: {sorted(extra)}")
        if self.ticked:
            last = len(self.ticked) - 1
            lo = self.BASE_CONVS + last * self.BATCH_CONVS
            batch = self._read(self._batch_path(last))
            ids = self.ctx.sample_ids(self.ids[lo:lo + self.BATCH_CONVS], 20)
            ids += _largest_convs(batch, 1)
            fails += checks.parity("incremental_ticks", out, batch, ids)
        return fails


class HygienePass:
    """One cold pass of q101 (training_corpus_stripped: extraction,
    repeated substring strip, quality filter, dedup) then q27 (MinHash LSH
    near-dup pairs with exact Jaccard verification) over a seeded
    documents table, each written to fresh parquet. The substring and
    dedup operators launch Spark jobs while their plans are built."""

    name = "hygiene"
    DOCS = 400
    QUERIES = ("q101_training_corpus_stripped", "q27_minhash_neardup_verified")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.out = os.path.join(ctx.work, "hygiene")

    def inputs(self) -> None:
        def build(d):
            documents_frame(self.DOCS, self.ctx.seed).to_parquet(
                os.path.join(d, "documents.parquet"), index=False
            )
            return {"rows": self.DOCS}

        self.dir, _ = cached(self.ctx.cache, "documents", self.ctx.seed, build)

    def run(self) -> None:
        from htrtf_spark.queries.dedup import q27_minhash_neardup_verified
        from htrtf_spark.queries.training_pipeline import training_corpus_stripped

        spark = self.ctx.spark
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        # each plan is built, then written
        self.ctx.write(training_corpus_stripped(docs), os.path.join(self.out, self.QUERIES[0]))
        self.ctx.write(
            q27_minhash_neardup_verified(spark, self.dir), os.path.join(self.out, self.QUERIES[1])
        )

    def metrics(self, tracer, store, ids: list[int], m: dict, released: int) -> dict:
        keys = ("substr.build_s", "substr.jobs_at_build", "dedup.build_s", "dedup.jobs_at_build")
        return {**{k: m[k] for k in keys}, "dedup.caches_released": released}

    def check(self) -> list[str]:
        from htrtf_spark.queries import oracle_sqls

        sqls = oracle_sqls()
        fails = []
        for name in self.QUERIES:
            got = self.ctx.spark.read.parquet(os.path.join(self.out, name))
            fails += checks.duckdb_agreement(name, got, sqls[name], self.dir)
        return fails


class OrderingPass:
    """``ordered_extract``, then capped ``conversation_documents`` over
    its output, on a transcripts frame in which about half of the
    conversations are re-keyed onto one whale conversation (their turn
    order kept), so one task ranks the whale."""

    name = "ordering"
    MAX_TURNS, MAX_DOC_CHARS = 256, 50_000

    def __init__(self, ctx: Ctx, src):
        from pyspark.sql import functions as F

        self.ctx = ctx
        self.out = os.path.join(ctx.work, "ordering")
        num = F.regexp_extract("conv_id", r"(\d+)$", 1).cast("int")
        member = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
        self.src = src.select(
            F.when(member, F.lit("whale")).otherwise(F.col("conv_id")).alias("conv_id"),
            # a conversation has fewer than 10,000 turns
            F.when(member, num * 10_000 + F.col("turn_idx"))
            .otherwise(F.col("turn_idx")).cast("int").alias("turn_idx"),
            "role", "text",
        )

    def run(self) -> None:
        from htrtf_spark.plans.pipeline import conversation_documents, ordered_extract

        conf = self.ctx.spark.conf
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = conf.get(key)
        # left on, AQE merges this small input's rank partitions into one
        # task, and the whale's task cannot be told from the others
        conf.set(key, "false")
        try:
            ranked = os.path.join(self.out, "ranked")
            self.ctx.write(ordered_extract(self.src, check_schema=False), ranked)
            docs = conversation_documents(
                self.ctx.spark.read.parquet(ranked),
                max_turns=self.MAX_TURNS, max_doc_chars=self.MAX_DOC_CHARS,
            )
            self.ctx.write(docs, os.path.join(self.out, "documents"))
        finally:
            conf.set(key, old)

    def metrics(self, tracer, store, ids: list[int], m: dict, released: int) -> dict:
        """The rank stage is the one of the rank write's jobs that reads
        the shuffle; its longest task is the one that sorts the whale."""
        rank = min(i for i in ids if tracer.spans[i].name == "parquet_write")
        s = store.summarize(store.job_ids(tracer.spans[rank].group))
        return {
            "ordering.rows_per_s": parquet_rows(os.path.join(self.out, "ranked"))
            / tracer.spans[ids[0]].dur,
            "ordering.rank_task_skew": s["read_task_skew"],
            "ordering.spill_mb": m["spark.spill_mb"],
        }

    def check(self) -> list[str]:
        """``rn`` runs 1..n in every conversation of n input turns, and each
        capped document reports n turns and keeps at most the cap."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        want = self.src.groupBy("conv_id").agg(F.count("*").alias("n"))
        ranked = spark.read.parquet(os.path.join(self.out, "ranked")).groupBy("conv_id").agg(
            F.count("*").alias("c"), F.min("rn").alias("lo"), F.max("rn").alias("hi"),
            F.countDistinct("rn").alias("d"),
        )
        docs = spark.read.parquet(os.path.join(self.out, "documents"))
        n = F.col("n")
        ok = (
            (F.col("c") == n) & (F.col("lo") == 1) & (F.col("hi") == n) & (F.col("d") == n)
            & (F.col("n_turns") == n) & (F.col("n_turns_kept") <= self.MAX_TURNS)
        )
        j = want.join(ranked, "conv_id", "full").join(docs, "conv_id", "full")
        bad, whale = j.agg(
            F.sum((~F.coalesce(ok, F.lit(False))).cast("long")),
            F.max(F.when(F.col("conv_id") == "whale", n)),
        ).first()
        fails = [f"ordering: {bad} conversations with a broken rank or document"] if bad else []
        if not whale or whale <= self.MAX_TURNS:
            fails.append(f"ordering: the whale has {whale} turns")
        return fails


WORKLOADS = {w.name: w for w in (BulkExtract, IncrementalTicks)}
