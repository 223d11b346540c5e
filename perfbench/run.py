"""Benchmark of the transcript pipeline, one workload per run.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: bulk_extract and
incremental_ticks (see workloads.py and perfbench/README.md). One driver
process runs Spark on local[4].

A run starts the session cold (the first set-up), builds or loads from
the cache the seeded inputs, then stops the session and sets it up again
twice in the same JVM; ``setup_s`` is the median of the three set-ups.
After untimed warm-up operations it runs the workload's operations back
to back for ``--seconds``, checks the outputs, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the program's layer functions in
spans, reads Spark's status store per operation, runs the workload's
traced passes once and reports the per-layer metrics instead. Everything else goes to standard error. The
exit code is 0 only when every operation succeeded and every check held.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T0 = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 4
# well below the box's memory; the inputs are small. The heap is sized
# and touched up front, so peak RSS does not follow G1's adaptive resizing
# (which made it vary by a quarter from run to run); what the heap holds
# is reported by the traced run instead (jvm.old_gen_peak_mb).
DRIVER_MEM = "2g"
RESTARTS = 2  # set-ups in a run: the cold one, then this many restarts
# untimed operations run first: at least this many, and for this long
WARMUP_OPS, WARMUP_S = 2, 10.0


def _log(*args) -> None:
    print(f"[{time.monotonic() - T0:6.1f}s]", *args, file=sys.stderr, flush=True)


def _configure_env() -> dict[str, str]:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program from it."""
    dirs = {k: os.path.join(STATE, k) for k in ("cache", "work", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "PYTHONHASHSEED": "0",  # the workers' string hashing, the same every run
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return dirs


class Session:
    """The driver's Spark session, the JVM under it, and the warm-up that
    starts the Python workers (they import the extraction kernel)."""

    def __init__(self, tmp_dir: str):
        import pandas as pd  # noqa: F401  (imported before timing)

        from htrtf_spark.synth import synth_pandas

        self._conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp_dir}"
            ),
        }
        self._warm_rows = synth_pandas(40, seed=0, shuffled=False)
        self.spark = None

    def start(self) -> float:
        """Starts the session (and the JVM, the first time); returns the
        seconds it took."""
        from htrtf_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CPUS}]", extra_conf=self._conf
        )
        return time.perf_counter() - t0

    def warm(self) -> float:
        """Runs the extraction kernel on every core, so the Python workers
        are up and have imported it; returns the seconds it took."""
        from htrtf_spark.plans.pipeline import extract_turns

        t0 = time.perf_counter()
        df = self.spark.createDataFrame(self._warm_rows).repartition(CPUS)
        extract_turns(df, check_schema=False).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def restart(self) -> tuple[float, float]:
        """Stops the session and sets it up again in the same JVM: returns
        (session start, worker warm-up) seconds."""
        self.spark.stop()
        return self.start(), self.warm()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM and every
        process under it (the Python workers) has ended."""
        from pyspark import SparkContext

        from perfbench.sparkstats import process_tree, wait_gone

        gw = SparkContext._gateway
        pids = process_tree(gw.proc.pid) if gw is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        left = wait_gone(pids, 30)
        if left:
            _log(f"processes still running after shutdown: {left}")


# ----------------------------------------------------------- trace metrics
# per operation, medians over the traced operations of a run
PER_OP_LAYER_METRICS = (
    "op.build_s",
    "spark.jobs", "spark.jobs_at_build", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.cores_busy_frac", "spark.task_skew",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "checkpoint.pass_s", "checkpoint.commit_s", "checkpoint.commit_ms_per_bucket",
    "incremental.tick_s",
    "iceberg.metadata_read_s", "iceberg.scan_plan_s", "iceberg.files_scanned",
    "iceberg.snapshots", "iceberg.append_s", "iceberg.append_job_frac",
)
# from the traced passes (workloads.HygienePass, workloads.OrderingPass)
PASS_METRICS = (
    "substr.build_s", "substr.jobs_at_build",
    "dedup.build_s", "dedup.jobs_at_build", "dedup.caches_released",
    "ordering.rows_per_s", "ordering.rank_task_skew", "ordering.spill_mb",
)


def _layer_key(layer: str) -> str:
    return f"layer.{layer}.self_s"


def op_trace_metrics(tracer, store, root: int, wall: float) -> dict:
    from perfbench.trace import BUILDERS

    ids = tracer.op_spans(root)
    spans = tracer.spans
    jobs = {i: store.job_ids(spans[i].group) for i in ids}

    def subtree_jobs(names: set[str]) -> list[int]:
        out = []
        for i in ids:
            if spans[i].name in names:
                out += [j for k in tracer.op_spans(i) for j in jobs[k]]
        return sorted(set(out))

    s = store.summarize(sorted({j for v in jobs.values() for j in v}))
    append_names = {"append_iceberg_table", "write_iceberg_table"}
    append_s = tracer.outermost_time(ids, append_names)
    read_names = {"read_iceberg_table", "read_iceberg_increment"}
    files = 0
    for i in ids:
        if spans[i].name in read_names and tracer.outermost_time([i], read_names):
            files += len(spans[i].result.inputFiles())
    m = {
        "op.build_s": tracer.outermost_time(ids, set(BUILDERS)),
        "spark.jobs": s["jobs"],
        "spark.jobs_at_build": sum(len(jobs[i]) for i in ids if spans[i].name in BUILDERS),
        "spark.stages": s["stages"],
        "spark.tasks": s["tasks"],
        "spark.executor_run_s": s["executor_run_s"],
        "spark.cores_busy_frac": s["executor_run_s"] / (wall * CPUS),
        "spark.task_skew": s["task_skew"],
        "spark.shuffle_write_mb": s["shuffle_write_bytes"] / 2**20,
        "spark.shuffle_read_mb": s["shuffle_read_bytes"] / 2**20,
        "spark.spill_mb": s["spill_bytes"] / 2**20,
        "iceberg.metadata_read_s": tracer.outermost_time(ids, {"current_metadata"}),
        "iceberg.scan_plan_s": tracer.outermost_time(ids, read_names),
        "iceberg.files_scanned": files,
        "iceberg.append_s": append_s,
        "iceberg.append_job_frac": (
            store.summarize(subtree_jobs(append_names))["job_wall_s"] / append_s
            if append_s else 0.0
        ),
        "substr.build_s": tracer.outermost_time(ids, {"repeated_substring_spans"}),
        "substr.jobs_at_build": len(subtree_jobs({"repeated_substring_spans"})),
        "dedup.build_s": tracer.outermost_time(ids, {"minhash_lsh_pairs"}),
        "dedup.jobs_at_build": len(subtree_jobs({"minhash_lsh_pairs"})),
    }
    for i in ids:
        key = _layer_key(spans[i].layer)
        m[key] = m.get(key, 0.0) + tracer.self_time(i)
    return m


def extraction_split(spark, src, seed: int, reps: int = 3) -> dict:
    """Seconds of a noop sink over the scan alone, the scan plus an
    identity mapInArrow and mapInPandas (the Arrow boundary), and the scan
    plus the extraction stage; and rows/s of the pandas kernel alone in
    the driver on one core over a fixed seeded batch. Medians of ``reps``."""
    from htrtf_spark.operators.extraction import extract_pandas
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.synth import synth_pandas

    def timed(fn) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    batch = synth_pandas(300, seed=seed)
    out = {"extraction.kernel_rows_per_s": len(batch) / timed(lambda: extract_pandas(batch))}
    names = ("scan_s", "boundary_s", "pandas_boundary_s", "kernel_s")
    if src is None:
        return {**out, **{f"extraction.{n}": 0.0 for n in names}}
    cols = src.select("conv_id", "turn_idx", "role", "text")
    plans = (
        cols,
        cols.mapInArrow(lambda it: it, cols.schema),
        cols.mapInPandas(lambda it: it, cols.schema),
        extract_turns(src, check_schema=False),
    )
    for name, df in zip(names, plans):
        out[f"extraction.{name}"] = timed(
            lambda: df.write.format("noop").mode("overwrite").save()
        )
    return out


def status_store_selftest(spark, store) -> list[str]:
    """A scan -> groupBy query with AQE off must show no job while its plan
    is built, then one job of two stages that shuffles bytes."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("selftest-build", "")
        df = spark.range(0, 100_000, numPartitions=CPUS).groupBy(
            (F.col("id") % 7).alias("k")
        ).count()
        sc.setJobGroup("selftest-action", "")
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    at_build = store.job_ids("selftest-build")
    s = store.summarize(store.job_ids("selftest-action"))
    ok = (
        not at_build and s["jobs"] == 1 and s["stages"] == 2
        and s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] > 0
    )
    return [] if ok else [f"status-store self-test: build jobs {at_build}, action {s}"]


# ------------------------------------------------------------------- run
def run(args, dirs: dict[str, str]) -> dict:
    from htrtf_spark.operators.dedup import release_caches

    from perfbench.checks import no_persisted_rdds
    from perfbench.sparkstats import OldGenPeak, RssSampler, StatusStore
    from perfbench.trace import LAYERS, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    session = Session(dirs["tmp"])
    work = os.path.join(dirs["work"], str(os.getpid()))
    sampler = None
    try:
        jvm_start_s = session.start()
        cold_warm_s = session.warm()
        setups = [time.monotonic() - T0]  # from process start
        _log("session up")
        ctx = Ctx(session.spark, args.seed, dirs["cache"], work)
        wl = WORKLOADS[args.workload](ctx)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        t0 = time.perf_counter()
        wl.inputs()  # cached input generation; not part of set-up time
        _log(f"inputs: {time.perf_counter() - t0:.2f}s")

        starts, warms = [], []
        for _ in range(RESTARTS):
            s, w = session.restart()
            starts.append(s)
            warms.append(w)
            setups.append(s + w)
        ctx.spark = session.spark
        _log(f"set-ups {[round(s, 3) for s in setups]}")

        # per-run state, then untimed operations: the first ones in a
        # session compile and load what the rest reuse
        wl.prepare()
        before = getattr(wl, "before", None)
        warm_end = time.monotonic() + WARMUP_S
        first = 0
        while (first < WARMUP_OPS or time.monotonic() < warm_end) and first < wl.max_ops // 2:
            if before:
                before(first)
            wl.op(first)
            release_caches()
            first += 1
        _log(f"{first} warm-up ops")
        sampler = RssSampler(session.jvm_pid())
        store = tracer = old_gen = None
        if args.trace:
            old_gen = OldGenPeak(ctx.spark)
            store = StatusStore(ctx.spark)
            tracer = Tracer(ctx.spark, f"pb{os.getpid()}")
            tracer.install()

        def traced_root(name: str, fn):
            """Runs ``fn`` under a root span; returns (its result, the root)."""
            with tracer.span(name, "op") as sp:
                out = fn()
            return out, tracer.spans.index(sp)

        # the traced run alternates untraced and traced operations, so
        # the tracing overhead is measured on the same run
        walls, traced_walls, rates, per_op, errors = [], [], [], [], []
        sampler.reset()
        if old_gen is not None:
            old_gen.reset()
        t_end = time.monotonic() + args.seconds
        i = first
        while i < wl.max_ops and (i == first or time.monotonic() < t_end):
            traced = tracer is not None and (i - first) % 2 == 1
            ctx.tracer = tracer if traced else None
            try:
                up = None
                if before and traced:
                    _, up = traced_root("upstream", lambda: before(i))
                elif before:
                    before(i)
                t0 = time.perf_counter()
                if traced:
                    n, root = traced_root("op", lambda: wl.op(i))
                else:
                    n = wl.op(i)
                wall = time.perf_counter() - t0
            except Exception:  # an operation failed: count it and stop
                errors.append(traceback.format_exc())
                i += 1
                break
            (traced_walls if traced else walls).append(wall)
            if not traced:
                rates.append(n / wall)
            release_caches()  # each operation starts cold
            if traced:
                m = {**op_trace_metrics(tracer, store, root, wall),
                     **wl.layer_metrics(i, tracer.op_spans(root))}
                if up is not None:  # the upstream step: the append, and its layers
                    u = op_trace_metrics(tracer, store, up, tracer.spans[up].dur)
                    for k in ("iceberg.append_s", "iceberg.append_job_frac"):
                        m[k] = u[k]
                    for k, v in u.items():
                        if k.startswith("layer."):
                            m[k] = m.get(k, 0.0) + v
                per_op.append(m)
            i += 1
        ctx.tracer = None
        peak_rss_mb = sampler.peak_mb()
        attempted = i - first
        for e in errors:
            _log(e)

        # traced passes through the layers the timed operations do not
        # reach; each runs once, cold, and is checked with the workload
        passes, ran, pass_metrics = (wl.passes() if tracer is not None else []), [], {}
        for ps in passes:
            ctx.tracer = tracer
            try:
                _, root = traced_root(ps.name, ps.run)
            except Exception:
                errors.append(traceback.format_exc())
                _log(errors[-1])
                continue
            finally:
                ctx.tracer = None
            ran.append(ps)
            released = release_caches()
            ids = tracer.op_spans(root)
            m = op_trace_metrics(tracer, store, root, tracer.spans[root].dur)
            pass_metrics.update(ps.metrics(tracer, store, ids, m, released))
            for k, v in m.items():
                if k.startswith("layer."):
                    pass_metrics[k] = pass_metrics.get(k, 0.0) + v
            _log(f"{ps.name} pass: {tracer.spans[root].dur:.3f}s")
        attempted += len(passes)
        old_gen_peak_mb = old_gen.peak_mb() if old_gen is not None else 0.0
        _log("checking")

        extra = {}
        if tracer is not None:
            tracer.uninstall()
            extra = extraction_split(ctx.spark, wl.source(), args.seed)
        failures = wl.check() + no_persisted_rdds(ctx.spark)
        for ps in ran:
            failures += ps.check()
        if tracer is not None:
            failures += status_store_selftest(ctx.spark, store)
        for f in failures:
            _log("CHECK FAILED:", f)

        _log(f"{args.workload}: {len(walls)} ops, walls(s)={[round(w, 3) for w in walls]}")
        if len(walls) >= 11:
            p = 100 * (len(walls) - 10) // len(walls)
            tail = statistics.quantiles(walls, n=100)[p - 1]
            _log(f"p{p} op wall {tail:.3f}s over {len(walls)} ops")

        if not args.trace:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
                "rows_per_s": (statistics.median(rates) if rates else 0.0, "rows/s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        else:
            untraced = statistics.median(walls) if walls else 0.0
            traced = statistics.median(traced_walls) if traced_walls else 0.0
            metrics = {
                "session.jvm_start_s": (jvm_start_s, "s"),
                "session.cold_worker_warm_s": (cold_warm_s, "s"),
                "session.start_s": (statistics.median(starts), "s"),
                "session.worker_warm_s": (statistics.median(warms), "s"),
                "trace.op_p50_s": (traced, "s"),
                "trace.overhead_frac": (traced / untraced - 1 if untraced else 0.0, "ratio"),
                "jvm.old_gen_peak_mb": (old_gen_peak_mb, "MB"),
            }
            keys = list(PER_OP_LAYER_METRICS) + [_layer_key(l) for l in (*LAYERS, "spark")]
            for k in keys:
                vals = [m.get(k, 0.0) for m in per_op] or [0.0]
                metrics[k] = (statistics.median(vals) + pass_metrics.get(k, 0.0), _unit(k))
            for k in PASS_METRICS:
                metrics[k] = (pass_metrics.get(k, 0.0), _unit(k))
            for k, v in extra.items():
                metrics[k] = (v, _unit(k))
        for k, (v, u) in metrics.items():
            _log(f"  {k} = {v:.6g} {u}")
        failed = len(errors) + (1 if failures else 0)
        return {
            "correct": not failures and not errors,
            "attempted": attempted + 1,  # the correctness checks count as one
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if sampler is not None:
            sampler.close()
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def _unit(key: str) -> str:
    if key.endswith("_per_s"):
        return "rows/s"
    if key.endswith("_ms_per_bucket"):
        return "ms"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_s"):
        return "s"
    if key.endswith(("_frac", "_skew")):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "htrtf_spark", "__init__.py")):
        _log(f"no htrtf_spark package under {ROOT}: run from the root of a checkout")
        return 2
    dirs = _configure_env()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    stdout, sys.stdout = sys.stdout, sys.stderr  # the result is the only stdout line
    try:
        result = run(args, dirs)
    finally:
        sys.stdout = stdout
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
