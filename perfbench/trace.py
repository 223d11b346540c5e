"""Spans around the calls an operation makes into the program's layers.

The spans are recorded from the benchmark's side, without touching the
program: while a ``Tracer`` is installed, each public function listed in
``LAYERS`` is replaced, in every ``htrtf_spark`` module that holds a
reference to it, by a wrapper that records a span (name, layer, start,
end, parent) and runs the call under its own Spark job group. The status
store can then attribute every Spark job to the innermost span that
launched it, which separates jobs launched while a plan is built from
jobs launched by the action.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer -> (module, public functions whose calls are spans). Functions
# that return a lazy DataFrame build plans: Spark jobs they launch
# run before the action.
LAYERS = {
    "sources.iceberg": ("htrtf_spark.sources.iceberg", (
        "current_metadata", "read_iceberg_table", "read_iceberg_increment",
        "append_iceberg_table", "write_iceberg_table",
    )),
    "sources.transcripts": ("htrtf_spark.sources.transcripts", (
        "read_transcripts_iceberg",
    )),
    "plans.checkpoint": ("htrtf_spark.plans.checkpoint", (
        "run_extraction_checkpointed",
    )),
    "plans.incremental": ("htrtf_spark.plans.incremental", (
        "extract_increment_once",
    )),
    "plans.pipeline": ("htrtf_spark.plans.pipeline", (
        "extract_turns", "ordered_extract", "conversation_documents",
    )),
    "plans.ordering": ("htrtf_spark.plans.ordering", ("fan_out", "with_turn_rank")),
    "operators.substr_dedup": ("htrtf_spark.operators.substr_dedup", (
        "repeated_substring_spans", "strip_repeated_spans",
    )),
    "operators.dedup": ("htrtf_spark.operators.dedup", (
        "minhash_lsh_pairs", "release_caches",
    )),
    "queries.training_pipeline": ("htrtf_spark.queries.training_pipeline", (
        "training_corpus_stripped",
    )),
    "queries.dedup": ("htrtf_spark.queries.dedup", (
        "q27_minhash_neardup_verified",
    )),
}
# the Spark actions the benchmark itself issues (parquet writes)
ACTION_LAYER = "spark"

BUILDERS = frozenset({
    "read_iceberg_table", "read_iceberg_increment", "read_transcripts_iceberg",
    "extract_turns", "ordered_extract", "conversation_documents", "fan_out",
    "with_turn_rank", "repeated_substring_spans",
    "strip_repeated_spans", "minhash_lsh_pairs", "training_corpus_stripped",
    "q27_minhash_neardup_verified",
})


@dataclass
class Span:
    name: str
    layer: str
    parent: int
    group: str
    start: float
    end: float = 0.0
    result: object = None  # the DataFrame a plan-building call returned
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, prefix: str):
        self._sc = spark.sparkContext
        self._prefix = prefix
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []

    # ------------------------------------------------------------ install
    def install(self) -> None:
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names:
                fn = getattr(mod, name)
                wrapped = self._wrap(fn, name, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("htrtf_spark") and (
                        m.__dict__.get(name) is fn
                    ):
                        self._patched.append((m, name, fn))
                        setattr(m, name, wrapped)

    def uninstall(self) -> None:
        for m, name, fn in reversed(self._patched):
            setattr(m, name, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if name in BUILDERS:
                    sp.result = out
                return out

        return wrapper

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        sp = Span(name, layer, parent, f"{self._prefix}-{idx}", time.perf_counter())
        self.spans.append(sp)
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def op_spans(self, root: int) -> list[int]:
        """``root`` and all spans under it."""
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def self_time(self, i: int) -> float:
        sp = self.spans[i]
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def outermost_time(self, ids: list[int], names: set[str]) -> float:
        """Summed duration of the spans named in ``names`` that have no
        ancestor also named in ``names`` (no double counting)."""
        total = 0.0
        for i in ids:
            sp = self.spans[i]
            if sp.name not in names:
                continue
            p = sp.parent
            while p >= 0 and self.spans[p].name not in names:
                p = self.spans[p].parent
            if p < 0:
                total += sp.dur
        return total
