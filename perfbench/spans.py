"""Spans around the package's layer boundaries, recorded from outside.

``Tracer.install`` replaces a fixed list of public package functions
with wrappers that open a span around each call; ``uninstall`` puts the
originals back. No package file changes: a wrapper is swapped in for
every module attribute that is bound to the original function, which
covers both ``import module`` callers and ``from module import name``
callers. Spans live in memory and are summarized after the timed window.

Spark work is attributed by job id: each span records the scheduler's
next job id when it opens and closes, and a job is credited to the
innermost span whose id range holds it. Job and stage metrics are read
from the driver's status store, the same source ``tools/job_profile.py``
reads. A span's self time is its duration minus the part of it covered
by its children.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Exec nodes that run Python outside the JVM; a stage whose operation
# graph holds one of them counts as a Python stage.
PYTHON_EXEC_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run's tracer: explicit spans cost nothing."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self._dag = spark._jsparkSession.sparkContext().dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.cache_hits = 0
        self.cache_calls = 0

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent, self.run_id, self._next_job())
        idx = len(self.spans)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self._next_job()
            s.end = time.perf_counter()

    # --- wrapping -----------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args) if callable(name) else name
            with tracer.span(label):
                return fn(*args, **kwargs)

        return traced

    def _patch_function(self, module, attr: str, name) -> None:
        """Swap ``module.attr`` for a traced wrapper in every loaded
        package module that binds the same function object."""
        original = getattr(module, attr)
        traced = self._wrap(original, name)
        for mod in self._package_modules:
            if getattr(mod, attr, None) is original:
                self._patches.append((mod, attr, original))
                setattr(mod, attr, traced)

    def _patch_method(self, cls, attr: str, name) -> None:
        original = cls.__dict__[attr]
        if isinstance(original, classmethod):
            traced = classmethod(self._wrap(original.__func__, name))
        else:
            traced = self._wrap(original, name)
        self._patches.append((cls, attr, original))
        setattr(cls, attr, traced)

    def install(self) -> None:
        """Wrap the public entry points of every layer the workloads use."""
        from wrangler_spark import expression, interactive, pipeline, sources, statistics
        from wrangler_spark.datapipe import _checkpoint, dedup, maintenance, text
        from wrangler_spark.directive import Directive
        from wrangler_spark.parser import recipe_parser
        from wrangler_spark.registry import load_builtins

        load_builtins()
        self._package_modules = [m for n, m in list(sys.modules.items())
                                 if n.startswith("wrangler_spark")]
        self._patch_function(recipe_parser, "split_statements", "parser.parse")
        self._patch_function(recipe_parser, "parse_statement", "parser.parse")
        self._patch_function(expression, "compile_expression", "expression.compile")
        self._patch_function(expression, "compile_condition", "expression.compile")
        self._patch_compile(pipeline.Pipeline)
        self._patch_method(pipeline.Pipeline, "transform", "pipeline.transform")
        self._patch_method(pipeline.PipelineResult, "errors", "context.errors")
        for cls in _directive_classes(Directive):
            if "apply" in cls.__dict__:
                self._patch_method(cls, "apply", lambda a: f"directives.apply.{a[0].name}")
        self._patch_function(interactive, "execute", "interactive.execute")
        self._patch_function(interactive, "schema", "interactive.schema")
        self._patch_function(statistics, "basic_statistics", "statistics.summary")
        for fn in ("exact_dedup", "minhash_components", "cluster_survivors"):
            self._patch_function(dedup, fn, f"datapipe.{fn}")
        self._patch_function(_checkpoint, "eager_checkpoint", "datapipe.checkpoint")
        self._patch_function(text, "vocab_update_state", "datapipe.vocab_update_state")
        self._patch_function(text, "vocab_from_state", "datapipe.vocab_from_state")
        self._patch_function(maintenance, "compact_index", "datapipe.compact_index")
        self._patch_function(sources, "write_corpus", "sources.write_corpus")

    def _patch_compile(self, cls) -> None:
        """``Pipeline.compile`` with a cache-hit count: a hit is a call
        whose default-registry key is already in the compile cache."""
        original = cls.__dict__["compile"]
        tracer = self

        def traced(klass, recipe, registry=None, precondition=None):
            key = "\n".join(recipe) if isinstance(recipe, (list, tuple)) else recipe
            if registry is None:
                tracer.cache_calls += 1
                tracer.cache_hits += (key, precondition) in klass._CACHE
            with tracer.span("pipeline.compile"):
                return original.__func__(klass, recipe, registry, precondition)

        self._patches.append((cls, "compile", original))
        cls.compile = classmethod(traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- summaries ----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (children of one span never overlap: the workloads are single
        threaded)."""
        out = []
        for s in self.spans:
            covered = sum(self.spans[c].duration for c in s.children)
            out.append(s.duration - covered)
        return out

    def job_owners(self) -> dict[int, int]:
        """job id -> index of the innermost span whose id range holds it."""
        owners: dict[int, int] = {}
        depth: dict[int, int] = {}
        for i, s in enumerate(self.spans):
            d = 0 if s.parent is None else depth[s.parent] + 1
            depth[i] = d
            for j in range(s.job_lo, s.job_hi):
                if j not in owners or depth[owners[j]] < d:
                    owners[j] = i
        return owners


def _directive_classes(base) -> list[type]:
    out, todo = [], [base]
    while todo:
        cls = todo.pop()
        for sub in cls.__subclasses__():
            out.append(sub)
            todo.append(sub)
    return out


# --- Spark status store ---------------------------------------------------------

@dataclass
class JobStats:
    job_id: int
    start_ms: int
    end_ms: int
    stages: int
    tasks: int
    task_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    python_stages: int


def _cluster_names(cluster, out: list[str]) -> list[str]:
    out.append(cluster.name())
    it = cluster.childClusters().iterator()
    while it.hasNext():
        _cluster_names(it.next(), out)
    return out


def job_stats(spark, job_ids) -> list[JobStats]:
    """Job and stage metrics from the status store for ``job_ids``,
    after the listener bus has drained. Skipped stages carry no work and
    are not counted."""
    jsc = spark._jsparkSession.sparkContext()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jid in job_ids:
        j = store.job(jid)
        if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
            continue
        st = JobStats(jid, j.submissionTime().get().getTime(),
                      j.completionTime().get().getTime(), 0, 0, 0, 0, 0, 0, 0, 0, 0)
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            st.stages += 1
            st.tasks += s.numTasks()
            st.task_ms += s.executorRunTime()
            st.cpu_ns += s.executorCpuTime()
            st.gc_ms += s.jvmGcTime()
            st.shuffle_read += s.shuffleReadBytes()
            st.shuffle_write += s.shuffleWriteBytes()
            st.spill += s.diskBytesSpilled()
            names = _cluster_names(store.operationGraphForStage(sid).rootCluster(), [])
            st.python_stages += any(n.startswith(PYTHON_EXEC_NODES) for n in names)
        out.append(st)
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total
