"""Interactive (design-time) layer — parity with the reference's REST
service execute/summary/schema endpoints (``wrangler-service/.../directive/
DirectivesHandler.java:555-595``, ``AbstractDirectiveHandler.java:103-211``)
as plain functions: same compiler, applied to a sample, no HTTP.

A :class:`Workspace` round-trip (add, undo, execute, schema) runs no
Spark job on a plain recipe, nor does its summary
(``statistics.basic_statistics``: one projection over the held sample,
which the optimizer folds into the local table, counted on the driver):

- **The sample is collected once**, when the workspace is built, and held
  as a driver-local table (``datapipe._local.local_copy``, planned as a
  ``LocalTableScan``; the rows are copied on the JVM, so every column
  type keeps its exact values). Every call reads the same rows and
  passes this frame object itself, so a collect over it runs
  driver-side, and the per-frame compile-time samples (parse-as-csv's
  arity, parse-as-json's schema) are taken on the first call only.
  ``plan()`` and ``estimate()`` still audit the lazy ``df.limit(limit)``
  over the real source scan, whose pushdowns a local table would hide.
- **The applied prefix is kept**: one ``(line, input frame, output
  frame, CompileContext)`` entry per applied directive line. A call
  reuses the entries that match its recipe line for line over the same
  sample and drops the rest, then applies the remaining lines, each
  with a fork of the previous entry's context (error frames, fail
  checks, variables, observations). So ``add`` applies only its new
  lines, and after ``undo`` or ``load`` the next call cuts or rebuilds
  the prefix. A stateless :func:`execute` copies its sample the same
  way (``local_copy(df.limit(limit))``: one job per call) and runs the
  same loop on an empty prefix of its own; a stateless :func:`schema`
  reads the lazy ``df.limit(limit)``, where a recipe with no
  compile-time sample runs no job at all.
- **A checkpoint ends the reusable prefix.** Every round-trip runs in
  ``checkpoint_scope``, which releases on exit the localCheckpoints the
  call pinned; a frame built over one cannot be read again. A line
  whose apply registers a checkpoint in the call's scope
  (``scope_count`` moves) is therefore not kept, nor is any line after
  it: they are applied again on every call.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrangler_spark.context import CompileContext
from wrangler_spark.pipeline import Pipeline, PipelineResult
from wrangler_spark.statistics import basic_statistics

# one entry per applied directive line: the line, the frame it was
# applied to, the frame after it and its context
Prefix = list[tuple[str, DataFrame, DataFrame, CompileContext]]


@dataclass
class ExecutionResponse:
    """What the service returns per execute(): sample values, per-column
    types, the directives applied — plus errors and summary on demand."""

    values: list[dict[str, Any]]
    types: dict[str, str]
    headers: list[str]
    directives: list[str]
    error_count: int = 0
    summary: dict[str, dict[str, float]] = field(default_factory=dict)


def _apply(recipe, sample: DataFrame, prefix: Prefix | None) -> tuple[PipelineResult, list[str]]:
    """``recipe`` (a string, or a list of directive lines) over ``sample``
    and the names of its directives. ``prefix`` is cut to the entries
    that match the recipe's first lines over this sample; the lines past
    them are applied, and their entries appended up to the first line
    that pins a checkpoint."""
    from wrangler_spark.datapipe import scope_count

    lines = [recipe] if isinstance(recipe, str) else list(recipe)
    prefix = [] if prefix is None else prefix
    frame, ctx, n = sample, CompileContext(), 0
    for line, src, out, out_ctx in prefix:
        if n == len(lines) or line != lines[n] or src is not frame:
            break
        frame, ctx, n = out, out_ctx, n + 1
    del prefix[n:]
    keep = True
    for line in lines[n:]:
        src, ctx = frame, ctx.fork()
        pinned = scope_count()
        frame = Pipeline.compile(line).transform(frame, ctx).df
        keep = keep and scope_count() == pinned
        if keep:
            prefix.append((line, src, frame, ctx))
    names = [d.name for line in lines for d in Pipeline.compile(line).directives]
    return PipelineResult(frame, ctx), names


def execute(
    recipe: str | list[str],
    df: DataFrame,
    limit: int | None = 100,
    with_summary: bool = False,
    prefix: Prefix | None = None,
) -> ExecutionResponse:
    """Run a recipe over a bounded sample and return values + inferred
    schema (the workspace 'execute' round-trip). The sample bound is
    applied BEFORE the recipe, like the service truncating the workspace
    sample to ``sampling.limit``, and the bounded rows are copied into a
    driver-local table; ``limit=None`` takes ``df`` itself as the sample.
    ``prefix`` is a workspace's applied prefix (see the module
    docstring), which the call cuts and extends in place; without one
    the call starts from an empty prefix of its own."""
    from wrangler_spark.datapipe import checkpoint_scope
    from wrangler_spark.datapipe._local import local_copy

    # every value leaving this function is plain Python (rows, types,
    # counts), so the scope releases any localCheckpoint an operator
    # pinned as soon as the execution materializes — a long-lived design
    # session runs storage-flat instead of accumulating dead blocks per
    # execute round-trip (the r7-measured session leak)
    with checkpoint_scope():
        result, names = _apply(recipe, df if limit is None else local_copy(df.limit(limit)), prefix)
        out = result.df
        resp = ExecutionResponse(
            values=[r.asDict(recursive=True) for r in out.collect()],
            types=dict(out.dtypes),
            headers=out.columns,
            directives=names,
            # collected frame by frame: over a driver-local sample each
            # collect runs driver-side, where errors().count() (an
            # aggregate over a union) runs two jobs
            error_count=sum(len(e.df.select(F.lit(1)).collect()) for e in result.ctx.error_frames),
        )
        if with_summary:
            resp.summary = basic_statistics(out)
    return resp


def schema(
    recipe: str | list[str],
    df: DataFrame,
    limit: int | None = 100,
    prefix: Prefix | None = None,
) -> list[tuple[str, str]]:
    """The /schema endpoint: output schema of the recipe on this input
    (``limit`` and ``prefix`` as for :func:`execute`, but the bounded
    sample stays the lazy ``df.limit(limit)``: a schema reads no rows
    unless a directive samples at compile time)."""
    from wrangler_spark.datapipe import checkpoint_scope

    with checkpoint_scope():
        result, _ = _apply(recipe, df if limit is None else df.limit(limit), prefix)
        return [(f.name, f.dataType.simpleString()) for f in result.df.schema.fields]


class Workspace:
    """Design-time workspace parity (wrangler-service keeps a named
    sample + the directive list applied so far; the UI appends/undoes
    directives and re-executes against the sample —
    ``DirectivesHandler.java`` workspace endpoints). Plain object, no
    HTTP: hold a bounded sample, build the recipe incrementally, then
    export the final recipe for the production pipeline."""

    def __init__(self, name: str, df: DataFrame, limit: int = 100):
        from wrangler_spark.datapipe._local import local_copy

        self.name = name
        self._source = df.limit(limit)
        self._sample = local_copy(self._source)
        self._prefix: Prefix = []
        self.directives: list[str] = []

    def add(self, *directive_lines: str) -> "ExecutionResponse":
        """Append directive(s); compile-check them against the sample
        before accepting (a bad directive is rejected atomically)."""
        candidate = self.directives + [ln for ln in directive_lines if ln.strip()]
        resp = execute(candidate, self._sample, limit=None, prefix=self._prefix)
        self.directives = candidate
        return resp

    def undo(self, n: int = 1) -> list[str]:
        """Drop the last n directives (workspace 'undo'); returns them."""
        if n <= 0:
            return []
        dropped = self.directives[-n:]
        self.directives = self.directives[:-n]
        return dropped

    def execute(self, with_summary: bool = False) -> "ExecutionResponse":
        return execute(self.directives, self._sample, limit=None, with_summary=with_summary,
                       prefix=self._prefix)

    def schema(self) -> list[tuple[str, str]]:
        return schema(self.directives, self._sample, limit=None, prefix=self._prefix)

    def recipe(self) -> str:
        """The accumulated recipe text — what ships to the pipeline."""
        return "\n".join(self.directives)

    def plan(self):
        """Scale audit of the accumulated recipe's PHYSICAL plan
        (wrangler_spark.plans.audit) — run it at design time, before
        the recipe ships to a 100 TB pipeline: returns a PlanReport
        whose warnings are the repo's plan disciplines (Python in the
        hot path, cartesian joins, global windows, unpushed filters).
        Lazy — nothing executes."""
        from wrangler_spark.plans import audit

        return audit(Pipeline.compile(self.recipe()).apply(self._source))

    def estimate(self):
        """Catalyst's size/row estimate for the accumulated recipe
        (wrangler_spark.plans.estimate) — the magnitude pre-flight next
        to :meth:`plan`'s shape pre-flight: an estimate orders of
        magnitude above the input is the un-keyed-join bug caught
        before anything runs. Lazy — nothing executes."""
        from wrangler_spark.plans import estimate

        return estimate(Pipeline.compile(self.recipe()).apply(self._source))

    # --- persistence (the reference's wrangler-storage role: named
    # workspaces survive the session; here JSON + parquet on a local or
    # DFS path instead of a structured-storage service) ---

    def save(self, root: str) -> str:
        """Persist this workspace under ``root/<name>/``: the directive
        list + metadata as workspace.json, the bounded sample as parquet
        (small by construction — it is the design-time sample, not the
        production input). Returns the workspace directory."""
        wdir = os.path.join(root, self.name)
        os.makedirs(wdir, exist_ok=True)
        # one file, so a reload reads the rows back in the held order
        self._sample.coalesce(1).write.mode("overwrite").parquet(os.path.join(wdir, "sample.parquet"))
        meta = {"name": self.name, "directives": self.directives, "version": 1}
        with open(os.path.join(wdir, "workspace.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=2)
        return wdir

    @classmethod
    def load(cls, spark: SparkSession, root: str, name: str) -> "Workspace":
        """Re-open a saved workspace: sample + directive list round-trip."""
        wdir = os.path.join(root, name)
        with open(os.path.join(wdir, "workspace.json"), encoding="utf-8") as f:
            meta = json.load(f)
        sample = spark.read.parquet(os.path.join(wdir, "sample.parquet"))
        ws = cls(meta["name"], sample, limit=2**31 - 1)
        ws.directives = list(meta["directives"])
        return ws


class WorkspaceStore:
    """Directory of named workspaces (wrangler-storage's workspace index,
    file-backed). list/save/load/delete — enough for a design session to
    survive a restart and hand recipes between users via a shared path."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def list(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isfile(os.path.join(self.root, d, "workspace.json"))
        )

    def save(self, ws: Workspace) -> str:
        return ws.save(self.root)

    def load(self, name: str) -> Workspace:
        return Workspace.load(self.spark, self.root, name)

    def delete(self, name: str) -> bool:
        wdir = os.path.join(self.root, name)
        if not os.path.isfile(os.path.join(wdir, "workspace.json")):
            return False
        shutil.rmtree(wdir)
        return True
