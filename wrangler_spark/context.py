"""Compile-time context threaded through directive application.

Carries what the reference keeps in ``ExecutorContext`` + ``Row`` runtime
behavior that must become *compile-time* facts on Spark:

- case-insensitive column resolution (parity with ``Row.find``,
  ``wrangler-api/.../Row.java:163-172`` — first match wins);
- the error side-channel (parity with ``ErrorRecordCollector``): fallible
  directives split matching rows out as a lazy DataFrame instead of
  catching per-row exceptions;
- deferred ``fail`` assertions;
- transient variables (documented compat subset, see aggregates module);
- compile-time samples: what a directive reads from its input at compile
  time to fix its output schema (parse arity, JSON schema, a workbook's
  columns) is taken once per sampling-frame object and kept with it
  (weakly, so it goes with the frame), so every later transform of the
  same frame reuses it, with no Spark job and the same width.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field, replace
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrangler_spark.errors import DirectiveApplyError

ERROR_SCHEMA_COLS = ("record", "directive", "message")

# sampling frame -> key -> compile-time fact; DataFrames hash by identity
_FRAME_FACTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@dataclass
class ErrorFrame:
    directive: str
    message: str
    df: DataFrame  # rows at the point of error, original schema


@dataclass
class FailCheck:
    directive: str
    message: str
    df: DataFrame
    condition: Column


@dataclass
class CompileContext:
    seed: int = 42
    environment: str = "batch"  # or "streaming"
    error_frames: list[ErrorFrame] = field(default_factory=list)
    fail_checks: list[FailCheck] = field(default_factory=list)
    variables: dict[str, Any] = field(default_factory=dict)
    observations: dict[str, Column] = field(default_factory=dict)
    # static frame used for compile-time schema sampling when the input is a
    # streaming DataFrame (parse-as-csv arity, parse-as-json schema, ...)
    sample_df: Any = None

    def fork(self) -> "CompileContext":
        """A copy whose error frames, fail checks, variables and
        observations can grow without touching this one (the frames and
        columns in them are shared; they are immutable)."""
        return replace(
            self,
            error_frames=list(self.error_frames),
            fail_checks=list(self.fail_checks),
            variables=dict(self.variables),
            observations=dict(self.observations),
        )

    def sampling_frame(self, df):
        """The frame parse directives may run their bounded compile-time
        sample against — the input itself in batch, the registered static
        sample in streaming (a stream can't be collected at compile time)."""
        if getattr(df, "isStreaming", False):
            if self.sample_df is None:
                raise DirectiveApplyError(
                    "this directive infers its output schema from a compile-time "
                    "sample, which a streaming input cannot provide — pass "
                    "sample_df= to wrangler_spark.streaming.transform_stream"
                )
            return self.sample_df
        return df

    def frame_fact(self, df, key: tuple, compute: Callable[[DataFrame], Any]) -> Any:
        """``compute(frame)`` over ``df``'s sampling frame, run on the first
        call for this frame object and ``key`` and reused after (callers
        must not mutate it)."""
        frame = self.sampling_frame(df)
        facts = _FRAME_FACTS.setdefault(frame, {})
        if key not in facts:
            facts[key] = compute(frame)
        return facts[key]

    def sample_values(self, df, col: str, n: int = 100) -> list:
        """Up to ``n`` non-null values of ``col`` from ``df``'s sampling
        frame, collected once per frame object."""

        def collect(frame):
            rows = frame.select(col).filter(F.col(col).isNotNull()).limit(n).collect()
            return [r[0] for r in rows if r[0] is not None]

        return self.frame_fact(df, ("values", col, n), collect)

    # --- column resolution ---------------------------------------------

    def resolve(self, df: DataFrame, name: str, required: bool = True) -> str | None:
        """Case-insensitive lookup of a column; first match wins."""
        lname = name.lower()
        for c in df.columns:
            if c.lower() == lname:
                return c
        if required:
            raise DirectiveApplyError(
                f"column '{name}' not found; columns: {', '.join(df.columns)}"
            )
        return None

    def resolve_all(self, df: DataFrame, names: list[str], required: bool = True) -> list[str]:
        out = []
        for n in names:
            r = self.resolve(df, n, required)
            if r is not None:
                out.append(r)
        return out

    def fresh_name(self, df: DataFrame, base: str) -> str:
        """A column name not already present (case-insensitive)."""
        existing = {c.lower() for c in df.columns}
        if base.lower() not in existing:
            return base
        i = 1
        while f"{base}_{i}".lower() in existing:
            i += 1
        return f"{base}_{i}"

    # --- error channel --------------------------------------------------

    def route_errors(self, df: DataFrame, condition: Column, directive: str, message: str) -> DataFrame:
        """Split rows matching `condition` to the error channel; return the
        surviving rows. Null condition results keep the row (reference:
        a JEXL condition evaluating to null is not `true`)."""
        cond = condition.isNotNull() & condition
        self.error_frames.append(ErrorFrame(directive, message, df.filter(cond)))
        # pushdown-friendly null-safe negation (no coalesce)
        return df.filter(condition.isNull() | ~condition)

    def copy_errors(self, df: DataFrame, condition: Column, directive: str, message: str) -> DataFrame:
        """send-to-error-and-continue: copy matching rows to the error
        channel but keep processing them."""
        cond = condition.isNotNull() & condition
        self.error_frames.append(ErrorFrame(directive, message, df.filter(cond)))
        return df

    def errors_df(self) -> DataFrame | None:
        """Union of all error frames, normalized to (record json, directive,
        message). Lazy; None when no fallible directive was compiled."""
        if not self.error_frames:
            return None
        parts = [
            ef.df.select(
                F.to_json(F.struct(*[F.col(c) for c in ef.df.columns])).alias("record"),
                F.lit(ef.directive).alias("directive"),
                F.lit(ef.message).alias("message"),
            )
            for ef in self.error_frames
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
