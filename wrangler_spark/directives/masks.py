"""Masking directives.

mask-number compiles the reference's pattern walk
(``transformation/MaskNumber.java:121-147``) into a JVM-side
``aggregate`` over the pattern characters — no Python per row. The walk
keeps a (value-index, output) accumulator because literal pattern chars
consume a value char only when it matches.

mask-shuffle (``transformation/MaskShuffle.java:80``) replaces consonants/
vowels/digits with a java.util.Random(seed=0) draw from the same class —
we replicate Java's LCG exactly in an Arrow-batched pandas UDF for value
parity with the reference.

Every value restarts the generator at seed 0, so the k-th class character
of any string takes the k-th ``next(31)`` draw, whatever its class, as
long as no ``nextInt(bound)`` before it made a rejection draw. At import
the module walks Random(0) up to ``_DRAW_CAP`` draws and stops at the
first draw any of the bounds 20, 6 and 10 would reject; ``_PREFIX`` is the
length of that rejection-free prefix (4,096, the cap, for seed 0). Three
draw tables, ``alphabet[r_k % bound]`` for each class, then replace the
LCG: a value is one table lookup per character. The UDF is
``wrangler_spark.udfs.value_udf`` over that lookup, so each distinct
non-null value of an Arrow batch is walked once and the results are
scattered back in row order (nulls stay null): a low-cardinality column
costs a handful of walks per batch. A value longer than ``_PREFIX``
falls back to ``_mask_shuffle_value``, the reference walk.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive
from wrangler_spark.udfs import value_udf


@directive
class MaskNumber(Directive):
    """mask-number :col 'pattern' — '#' keeps the digit, 'x'/'X' masks,
    other chars are literals that consume a matching value char."""

    name = "mask-number"
    usage = [Arg("column", TokenType.COLUMN), Arg("pattern", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        pattern = self.args["pattern"]
        value = F.col(col).cast("string")

        # fast path: patterns of only '#'/'x' are purely positional — the
        # cursor equals the pattern index, so the walk collapses to a
        # concat of substrings and literal runs (no aggregate state)
        if set(pattern) <= {"#", "x", "X"}:
            parts = []
            i = 0
            while i < len(pattern):
                ch = pattern[i]
                j = i
                while j < len(pattern) and pattern[j] == ch:
                    j += 1
                run = j - i
                if ch == "#":
                    parts.append(F.coalesce(value.substr(i + 1, run), F.lit("")))
                else:
                    parts.append(F.lit("x" * run))
                i = j
            masked = F.concat(*parts)
            # both CASE branches must be STRING: under ANSI (driver default)
            # when(null, numeric_col).otherwise(string) coerces string→numeric
            # and CAST_INVALID_INPUT explodes on 'x'-masked output.
            return df.withColumn(col, F.when(value.isNull(), value).otherwise(masked))

        # accumulator: struct(i: value cursor, s: output string)
        def step(acc, pc):
            i, s = acc.getField("i"), acc.getField("s")
            cur = value.substr(i + 1, F.lit(1))
            is_hash = pc == "#"
            is_x = (pc == "x") | (pc == "X")
            in_range = i < F.length(value)
            ni = (
                F.when(is_hash & in_range, i + 1)
                .when(is_hash, i)
                .when(is_x, i + 1)
                .when(in_range & (cur == pc), i + 1)
                .otherwise(i)
            )
            ns = (
                F.when(is_hash & in_range, F.concat(s, cur))
                .when(is_hash, s)
                .when(is_x, F.concat(s, F.lit("x")))
                .otherwise(F.concat(s, pc))
            )
            return F.struct(ni.alias("i"), ns.alias("s"))

        masked = F.aggregate(
            F.array(*[F.lit(ch) for ch in pattern]),
            F.struct(F.lit(0).alias("i"), F.lit("").alias("s")),
            step,
            lambda acc: acc.getField("s"),
        )
        # reference: null value → row untouched; missing column → empty string.
        # null branch uses the string-cast value (not F.col) — see fast path.
        return df.withColumn(col, F.when(value.isNull(), value).otherwise(masked))


# --- java.util.Random replication (seed fixed at 0 by the reference) -------

_CONS = "bcdfghjklmnpqrstvwxz"
_VOWEL = "aeiouy"
_DIGIT = "0123456789"


class _JavaRandom:
    """Bit-exact java.util.Random (public LCG: seed*0x5DEECE66D+0xB mod 2^48)."""

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return self.seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError
        if (bound & -bound) == bound:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


def _mask_shuffle_value(s: str) -> str:
    rng = _JavaRandom(0)
    out = []
    for ch in s:
        ln = ch.lower()
        if ln in _CONS:
            c = _CONS[rng.next_int(len(_CONS))]
            out.append(c.upper() if ln != ch else c)
        elif ln in _VOWEL:
            c = _VOWEL[rng.next_int(len(_VOWEL))]
            out.append(c.upper() if ln != ch else c)
        elif ln in _DIGIT:
            c = _DIGIT[rng.next_int(len(_DIGIT))]
            out.append(c.upper() if ln != ch else c)
        else:
            out.append(ch)
    return "".join(out)


def _draw_tables(cap: int) -> tuple[int, dict[str, str]]:
    """(prefix length, alphabet -> k-th draw's character) over the
    rejection-free prefix of Random(0), at most ``cap`` draws long."""
    rng = _JavaRandom(0)
    bounds = (len(_CONS), len(_VOWEL), len(_DIGIT))
    draws = []
    while len(draws) < cap:
        bits = rng._next(31)
        # next_int's rejection test: this draw would be thrown away
        if any(bits - bits % b + (b - 1) >= (1 << 31) for b in bounds):
            break
        draws.append(bits)
    return len(draws), {a: "".join(a[r % len(a)] for r in draws) for a in (_CONS, _VOWEL, _DIGIT)}


_DRAW_CAP = 4096
_PREFIX, _TABLES = _draw_tables(_DRAW_CAP)


@functools.cache
def _char_table(ch: str) -> str | None:
    """The draw table ``ch`` takes its replacement from (None: kept), by
    the walk's own lower()/substring class test and upper-casing."""
    ln = ch.lower()
    alphabet = next((a for a in (_CONS, _VOWEL, _DIGIT) if ln in a), None)
    if alphabet is None:
        return None
    table = _TABLES[alphabet]
    return table.upper() if ln != ch else table


def _mask_shuffle_table(s: str) -> str:
    """``_mask_shuffle_value(s)`` by draw-table lookup."""
    if len(s) > _PREFIX:
        return _mask_shuffle_value(s)
    out = []
    k = 0
    for ch in s:
        table = _char_table(ch)
        if table is None:
            out.append(ch)
        else:
            out.append(table[k])
            k += 1
    return "".join(out)


_mask_shuffle_udf = value_udf(_mask_shuffle_table, StringType())


@directive
class MaskShuffle(Directive):
    """mask-shuffle :col — deterministic per-char class shuffle
    (ref: transformation/MaskShuffle.java:80, Random seed 0)."""

    name = "mask-shuffle"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        return df.withColumn(col, _mask_shuffle_udf(F.col(col).cast("string")))
