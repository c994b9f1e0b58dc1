"""Integer-exact moments: the one cross-engine contract of the statistics ops.

Values integerize to micro-units (:func:`micro`, ``round(x·1e6)`` as a
long). Every sum — of a micro column, or of the product of two — runs in
``decimal(38,0)``, so no double is ever summed in engine order and the
DuckDB oracles reproduce the same integers in any order. The finalizers
form the spread ``n·Sab − Sa·Sb`` exactly in decimal and cast it to double
once; the sample variance is NULL at n ≤ 1 in both engines (an unguarded
0/0 is NULL in non-ANSI Spark but NaN in DuckDB).

Magnitude bound: ``|Σ micro|`` must stay below about 1e19 (billions of
rows of million-scale values), so that ``n·Σx²`` and ``(Σx)²`` fit in 38
digits. Past it an ANSI session raises ``ARITHMETIC_OVERFLOW`` and a
non-ANSI one gives NULL — never a wrong number, which is what a ``long``
sum gives once it wraps at ~9.2e18 micro-units.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,0)"


def micro(c: Column) -> Column:
    """``round(c·1e6)`` as a long: the micro-unit integer of a value."""
    return F.round(c.cast("double") * F.lit(1e6)).cast("long")


def product(a: Column, b: Column) -> Column:
    """The exact product of two micro longs, in decimal(38,0)."""
    return (a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast(DEC)


def moments(
    cond: Column | None, n: str | None = None, /, **sums,
) -> list[Column]:
    """The moment aggregates over the rows where ``cond`` holds (every
    row when it is None): the row count as a long aliased ``n`` (left out
    when ``n`` is None), then one decimal(38,0) sum per keyword, in
    keyword order — the keyword is the alias, and the value a micro
    column (its Σ) or a pair of them (the Σ of their product)."""
    def w(c):
        return c if cond is None else F.when(cond, c)

    aggs = [] if n is None else [F.count(w(F.lit(1))).cast("long").alias(n)]
    for alias, t in sums.items():
        s = w(product(*t)) if isinstance(t, tuple) else w(t).cast(DEC)
        aggs.append(F.sum(s).alias(alias))
    return aggs


def mean(n: Column, s: Column) -> Column:
    """The mean in value units off a count and a micro sum."""
    return s.cast("double") / (n.cast("double") * F.lit(1e6))


def spread(n: Column, sa: Column, sb: Column, sab: Column) -> Column:
    """``n·Sab − Sa·Sb``: exact in decimal, cast to double once (micro²
    units — the co-moment times n²)."""
    return (n.cast(DEC) * sab - sa * sb).cast("double")


def sample_cov(n: Column, sa: Column, sb: Column, sab: Column) -> Column:
    """Sample covariance (n − 1) in value² units; NULL at n ≤ 1."""
    return spread(n, sa, sb, sab) / F.when(
        n > 1, (n * (n - 1)).cast("double") * F.lit(1e12))


def sample_var(n: Column, s: Column, ss: Column) -> Column:
    """Sample variance (n − 1) in value² units; NULL at n ≤ 1."""
    return sample_cov(n, s, s, ss)


def pop_var(n: Column, s: Column, ss: Column) -> Column:
    """Population variance (n) in value² units."""
    return spread(n, s, s, ss) / (n * n).cast("double") / F.lit(1e12)
