"""Workspace sampling operators (SURVEY §2.11).

Parity: the service's samplers (``wrangler-core/.../sampling/Bernoulli.java``,
``Poisson.java``, ``Reservoir.java``; request defaults seed=1 limit=100 in
``wrangler-proto/.../Sampling.java:26-40``) re-expressed on DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_n(df: DataFrame, n: int = 100) -> DataFrame:
    """Cursor/head sampling — the default workspace sample."""
    return df.limit(n)


def bernoulli(df: DataFrame, fraction: float, seed: int = 1) -> DataFrame:
    """Independent per-row coin flip (sample without replacement)."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def poisson(df: DataFrame, mean_fraction: float, seed: int = 1) -> DataFrame:
    """Expected-count sampling with replacement (Poisson process over rows)."""
    return df.sample(withReplacement=True, fraction=mean_fraction, seed=seed)


def reservoir(df: DataFrame, n: int = 100, seed: int = 1) -> DataFrame:
    """Uniform fixed-size sample. Distributed implementation: assign each
    row a seeded random key and keep the global n smallest — equivalent to
    reservoir sampling, but expressed as a top-k (no driver-side state).
    At 100 TB this is one pass + a tiny shuffle of n rows per partition."""
    keyed = df.withColumn("__r", F.rand(seed))
    out = keyed.orderBy("__r").limit(n).drop("__r")
    return out


def stratified(df: DataFrame, col: str, fractions: dict, seed: int = 1) -> DataFrame:
    """Per-stratum Bernoulli sampling (sampleBy)."""
    return df.sampleBy(col, fractions, seed)


def split(df: DataFrame, weights: list[float], seed: int = 1) -> list[DataFrame]:
    """Random disjoint splits (train/validation/test)."""
    s = sum(weights)
    return df.randomSplit([w / s for w in weights], seed=seed)
