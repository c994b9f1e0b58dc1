"""The one per-value idiom at the Python boundary.

A directive or datapipe op that needs a Python function per value hands
that function to ``value_udf`` (a scalar ``pandas_udf``) or, inside its
own ``mapInPandas``, to ``map_values``. The contract, for every caller:

- ``fn`` is called once per distinct argument of an Arrow batch
  (``pd.factorize`` of the series, or of the argument tuples when there
  are several), and the results are scattered back in row order, under
  the input's index;
- a null in any argument (None or NaN) gives a null result, and ``fn``
  never sees it — so ``fn`` carries no null guard of its own, and a site
  whose reference semantics give a non-null result for a null input says
  so in its Spark expression (``coalesce``, ``isNull() | ...``);
- values pandas cannot hash (numpy arrays from array columns, dicts from
  map columns) are mapped row by row, and only those batches take that
  path. They are not keyed by ``tuple(v)``: a dict's tuple is its keys.

The results go into a 1-D object table filled element by element:
``np.array(results, dtype=object)`` would turn equal-length list or tuple
results into a 2-D array.

This module has no ``from __future__ import annotations``: ``pandas_udf``
reads the ``pd.Series`` hints of ``value_udf``'s wrapper to pick the
scalar eval type, and postponed (string) hints would not resolve.
"""

from typing import Any, Callable

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf


def map_values(fn: Callable[..., Any], *series: pd.Series) -> pd.Series:
    """``fn`` of each row's arguments, computed once per distinct non-null
    argument (tuple) of the batch; null where any argument is null."""
    if len(series) == 1:
        keys, call = series[0], fn
    else:
        null = np.logical_or.reduce([s.isna().to_numpy() for s in series])
        keys = pd.Series(list(zip(*series)), dtype=object)
        keys[null] = None

        def call(args):
            return fn(*args)

    try:
        codes, uniques = pd.factorize(keys)  # a null key codes as -1
    except TypeError:  # unhashable values: one call per non-null row
        null = keys.isna().to_numpy()
        uniques = keys.to_numpy(dtype=object)[~null]
        codes = np.full(len(keys), -1)
        codes[~null] = np.arange(len(uniques))
    table = np.empty(len(uniques) + 1, dtype=object)  # the last slot, code -1, stays None
    for i, u in enumerate(uniques):
        table[i] = call(u)
    return pd.Series(table[codes], index=series[0].index)


def value_udf(fn: Callable[..., Any], return_type) -> Callable:
    """A scalar ``pandas_udf`` of ``return_type`` that applies ``fn`` per
    value through ``map_values``."""

    def run(*series: pd.Series) -> pd.Series:
        return map_values(fn, *series)

    return pandas_udf(run, return_type)
