"""The per-value helper at the Python boundary (``wrangler_spark.udfs``):
per-distinct calls, null safety, row order under the input's index, the
row-by-row path for unhashable values, and 1-D result tables."""

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql.types import ArrayType, DoubleType, StringType

from wrangler_spark.udfs import map_values, value_udf


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _reference(fn, s: pd.Series) -> list:
    return [None if _null(v) else fn(v) for v in s]


def _counting(fn):
    calls = []

    def wrapped(*args):
        calls.append(args)
        return fn(*args)

    return wrapped, calls


_TEXT = st.lists(st.one_of(st.none(), st.just(float("nan")), st.sampled_from(["a", "bb", "", "é", "a b"])),
                 max_size=40)


@settings(max_examples=60, deadline=None)
@given(_TEXT)
def test_text_with_repeats_and_nulls_matches_the_per_row_reference(values):
    s = pd.Series(values, dtype=object)
    fn, calls = _counting(lambda v: v.upper() + "!")
    got = map_values(fn, s)
    assert got.tolist() == _reference(lambda v: v.upper() + "!", s)
    # once per distinct non-null value, never on a null
    assert sorted(a for (a,) in calls) == sorted({v for v in values if not _null(v)})


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=3)), max_size=30))
def test_bytes_match_the_per_row_reference(values):
    s = pd.Series(values, dtype=object)
    assert map_values(len, s).tolist() == _reference(len, s)


def test_result_keeps_a_non_default_index():
    s = pd.Series(["x", None, "y", "x"], index=[10, 7, 3, 42], dtype=object)
    got = map_values(str.upper, s)
    assert got.index.tolist() == [10, 7, 3, 42]
    assert got.tolist() == ["X", None, "Y", "X"]


def test_fn_is_called_once_per_distinct_value():
    fn, calls = _counting(lambda v: v * 2)
    got = map_values(fn, pd.Series(["a", "b", "a", None, "b", "a"], dtype=object))
    assert got.tolist() == ["aa", "bb", "aa", None, "bb", "aa"]
    assert sorted(calls) == [("a",), ("b",)]


def test_unhashable_values_are_mapped_row_by_row():
    arrays = pd.Series([np.array(["a", "b"]), None, np.array(["a", "b"])], dtype=object)
    fn, calls = _counting(lambda v: "-".join(v))
    assert map_values(fn, arrays).tolist() == ["a-b", None, "a-b"]
    assert len(calls) == 2  # one per non-null row: arrays are not keyed
    dicts = pd.Series([{"k": 1}, {"k": 2}, None], dtype=object)
    assert map_values(lambda d: d["k"], dicts).tolist() == [1, 2, None]


def test_list_and_tuple_results_stay_one_dimensional():
    s = pd.Series(["ab", "cd", None], dtype=object)
    lists = map_values(list, s)
    assert lists.shape == (3,) and lists.tolist() == [["a", "b"], ["c", "d"], None]
    tuples = map_values(lambda v: (v, len(v)), pd.Series(["ab", "cd"], dtype=object))
    assert tuples.shape == (2,) and tuples.tolist() == [("ab", 2), ("cd", 2)]


def test_two_arguments_give_null_when_either_is_null():
    a = pd.Series(["x", None, "x", "y", "x"], dtype=object)
    b = pd.Series(["1", "2", None, "3", "1"], dtype=object)
    fn, calls = _counting(lambda x, y: x + y)
    assert map_values(fn, a, b).tolist() == ["x1", None, None, "y3", "x1"]
    assert sorted(calls) == [("x", "1"), ("y", "3")]


def test_value_udf_in_spark_returns_arrays_and_doubles(spark):
    df = spark.createDataFrame([("a b", "xy"), (None, "x"), ("a b", None), ("c", "c")], "t string, u string")
    split = value_udf(str.split, ArrayType(StringType()))
    ratio = value_udf(lambda t, u: len(t) / len(u), DoubleType())
    rows = df.select(split("t").alias("parts"), ratio("t", "u").alias("r")).collect()
    assert [r["parts"] for r in rows] == [["a", "b"], None, ["a", "b"], ["c"]]
    assert [r["r"] for r in rows] == [1.5, None, None, 1.0]
