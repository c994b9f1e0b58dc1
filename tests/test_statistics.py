"""basic_statistics golden: one key per input column whatever its name
(``||`` included), the zero-row frame, double, boolean and all-null
columns."""

from wrangler_spark.statistics import basic_statistics

_ROWS = [
    ("1", 1.5, True, None, "a@b.com"),
    ("x", None, False, None, ""),
    (None, 2.0, None, None, "10.0.0.1"),
    ("42", -3.25, True, None, " "),
]
_DDL = "`a||b` string, d double, flag boolean, nothing string, `e.mail` string"

GOLDEN = {
    "a||b": {"general.null": 0.25, "general.empty": 0.0, "types.integer": 0.5,
             "types.number": 0.5, "general.non-null": 0.75},
    "d": {"general.null": 0.25, "general.empty": 0.0, "types.number": 0.75,
          "general.non-null": 0.75},
    "flag": {"general.null": 0.25, "general.empty": 0.0, "types.boolean": 0.75,
             "general.non-null": 0.75},
    "nothing": {"general.null": 1.0, "general.empty": 0.0, "general.non-null": 0.0},
    "e.mail": {"general.null": 0.0, "general.empty": 0.5, "types.email": 0.25,
               "types.ip": 0.25, "general.non-null": 1.0},
}


def test_basic_statistics_golden(spark):
    # four rows: every fraction is a quarter, exact in binary
    assert basic_statistics(spark.createDataFrame(_ROWS, _DDL)) == GOLDEN


def test_basic_statistics_zero_rows_keys_every_column(spark):
    got = basic_statistics(spark.createDataFrame([], _DDL))
    assert got == {c: {"general.null": 0.0, "general.empty": 0.0, "general.non-null": 1.0} for c in GOLDEN}
