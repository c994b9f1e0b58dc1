"""basic_statistics golden: one key per input column whatever its name
(``||`` included), the zero-row frame, double, boolean and all-null
columns, and one column of every Spark type family over ten rows (so
the fractions are tenths, not exact in binary: the same doubles must
come back)."""

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


def _typed_frame(spark):
    """Ten rows, one column per Spark type family; ``s`` holds the edge
    strings (a trailing newline, padding spaces, non-ASCII digits, a
    quote, a backslash, blanks, a time and a signed integer)."""
    return spark.sql(r"""
        SELECT * FROM VALUES
          ('1', 1.5D, true, TIMESTAMP'2024-01-02 03:04:05', TIMESTAMP_NTZ'2024-01-02 03:04:05',
           DATE'2024-01-02', 1.50BD, X'31', named_struct('a', 1, 'b', 'x'), map('k', 1),
           array(1, 2), INTERVAL '1-2' YEAR TO MONTH),
          ('42\n', NULL, false, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
          ('  7  ', -3.25D, NULL, TIMESTAMP'2024-01-02 00:00:00', TIMESTAMP_NTZ'2024-01-02 00:00:00',
           DATE'1999-12-31', -0.25BD, X'', named_struct('a', NULL, 'b', NULL), map(), array(),
           INTERVAL '-0-3' YEAR TO MONTH),
          ('١٢٣', 2.0D, true, TIMESTAMP'1970-01-01 00:00:00', TIMESTAMP_NTZ'1970-01-01 00:00:00',
           DATE'1970-01-01', 10.00BD, X'20', named_struct('a', 2, 'b', ''), map('a', NULL),
           array(NULL), INTERVAL '0-0' YEAR TO MONTH),
          ('it''s', 1e10D, false, NULL, NULL, NULL, 0.00BD, X'7472756500', NULL, NULL, NULL, NULL),
          ('a\\b', 0.5D, true, TIMESTAMP'2024-06-30 12:00:00', TIMESTAMP_NTZ'2024-06-30 12:00:00',
           DATE'2024-06-30', 3.00BD, X'3432', named_struct('a', 3, 'b', 'y'), map('z', 3),
           array(3), INTERVAL '2-0' YEAR TO MONTH),
          ('', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
          (' ', 0.0D, true, TIMESTAMP'2000-02-29 23:59:59', TIMESTAMP_NTZ'2000-02-29 23:59:59',
           DATE'2000-02-29', 7.50BD, X'74727565', named_struct('a', 4, 'b', 'z'), map('q', 4),
           array(4, NULL), INTERVAL '0-11' YEAR TO MONTH),
          ('12:30', 1e-3D, NULL, NULL, NULL, NULL, NULL, X'0A', NULL, NULL, NULL, NULL),
          ('+12', NULL, true, TIMESTAMP'2024-01-02 03:04:05', NULL, NULL, 100BD, NULL,
           named_struct('a', 5, 'b', '5'), NULL, array(5), NULL)
        AS t(s, d, flag, ts, ntz, dt, dec, bin, st, m, arr, ym)""")


TYPED_GOLDEN = {
    "s": {"general.null": 0.0, "general.empty": 0.2, "types.integer": 0.3, "types.number": 0.3,
          "types.time": 0.1, "general.non-null": 1.0},
    "d": {"general.null": 0.3, "general.empty": 0.0, "types.number": 0.7, "general.non-null": 0.7},
    "flag": {"general.null": 0.3, "general.empty": 0.0, "types.boolean": 0.7, "general.non-null": 0.7},
    "ts": {"general.null": 0.4, "general.empty": 0.0, "types.date": 0.6, "general.non-null": 0.6},
    "ntz": {"general.null": 0.5, "general.empty": 0.0, "types.date": 0.5, "general.non-null": 0.5},
    "dt": {"general.null": 0.5, "general.empty": 0.0, "types.date": 0.5, "general.non-null": 0.5},
    "dec": {"general.null": 0.3, "general.empty": 0.0, "types.number": 0.7, "general.non-null": 0.7},
    "bin": {"general.null": 0.3, "general.empty": 0.2, "types.integer": 0.2, "types.number": 0.2,
            "types.boolean": 0.1, "general.non-null": 0.7},
    "st": {"general.null": 0.4, "general.empty": 0.0, "general.non-null": 0.6},
    "m": {"general.null": 0.5, "general.empty": 0.0, "general.non-null": 0.5},
    "arr": {"general.null": 0.4, "general.empty": 0.0, "general.non-null": 0.6},
    "ym": {"general.null": 0.5, "general.empty": 0.0, "general.non-null": 0.5},
}


def test_basic_statistics_every_column_type_golden(spark):
    # "42\n" is an integer ($ matches before a final newline), "  7  " and
    # the Arabic-Indic digits are not; a blank string is empty, "\n" is not
    assert basic_statistics(_typed_frame(spark)) == TYPED_GOLDEN


def test_basic_statistics_zero_rows_of_every_column_type(spark):
    got = basic_statistics(_typed_frame(spark).where("false"))
    assert got == {c: {"general.null": 0.0, "general.empty": 0.0, "general.non-null": 1.0}
                   for c in TYPED_GOLDEN}


def test_basic_statistics_under_verbatim_string_literals(spark):
    # the type patterns reach RLIKE with their backslashes whichever way
    # the SQL parser reads string literals
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert basic_statistics(spark.createDataFrame(_ROWS, _DDL)) == GOLDEN
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
