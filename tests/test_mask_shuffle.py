"""mask-shuffle's draw-table walk against the reference LCG walk.

``_mask_shuffle_value`` replays java.util.Random(0) per character and is
the reference; ``_mask_shuffle_table`` is what the UDF runs. The two must
agree on every string: class characters, case mapping, characters whose
lower() is not one character, and strings past the draw prefix.
"""

from hypothesis import given, settings, strategies as st

from wrangler_spark import Pipeline
from wrangler_spark.directives.masks import (
    _CONS,
    _DIGIT,
    _DRAW_CAP,
    _JavaRandom,
    _PREFIX,
    _VOWEL,
    _mask_shuffle_table,
    _mask_shuffle_value,
)

# case-mapping edge characters: İ lowers to two characters, ß and ǅ have
# no single-character class, the Kelvin sign lowers to a consonant
_EDGE = "İßǅK"
_CLASSY = _CONS + _CONS.upper() + _VOWEL + _VOWEL.upper() + _DIGIT + _EDGE + " -.éÆ"


def test_prefix_is_the_rejection_free_walk():
    rng = _JavaRandom(0)
    for _ in range(_PREFIX):
        bits = rng._next(31)
        for b in (len(_CONS), len(_VOWEL), len(_DIGIT)):
            assert bits - bits % b + (b - 1) < (1 << 31)
    assert 0 < _PREFIX <= _DRAW_CAP


@settings(max_examples=300, deadline=None)
@given(st.text())
def test_table_walk_matches_reference_on_any_text(s):
    assert _mask_shuffle_table(s) == _mask_shuffle_value(s)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_CLASSY, max_size=64))
def test_table_walk_matches_reference_on_class_text(s):
    assert _mask_shuffle_table(s) == _mask_shuffle_value(s)


def test_edge_characters():
    for s in ("", _EDGE, _EDGE + "abc", "a" + _EDGE + "Z9", "K" * 5, "İi" * 3):
        assert _mask_shuffle_table(s) == _mask_shuffle_value(s)
    # the Kelvin sign is an upper-case consonant, İ/ß/ǅ are kept
    masked = _mask_shuffle_table(_EDGE + "k")
    assert masked[:3] == "İßǅ" and masked[3] in _CONS.upper() and masked[4] in _CONS


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=_CLASSY, min_size=1, max_size=6), st.integers(-2, 2))
def test_strings_at_and_past_the_prefix(unit, extra):
    # every draw of the table used (length _PREFIX), and the fallback past it
    s = (unit * (_PREFIX // len(unit) + 2))[: _PREFIX + extra]
    assert _mask_shuffle_table(s) == _mask_shuffle_value(s)


def test_whole_table_is_the_reference():
    for alphabet in (_CONS, _VOWEL.upper(), _DIGIT):
        s = (alphabet * (_PREFIX // len(alphabet) + 1))[:_PREFIX]
        assert _mask_shuffle_table(s) == _mask_shuffle_value(s)


def test_udf_repeats_and_nulls_in_row_order(spark):
    values = ["Berlin", None, "Berlin", "Zürich 9", "", None, "Berlin", "Oslo",
              _EDGE, "Oslo", None, "x" * (_PREFIX + 3)]
    df = spark.createDataFrame(list(enumerate(values)), "id int, city string").coalesce(1)
    out = Pipeline.compile("mask-shuffle :city").transform(df).df.orderBy("id").collect()
    assert [r["id"] for r in out] == list(range(len(values)))
    assert [r["city"] for r in out] == [None if v is None else _mask_shuffle_value(v) for v in values]
