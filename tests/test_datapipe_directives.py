"""Apply-level smoke tests for the datapipe directives that no other test
and no ``queries()`` entry compiles: each recipe runs through
``Pipeline.compile`` on a tiny frame whose column names are mixed-case
while the recipe spells them in upper case, so every ``:col`` argument
goes through ``ctx.resolve``."""

from __future__ import annotations

import datetime as dt

import pytest

from wrangler_spark import Pipeline

BASE = ["Id", "Text", "Domain", "Lp", "Key", "Bucket", "Value", "Html",
        "User", "Ts", "Src", "Dst"]

CASES = {
    "sample-hash": ("sample-hash :KEY 0.5", BASE),
    "c4-quality": ("c4-quality :TEXT 3 1", BASE + [
        "text_clean", "n_lines", "n_kept_lines", "has_lorem", "has_brace",
        "n_sentences", "c4_pass"]),
    "lp-buckets": ("lp-buckets :LP :DOMAIN", BASE + ["lp_bucket"]),
    "mixture-sample": ("mixture-sample :ID :DOMAIN 0.5",
                       BASE + ["n_domain", "sample_rate"]),
    "script-ratios": ("script-ratios :TEXT", BASE + [
        "script_arabic", "script_cjk", "script_cyrillic", "script_digit",
        "script_greek", "script_latin", "script_other"]),
    "bigram-logprob": ("bigram-logprob :ID :TEXT 100", BASE + ["doc_lp2"]),
    "dedup-template": ("dedup-template :ID :TEXT",
                       ["Id", "n_dups", "template_key"]),
    "char-entropy": ("char-entropy :ID :TEXT", BASE + ["char_entropy"]),
    "readability": ("readability :TEXT", BASE + [
        "n_sentences", "n_words_fk", "n_syllables", "flesch_ease", "fk_grade"]),
    "unicode-normalize": ("unicode-normalize :TEXT NFKC", BASE),
    "rolling-stats": ("rolling-stats :KEY :BUCKET :VALUE 2",
                      ["Key", "bucket", "value", "roll_mean", "roll_std", "zscore"]),
    "extract-links": ("extract-links :ID :HTML", ["src", "url"]),
    "profile": ("profile 'Id,Text' true", [
        "column", "dtype", "n_rows", "n_null", "null_frac", "n_distinct",
        "min", "max"]),
    "cusum": ("cusum :KEY :BUCKET :VALUE",
              ["Key", "bucket", "value", "cusum_pos", "cusum_neg", "alarm"]),
    "survival": ("survival :USER :TS",
                 ["period", "at_risk", "churned", "censored", "survival"]),
    "seasonality": ("seasonality :KEY :TS", ["Key", "dow", "hour", "n", "share"]),
    "ewma-chart": ("ewma-chart :KEY :BUCKET :VALUE",
                   ["Key", "bucket", "value", "ewma", "lo", "hi", "anomaly"]),
    "graph-hits": ("graph-hits :SRC :DST", ["node", "hub", "authority"]),
}


@pytest.fixture(scope="module")
def frame(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i + 1,
         f"Doc {i} has some words. It ends here! Visit http://x.org/{i % 3} now.\n"
         "Second line with enough words to pass the filter.",
         "web" if i % 2 else "books", -1.5 * i, f"k{i % 2}", i // 2, float(i * i),
         f'<a href="http://h{i % 3}.com/p">x</a> <a href="/rel">y</a>',
         f"u{i % 3}", t0 + dt.timedelta(days=3 * i, hours=i),
         f"n{i % 4}", f"n{(i + 1) % 4}")
        for i in range(8)
    ]
    return spark.createDataFrame(
        rows, "Id long, Text string, Domain string, Lp double, Key string, "
        "Bucket long, Value double, Html string, User string, Ts timestamp, "
        "Src string, Dst string")


@pytest.mark.parametrize("name", sorted(CASES))
def test_datapipe_directive_smoke(frame, name):
    recipe, columns = CASES[name]
    out = Pipeline.compile(recipe).transform(frame).df
    assert out.columns == columns
    assert out.count() > 0
