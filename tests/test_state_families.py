"""State-family contract: every log-structured state family (vocab, hist,
cms, distinct, resample, report, constraints, funnel) folds, replays,
compacts and folds again with its public reader unchanged, and its
``rows`` dataset keeps one schema (names, types, order) before and
after compaction, checked against ``state_families_golden.json``.

Per family: fold ``b0``-``b2``, replay ``b0``, read, ``compact_index``,
read again (must be equal), replay ``b1`` (a no-op), fold ``b3``; the
final read must equal folding ``b0``-``b3`` once each into a fresh path.

Regenerate the golden only for an intended schema change:
``python -m tests.test_state_families --write``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, compact_index, curation, events, numeric, text

GOLDEN = Path(__file__).with_name("state_families_golden.json")

_STEPS = ["view", "cart", "buy"]
_RULES = [
    {"rule": "not_null", "col": "x", "max_frac": 0.5},
    {"rule": "range", "col": "x", "min": 0, "max": 200},
    {"rule": "min_rows", "n": 5},
]


def _batch(spark, i):
    """Batch ``i``: ids [40i, 40i + 40), later batches strictly later in
    event time (the funnel fold's in-order contract)."""
    lo = 40 * i
    ev = F.element_at(F.array(*[F.lit(s) for s in _STEPS]), (F.col("id") % 3 + 1).cast("int"))
    return spark.range(lo, lo + 40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("common"), F.concat(F.lit("w"), F.col("id") % 7),
                    F.concat(F.lit("v"), F.col("id") % 3)).alias("text"),
        F.when(F.col("id") % 9 == 0, None).otherwise(F.col("id") * 1.5 + 1).alias("x"),
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") % 7).alias("u"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 600).alias("ts"),
        ev.alias("ev"),
        F.concat(F.lit("l"), F.col("id") % 4).alias("lang"),
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _cms_read(spark, path):
    sketch, depth, width = curation.cms_from_state(spark, path)
    return _sorted(sketch), depth, width


def _resample_read(spark, path):
    return [_sorted(events.resample_from_state(spark, path, agg=a).drop("bucket_ts"))
            for a in ("count", "sum", "min", "max")]


def _hist_read(spark, path):
    return (_sorted(numeric.hist_from_state(spark, path)),
            _sorted(numeric.quantiles_from_state(spark, path)))


def _constraints_read(spark, path):
    return (_sorted(curation.constraints_from_state(spark, path)),
            _sorted(curation.constraints_history(spark, path)))


# family -> (init(spark, path) or None, fold(df, path, batch_id), read(spark, path))
FAMILIES = {
    "vocab": (None, lambda df, p, b: text.vocab_update_state(df, p, "text", b),
              lambda s, p: _sorted(text.vocab_from_state(s, p))),
    "hist": (None, lambda df, p, b: numeric.hist_update_state(df, p, "x", 0.05, b),
             _hist_read),
    "cms": (None, lambda df, p, b: curation.cms_update_state(df, p, "k", 3, 64, b),
            _cms_read),
    "distinct": (None, lambda df, p, b: curation.distinct_update_state(
                     df, p, ["u", "k"], "lang", 10, b),
                 lambda s, p: _sorted(curation.distinct_from_state(s, p))),
    "resample": (None, lambda df, p, b: events.resample_update_state(
                     df, p, "k", "ts", "x", 60, b),
                 _resample_read),
    "report": (None, lambda df, p, b: curation.report_update_state(
                   df, p, lang_col="lang", batch_id=b),
               lambda s, p: _sorted(curation.report_from_state(s, p))),
    "constraints": (None, lambda df, p, b: curation.constraints_update_state(df, p, _RULES, b),
                    _constraints_read),
    "funnel": (lambda s, p: events.funnel_init_state(s, p, _STEPS, 120.0),
               lambda df, p, b: events.funnel_update_state(df, p, "u", "ts", "ev", b),
               lambda s, p: _sorted(events.funnel_from_state(s, p))),
}


def _rows_schema(spark, path):
    fields = spark.read.parquet(f"{_layout.resolve(spark, path)}/rows").schema.fields
    return [[f.name, f.dataType.simpleString()] for f in fields]


def _fresh(spark, path, name):
    init, fold, _ = FAMILIES[name]
    if init is not None:
        init(spark, path)
    return fold


def snapshot(spark, root) -> dict:
    """The ``rows`` schema of each family after one fold."""
    out = {}
    for name in FAMILIES:
        path = f"{root}/{name}"
        _fresh(spark, path, name)(_batch(spark, 0), path, "b0")
        out[name] = _rows_schema(spark, path)
    return out


@pytest.mark.parametrize("name", list(FAMILIES))
def test_state_family_contract(spark, tmp_path, name):
    _, _, read = FAMILIES[name]
    golden = json.loads(GOLDEN.read_text(encoding="utf-8"))[name]
    path = str(tmp_path / "st")
    fold = _fresh(spark, path, name)
    for i in range(3):
        fold(_batch(spark, i), path, f"b{i}")
    fold(_batch(spark, 0), path, "b0")
    before = read(spark, path)
    assert _rows_schema(spark, path) == golden
    compact_index(spark, path)
    assert read(spark, path) == before
    assert _rows_schema(spark, path) == golden
    fold(_batch(spark, 1), path, "b1")
    assert read(spark, path) == before
    fold(_batch(spark, 3), path, "b3")
    assert _rows_schema(spark, path) == golden

    once = str(tmp_path / "once")
    fold_once = _fresh(spark, once, name)
    for i in range(4):
        fold_once(_batch(spark, i), once, f"b{i}")
    assert read(spark, path) == read(spark, once)


if __name__ == "__main__" and sys.argv[1:] == ["--write"]:
    import tempfile

    from wrangler_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        snap = snapshot(get_spark("state_families_golden", cpus=2), tmp)
    GOLDEN.write_text(json.dumps(snap, indent=1) + "\n", encoding="utf-8")
