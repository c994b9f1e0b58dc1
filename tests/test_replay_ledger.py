"""The state folds' replay ledger (``_layout.fold_once``): crash windows,
legacy backfill, odd batch ids, and the no-job fast path.

Each crash case injects a failure through ``DataFrameWriter.parquet``,
the call every fold appends with: failing BEFORE the call models a
crash after the ``.pending`` mark but before the append; failing AFTER
the original call returns models a crash after the append committed but
before the done marker. A done marker written before the append, or a
``.pending`` mark that is ignored, breaks at least one case here."""

import os
import re
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, compact_index, curation, numeric, text


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("common"), F.concat(F.lit("w"), F.col("id") % 7),
                    F.concat(F.lit("v"), F.col("id") % 3)).alias("text"),
        (F.col("id") * 1.5 + 1).alias("x"),
    )


def _vocab_read(spark, path):
    return sorted((r["word"], r["count"]) for r in text.vocab_from_state(spark, path).collect())


def _report_read(spark, path):
    r = curation.report_from_state(spark, path).collect()[0]
    return (r["n_docs"], r["n_chars"], r["n_words"])


def _hist_read(spark, path):
    return sorted((r["bin"], r["count"]) for r in numeric.hist_from_state(spark, path).collect())


FAMILIES = {
    "vocab": (lambda df, p, b: text.vocab_update_state(df, p, "text", batch_id=b), _vocab_read),
    "report": (lambda df, p, b: curation.report_update_state(df, p, batch_id=b), _report_read),
    "hist": (lambda df, p, b: numeric.hist_update_state(df, p, "x", batch_id=b), _hist_read),
}


@pytest.fixture(params=sorted(FAMILIES))
def family(request):
    return FAMILIES[request.param]


def _expected(spark, tmp, fold, read, batches):
    """The state read after folding ``batches`` once each, no faults."""
    path = str(tmp / "expected")
    for bid, df in batches:
        fold(df, path, bid)
    return read(spark, path)


def _crash(monkeypatch, after_append: bool):
    original = DataFrameWriter.parquet

    def failing(self, *args, **kwargs):
        if after_append:
            original(self, *args, **kwargs)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)


def _ledger(path):
    return sorted(os.listdir(os.path.join(path, "_batches")))


def test_crash_before_append_folds_on_retry(spark, tmp_path, monkeypatch, family):
    fold, read = family
    b0, b1 = _docs(spark, 0, 40), _docs(spark, 40, 90)
    path = str(tmp_path / "st")
    fold(b0, path, "b0")
    with monkeypatch.context() as m:
        _crash(m, after_append=False)
        with pytest.raises(RuntimeError, match="injected crash"):
            fold(b1, path, "b1")
    assert any(n.endswith(".pending") for n in _ledger(path))
    fold(b1, path, "b1")
    assert read(spark, path) == _expected(spark, tmp_path, fold, read,
                                          [("b0", b0), ("b1", b1)])
    assert not any(n.endswith(".pending") for n in _ledger(path))


@pytest.mark.parametrize("compact", [False, True], ids=["replay", "compact_then_replay"])
def test_crash_after_append_replays_once(spark, tmp_path, monkeypatch, family, compact):
    fold, read = family
    b0, b1 = _docs(spark, 0, 40), _docs(spark, 40, 90)
    path = str(tmp_path / "st")
    fold(b0, path, "b0")
    with monkeypatch.context() as m:
        _crash(m, after_append=True)
        with pytest.raises(RuntimeError, match="injected crash"):
            fold(b1, path, "b1")
    if compact:
        compact_index(spark, path)
    fold(b1, path, "b1")
    assert read(spark, path) == _expected(spark, tmp_path, fold, read,
                                          [("b0", b0), ("b1", b1)])
    key = _layout._ledger_key("b1")
    assert key in _ledger(path) and key + ".pending" not in _ledger(path)


@pytest.mark.parametrize("compact", [False, True], ids=["flat", "compacted"])
def test_legacy_state_backfills_ledger(spark, tmp_path, family, compact):
    """A state written before the ledger existed (rows, no _batches/):
    the first fold backfills the ledger from the rows — compaction's
    zero-count ledger rows included — and an old id's replay is a no-op."""
    fold, read = family
    b0, b1, b2 = _docs(spark, 0, 40), _docs(spark, 40, 90), _docs(spark, 90, 120)
    path = str(tmp_path / "st")
    fold(b0, path, "b0")
    fold(b1, path, "b1")
    if compact:
        compact_index(spark, path)
    shutil.rmtree(os.path.join(path, "_batches"))
    before = read(spark, path)
    fold(b0, path, "b0")
    assert read(spark, path) == before
    assert {_layout._ledger_key("b0"), _layout._ledger_key("b1")} <= set(_ledger(path))
    fold(b2, path, "b2")
    assert read(spark, path) == _expected(
        spark, tmp_path, fold, read, [("b0", b0), ("b1", b1), ("b2", b2)])


def test_odd_batch_ids(spark, tmp_path, family):
    fold, read = family
    ids = ["a/b/../c", "with spaces  and\ttab", "naïve-批次-🙂", "x" * 500]
    batches = [(bid, _docs(spark, 30 * i, 30 * i + 30)) for i, bid in enumerate(ids)]
    path = str(tmp_path / "st")
    for bid, df in batches:
        fold(df, path, bid)
    once = read(spark, path)
    for bid, df in batches:
        fold(df, path, bid)
    assert once == read(spark, path)
    markers = [n for n in _ledger(path) if not n.startswith(".")]
    assert sorted(markers) == sorted(_layout._ledger_key(b) for b in ids)
    assert all(re.fullmatch(r"[0-9a-f]{64}", n) for n in markers)


def test_empty_batch_id_never_dedups(spark, tmp_path):
    path = str(tmp_path / "st")
    df = _docs(spark, 0, 20)
    text.vocab_update_state(df, path, "text")
    text.vocab_update_state(df, path, "text")
    assert dict(_vocab_read(spark, path))["common"] == 40
    assert not os.path.exists(os.path.join(path, "_batches"))


def _jobs(spark, fn):
    """Spark jobs ``fn`` launched: the scheduler's job-id counter around
    the call (the counter ``perfbench/spans.py`` reads)."""
    dag = spark._jsparkSession.sparkContext().dagScheduler()
    lo = int(dag.nextJobId())
    fn()
    return int(dag.nextJobId()) - lo


def test_ledger_hit_runs_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "st")
    b0, b1, b2 = _docs(spark, 0, 40), _docs(spark, 40, 90), _docs(spark, 90, 130)
    text.vocab_update_state(b0, path, "text", batch_id="b0")
    text.vocab_update_state(b1, path, "text", batch_id="b1")
    assert _jobs(spark, lambda: text.vocab_update_state(b0, path, "text", batch_id="b0")) == 0
    # a new fold runs only its append: the parent's probe (the rows scan
    # the ledger replaced) cost at least two jobs on top of it
    probe = _jobs(spark, lambda: _layout._rows_hold(spark, _layout.resolve(spark, path), "b2"))
    fold = _jobs(spark, lambda: text.vocab_update_state(b2, path, "text", batch_id="b2"))
    bare = _jobs(spark, lambda: text.vocab_update_state(b2, str(tmp_path / "bare"), "text"))
    assert probe >= 2
    assert fold == bare
    # the ledger survives compaction: still no job on a replay after it
    compact_index(spark, path)
    assert _jobs(spark, lambda: text.vocab_update_state(b1, path, "text", batch_id="b1")) == 0
    assert dict(_vocab_read(spark, path))["common"] == 130


def test_vocab_stream_exactly_once_after_restart(spark, tmp_path):
    """Drop the last commit of the stream's checkpoint, so a restart
    re-runs that micro-batch under the same id: the fold must no-op."""
    docs = _docs(spark, 0, 200).select("doc_id", "text")
    src, chk, state = str(tmp_path / "src"), str(tmp_path / "chk"), str(tmp_path / "st")
    docs.filter(F.col("doc_id") < 100).write.parquet(src + "/part=0")
    docs.filter(F.col("doc_id") >= 100).write.parquet(src + "/part=1")

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
        text.vocab_update_stream(stream, state, "text", chk).awaitTermination(120)

    run()
    commits = sorted((n for n in os.listdir(chk + "/commits") if n.isdigit()), key=int)
    assert commits
    last = commits[-1]
    os.remove(f"{chk}/commits/{last}")
    crc = f"{chk}/commits/.{last}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert os.path.exists(f"{chk}/commits/{last}")
    text.vocab_update_state(docs, str(tmp_path / "once"), "text")
    assert _vocab_read(spark, state) == _vocab_read(spark, str(tmp_path / "once"))
