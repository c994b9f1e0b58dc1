"""One write idiom for persisted artifacts: ``_layout.build`` and
``_layout.append``.

A write that raises must release what it took: the writer lease (no
``<path>/_LOCK`` left, nothing in ``_layout._HELD``) and the blocks its
body checkpointed. The next writer to the same artifact then succeeds at
once instead of waiting out the lease TTL. Faults come from a misspelled
column, or are injected through ``DataFrameWriter.parquet`` (the call
every dataset write goes through). The structure test keeps the protocol
steps and the ``meta`` path inside ``_layout.py``."""

import ast
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, compact_index, dedup, events, similarity, text
from wrangler_spark.datapipe._checkpoint import persistent_rdd_ids

EMBEDDINGS = "/root/testdata/sf0.001/embeddings.parquet"


def _released(path):
    assert not os.path.exists(os.path.join(path, _layout._LOCK))
    assert path not in _layout._HELD


def _fail_writes(monkeypatch):
    def failing(self, *args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)


def _docs(spark):
    rows = [(i, f"the quick brown fox number {i % 11} jumps over the lazy dog") for i in range(60)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, f"2026-01-{d:02d} 00:00:00") for u, d in rows], ["user_id", "ts"]
    ).withColumn("ts", F.to_timestamp("ts"))


def _grid(df):
    return sorted((str(r["cohort_start"]), r["period_offset"], r["active_users"], r["retention"])
                  for r in df.collect())


def _minhash(spark, path, text_col):
    old = _docs(spark).filter(F.col("doc_id") % 3 == 0)
    dedup.minhash_write_index(old, path, "doc_id", text_col)
    new = _docs(spark).filter(F.col("doc_id") % 3 != 0)
    got = dedup.minhash_pairs_against_index(new, path, "doc_id", "text", 0.5)
    want = dedup.minhash_pairs_against(new, old, "doc_id", "text", 0.5)
    return sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect()))


def _ivf(spark, path, vec_col):
    embs = spark.read.parquet(EMBEDDINGS).filter(F.col("vec_id") < 200)
    similarity.ivf_write_index(embs, path, n_centroids=4, vec_col=vec_col)
    q = embs.filter(F.col("vec_id") < 3)
    got = similarity.ivf_query_index(spark, path, q, k=3, nprobe=1)
    want = similarity.ivf_topk(embs, q, 4, "vec_id", "embedding", 3)
    return sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect()))


def _retention(spark, path, user_col):
    ev = _events(spark, [(1, 1), (2, 2), (1, 9), (3, 10), (2, 16)])
    events.retention_write_state(ev, path, user_col, "ts", period_days=7)
    got = events.retention_grid_from_state(spark, path)
    return _grid(got), _grid(events.retention_cohorts(ev, "user_id", "ts", 7))


BUILDS = {
    "minhash_write_index": (_minhash, "text"),
    "ivf_write_index": (_ivf, "embedding"),
    "retention_write_state": (_retention, "user_id"),
}


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_failed_build_releases_its_lease_and_the_retry_reads_back(spark, tmp_path, name):
    write, good = BUILDS[name]
    path = str(tmp_path / "art")
    with pytest.raises(Exception, match="misspelled"):
        write(spark, path, "misspelled")
    _released(path)
    got, want = write(spark, path, good)
    assert got == want and got
    _released(path)


def test_retention_fold_after_a_failed_rebuild(spark, tmp_path):
    path = str(tmp_path / "ret")
    first = _events(spark, [(1, 1), (2, 2)])
    events.retention_write_state(first, path, "user_id", "ts", period_days=7)
    with pytest.raises(Exception, match="misspelled"):
        events.retention_write_state(first, path, "misspelled", "ts", period_days=7)
    batch = _events(spark, [(1, 8), (3, 9)])
    events.retention_update_state(batch, path, "user_id", "ts")
    want = events.retention_cohorts(first.unionByName(batch), "user_id", "ts", 7)
    assert _grid(events.retention_grid_from_state(spark, path)) == _grid(want)
    _released(path)


def _vocab(spark, path):
    return sorted((r["word"], r["count"]) for r in text.vocab_from_state(spark, path).collect())


def test_vocab_fold_after_a_failed_compaction(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "vocab")
    docs = _docs(spark)
    for i in range(3):
        text.vocab_update_state(docs.filter(F.col("doc_id") % 3 == i), path, "text", f"b{i}")
    before = _vocab(spark, path)
    with monkeypatch.context() as m:
        _fail_writes(m)
        with pytest.raises(RuntimeError, match="injected"):
            compact_index(spark, path)
    _released(path)
    assert _vocab(spark, path) == before
    extra = spark.createDataFrame([(99, "zebra fox")], ["doc_id", "text"])
    text.vocab_update_state(extra, path, "text", "b3")
    want = dict(before)
    want["zebra"] = want.get("zebra", 0) + 1
    want["fox"] += 1
    assert _vocab(spark, path) == sorted(want.items())


def _ivf_build(spark, path):
    embs = spark.read.parquet(EMBEDDINGS).filter(F.col("vec_id") < 200)
    return lambda: similarity.ivf_write_index(embs, path, n_centroids=4)


def _retention_fold(spark, path):
    events.retention_write_state(_events(spark, [(1, 1)]), path, "user_id", "ts")
    batch = _events(spark, [(4, 20)])
    return lambda: events.retention_update_state(batch, path, "user_id", "ts")


@pytest.mark.parametrize("setup", [_ivf_build, _retention_fold], ids=["build", "append"])
def test_a_write_that_raises_after_its_checkpoint_pins_nothing(spark, tmp_path, monkeypatch, setup):
    """ivf_write_index checkpoints its centroids and retention's fold its
    fresh pairs before the first dataset write; that write fails here.
    No checkpoint_scope at the call site: the write form releases."""
    path = str(tmp_path / "art")
    write = setup(spark, path)
    pinned = persistent_rdd_ids(spark)
    with monkeypatch.context() as m:
        _fail_writes(m)
        with pytest.raises(RuntimeError, match="injected"):
            write()
    assert persistent_rdd_ids(spark) - pinned == set()
    _released(path)


# ---- the protocol lives in _layout.py ----

PACKAGE = Path(__file__).resolve().parent.parent / "wrangler_spark"
PROTOCOL = {"begin_version", "commit_version", "abandon_version",
            "acquire_lease", "release_lease", "writer_lease"}
META_PATH = re.compile(r"/meta\b")


def _offences(tree) -> list[str]:
    docstrings = {id(n.value) for n in ast.walk(tree)
                  if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)}
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in PROTOCOL:
                found.append(f"line {node.lineno}: {name}()")
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings
              and (node.value == "meta" or META_PATH.search(node.value))):
            found.append(f"line {node.lineno}: meta path {node.value!r}")
    return found


def test_writers_use_the_two_write_forms():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "datapipe/_layout.py":
            offenders += [f"{rel}: {o}" for o in _offences(ast.parse(path.read_text(encoding="utf-8")))]
    assert not offenders, (
        "write through _layout.build / _layout.append and the meta through "
        "_layout.write_meta / read_meta / has_meta:\n" + "\n".join(offenders))


def test_the_scan_sees_the_old_forms():
    old = ast.parse(
        '"""A module docstring may say <path>/meta."""\n'
        "def f(spark, path):\n"
        '    """So may a function\'s: <path>/meta."""\n'
        "    vdir = _layout.begin_version(spark, path)\n"
        '    local_table(spark, [row], schema).write.parquet(f"{vdir}/meta")\n'
        "    _layout.commit_version(spark, vdir)\n"
        "    with writer_lease(spark, path):\n"
        '        meta = spark.read.parquet(root + "/meta").collect()[0]\n'
        '    return name == "meta"\n'
    )
    assert len(_offences(old)) == 6
