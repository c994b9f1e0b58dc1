"""Persisted-index maintenance: compaction for the log-structured
index/state family.

Every materialize-once artifact in the package (bloom_write_index,
minhash_write_index, embedding_write_index, ivf_write_index + appends,
retention_write_state, report_update_state) shares one layout:
``<path>/<dataset dirs>`` of parquet plus an optional 1-row
``<path>/meta`` pinning geometry. Appends are PLAIN parquet appends —
O(batch) work, no read-modify-write — which is the right write path at
100 TB but accumulates one file per ingestion batch forever: after
thousands of batches the small-files problem arrives inside the index
itself (every probe pays per-file open/footer costs; the NameNode/
listing pays per-file metadata).

:func:`compact_index` closes the loop: rewrite each dataset to
O(partitions) files, preserving layout, partitioning, and meta —
probe results are bit-identical before/after. Two kinds of dataset are
also ROW-merged, each by exactly the merge its read performs, so the
merge is a pure pre-computation: the Bloom ``words`` dataset
(bit_or of duplicate word rows), and the ``rows`` dataset of every
state family with a merge key in ``_state.FAMILIES`` — today vocab,
quantile, cms, resample and funnel (sum / min / max / most-filled
chain per key, batch ids kept as ledger rows). The sketch families
(report, distinct) and constraints have no merge key: their files are
rewritten, their rows kept. Run it on the same cadence you'd run any
compaction — after N appends, or when file counts degrade probe
latency.

Compaction is PROBE-SAFE: it writes a whole new VERSION of the
artifact (``_layout``'s snapshot protocol — all datasets plus a
byte-copied meta under ``<path>/v_NNNNNN``, committed by one atomic
marker create) and never touches the live one. A probe running
concurrently reads whichever version it resolved; a crash at any point
leaves the previous version fully readable. Superseded versions are
reclaimed by :func:`~wrangler_spark.datapipe._layout.vacuum` (default
grace: keep the previous committed version for in-flight probes).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wrangler_spark.datapipe._local import local_table

from wrangler_spark.datapipe import _layout, _state
from wrangler_spark.datapipe._layout import vacuum as vacuum_index  # noqa: F401  (public re-export)
from wrangler_spark.datapipe._layout import snapshots  # noqa: F401  (public re-export: time-travel listing)

# the Bloom sparse bitmap's dataset: compaction OR-merges duplicate
# word rows (the probe's own load-time merge, precomputed); the state
# families' row merges come from their _state table entries
_BLOOM_WORDS_COLS = {"__w", "__bits"}

# key columns tombstones can address, per dataset schema: the user key
# of the retention/funnel state families and the vector id of the
# IVF/embedding index families. A dataset with none of these is not
# id-addressable (vocab word counts, bloom bitmaps) and is left intact
# by compaction's tombstone application.
_FORGET_KEYS = ("__u", "vec_id", "id", "id_old")


def _count_files(fs, jpath) -> int:
    """Data files under a dataset dir (recursive), ignoring hidden/_ files."""
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def _partition_cols(fs, jpath) -> list[str]:
    """Hive-style partition column of a dataset dir (``name=value``
    subdirectories), outermost first. The package's layouts nest at most
    one level (centroid_id / __b), but walk down in case."""
    cols: list[str] = []
    cur = jpath
    while True:
        sub = [s.getPath() for s in fs.listStatus(cur)
               if s.isDirectory() and "=" in s.getPath().getName()]
        if not sub:
            return cols
        name = sub[0].getName().split("=", 1)[0]
        if name in cols:
            return cols
        cols.append(name)
        cur = sub[0]


def compact_index(spark: SparkSession, path: str) -> dict[str, dict[str, int]]:
    """Compact every dataset of a persisted index/state ``path`` to
    O(partitions) files; ``meta`` is byte-copied. Returns
    ``{dataset: {files_before, files_after, rows}}``.

    Probe contract: results are IDENTICAL before/after — the rewrite
    changes file layout only. The Bloom ``words`` dataset additionally
    bit_or-merges duplicate word rows (exact for a Bloom filter: the
    probe's own load-time merge, precomputed), so a thousand-batch log
    collapses back to ≤ bits/64 rows. A state family's ``rows``
    dataset is matched to its ``_state.FAMILIES`` entry by its column
    set; when the entry has a merge key (vocab, quantile, cms,
    resample, funnel) the rows merge by the entry's rules — the
    family's read merge, precomputed — with every original batch id
    preserved as a null-key ledger row carrying the pin values, so the
    exactly-once replay check and the pin check survive compaction.
    Report, distinct and constraints rows are rewritten unmerged.

    Safety: the compacted artifact is a whole NEW VERSION
    (``<path>/v_NNNNNN``, see ``_layout``) — the live version is never
    modified or deleted, the new one becomes visible only at the single
    atomic ``_COMMITTED`` marker create, probes may run concurrently
    (they keep reading the version they resolved), and a crash at any
    point leaves a readable index at the previous version. Superseded
    versions (and the flat legacy layout, after its first versioned
    compaction) are reclaimed separately by :func:`vacuum_index` —
    run it after the longest probe you'd ever have in flight.
    Single-writer contract is ENFORCED: the compaction is one
    ``_layout.build`` that resolves its source under the lease, so a
    compaction racing an append or rebuild of the same artifact fails
    loudly with ``ConcurrentWriterError`` instead of landing an append
    invisibly in a superseded version."""
    stats: dict[str, dict[str, int]] = {}
    with _layout.build(spark, path) as vdir:
        src_root = _layout.resolve(spark, path)
        fs, src, jvm = _layout._fs(spark, src_root)
        # tombstones (forget_ids) are APPLIED by this compaction: keyed
        # rows dropped, bucket-membership arrays scrubbed, and the
        # tombstones dataset itself not carried into the new version —
        # the physical erasure point of the right-to-be-forgotten flow.
        # Forget lists are request-sized by contract, so collecting them
        # for the array scrub is bounded work.
        tomb = _layout.read_dataset(spark, src_root, "tombstones")
        forget = {r["__forget"] for r in tomb.collect()} if tomb is not None else set()
        for st in fs.listStatus(src):
            name = st.getPath().getName()
            if (not st.isDirectory() or name.startswith(("_", "."))
                    or _layout._VERSION_RE.match(name) or name == "tombstones"):
                continue
            if name == _layout.META:
                # byte-copy: meta pins geometry — never re-encode it
                jvm.org.apache.hadoop.fs.FileUtil.copy(
                    fs, st.getPath(), fs, jvm.org.apache.hadoop.fs.Path(f"{vdir}/{name}"),
                    False, spark._jsc.hadoopConfiguration())
                continue
            stats[name] = _compact_dataset(spark, fs, st.getPath(), f"{vdir}/{name}", forget)
    return stats


def _compact_dataset(spark: SparkSession, fs, dpath, out: str, forget: set) -> dict[str, int]:
    """Rewrite one dataset dir into ``out``: tombstones applied, the
    Bloom words or a keyed state family's rows merged, ~128 MB files.
    Returns its ``{files_before, files_after, rows}``."""
    before = _count_files(fs, dpath)
    parts = _partition_cols(fs, dpath)
    df = spark.read.parquet(dpath.toString())
    if forget:
        keyed = [k for k in _FORGET_KEYS if k in df.columns]
        if keyed:
            # null keys are the state families' batch-id LEDGER rows,
            # not data — isin's null semantics would silently drop them
            df = df.filter(
                F.col(keyed[0]).isNull()
                | ~F.col(keyed[0]).cast("string").isin(*sorted(forget))
            )
        if "__olds" in df.columns:
            # scrub bucket-membership arrays too (minhash/embedding
            # index buckets): the keyed payload row is already gone,
            # so this is reference erasure, not correctness
            forget_arr = F.array(*[F.lit(v) for v in sorted(forget)])
            df = df.withColumn(
                "__olds",
                F.filter(
                    "__olds",
                    lambda x: ~F.array_contains(forget_arr, x.cast("string")),
                ),
            ).filter(F.size("__olds") > 0)
    fam = _state.family_of(df.columns) if dpath.getName() == "rows" else None
    if set(df.columns) == _BLOOM_WORDS_COLS:
        df = df.groupBy("__w").agg(F.expr("bit_or(__bits)").alias("__bits"))
    elif fam is not None:
        # the state family's read merge, precomputed; every original
        # batch id survives as a null-key ledger row, so the replay
        # ledger's row probe and legacy backfill (_layout.fold_once)
        # still see it
        df = _state.merge(df, fam, compact=True)
    # size-based file target (~128 MB each): a compaction that
    # coalesced a 100 TB vectors dataset to one file would be its
    # own scale bug. With partition cols, hash-repartitioning ON
    # those cols keeps every partition value in one task, so files
    # per partition value stay at 1 until data volume needs more.
    size = fs.getContentSummary(dpath).getLength()
    tgt = max(1, -(-int(size) // (128 << 20)))
    writer = (
        df.repartition(tgt, *[F.col(c) for c in parts]) if parts
        else df.repartition(tgt)
    ).write
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(out)
    # verification count of the rewrite before the commit; count(*)
    # over parquet projects zero columns, so this is footer-bounded
    # work, not a second data pass
    rows = spark.read.parquet(out).count()
    _, opath, _ = _layout._fs(spark, out)
    return {"files_before": before, "files_after": _count_files(fs, opath), "rows": rows}


def forget_ids(spark: SparkSession, path: str, values, key: str) -> None:
    """Tombstone-delete ids from a persisted artifact — the
    right-to-be-forgotten operator at 100 TB, where physically
    rewriting a petabyte-scale index per deletion request is never an
    option: appends the ids to ``<path>/tombstones`` (O(request) work,
    under the writer lease); the keyed read paths anti-join them out
    immediately (retention grid, active users, funnel state, IVF
    queries — via :func:`read_forgetting`; the minhash/embedding
    *_against probes apply at the next compaction instead, since their
    candidate arrays are not row-keyed), and the next
    :func:`compact_index` applies them PHYSICALLY everywhere (keyed
    rows dropped, bucket-membership arrays scrubbed, tombstones dataset
    itself not carried into the new version — the erasure point;
    ``vacuum_index`` then reclaims the old bytes).

    ``key`` names the artifact's id column and must be one of the
    package's addressable keys: ``__u`` (retention pairs / funnel slot
    chains — "forget user X"), ``vec_id`` / ``id`` / ``id_old`` (the
    IVF / minhash / embedding index payloads — "remove document Y").
    Artifacts with no keyed dataset refuse loudly: a Bloom index is a
    bitmap (bits are shared — removal is mathematically impossible;
    rebuild without the docs), and vocabulary state stores word counts
    that cannot be attributed back to documents.

    Semantics: a tombstone hides the id from every read — INCLUDING
    rows appended after the tombstone — until a compaction erases both
    the data and the tombstone; re-admitting the key starts from the
    post-compaction blank slate. ``values`` is a Python list or a
    1-column DataFrame; tombstones are stored as strings (the anti-join
    casts the key side, so typed keys round-trip). Forget lists are
    request-sized (thousands, not millions) — reads broadcast them and
    compaction materializes them as a literal array for the
    bucket-array scrub; both are documented bounds, not hidden ones."""
    from pyspark.sql import DataFrame as _DF

    if key not in _FORGET_KEYS:
        raise ValueError(
            f"key must be one of {_FORGET_KEYS}, got {key!r} — the package's "
            "id-addressable artifact keys"
        )
    with _layout.append(spark, path) as root:
        fs, src, _ = _layout._fs(spark, root)
        keyed = []
        for st in fs.listStatus(src):
            name = st.getPath().getName()
            if not st.isDirectory() or name.startswith(("_", ".")):
                continue
            if name == "tombstones":
                continue
            cols = set(spark.read.parquet(st.getPath().toString()).columns)
            if key in cols:
                keyed.append(name)
            if cols == _BLOOM_WORDS_COLS:
                raise ValueError(
                    "cannot forget ids from a Bloom index: the bitmap's bits "
                    "are shared across keys — rebuild the index without the "
                    "forgotten documents instead"
                )
            if _state.family_of(cols) is _state.VOCAB:
                raise ValueError(
                    "cannot forget ids from vocabulary state: word counts "
                    "cannot be attributed back to documents — rebuild from "
                    "the retained corpus instead"
                )
        if not keyed:
            raise ValueError(
                f"no dataset under {path} carries the key column {key!r} — "
                "nothing is id-addressable here"
            )
        if isinstance(values, _DF):
            tomb = values.select(F.col(values.columns[0]).cast("string").alias("__forget"))
        else:
            tomb = local_table(spark,
                [(str(v),) for v in values], "__forget string"
            )
        tomb.distinct().write.mode("append").parquet(f"{root}/tombstones")


def read_forgetting(spark: SparkSession, root: str, dataset: str, key: str) -> "DataFrame":
    """Read ``<root>/<dataset>`` with the artifact's tombstones applied:
    a broadcast anti-join on ``cast(key as string)`` — the shared read
    path of every forget-aware probe (retention grid, active users,
    funnel state, IVF query). No tombstones → the plain read, zero
    added plan."""
    df = spark.read.parquet(f"{root}/{dataset}")
    tomb = _layout.read_dataset(spark, root, "tombstones")
    if tomb is None:
        return df
    tomb = tomb.select("__forget").distinct()
    return df.join(
        F.broadcast(tomb), df[key].cast("string") == tomb["__forget"], "left_anti"
    )
