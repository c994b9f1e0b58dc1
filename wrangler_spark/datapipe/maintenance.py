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
probe results are bit-identical before/after (for the Bloom ``words``
dataset the rewrite also bit_or-merges duplicate word rows, which is
exactly the merge the probe performs at load time, so it is a pure
pre-computation). Run it on the same cadence you'd run any compaction —
after N appends, or when file counts degrade probe latency.

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

from wrangler_spark.datapipe import _layout
from wrangler_spark.datapipe._layout import vacuum as vacuum_index  # noqa: F401  (public re-export)
from wrangler_spark.datapipe._layout import snapshots  # noqa: F401  (public re-export: time-travel listing)

# datasets that get a semantics-preserving ROW merge during compaction,
# not just a file rewrite: the Bloom sparse bitmap OR-merges duplicate
# word rows, the vocabulary state sum-merges word counts — in both
# cases the read path's own load-time merge, precomputed
_BLOOM_WORDS_COLS = {"__w", "__bits"}
_VOCAB_STATE_COLS = {"word", "count", "batch_id"}
_FUNNEL_STATE_COLS = {"__u", "__slots", "batch_id"}

# key columns tombstones can address, per dataset schema: the user key
# of the retention/funnel state families and the vector id of the
# IVF/embedding index families. A dataset with none of these is not
# id-addressable (vocab word counts, bloom bitmaps) and is left intact
# by compaction's tombstone application.
_FORGET_KEYS = ("__u", "vec_id", "id", "id_old")


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


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
    collapses back to ≤ bits/64 rows; vocabulary state rows sum-merge
    the same way, with every original batch id preserved as a
    zero-count ledger row so the state family's exactly-once replay
    check survives compaction.

    Safety: the compacted artifact is a whole NEW VERSION
    (``<path>/v_NNNNNN``, see ``_layout``) — the live version is never
    modified or deleted, the new one becomes visible only at the single
    atomic ``_COMMITTED`` marker create, probes may run concurrently
    (they keep reading the version they resolved), and a crash at any
    point leaves a readable index at the previous version. Superseded
    versions (and the flat legacy layout, after its first versioned
    compaction) are reclaimed separately by :func:`vacuum_index` —
    run it after the longest probe you'd ever have in flight.
    Single-writer contract is ENFORCED: ``begin_version`` takes the
    artifact's writer lease, so a compaction racing an append or
    rebuild of the same artifact fails loudly with
    ``ConcurrentWriterError`` instead of landing an append invisibly
    in a superseded version."""
    from pyspark.errors import AnalysisException

    fs, _, jvm = _hadoop(spark, path)
    src_root = _layout.resolve(spark, path)
    _, src, _ = _hadoop(spark, src_root)
    # tombstones (forget_ids) are APPLIED by this compaction: keyed rows
    # dropped, bucket-membership arrays scrubbed, and the tombstones
    # dataset itself not carried into the new version — the physical
    # erasure point of the right-to-be-forgotten flow. Forget lists are
    # request-sized by contract, so collecting them for the array scrub
    # is bounded work.
    try:
        forget = {
            r["__forget"]
            for r in spark.read.parquet(f"{src_root}/tombstones").collect()
        }
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        forget = set()
    forget_arr = F.array(*[F.lit(v) for v in sorted(forget)]) if forget else None
    vdir = _layout.begin_version(spark, path)
    stats: dict[str, dict[str, int]] = {}
    for st in fs.listStatus(src):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or _layout._VERSION_RE.match(name):
            continue
        if name == "tombstones":
            continue  # applied below, never carried forward
        dpath = st.getPath()
        if name == "meta":
            # byte-copy: meta pins geometry — never re-encode it
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, dpath, fs, jvm.org.apache.hadoop.fs.Path(f"{vdir}/meta"),
                False, spark._jsc.hadoopConfiguration(),
            )
            continue
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
                df = df.withColumn(
                    "__olds",
                    F.filter(
                        "__olds",
                        lambda x: ~F.array_contains(forget_arr, x.cast("string")),
                    ),
                ).filter(F.size("__olds") > 0)
        if set(df.columns) == _BLOOM_WORDS_COLS:
            df = df.groupBy("__w").agg(F.expr("bit_or(__bits)").alias("__bits"))
        elif set(df.columns) == _VOCAB_STATE_COLS:
            # sum-merge word counts (the read path's own merge), but
            # PRESERVE the batch-id dedup ledger: the replay ledger's
            # crash-window fallback and its legacy backfill
            # (_layout.fold_once) read batch ids from the rows, so compaction
            # keeps one zero-count ledger row per original batch id
            # (word NULL — the update path can never produce a null
            # word, and the state readers filter them out). A replayed
            # micro-batch therefore stays a NO-OP even when a compaction
            # ran inside the crash window, before the sink restarted.
            ledger = (
                df.filter(
                    (F.col("batch_id") != "") & (F.col("batch_id") != "compacted")
                )
                .select("batch_id")
                .distinct()
                .select(
                    F.lit(None).cast("string").alias("word"),
                    F.lit(0).cast("long").alias("count"),
                    "batch_id",
                )
            )
            df = (
                df.filter(F.col("word").isNotNull())
                .groupBy("word")
                .agg(
                    F.sum("count").cast("long").alias("count"),
                    F.lit("compacted").alias("batch_id"),
                )
                .unionByName(ledger)
            )
        elif set(df.columns) == _FUNNEL_STATE_COLS:
            # funnel slot chains merge by most-filled-row-wins (fills are
            # monotone — the read path's own max_by, precomputed); batch
            # ids survive as null-user ledger rows, as for vocab state
            ledger = (
                df.filter(
                    (F.col("batch_id") != "") & (F.col("batch_id") != "compacted")
                )
                .select("batch_id")
                .distinct()
                .select(
                    # __u's type follows the caller's user column — null
                    # ledger rows must keep it, not assume string
                    F.lit(None).cast(df.schema["__u"].dataType).alias("__u"),
                    F.lit(None).cast("array<long>").alias("__slots"),
                    "batch_id",
                )
            )
            df = (
                df.filter(F.col("__u").isNotNull())
                .groupBy("__u")
                .agg(
                    F.max_by(
                        "__slots",
                        F.size(F.filter("__slots", lambda x: x.isNotNull())),
                    ).alias("__slots"),
                    F.lit("compacted").alias("batch_id"),
                )
                .unionByName(ledger)
            )
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
        out = f"{vdir}/{name}"
        writer.parquet(out)
        # verification count of the rewrite before the commit; count(*)
        # over parquet projects zero columns, so this is footer-bounded
        # work, not a second data pass
        rows = spark.read.parquet(out).count()
        _, opath, _ = _hadoop(spark, out)
        stats[name] = {
            "files_before": before,
            "files_after": _count_files(fs, opath),
            "rows": rows,
        }
    _layout.commit_version(spark, vdir)
    return stats


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
    with _layout.writer_lease(spark, path):
        root = _layout.resolve(spark, path)
        fs, src, _ = _hadoop(spark, root)
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
            if cols == _VOCAB_STATE_COLS:
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
    from pyspark.errors import AnalysisException

    df = spark.read.parquet(f"{root}/{dataset}")
    try:
        tomb = spark.read.parquet(f"{root}/tombstones").select("__forget").distinct()
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        return df
    return df.join(
        F.broadcast(tomb), df[key].cast("string") == tomb["__forget"], "left_anti"
    )
