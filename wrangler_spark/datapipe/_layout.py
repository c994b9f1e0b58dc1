"""Versioned-snapshot layout for persisted indexes and state.

Every materialize-once artifact in the package (bloom/minhash/embedding/
IVF indexes, retention/vocab/report state) is a directory of parquet
datasets plus a 1-row ``meta``. The original layout was FLAT —
``<path>/<dataset>`` — which makes every rebuild-in-place and every
compaction a multi-directory swap with no atomic step: a crash between
the ``meta`` write and the ``buckets`` write leaves NEW-geometry meta
over OLD-geometry buckets, and probes silently miss pairs (the one
failure an index must never have), while a probe running concurrently
with a compaction can read a half-swapped dataset.

The versioned layout closes both holes with one mechanism, the
minimal form of the snapshot pattern every table format (Iceberg/Delta/
Hudi) builds on:

- a BUILD writes all datasets into ``<path>/v_NNNNNN/`` (invisible to
  readers), then creates the empty ``v_NNNNNN/_COMMITTED`` marker —
  a single file create, the only atomicity the filesystem must provide;
- a READER resolves the highest committed version and plans against
  those concrete paths — a build or compaction running concurrently
  writes elsewhere and flips visibility only at its commit, and files a
  running probe already resolved are never deleted out from under it
  (vacuum keeps the previous committed version precisely as that grace
  period);
- an APPEND (the log-structured state family) lands in the CURRENT
  resolved root, so appends survive compaction cadences;
- a crash at ANY point leaves either the old committed version or the
  new one readable — never a mix, never a missing dataset.

Flat legacy indexes keep working: ``resolve`` returns ``path`` itself
when no committed version exists, and the first compaction migrates the
artifact into ``v_000001`` without touching the flat datasets (vacuum
removes them once a committed version supersedes them).

Every writer goes through one of two write forms, context managers on
``(spark, path)``: :func:`build` writes a NEW version (a build, a
meta-only init, a compaction) and commits it on a clean exit;
:func:`append` writes into the CURRENT version (a fold, an index
append, a tombstone write), resolved under the lease. The error rule:
a body that raises releases what its writer took before the exception
leaves the ``with`` — the lease (a build also abandons its version)
and, since both run the body in a ``checkpoint_scope``, the blocks the
body checkpointed — so a failed write never locks its artifact for the
lease TTL. The 1-row ``meta`` is written and read only through
:func:`write_meta`, :func:`read_meta` and :func:`has_meta`.

Single-writer contract (ENFORCED by a lease): builds, appends, and
compactions of the SAME artifact must not race each other — probes may
race any of them freely. The enforcement is a create-exclusive
``<path>/_LOCK`` file that both write forms hold (the protocol steps
they compose, :func:`begin_version` / :func:`commit_version` /
:func:`abandon_version` and :func:`writer_lease`, are called nowhere
else): a SECOND writer fails loudly with
:class:`ConcurrentWriterError` instead of silently interleaving its
files under the winner's version. A writer that crashed without
releasing leaves a stale lock; a later acquire steals it once it is
older than ``ttl_sec`` (default 1 h — longer than any sane build, so a
steal implies a dead writer, not a slow one).

The steal is fenced by a TOKEN: every acquire writes a fresh random
writer id into ``_LOCK`` and remembers it; ``commit_version`` re-reads
the lock immediately before creating the ``_COMMITTED`` marker and
raises :class:`ConcurrentWriterError` when the content is no longer its
own token. Two stealers of the same stale lock can still both believe
they acquired (stealer B's delete can remove stealer A's fresh lock —
the classic lease caveat), but only the writer whose token survives in
the lock can COMMIT; the loser fails loudly before its marker create,
so a double-steal can no longer publish interleaved files. Releases are
token-checked too: a fenced-out writer's release never deletes the
usurper's lock.

Replay ledger (the state-fold family's exactly-once check): every fold
that carries a non-empty ``batch_id`` goes through :func:`fold_once`,
which records committed batch ids as one empty marker file per id in
``<path>/_batches/`` — the file name is the sha256 hex of the id, so
any id (slashes, spaces, non-ASCII, any length) is a valid name. The
ledger sits at the artifact root, outside every ``v_NNNNNN`` dir:
compaction never copies it, vacuum skips it (``_``-prefixed), and a
replay check is a file-existence test instead of a Spark probe job over
the state rows. All ledger reads and writes happen under the writer
lease. The protocol, per fold of id K:

1. ``_batches/<K>`` exists — the batch is already folded: no-op.
2. ``_batches/<K>.pending`` exists — an earlier attempt died between
   its pending mark and its done mark, so its append may or may not
   have committed. Fall back to probing the state rows for the id: if
   they hold it, write ``<K>`` and no-op; if not, fold.
3. Otherwise write ``<K>.pending``, append, write ``<K>``, delete
   ``<K>.pending``.

Crash windows: before ``.pending`` nothing happened; between
``.pending`` and the append's commit the rows lack the id and the
replay folds; between the append's commit and ``<K>`` the rows hold the
id (compaction preserves ids: it rewrites the unmerged families' rows
and keeps one null-key ledger row per id in a merged family's, see
``_state``) and the replay only writes ``<K>``; after ``<K>`` the
replay is a file test. A state written before the ledger existed
(``rows`` but no ``_batches/``) is backfilled once: the distinct
non-empty ids of its rows are collected in one job and their markers
written into a scratch dir that is renamed into place, so a crash
mid-backfill leaves no partial ledger. An empty ``batch_id`` means no
dedup: the fold appends and no marker is written.
"""

from __future__ import annotations

import hashlib
import re
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wrangler_spark.datapipe._checkpoint import checkpoint_scope
from wrangler_spark.datapipe._local import local_table

_VERSION_RE = re.compile(r"^v_(\d{6,})$")
_MARKER = "_COMMITTED"
_LOCK = "_LOCK"
_LEDGER = "_batches"
META = "meta"

# fencing tokens for leases held by THIS process, keyed by artifact
# path: acquire writes the token into _LOCK, commit re-verifies it on
# disk before creating the marker (call sites stay token-free)
_HELD: dict[str, str] = {}
_HELD_MU = threading.Lock()

#: a lock older than this is presumed to belong to a crashed writer and
#: may be stolen by the next acquire.
DEFAULT_LEASE_TTL_SEC = 3600


class ConcurrentWriterError(RuntimeError):
    """A second writer (build / append / compaction) tried to acquire an
    artifact whose lease is held and not yet stale."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _version_dirs(fs, root, jvm) -> list[tuple[int, str, bool]]:
    """(number, name, committed) for every ``v_NNNNNN`` dir under root,
    ascending by number. Empty when root doesn't exist (fresh path)."""
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        m = _VERSION_RE.match(st.getPath().getName())
        if not m:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), _MARKER)
        out.append((int(m.group(1)), st.getPath().getName(), fs.exists(marker)))
    return sorted(out)


def resolve(spark: SparkSession, path: str, version: int | None = None) -> str:
    """The root directory dataset READS and APPENDS should target: the
    highest COMMITTED version dir, else ``path`` itself (flat legacy
    layout / fresh path). Resolution happens at plan-build time, so a
    compaction that commits afterwards never swaps files under a
    running read.

    ``version`` pins the read to a specific committed snapshot (time
    travel): versions survive until :func:`vacuum` reclaims them, so
    "what did this state say before yesterday's compaction" is a normal
    read, not a restore. Append semantics set the snapshot granularity:
    appends land in the CURRENT version dir, so a version's content
    freezes when the NEXT version is created — pin ``v_N`` and you read
    the artifact as of the creation of ``v_{N+1}`` (with a
    compact-per-night cadence, ``latest - 1`` IS last night's state).
    A pinned version that was never committed or was vacuumed raises
    loudly — silently falling back to latest would answer a different
    question than the caller asked."""
    fs, root, jvm = _fs(spark, path)
    committed = [(n, name) for n, name, ok in _version_dirs(fs, root, jvm) if ok]
    if version is not None:
        match = [name for n, name in committed if n == version]
        if not match:
            have = [n for n, _ in committed]
            raise ValueError(
                f"no committed version {version} under {path} "
                f"(committed versions: {have or 'none'}) — it was never "
                "committed, or vacuum reclaimed it")
        return f"{path}/{match[0]}"
    return f"{path}/{committed[-1][1]}" if committed else path


def snapshots(spark: SparkSession, path: str) -> list[dict]:
    """Every version dir under an artifact, ascending: ``{"version",
    "path", "committed"}`` per entry. Committed entries are readable via
    ``resolve(spark, path, version=...)``; uncommitted ones are
    abandoned/in-flight builds awaiting vacuum or commit."""
    fs, root, jvm = _fs(spark, path)
    return [
        {"version": n, "path": f"{path}/{name}", "committed": ok}
        for n, name, ok in _version_dirs(fs, root, jvm)
    ]


def _read_lock_token(fs, lock) -> str | None:
    """The writer token currently inside ``_LOCK``, None when the lock
    doesn't exist. Tokens are 32 hex chars; a pre-token empty lock reads
    as ''."""
    try:
        stream = fs.open(lock)
    except Exception:
        return None
    try:
        data = []
        while len(data) < 64:
            b = stream.read()
            if b == -1:
                break
            data.append(b)
        return bytes(data).decode("ascii", "replace")
    finally:
        stream.close()


def acquire_lease(spark: SparkSession, path: str,
                  ttl_sec: int = DEFAULT_LEASE_TTL_SEC) -> str:
    """Take the artifact's writer lease: create-exclusive
    ``<path>/_LOCK`` containing a fresh random writer token (the fencing
    id :func:`commit_version` re-verifies). Returns the token and
    records it for this process. Raises :class:`ConcurrentWriterError`
    when another writer holds a non-stale lock; a lock older than
    ``ttl_sec`` is stolen (crashed-writer recovery)."""
    fs, root, jvm = _fs(spark, path)
    lock = jvm.org.apache.hadoop.fs.Path(root, _LOCK)
    token = uuid.uuid4().hex
    for attempt in (0, 1):
        try:
            out = fs.create(lock, False)        # overwrite=False: atomic
            out.write(bytearray(token.encode("ascii")))
            out.close()
            with _HELD_MU:
                _HELD[path] = token
            return token
        except Exception as e:                  # noqa: BLE001 — py4j wraps the Java type
            if "AlreadyExists" not in str(e) and "already exists" not in str(e):
                raise
        if attempt:
            break
        try:
            age_ms = jvm.java.lang.System.currentTimeMillis() \
                - fs.getFileStatus(lock).getModificationTime()
        except Exception:                       # lock released between create and stat
            continue                            # retry the create once
        if age_ms < ttl_sec * 1000:
            raise ConcurrentWriterError(
                f"writer lease on {path} is held (lock age {age_ms / 1000:.0f}s "
                f"< ttl {ttl_sec}s) — a build/append/compaction of this artifact "
                "is in flight; retry after it commits, or raise ttl_sec only if "
                "you know the holder crashed")
        fs.delete(lock, False)                  # stale: steal and retry once
    raise ConcurrentWriterError(f"writer lease on {path}: lost the steal race")


def release_lease(spark: SparkSession, path: str) -> None:
    """Release the artifact's writer lease (idempotent). When this
    process recorded a token for the lease, the lock is deleted only if
    it still holds OUR token — a fenced-out writer's release must not
    remove the usurper's lock."""
    fs, root, jvm = _fs(spark, path)
    lock = jvm.org.apache.hadoop.fs.Path(root, _LOCK)
    with _HELD_MU:
        token = _HELD.pop(path, None)
    if token is not None:
        on_disk = _read_lock_token(fs, lock)
        if on_disk is not None and on_disk != token:
            return                              # stolen: leave the usurper's lock
    fs.delete(lock, False)


@contextmanager
def writer_lease(spark: SparkSession, path: str,
                 ttl_sec: int = DEFAULT_LEASE_TTL_SEC):
    """Hold the writer lease around the body (the lease step of
    :func:`append`): acquire → body → release, releasing on error too."""
    acquire_lease(spark, path, ttl_sec)
    try:
        yield
    finally:
        release_lease(spark, path)


def begin_version(spark: SparkSession, path: str,
                  ttl_sec: int = DEFAULT_LEASE_TTL_SEC) -> str:
    """Start a new (invisible) version: returns ``<path>/v_NNNNNN`` one
    past the highest existing version number, committed or not — an
    abandoned uncommitted build is never reused, only vacuumed. Any
    stale dir at the chosen name is cleared first. Acquires the writer
    lease — released by :func:`commit_version` or
    :func:`abandon_version`; a second concurrent ``begin_version`` on
    the same artifact raises :class:`ConcurrentWriterError`."""
    acquire_lease(spark, path, ttl_sec)
    try:
        fs, root, jvm = _fs(spark, path)
        nums = [n for n, _, _ in _version_dirs(fs, root, jvm)]
        name = f"v_{(max(nums) + 1 if nums else 1):06d}"
        target = jvm.org.apache.hadoop.fs.Path(root, name)
        fs.delete(target, True)
        return f"{path}/{name}"
    except Exception:
        release_lease(spark, path)
        raise


def commit_version(spark: SparkSession, version_dir: str) -> None:
    """Flip the version visible: create its empty ``_COMMITTED`` marker
    (one atomic file create — the whole commit protocol), then release
    the writer lease ``begin_version`` took. FENCED (see the module
    docstring): a foreign token in the lock raises
    :class:`ConcurrentWriterError` WITHOUT publishing the version."""
    path = version_dir.rsplit("/", 1)[0]
    fs, vroot, jvm = _fs(spark, version_dir)
    with _HELD_MU:
        token = _HELD.get(path)
    if token is not None:
        lock = jvm.org.apache.hadoop.fs.Path(
            jvm.org.apache.hadoop.fs.Path(path), _LOCK)
        on_disk = _read_lock_token(fs, lock)
        if on_disk != token:
            # keep the held token: a later release_lease must still
            # compare against it and decline to delete the usurper's lock
            raise ConcurrentWriterError(
                f"commit of {version_dir} fenced out: the writer lease "
                f"on {path} is {'gone' if on_disk is None else 'held by another writer'} "
                "— this writer's lock was stolen after going stale; the "
                "version stays uncommitted (vacuum will reclaim it)")
    fs.create(jvm.org.apache.hadoop.fs.Path(vroot, _MARKER), True).close()
    release_lease(spark, path)


def abandon_version(spark: SparkSession, version_dir: str) -> None:
    """Give up an uncommitted build: release the writer lease without
    creating the marker. The dir itself stays invisible (no marker) and
    is reclaimed by the next :func:`vacuum` — same end state as a
    writer crash, but without waiting out the lease TTL."""
    release_lease(spark, version_dir.rsplit("/", 1)[0])


@contextmanager
def build(spark: SparkSession, path: str):
    """Write a new version of the artifact at ``path``: take the lease,
    yield a fresh ``v_NNNNNN`` dir for the body to write every dataset
    into, and commit it when the body returns. A body that raises, or a
    commit that is fenced out, abandons the version instead: the lease
    is released at once and the dir stays invisible until vacuum. The
    body runs in a ``checkpoint_scope``."""
    vdir = begin_version(spark, path)
    try:
        with checkpoint_scope():
            yield vdir
        commit_version(spark, vdir)
    except BaseException:
        abandon_version(spark, vdir)
        raise


@contextmanager
def append(spark: SparkSession, path: str):
    """Write into the artifact's current version: take the lease, then
    yield the root resolved under it, so a compaction cannot commit
    between the resolve and the write. The lease is released on exit,
    error or not, and the body runs in a ``checkpoint_scope``."""
    with writer_lease(spark, path), checkpoint_scope():
        yield resolve(spark, path)


def write_meta(spark: SparkSession, vdir: str, row: tuple, schema: str) -> None:
    """Pin ``row`` (DDL ``schema``) as the 1-row ``meta`` of the version
    a :func:`build` is writing."""
    local_table(spark, [row], schema).write.parquet(f"{vdir}/{META}")


def read_meta(spark: SparkSession, root: str):
    """The 1-row ``meta`` under a resolved ``root``, as a Row (one Spark
    job). Reading a root without one raises Spark's path-not-found
    ``AnalysisException``."""
    return spark.read.parquet(f"{root}/{META}").collect()[0]


def has_meta(spark: SparkSession, root: str) -> bool:
    """Whether a resolved ``root`` holds a ``meta`` — a file test, no
    Spark job."""
    fs, jroot, jvm = _fs(spark, root)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(jroot, META))


def vacuum(spark: SparkSession, path: str, keep: int = 2) -> list[str]:
    """Delete superseded storage under an artifact ``path``: committed
    versions beyond the newest ``keep`` (default 2 — current plus one
    grace version for probes that resolved just before the last
    commit), every uncommitted version older than the newest committed
    one (abandoned builds), and — once any committed version exists —
    the flat legacy datasets the first versioned build superseded.
    Returns the deleted paths. Never deletes the newest committed
    version; a fresh/flat-only artifact is left untouched."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    fs, root, jvm = _fs(spark, path)
    dirs = _version_dirs(fs, root, jvm)
    committed = [(n, name) for n, name, ok in dirs if ok]
    if not committed:
        return []
    latest_n = committed[-1][0]
    drop = {name for n, name in committed[:-keep]}
    drop |= {name for n, name, ok in dirs if not ok and n < latest_n}
    deleted = []
    for name in sorted(drop):
        fs.delete(jvm.org.apache.hadoop.fs.Path(root, name), True)
        deleted.append(f"{path}/{name}")
    # flat legacy datasets are superseded by any committed version
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and not _VERSION_RE.match(name) and not name.startswith(("_", ".")):
            fs.delete(st.getPath(), True)
            deleted.append(f"{path}/{name}")
    return deleted


def _ledger_key(batch_id: str) -> str:
    return hashlib.sha256(str(batch_id).encode("utf-8")).hexdigest()


def read_dataset(spark: SparkSession, root: str, name: str = "rows",
                 merge_schema: bool = False):
    """``<root>/<name>``, or None when nothing has been written to it
    yet. ``merge_schema`` reads every footer's columns instead of one
    footer's sample."""
    from pyspark.errors import AnalysisException

    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    try:
        return reader.parquet(f"{root}/{name}")
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        return None


def _rows_hold(spark: SparkSession, root: str, batch_id: str) -> bool:
    """The Spark probe the ledger replaces: does ``<root>/rows`` hold a
    row of ``batch_id``? False when no fold has appended yet."""
    rows = read_dataset(spark, root)
    return rows is not None and bool(
        rows.filter(F.col("batch_id") == batch_id).limit(1).count())


def _backfill_ledger(spark: SparkSession, path: str, root: str) -> None:
    """Build ``<path>/_batches/`` for a state written before the ledger
    existed: one marker per distinct non-empty batch id of its rows
    (compaction's ledger rows included), written into a scratch dir and
    renamed into place, so the ledger appears whole or not at all."""
    fs, base, jvm = _fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    rows = P(f"{root}/rows")
    if not fs.exists(rows):
        fs.mkdirs(P(base, _LEDGER))             # fresh state: nothing to backfill
        return
    scratch = P(base, _LEDGER + ".backfill")
    fs.delete(scratch, True)
    fs.mkdirs(scratch)
    ids = (spark.read.parquet(rows.toString()).filter(F.col("batch_id") != "")
           .select("batch_id").distinct().collect())
    for r in ids:
        fs.create(P(scratch, _ledger_key(r["batch_id"])), True).close()
    fs.rename(scratch, P(base, _LEDGER))


@contextmanager
def fold_once(spark: SparkSession, path: str, batch_id: str):
    """Run one state fold exactly once per ``batch_id``: an
    :func:`append` that yields the resolved root the fold appends under,
    or ``None`` when the batch is already folded (the caller returns).
    The done marker is written only after the body returns; a body that
    raises leaves its ``.pending`` mark, so the next attempt probes the
    rows. See the module docstring for the protocol and its crash
    windows. An empty ``batch_id`` yields the root with no ledger
    access at all."""
    with append(spark, path) as root:
        if not batch_id:
            yield root
            return
        fs, base, jvm = _fs(spark, path)
        P = jvm.org.apache.hadoop.fs.Path
        ledger, key = P(base, _LEDGER), _ledger_key(batch_id)
        done, pending = P(ledger, key), P(ledger, key + ".pending")
        if not fs.exists(done) and not fs.exists(ledger):
            _backfill_ledger(spark, path, root)
        if fs.exists(done):
            yield None
            return
        if not fs.exists(pending):
            fs.create(pending, True).close()
        elif _rows_hold(spark, root, str(batch_id)):
            fs.create(done, True).close()
            fs.delete(pending, False)
            yield None
            return
        yield root
        fs.create(done, True).close()
        fs.delete(pending, False)


def drop_ledger(spark: SparkSession, path: str) -> None:
    """Forget every recorded batch id of ``path`` — for a build that
    replaces the state rows wholesale (a re-init), whose old ids must
    fold again. Call it under the writer lease, BEFORE the new version
    commits: a crash in between leaves the old rows visible with no
    ledger, which the next fold backfills from those rows."""
    fs, base, jvm = _fs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(base, _LEDGER), True)


def fold_stream(stream, checkpoint: str, trigger: dict | None, fold):
    """Start the foreachBatch sink every state family's ``*_update_stream``
    shares: each micro-batch runs ``fold(batch, batch_id)`` with the
    micro-batch id as the batch id, so at-least-once delivery plus
    :func:`fold_once` is exactly-once state. Returns the started
    StreamingQuery; default trigger availableNow (drain-and-stop)."""
    return (
        stream.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(lambda batch, bid: fold(batch, str(bid)))
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )
