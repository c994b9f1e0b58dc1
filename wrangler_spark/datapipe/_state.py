"""The log-structured state families: one table, one fold, one read, one
merge rule.

A state family keeps its state as a log of per-batch partial aggregates
under ``<root>/rows`` (``root`` = the artifact's resolved version, see
``_layout``). A fold appends one batch's rows with its ``batch_id``
(exactly once per id, through ``_layout.fold_once``); a read merges the
rows; compaction may run the same merge ahead of time. The families
differ only in their entry of :data:`FAMILIES`:

============  ==============  ==================================  =================
family        merge key       merge aggregates                    pinned geometry
============  ==============  ==================================  =================
vocab         word            count: sum                          —
quantile      bin             count: sum                          rel_err
cms           d, slot         count: sum                          depth, width
resample      key, bucket     n, msum, nv: sum; mn: min; mx: max  step
funnel        __u             __slots: most-filled chain          —
distinct      — (rewrite)     —                                   lgk
report        — (rewrite)     —                                   its column set
constraints   — (rewrite)     —                                   —
============  ==============  ==================================  =================

- The **merge key and aggregates** are the family's read: :func:`merge`
  groups the data rows by the key and aggregates each column by its
  rule. :func:`~wrangler_spark.datapipe.maintenance.compact_index`
  finds a ``rows`` dataset's family by its column set
  (:func:`family_of`) and writes the same merge, keeping the rows'
  schema: the merged rows carry ``batch_id = "compacted"`` and the pin
  values, and every original batch id survives as one LEDGER row (null
  key, zero sums, null min/max/chain, the pin values), so the replay
  ledger's row probe and legacy backfill (``_layout.fold_once``) still
  find every folded id. Readers drop null-key rows.
- The **pinned geometry** is what every batch of one state must agree
  on: a value pinned in every row (a bin base, a sketch grid, a bucket
  grain), or, for report, the column set itself (the group column's
  name and whether a language sketch is present). :func:`fold` checks it
  against the stored rows before appending and refuses a mismatch; only
  pinned families pay that read.
- **File-rewrite families** have no merge key. Distinct and report hold
  HLL sketch binaries: their merge is an ``hll_union_agg`` whose result
  is a new sketch, not a per-column rule over the stored columns, and a
  union of sketches estimates within the sketch's bound rather than
  reproducing the per-batch rows — so compaction only rewrites their
  files and the readers union at read time. Constraints is a per-batch
  time series that ``constraints_history`` reads as it is.

Adding a family: add its :class:`Family` entry, build the batch's
partial aggregate in its ``*_update_state`` and hand it to :func:`fold`,
read it back with :func:`rows` (plus :func:`merge` for a keyed family).
The rows' schema is the family's on-disk contract: once states exist,
its column names, types and order do not change.

Retention and funnel also pin a 1-row ``meta`` (period/calendar,
steps/window), read with ``_layout.read_meta``: :func:`init_meta` is
their shared meta-only init.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout


# merge rule -> (aggregate over the rows, the value a ledger row carries)
_RULES = {
    "sum": (lambda c: F.sum(c).cast("long"), 0),
    "min": (F.min, None),
    "max": (F.max, None),
    # funnel slot chains only fill, never move: the most-filled row of a
    # user IS its current chain
    "fill": (lambda c: F.max_by(c, F.size(F.filter(c, lambda x: x.isNotNull()))), None),
}


@dataclass(frozen=True)
class Family:
    """One state family's entry: see the module docstring's table."""

    name: str                                   # used in error messages
    key: tuple[str, ...] = ()                   # () = file rewrite only
    aggs: tuple[tuple[str, str], ...] = ()      # (column, rule in _RULES)
    pins: tuple[str, ...] = ()                  # geometry pinned per row
    shape: bool = False                         # the column set is geometry

    @property
    def columns(self) -> frozenset:
        return frozenset(self.key) | {c for c, _ in self.aggs} | {"batch_id"} | set(self.pins)


VOCAB = Family("vocab", ("word",), (("count", "sum"),))
HIST = Family("quantile", ("bin",), (("count", "sum"),), ("rel_err",))
CMS = Family("cms", ("d", "slot"), (("count", "sum"),), ("depth", "width"))
RESAMPLE = Family(
    "resample", ("key", "bucket"),
    (("n", "sum"), ("msum", "sum"), ("nv", "sum"), ("mn", "min"), ("mx", "max")),
    ("step",))
FUNNEL = Family("funnel", ("__u",), (("__slots", "fill"),))
DISTINCT = Family("distinct", pins=("lgk",))
REPORT = Family("report", shape=True)
CONSTRAINTS = Family("constraints")

FAMILIES = (VOCAB, HIST, CMS, RESAMPLE, FUNNEL, DISTINCT, REPORT, CONSTRAINTS)


def family_of(columns) -> Family | None:
    """The keyed family whose rows have exactly ``columns``, else None."""
    cols = set(columns)
    return next((f for f in FAMILIES if f.key and f.columns == cols), None)


def _check(spark, root, path, fam: Family, pins: dict, columns) -> None:
    """Refuse a fold whose pinned geometry differs from the stored rows':
    the pin values, or for a shape-pinned family the column set. A fresh
    state accepts any geometry. One footer's schema is enough: every
    batch appended through this check shares it."""
    stored = _layout.read_dataset(spark, root)
    if stored is None:
        return
    if fam.shape and set(stored.columns) != set(columns):
        raise ValueError(
            f"{fam.name} state at {path} holds columns {sorted(stored.columns)}, "
            f"fold offered {sorted(columns)} — incompatible: every batch of "
            "one state must share them")
    got = stored.select(*fam.pins).limit(1).collect() if fam.pins else []
    if got and any(not _same(got[0][c], pins[c]) for c in fam.pins):
        have = ", ".join(f"{c}={got[0][c]}" for c in fam.pins)
        offer = ", ".join(f"{c}={pins[c]}" for c in fam.pins)
        raise ValueError(
            f"{fam.name} state at {path} was built with {have}, fold offered "
            f"{offer} — incompatible geometry; fold with the stored values")


def _same(stored, offered) -> bool:
    if isinstance(offered, float):
        return abs(stored - offered) <= 1e-12
    return stored == offered


def fold(spark: SparkSession, path: str, batch_id: str, fam: Family, batch,
         pins: dict | None = None) -> None:
    """Append one batch to a family's state, exactly once per non-empty
    ``batch_id`` (``_layout.fold_once``: lease, replay ledger, resolved
    root). ``batch`` is the batch's partial-aggregate rows, or a
    function of the resolved root that builds them — for a build that
    runs Spark jobs (a replay must run none) or reads the current state.
    The appended rows get ``batch_id`` and the ``pins`` values as
    columns: a column the batch already carries keeps its position,
    a new one goes last, ``batch_id`` first. A pinned family's geometry
    is checked against the stored rows before the append."""
    pins = pins or {}
    with _layout.fold_once(spark, path, batch_id) as root:
        if root is None:
            return
        out = (batch(root) if callable(batch) else batch).withColumns(
            {"batch_id": F.lit(str(batch_id)), **{c: F.lit(v) for c, v in pins.items()}})
        if fam.pins or fam.shape:
            _check(spark, root, path, fam, pins, out.columns)
        out.write.mode("append").parquet(f"{root}/rows")


def rows(spark: SparkSession, path: str, fam: Family, version: int | None = None,
         with_pins: bool = False) -> tuple[DataFrame, dict]:
    """``(rows, pins)`` of a state at its resolved (or pinned) version.
    Lazy unless ``with_pins``: then one ``limit(1)`` read returns the
    pinned geometry as ``{column: value}``. A state never folded — or,
    when pins are read, folded with no rows — raises one
    ``ValueError("<family> state at <path> is empty")``. A shape-pinned
    family reads every footer's columns, so a state whose batches
    disagree on the column set (folded before the fold checked it)
    shows it to the reader."""
    empty = ValueError(f"{fam.name} state at {path} is empty")
    df = _layout.read_dataset(spark, _layout.resolve(spark, path, version), merge_schema=fam.shape)
    if df is None:
        raise empty
    if not with_pins:
        return df, {}
    got = df.select(*fam.pins).limit(1).collect()
    if not got:
        raise empty
    return df, got[0].asDict()


def merge(df: DataFrame, fam: Family, compact: bool = False) -> DataFrame:
    """The merged state of a keyed family: one row per key, each
    aggregate column merged by its rule (sums as long), null-key ledger
    rows dropped. ``compact=True`` keeps the rows' schema instead (names,
    types, order) for compaction to write back: the merged rows carry
    ``batch_id = "compacted"`` and the pin values, plus one ledger row
    per original batch id (null key, the rule's ledger value, the pins)."""
    data = df.filter(reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in fam.key]))
    keep = fam.pins if compact else ()
    merged = data.groupBy(*fam.key, *keep).agg(
        *[_RULES[rule][0](c).alias(c) for c, rule in fam.aggs])
    if not compact:
        return merged
    schema = df.schema
    ledger = (
        df.filter((F.col("batch_id") != "") & (F.col("batch_id") != "compacted"))
        .select("batch_id", *fam.pins)
        .distinct()
        .select(
            "batch_id", *fam.pins,
            *[F.lit(None).cast(schema[k].dataType).alias(k) for k in fam.key],
            *[F.lit(_RULES[rule][1]).cast(schema[c].dataType).alias(c) for c, rule in fam.aggs],
        )
    )
    return (
        merged.withColumn("batch_id", F.lit("compacted"))
        .unionByName(ledger)
        .select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
    )


def init_meta(spark: SparkSession, path: str, row: tuple, schema: str) -> None:
    """Commit a meta-only version of a meta-pinned state: ``row`` as the
    1-row ``meta``, no data datasets (they materialize on the first
    fold). The new version holds no rows, so the replay ledger is
    dropped first: ids folded into an earlier definition fold again."""
    with _layout.build(spark, path) as vdir:
        _layout.write_meta(spark, vdir, row, schema)
        _layout.drop_ledger(spark, path)
