"""Event analytics — beyond-reference extensions (SURVEY §2.12 family):
the reference engine has no cross-row event analytics at all; together
with sessionization (streaming/sessions.py) this module is the
product-analytics suite an events pipeline needs: ordered funnels,
cohort retention, Markov transitions, top user journeys.

Funnel and retention are pure DataFrame compositions with NO window
functions — they only need per-user MIN timestamps, which hash
aggregation gives without sorting. Transitions and paths DO use a
per-user sequential window (lead / row_number) because within-user
ordering is inherent to their semantics — the same legitimate window
use as sessionize: partitioned by user (never a rank window over the
whole corpus), skew bounded by the hottest user's event count.

Scale shapes (100 TB):

- ``funnel_steps``: k-1 joins, every one keyed on the user column, so
  after the first step's hash aggregate the remaining stages reuse the
  same partitioning (ensureRequirements inserts no new exchange on the
  already-partitioned side); each stage's probe side is pre-filtered to
  ONE event type before the shuffle. State per user is a handful of
  timestamps — nothing event-sized survives past its stage.
- ``retention_cohorts``: one distinct on (user, period-bucket) — the
  only data-sized shuffle — then co-partitioned first-bucket join and a
  hash aggregate over (cohort, offset); the per-cohort size join-back is
  a broadcast (rows = number of cohorts, bounded by calendar range /
  period, never by data volume).
- ``event_transitions``: one window pass emits (from,to) pairs straight
  into a hash aggregate; the |types|²-bounded result is checkpointed and
  the normalizer joins back broadcast.
- ``event_paths_topk``: the window TRIMS each user to max_len rows
  before any aggregation (bounded per-user state), then path building,
  counting, and a distributed TakeOrdered top-k.

Determinism contract (COVERAGE.md): period buckets are pure integer
day arithmetic from a fixed origin (no engine week conventions);
ratios are integer/integer double divisions — IEEE-identical across
engines — rounded once to 6dp; orderings take an explicit ``tie_col``
so equal timestamps never depend on storage order.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, _state
from wrangler_spark.datapipe._local import local_table
from wrangler_spark.datapipe._moments import (
    DEC, mean, micro, moments, pop_var, product, sample_cov, sample_var,
    spread,
)

from wrangler_spark.datapipe._checkpoint import (
    eager_checkpoint,
    eager_checkpoint_observed,
)


def _umicros(c):
    """unix_micros tolerant of TIMESTAMP_NTZ columns (common straight
    off parquet): unix_micros rejects NTZ with a type error while every
    other time function coerces — the cast is a no-op for TIMESTAMP and
    interprets NTZ in the session zone (UTC per get_spark), exactly
    what unix_timestamp already does for the bucket arithmetic."""
    return F.unix_micros(c.cast("timestamp"))


def _funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within_minutes: float | None,
    anchor: str,
) -> list[DataFrame]:
    """The funnel's stage chain: stage i = one row per user (anchor=
    'first') or per (user, anchor) ('any') that reached step i, with
    __prev = that chain's step-i completion time and __anchor = its
    step-1 time. Shared by funnel_steps (counts) and funnel_latencies
    (step-to-step timing)."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    if anchor not in ("first", "any"):
        raise ValueError("anchor must be 'first' or 'any'")
    u, t = F.col(user_col), F.col(ts_col)
    ev = df.filter(F.col(type_col).isin(list(steps)) & u.isNotNull() & t.isNotNull()).select(
        u.alias("__u"), t.alias("__t"), F.col(type_col).alias("__e")
    )

    # stage 1 partitions everything downstream on __u: anchor='first'
    # collapses to the earliest step-1 event per user (one hash agg);
    # anchor='any' keeps every step-1 event as its own chain anchor
    s1 = ev.filter(F.col("__e") == steps[0])
    if anchor == "first":
        reached = s1.groupBy("__u").agg(F.min("__t").alias("__prev"))
        reached = reached.withColumn("__anchor", F.col("__prev"))
        stage_keys = ["__u"]
    else:
        reached = s1.select("__u", F.col("__t").alias("__prev")).distinct() \
            .withColumn("__anchor", F.col("__prev"))
        stage_keys = ["__u", "__anchor"]
    stages = [reached]
    for st in steps[1:]:
        nxt = (
            ev.filter(F.col("__e") == st)
            .join(stages[-1].select("__u", "__prev", "__anchor"), "__u")
            .filter(F.col("__t") > F.col("__prev"))
        )
        if within_minutes is not None:
            bound = F.col("__anchor") + F.expr(
                f"INTERVAL {int(within_minutes * 60)} SECONDS"
            )
            nxt = nxt.filter(F.col("__t") <= bound)
        aggs = [F.min("__t").alias("__prev")]
        if anchor == "first":
            # anchor is constant per user; under 'any' it IS a group key
            aggs.append(F.min("__anchor").alias("__anchor"))
        stages.append(nxt.groupBy(*stage_keys).agg(*aggs))
    return stages


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within_minutes: float | None = None,
    anchor: str = "first",
) -> DataFrame:
    """Ordered event funnel: one row per step with how many users reached
    it and the conversion ratio from step 1.

    A user reaches step i when events of types ``steps[0..i-1]`` exist at
    strictly increasing timestamps. ``anchor`` picks the counting method
    for a ``within_minutes``-bounded funnel (with no bound the two are
    provably identical — the greedy chain exists iff any chain does):

    - ``"first"`` (default): greedy earliest-anchor — t1 = the user's
      earliest step-1 event, t_i = earliest step-i event after t_{i-1},
      every step bounded to t1 + within. A chain that only completes
      from a LATER step-1 event is not counted (the common funnel-tool
      convention; one hash-aggregate per step).
    - ``"any"``: exact — a user counts at step i if ANY step-1 anchor
      starts a chain reaching step i inside its own window. Stage state
      is keyed (user, anchor): per-user rows are bounded by the user's
      step-1 event count, so the plan is the same co-partitioned join
      chain with an anchor-grained aggregate, not a pair explosion.

    Returns (step, event_type, users, conversion) sorted by step;
    conversion = users_i / users_1 rounded to 6dp (1.0 for step 1;
    all-zero rows when no user has a step-1 event).
    """
    stages = _funnel_stages(
        df, user_col, ts_col, type_col, steps, within_minutes, anchor
    )

    # one count row per stage (users, not chains: anchor='any' counts a
    # user once however many anchors complete); union is k tiny
    # aggregates in one job
    count_expr = (
        (lambda: F.count("*")) if anchor == "first"
        else (lambda: F.countDistinct("__u"))
    )
    counts = [
        s.agg(count_expr().alias("users")).select(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(steps[i]).alias("event_type"),
            F.col("users").cast("long").alias("users"),
        )
        for i, s in enumerate(stages)
    ]
    summary = reduce(DataFrame.unionByName, counts)
    # the step-1 count is consumed twice (its own row + every row's
    # conversion denominator) and the branch is ALL shuffle/aggregate, so
    # without a cut Catalyst pushes `step == 1` into the union children
    # (different subplans → no ReusedExchange) and re-executes the entire
    # stage chain — checkpoint the k-row summary once (the repo's
    # shuffle-in-shared-branch rule), then both consumers read k rows
    summary = eager_checkpoint(summary)
    first = summary.filter(F.col("step") == 1).select(
        F.col("users").alias("__n1")
    )
    return (
        summary.crossJoin(F.broadcast(first))
        .select(
            "step",
            "event_type",
            "users",
            F.when(F.col("__n1") > 0, F.round(F.col("users") / F.col("__n1"), 6))
            .otherwise(F.lit(0.0))
            .alias("conversion"),
        )
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
    max_periods: int = 8,
    calendar: str | None = None,
) -> DataFrame:
    """Cohort retention: users bucketed by the period of their first
    activity; one row per (cohort, period offset) with how many of that
    cohort were active ``offset`` periods later.

    Period buckets are ``floor(days_since_1970 / period_days)`` — pure
    integer day arithmetic from the Unix epoch, NOT calendar weeks/
    months, so the bucketing is engine-convention-free (DuckDB's
    date_trunc('week') is ISO-Monday, Spark's weekofyear differs — this
    contract sidesteps both); ``calendar='month'`` switches to true
    calendar-month cohorts (month boundaries ARE convention-free, so the
    epoch-arithmetic rationale doesn't apply and offsets count months).
    ``cohort_start`` is the bucket's first day as a date.

    Returns (cohort_start, period_offset, active_users, retention)
    where retention = active_users / cohort size (offset-0 users),
    rounded to 6dp; offset 0 is 1.0 by construction. Offsets >=
    ``max_periods`` are dropped.
    """
    if period_days < 1:
        raise ValueError("period_days must be >= 1")
    # (user, bucket) distinct — the only event-volume shuffle; shared
    # with the persisted-state lifecycle (retention_write_state)
    b = _activity_pairs(df, user_col, ts_col, period_days, calendar)
    # first bucket per user: distinct partitioned on (__u,__b), so this is
    # one more bounded shuffle on __u — after which the activity join is
    # co-partitioned
    first = b.groupBy("__u").agg(F.min("__b").alias("__cb"))
    act = (
        b.join(first, "__u")
        .select("__cb", (F.col("__b") - F.col("__cb")).alias("period_offset"))
        .filter(F.col("period_offset") < max_periods)
        .groupBy("__cb", "period_offset")
        .agg(F.count("*").alias("active_users"))  # (user,bucket) distinct → count(*)
    )
    # the aggregate feeds two consumers (rows + per-cohort denominator)
    # and its branch holds the event-volume distinct — checkpoint the
    # cohort×offset-row result so the big shuffle executes exactly once
    act = eager_checkpoint(act)
    sizes = act.filter(F.col("period_offset") == 0).select(
        F.col("__cb").alias("__cb2"), F.col("active_users").alias("__size")
    )
    return (
        act.join(F.broadcast(sizes), act["__cb"] == sizes["__cb2"])
        .select(
            _cohort_start(period_days, calendar).alias("cohort_start"),
            F.col("period_offset").cast("long").alias("period_offset"),
            F.col("active_users").cast("long").alias("active_users"),
            F.round(F.col("active_users") / F.col("__size"), 6).alias("retention"),
        )
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    one row per observed (from_type, to_type) consecutive pair with its
    count and row-normalized probability.

    Ordering within a user is (ts, tie_col) — pass the event-id column as
    ``tie_col`` whenever timestamps can collide, or the pairing at equal
    timestamps is storage-order-dependent. Uses a per-user sequential
    window (lead) — the legitimate window use, like sessionize: ordering
    is inherent to the semantics, the partition key is the user (skew
    bounded by the hottest user's event count, same as any sessionizer),
    and no rank/top-k window ever sees the whole corpus.

    prob = n / (total transitions out of from_type), integer/integer
    rounded once to 6dp; the per-from totals frame is type-cardinality
    sized and broadcast back.
    """
    from pyspark.sql import Window

    u, t = F.col(user_col), F.col(ts_col)
    order_cols = [ts_col] + ([tie_col] if tie_col else [])
    w = Window.partitionBy("__u").orderBy(*order_cols)
    pairs = (
        df.filter(u.isNotNull() & t.isNotNull())
        .select(u.alias("__u"), *order_cols, F.col(type_col).alias("__from"))
        .withColumn("__to", F.lead("__from").over(w))
        .filter(F.col("__to").isNotNull())
        .groupBy("__from", "__to")
        .agg(F.count("*").alias("n"))
    )
    # transition-count rows are |types|^2-bounded — checkpoint once so the
    # per-from normalizer doesn't re-run the event-volume window+aggregate
    pairs = eager_checkpoint(pairs)
    totals = pairs.groupBy("__from").agg(F.sum("n").alias("__tot")).select(
        F.col("__from").alias("__from2"), "__tot"
    )
    return (
        pairs.join(F.broadcast(totals), pairs["__from"] == totals["__from2"])
        .select(
            F.col("__from").alias("from_type"),
            F.col("__to").alias("to_type"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__tot"), 6).alias("prob"),
        )
    )


def event_paths_topk(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    k: int = 10,
    max_len: int = 5,
    tie_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Top-k most common user journeys: each user's first ``max_len``
    event types (ordered by ts, then ``tie_col``) joined with ``sep``,
    counted across users, top k by (count desc, path asc — the
    deterministic tie-break).

    Shape: a per-user sequential window trims each user to max_len rows
    FIRST (state per user bounded by max_len from that point on — the
    collect_list can never see an unbounded hot user), then one hash
    aggregate builds the path, one counts it, and the top-k is a
    distributed TakeOrdered (two-phase, no global sort, no rank window
    over the corpus).
    """
    from pyspark.sql import Window

    u, t = F.col(user_col), F.col(ts_col)
    order_cols = [ts_col] + ([tie_col] if tie_col else [])
    w = Window.partitionBy("__u").orderBy(*order_cols)
    trimmed = (
        df.filter(u.isNotNull() & t.isNotNull())
        .select(u.alias("__u"), *order_cols, F.col(type_col).alias("__e"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_len)
    )
    paths = (
        trimmed.groupBy("__u")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__rn").alias("r"), F.col("__e").alias("e")))
                    ),
                    lambda s: s["e"],
                ),
                sep,
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
    )
    return (
        paths.orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(k)
        .select("path", F.col("n_users").cast("long").alias("n_users"))
    )


# exact active_users explodes each (user, day) pair to sum(windows)
# contribution rows; past this budget the op demands an explicit choice
# (approx=True sketches, or narrower windows) instead of silently
# shuffling a 455x-exploded pair table for a (90, 365) dashboard
MAX_EXACT_WINDOW_SUM = 64


def active_users(
    df: DataFrame, user_col: str, ts_col: str, windows: tuple[int, ...] = (1, 7, 30),
    approx: bool = False, stickiness: bool = False,
) -> DataFrame:
    """Rolling active-user counts — DAU/WAU/MAU and friends: one row per
    calendar day from the first to the last event day (dense grid, zeros
    included), with ``au_{w}d`` = distinct users active in the w-day
    window ENDING that day, for each ``windows`` entry. The engagement
    dashboard primitive next to retention_cohorts (which buckets by
    cohort; this slides by day) — stickiness is au_1d/au_7d downstream.

    Scale shape: events collapse to distinct (user, day) pairs first
    (ONE hash aggregate — the same sufficient statistic the retention
    family uses; everything after is bounded by users x active-days,
    orders of magnitude below event volume). Each pair then explodes to
    the sum(windows) target days it contributes to (a scan-side
    sequence, clipped at the grid edge), one hash aggregate counts
    distinct users per (day, window), a compile-time pivot lands the
    window columns, and the dense day grid (one broadcast 1-row bounds
    frame, exploded) left-joins the counts back. No windows over users,
    no per-day self-joins; the explode factor is the window sum — the
    price every sliding-distinct implementation pays somewhere, paid
    here on the COLLAPSED pair table, not the event log.

    WIDE windows: sum(windows) > MAX_EXACT_WINDOW_SUM (64) is rejected
    unless ``approx=True`` — a (90, 365) dashboard would explode the
    pair table 455x. The approx path sketches instead: ONE per-day HLL
    sketch aggregate over the pairs (no pair explode at all), the
    sum(windows) contribution explode is paid on the DAYS x sketch-bytes
    table (a few thousand rows regardless of corpus size), per-(day,
    window) sketches union-merge, and counts are HLL estimates
    (DataSketches ~2% at the default lgK; exact in sparse mode for
    small cohorts) — the standard engagement-dashboard trade, and the
    same sketch family corpus_report already uses.

    ``stickiness=True`` appends the classic engagement ratio — the
    narrowest window's count over the widest's (DAU/MAU for the default
    windows), NULL on days with a zero wide count — a free scan-side
    column on the finished grid."""
    ws = sorted(set(int(w) for w in windows))
    if not ws or ws[0] < 1:
        raise ValueError(f"windows must be >= 1 days, got {windows}")
    _check_window_budget(ws, approx)
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
    pairs = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("__u"), day.cast("long").alias("__d"))
        .distinct()
    )
    out = _active_users_from_pairs(pairs, ws, approx)
    if stickiness and len(ws) > 1:
        out = out.withColumn(
            "stickiness",
            F.when(
                F.col(f"au_{ws[-1]}d") > 0,
                F.round(
                    F.col(f"au_{ws[0]}d").cast("double")
                    / F.col(f"au_{ws[-1]}d").cast("double"),
                    6,
                ),
            ),
        )
    return out


def _check_window_budget(ws: list[int], approx: bool) -> None:
    if not approx and sum(ws) > MAX_EXACT_WINDOW_SUM:
        raise ValueError(
            f"sum(windows) = {sum(ws)} exceeds the exact-path explode budget "
            f"({MAX_EXACT_WINDOW_SUM}): every (user, day) pair is replicated "
            "sum(windows) times. Pass approx=True (per-day HLL sketches — no "
            "pair explode) or narrow the windows"
        )


def active_users_from_state(
    spark, path: str, windows: tuple[int, ...] = (1, 7, 30),
    approx: bool = False,
) -> DataFrame:
    """:func:`active_users` from PERSISTED retention state — the state a
    daily-bucketed ``retention_write_state(period_days=1)`` /
    ``retention_update_state`` lifecycle already maintains holds exactly
    this op's sufficient statistic (distinct (user, day) pairs), so the
    engagement dashboard reads users x active-days rows, never the
    event log. Requires a day-granularity state (period_days=1, no
    month calendar) — anything coarser can't answer a daily window, so
    it raises rather than silently returning week-grained counts."""
    root = _layout.resolve(spark, path)
    period_days, cal = _read_state_meta(spark, root)
    if period_days != 1 or cal is not None:
        raise ValueError(
            f"active_users_from_state needs a period_days=1 day-bucketed state, "
            f"got (period_days={period_days}, calendar={cal!r})"
        )
    ws = sorted(set(int(w) for w in windows))
    if not ws or ws[0] < 1:
        raise ValueError(f"windows must be >= 1 days, got {windows}")
    _check_window_budget(ws, approx)

    from wrangler_spark.datapipe.maintenance import read_forgetting

    pairs = read_forgetting(spark, root, "pairs", "__u").select(
        "__u", F.col("__b").alias("__d")
    )
    return _active_users_from_pairs(pairs, ws, approx)


def _active_users_from_pairs(
    pairs: DataFrame, ws: list[int], approx: bool = False,
) -> DataFrame:
    """The shared tail: (user, day) pairs -> dense-grid au_{w}d counts.

    The pair frame contains a shuffle (the distinct) and feeds TWO
    consumers (the bounds aggregate and the contribution explode), and
    bounds itself feeds two more (the clip and the grid) — the repo's
    shared-shuffle-branch rule applies twice, so both are eagerly
    checkpointed (pairs at users x active-days rows, bounds at ONE row;
    released by the caller's checkpoint_scope). Without this the event
    scan + distinct execute twice per call."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint

    if not pairs.isStreaming:
        pairs = eager_checkpoint(pairs)
    bounds = pairs.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    if not pairs.isStreaming:
        bounds = eager_checkpoint(bounds)
    # (user, day) contributes to target days d..d+w-1 for each window w —
    # tag contributions with w and count distinct users per (target, w).
    # closure-maker, not a default-arg lambda: HOF arity is inspected, so
    # `lambda t, w=w` would read as the 2-arg (element, index) form
    def _tag(w: int):
        return lambda t: F.struct(F.lit(w).alias("w"), t.alias("t"))

    def _contrib(src: DataFrame, carry: str) -> DataFrame:
        return src.crossJoin(F.broadcast(bounds)).select(
            carry,
            F.explode(
                F.flatten(
                    F.array(
                        *[
                            F.transform(
                                F.sequence(
                                    F.col("__d"),
                                    F.least(F.col("__d") + (w - 1), F.col("__hi")),
                                ),
                                _tag(w),
                            )
                            for w in ws
                        ]
                    )
                )
            ).alias("c"),
        )

    if approx:
        # wide-window path: sketch each day ONCE (no pair explode), then
        # replicate the tiny days x sketch table to its target windows
        # and union-merge — counts are HLL estimates
        daily = pairs.groupBy("__d").agg(F.hll_sketch_agg("__u").alias("__sk"))
        counts = (
            _contrib(daily, "__sk")
            .groupBy(F.col("c.t").alias("__t"), F.col("c.w").alias("__w"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).cast("long").alias("__au"))
        )
    else:
        counts = (
            _contrib(pairs, "__u")
            .groupBy(F.col("c.t").alias("__t"), F.col("c.w").alias("__w"))
            .agg(F.countDistinct("__u").alias("__au"))
        )
    pivoted = counts.groupBy("__t").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("__w") == w, F.col("__au"))), F.lit(0)
            ).cast("long").alias(f"au_{w}d")
            for w in ws
        ]
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__t")
    )
    out = grid.join(pivoted, "__t", "left")
    return out.select(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("__t").cast("int")).alias("day"),
        *[F.coalesce(F.col(f"au_{w}d"), F.lit(0)).cast("long").alias(f"au_{w}d") for w in ws],
    )


def _activity_pairs(
    df: DataFrame, user_col: str, ts_col: str, period_days: int,
    calendar: str | None = None,
) -> DataFrame:
    """Distinct (user, period-bucket) pairs — the retention grid's
    sufficient statistic (shared by retention_cohorts and the persisted
    state lifecycle). ``calendar='month'`` switches the bucket to the
    calendar-month index (12*(year-1970) + month-1) — month boundaries
    are convention-free across engines, unlike ISO weeks."""
    u = F.col(user_col)
    if calendar == "month":
        bucket = (
            (F.year(F.col(ts_col)) - 1970) * 12 + F.month(F.col(ts_col)) - 1
        ).cast("long")
    elif calendar is None:
        bucket = F.floor(
            F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
            / period_days
        )
    else:
        raise ValueError("calendar must be None or 'month'")
    return (
        df.filter(u.isNotNull() & F.col(ts_col).isNotNull())
        .select(u.alias("__u"), bucket.alias("__b"))
        .distinct()
    )


def _cohort_start(period_days: int, calendar: str | None):
    """Bucket index → the bucket's first day, as a Column over __cb."""
    if calendar == "month":
        # floor + pmod (NOT truncating / and %): a pre-1970 month index
        # is negative, and truncation would pick the wrong year while a
        # signed remainder yields month 0 (NULL/error from make_date)
        return F.make_date(
            F.lit(1970) + F.floor(F.col("__cb") / 12).cast("int"),
            (F.pmod(F.col("__cb"), F.lit(12)) + 1).cast("int"),
            F.lit(1),
        )
    return F.date_add(
        F.lit("1970-01-01").cast("date"), (F.col("__cb") * period_days).cast("int")
    )


def retention_write_state(
    df: DataFrame, path: str, user_col: str, ts_col: str, period_days: int = 7,
    calendar: str | None = None,
) -> None:
    """Materialize retention state ONCE so later event batches never
    rescan history: ``<path>/pairs`` holds the distinct (user,
    period-bucket) activity pairs — users x active-periods rows, orders
    of magnitude below event volume — partitioned by bucket (grid reads
    over a window of periods prune directories), plus a 1-row
    ``<path>/meta`` pinning period_days and the calendar mode (an update
    with a different bucketing would silently corrupt the state). Same
    materialize-once discipline as bloom_write_index /
    minhash_write_index / ivf_write_index, and the same versioned
    snapshot build (``_layout``): a rebuild with different bucketing
    becomes visible only at its commit marker, never as new meta over
    old pairs."""
    spark = df.sparkSession
    with _layout.build(spark, path) as vdir:
        (
            _activity_pairs(df, user_col, ts_col, period_days, calendar)
            .write.partitionBy("__b").parquet(f"{vdir}/pairs")
        )
        _layout.write_meta(spark, vdir, (int(period_days), calendar or "", 2),
                           "period_days int, calendar string, state_version int")


def retention_update_state(
    batch: DataFrame, path: str, user_col: str, ts_col: str,
) -> None:
    """Fold an event batch into persisted retention state: the batch's
    distinct pairs anti-join the stored pairs (per-batch shuffle is
    O(batch); the store side is read, never rewritten) and only the NEW
    pairs append — dynamic partition append touches only the buckets the
    batch is active in, which for a daily ingest is one or two
    directories regardless of history size. The anti-join result is
    eagerly checkpointed (and released on exit) before the write so the
    append never reads the directory it is writing. The whole fold
    (anti-join read + append) is one ``_layout.append``, so it can never
    interleave with a compaction of the same state."""
    spark = batch.sparkSession
    with _layout.append(spark, path) as root:
        period_days, cal = _read_state_meta(spark, root)
        fresh = _activity_pairs(batch, user_col, ts_col, period_days, cal)
        # a meta-only state (retention_init_state / first stream batch)
        # has no pairs dataset yet — everything in the batch is fresh
        stored = _layout.read_dataset(spark, root, "pairs")
        if stored is not None:
            fresh = fresh.join(stored.select("__u", "__b"), ["__u", "__b"], "left_anti")
        eager_checkpoint(fresh).write.mode("append").partitionBy("__b").parquet(f"{root}/pairs")


def retention_init_state(
    spark, path: str, period_days: int = 7, calendar: str | None = None,
) -> None:
    """Create an EMPTY retention state — a committed meta-only version
    pinning (period_days, calendar) — so a stream sink can fold
    micro-batches from nothing without knowing the user column's type
    up front (the pairs dataset materializes on the first append)."""
    _state.init_meta(spark, path, (int(period_days), calendar or "", 2),
                     "period_days int, calendar string, state_version int")


def retention_update_stream(
    stream: DataFrame, path: str, user_col: str, ts_col: str,
    checkpoint: str, period_days: int = 7, calendar: str | None = None,
    trigger: dict | None = None,
):
    """Fold a STREAM of events into persisted retention state — the
    stream edge that closes the events family's batch/stream/state
    triangle (batch: retention_cohorts; state: retention_write_state /
    retention_update_state / retention_grid_from_state /
    active_users_from_state; stream: THIS). Returns the started
    StreamingQuery; default trigger is availableNow (drain-and-stop —
    pass e.g. ``trigger={"processingTime": "1 minute"}`` for a
    long-running fold).

    Each micro-batch runs :func:`retention_update_state`: distinct
    (user, bucket) pairs anti-join the stored pairs and only NEW pairs
    append — O(batch) work per micro-batch, never a history rescan, and
    dynamic partition append touches only the buckets the batch is
    active in. A fresh ``path`` is initialized with a committed
    meta-only version pinning (period_days, calendar); an existing
    state keeps ITS pinned bucketing (the arguments are ignored, same
    contract as retention_update_state).

    Delivery contract: Structured Streaming's checkpoint gives
    at-least-once foreachBatch execution; the fold is IDEMPOTENT at the
    pair level (a replayed batch's already-appended pairs anti-join
    away, so nothing duplicates) — together: exactly-once state, the
    same argument the Bloom append path makes. Grid reads
    (retention_grid_from_state / active_users_from_state) may run
    concurrently — they read a committed snapshot root; only
    compact_index/vacuum must not race the running sink (single-writer
    contract)."""
    spark = stream.sparkSession
    if not _layout.has_meta(spark, _layout.resolve(spark, path)):
        retention_init_state(spark, path, period_days, calendar)
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: retention_update_state(b, path, user_col, ts_col))


def retention_grid_from_state(
    spark, path: str, max_periods: int = 8, version: int | None = None,
) -> DataFrame:
    """The retention grid from persisted state — identical output
    contract to :func:`retention_cohorts` on the full event history, but
    the input is the pairs table (users x periods), so the nightly grid
    refresh costs minutes of small-table aggregation, never a 100 TB
    event rescan.

    ``version`` pins the read to an older committed snapshot ("what did
    the dashboard say last week"). Appends land in the CURRENT version,
    so a pinned ``v_N`` reads the state as of the creation of
    ``v_{N+1}`` — compaction cadence IS the snapshot cadence (nightly
    compaction ⇒ ``latest - 1`` is last night's grid). NOTE: a pinned
    pre-forget snapshot also predates that version's tombstones — run
    ``vacuum_index`` after a forget if old snapshots must stop serving
    the forgotten ids."""
    from wrangler_spark.datapipe.maintenance import read_forgetting

    root = _layout.resolve(spark, path, version)
    period_days, cal = _read_state_meta(spark, root)
    b = read_forgetting(spark, root, "pairs", "__u").select("__u", "__b")
    first = b.groupBy("__u").agg(F.min("__b").alias("__cb"))
    act = (
        b.join(first, "__u")
        .select("__cb", (F.col("__b") - F.col("__cb")).alias("period_offset"))
        .filter(F.col("period_offset") < max_periods)
        .groupBy("__cb", "period_offset")
        .agg(F.count("*").alias("active_users"))
    )
    act = eager_checkpoint(act)
    sizes = act.filter(F.col("period_offset") == 0).select(
        F.col("__cb").alias("__cb2"), F.col("active_users").alias("__size")
    )
    return (
        act.join(F.broadcast(sizes), act["__cb"] == sizes["__cb2"])
        .select(
            _cohort_start(period_days, cal).alias("cohort_start"),
            F.col("period_offset").cast("long").alias("period_offset"),
            F.col("active_users").cast("long").alias("active_users"),
            F.round(F.col("active_users") / F.col("__size"), 6).alias("retention"),
        )
    )


def funnel_latencies(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within_minutes: float | None = None,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Step-to-step conversion timing for the greedy (anchor='first')
    funnel: one row per step i >= 2 with how many users converted and
    the average / median seconds from their step-(i-1) completion to
    step i.

    Reuses the funnel's stage chain (stage frames are one row per user),
    so the timing join of stage i against stage i-1 is co-partitioned on
    the user key. ``exact=False`` swaps the exact median for
    percentile_approx — numeric.py's knob: exact percentiles buffer
    every latency in one aggregation buffer, the approx sketch is the
    100 TB path.
    """
    stages = _funnel_stages(
        df, user_col, ts_col, type_col, steps, within_minutes, "first"
    )
    med = (
        F.expr("percentile(__lat, 0.5)") if exact
        else F.expr(f"percentile_approx(__lat, 0.5, {int(accuracy)})")
    )
    rows = []
    for i in range(1, len(stages)):
        lat = (
            stages[i].select("__u", F.col("__prev").alias("__ti"))
            .join(stages[i - 1].select("__u", F.col("__prev").alias("__tp")), "__u")
            .select(
                (_umicros(F.col("__ti")) - _umicros(F.col("__tp")))
                .cast("double").alias("__lat")
            )
            .select((F.col("__lat") / 1e6).alias("__lat"))
        )
        rows.append(
            lat.agg(
                F.count("*").alias("users"),
                F.round(F.avg("__lat"), 6).alias("avg_sec"),
                F.round(med, 6).alias("p50_sec"),
            ).select(
                F.lit(i + 1).cast("long").alias("step"),
                F.lit(steps[i]).alias("event_type"),
                F.col("users").cast("long").alias("users"),
                "avg_sec",
                "p50_sec",
            )
        )
    return reduce(DataFrame.unionByName, rows)


def _read_state_meta(spark, root: str) -> tuple[int, str | None]:
    """(period_days, calendar) from a resolved state root's meta; v1
    states (written before the calendar field) read as day-based."""
    row = _layout.read_meta(spark, root)
    cal = row["calendar"] if "calendar" in row.__fields__ else ""
    return int(row["period_days"]), (cal or None)


# ---------------------------------------------------------------------------
# Funnel persisted state — the retention-state posture applied to the
# greedy (anchor='first') funnel, so a funnel dashboard stops rescanning
# event history. Per-user state is the funnel chain itself: k epoch-micro
# SLOTS (t1..tk, NULL = step not reached) — the exact sufficient
# statistic streaming/funnels.py keeps per key, persisted. Slots only
# FILL (never move), so state rows are monotone and log-structured
# appends merge by "most-filled row wins".
# ---------------------------------------------------------------------------


def funnel_init_state(
    spark, path: str, steps: list[str], within_minutes: float | None = None,
) -> None:
    """Create an EMPTY funnel state — a committed meta-only version
    pinning (steps, within_minutes, anchor='first'); the slots dataset
    materializes on the first fold. An update against an existing state
    keeps ITS pinned definition (a fold with different steps would
    silently corrupt the chains — the retention meta contract)."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    _state.init_meta(
        spark, path,
        (list(map(str, steps)),
         float(within_minutes) if within_minutes is not None else None, 1),
        "steps array<string>, within_minutes double, state_version int")


def _read_funnel_meta(spark, root: str) -> tuple[list[str], float | None]:
    row = _layout.read_meta(spark, root)
    w = row["within_minutes"]
    return list(row["steps"]), (float(w) if w is not None else None)


def _funnel_slots_current(spark, root: str) -> DataFrame | None:
    """Latest chain per user from the log-structured slot rows: fills
    are monotone, so the row with the most non-null slots IS the
    current state (appends happen only when the fill count grows —
    lease-serialized, so ties across rows of one user cannot occur).
    Null-user rows are compaction's batch-id ledger, not data. None
    when no fold has appended yet. Tombstoned users (forget_ids) are
    anti-joined out."""
    from pyspark.errors import AnalysisException

    from wrangler_spark.datapipe.maintenance import read_forgetting

    try:
        rows = read_forgetting(spark, root, "rows", "__u")
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        return None
    return _state.merge(rows, _state.FUNNEL)


def _funnel_fold(steps: list[str], within_minutes: float | None):
    """The slot-fill merge for F.aggregate — the EXACT per-event rule
    streaming/funnels.py applies in pandas state, expressed scan-side:
    an event fills the FIRST unset slot j (0-based; fills are
    prefix-contiguous, so j = the count of set slots) iff its type is
    steps[j], its ts is strictly after slot j-1, and — when a window is
    pinned — ts <= t1 + within. Events that fit no slot leave the chain
    unchanged, so folding in event-time order reproduces the batch
    greedy funnel exactly (the funnel_stream equivalence argument)."""
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    w_us = int(within_minutes * 60 * 1_000_000) if within_minutes is not None else None

    def merge(acc, ev):
        j = F.size(F.filter(acc, lambda x: x.isNotNull()))
        fits = (j < F.lit(k)) & (ev["__e"] == F.element_at(steps_arr, j + 1))
        # j==0 short-circuits via OR-with-null semantics: true OR null = true,
        # and F.get is 0-indexed + out-of-bounds-null (never an ANSI error)
        fits = fits & ((j == F.lit(0)) | (ev["__t"] > F.get(acc, j - 1)))
        if w_us is not None:
            fits = fits & ((j == F.lit(0)) | (ev["__t"] <= F.get(acc, 0) + F.lit(w_us)))
        return F.when(
            fits, F.transform(acc, lambda x, i: F.when(i == j, ev["__t"]).otherwise(x))
        ).otherwise(acc)

    return merge


def funnel_update_state(
    batch: DataFrame, path: str, user_col: str, ts_col: str, type_col: str,
    batch_id: str = "",
) -> None:
    """Fold one event batch into persisted funnel state: the batch's
    funnel-type events, sorted per user, fold into each user's slot
    chain (one hash aggregate + one equi-join against the current
    state + the scan-side slot fold — O(batch) work, never a history
    rescan), and only CHANGED chains append. Exact for event-time-
    ordered ingestion (each batch later than the last — the daily-fold
    shape; within a batch order doesn't matter, the fold sorts): slots
    never move once set, so a LATE cross-batch event that belonged
    before a filled slot is ignored rather than re-chained — the same
    in-order discipline funnel_stream and sessionize_stream document.

    Idempotence: a non-empty ``batch_id`` already folded makes the
    fold a NO-OP (the vocab_update_state contract: the ``_layout``
    replay ledger, which runs no Spark job on a replay), so stream
    replays never double-fold. Check + append hold the ``_layout``
    writer lease."""
    spark = batch.sparkSession

    def changed_chains(root):
        steps, within = _read_funnel_meta(spark, root)
        k = len(steps)
        u, t = F.col(user_col), F.col(ts_col)
        per_user = (
            batch.filter(F.col(type_col).isin(steps) & u.isNotNull() & t.isNotNull())
            .select(
                u.alias("__u"),
                # explicit cast: parquet TIMESTAMP_NTZ needs it under ANSI
                # (UTC session, so the instant labeling is unchanged)
                F.unix_micros(t.cast("timestamp")).alias("__t"),
                F.col(type_col).alias("__e"),
            )
            .groupBy("__u")
            .agg(F.array_sort(F.collect_list(F.struct("__t", "__e"))).alias("__evs"))
        )
        cur = _funnel_slots_current(spark, root)
        if cur is not None:
            per_user = per_user.join(cur, "__u", "left")
        else:
            per_user = per_user.withColumn(
                "__slots", F.lit(None).cast("array<long>")
            )
        empty = F.array(*[F.lit(None).cast("long") for _ in range(k)])
        init = F.coalesce(F.col("__slots"), empty)
        folded = per_user.select(
            "__u",
            init.alias("__init"),
            F.aggregate("__evs", init, _funnel_fold(steps, within)).alias("__slots"),
        )
        filled = lambda c: F.size(F.filter(c, lambda x: x.isNotNull()))  # noqa: E731
        return (
            folded.filter(filled(F.col("__slots")) > filled(F.col("__init")))
            .select("__u", "__slots")
        )

    _state.fold(spark, path, batch_id, _state.FUNNEL, changed_chains)


def funnel_from_state(spark, path: str, version: int | None = None) -> DataFrame:
    """The funnel summary from persisted state — identical output
    contract to :func:`funnel_steps` (step, event_type, users,
    conversion) on the full in-order-ingested event history, but the
    input is the users x 1 slot table, so a dashboard refresh costs a
    small-table aggregate, never an event-history rescan (the
    retention_grid_from_state posture). All-zero rows when nothing has
    folded yet."""
    root = _layout.resolve(spark, path, version)
    steps, _ = _read_funnel_meta(spark, root)
    steps_df = local_table(spark,
        [(i + 1, s) for i, s in enumerate(steps)], "step long, event_type string"
    )
    cur = _funnel_slots_current(spark, root)
    if cur is None:
        return steps_df.select(
            "step", "event_type",
            F.lit(0).cast("long").alias("users"),
            F.lit(0.0).alias("conversion"),
        )
    counts = (
        cur.select(F.posexplode("__slots").alias("__i", "__t"))
        .filter(F.col("__t").isNotNull())
        .groupBy("__i")
        .agg(F.count(F.lit(1)).alias("users"))
        .select((F.col("__i") + 1).cast("long").alias("step"), "users")
    )
    summary = eager_checkpoint(
        steps_df.join(counts, "step", "left")
        .select("step", "event_type", F.coalesce("users", F.lit(0)).cast("long").alias("users"))
    )
    first = summary.filter(F.col("step") == 1).select(F.col("users").alias("__n1"))
    return (
        summary.crossJoin(F.broadcast(first))
        .select(
            "step", "event_type", "users",
            F.when(F.col("__n1") > 0, F.round(F.col("users") / F.col("__n1"), 6))
            .otherwise(F.lit(0.0))
            .alias("conversion"),
        )
        .orderBy("step")
    )


def funnel_update_stream(
    stream: DataFrame, path: str, user_col: str, ts_col: str, type_col: str,
    checkpoint: str, steps: list[str] | None = None,
    within_minutes: float | None = None, trigger: dict | None = None,
):
    """Fold an event STREAM into persisted funnel state — the stream
    edge completing the funnel's batch/state/stream triangle (batch:
    funnel_steps; state: funnel_update_state / funnel_from_state;
    stream: THIS — the retention_update_stream shape). A fresh ``path``
    is initialized with the given ``steps``/``within_minutes``; an
    existing state keeps ITS pinned definition. Structured Streaming's
    at-least-once foreachBatch + the batch-id NO-OP = exactly-once
    folds under replay. Default trigger availableNow (drain-and-stop)."""
    spark = stream.sparkSession
    if not _layout.has_meta(spark, _layout.resolve(spark, path)):
        if steps is None:
            raise ValueError(
                "funnel_update_stream on a fresh path needs steps=[...] to pin")
        funnel_init_state(spark, path, steps, within_minutes)
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: funnel_update_state(
            b, path, user_col, ts_col, type_col, bid))


def resample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str | None = None,
    every_minutes: int = 60,
    agg: str = "count",
    fill: str = "zero",
    max_periods: int = 100_000,
) -> DataFrame:
    """Per-key time-series resampling with gap-fill — the dense
    (key, bucket, value) grid every monitoring/feature pipeline wants
    from a raw event log: bucket events into fixed windows, aggregate,
    then FILL the buckets where nothing happened (a raw groupBy
    silently skips them, and a downstream moving average over a sparse
    frame is simply wrong). ``agg``: count | sum | min | max | avg
    (sum/avg integerize to micro-units and sum them in decimal(38,0) —
    the cross-engine determinism contract of ``_moments``; min/max are
    order-free).
    ``fill``: zero | none (NULL) | ffill (forward-fill from the key's
    last seen bucket; the grid starts at the key's first REAL cell, so
    ffill always has a source value) | interp (linear interpolation
    between the surrounding real cells — the grid's ends ARE cells, so
    every gap has both neighbors; interpolated values round 6dp with a
    fixed operation order, pv + (nv-pv)·((b-pb)/(nb-pb)), shared with
    the DuckDB oracle).

    Returns (key, bucket, bucket_ts, value): ``bucket`` is
    floor(epoch_seconds / step) integer arithmetic (the retention
    family's engine-convention-free bucketing), ``bucket_ts`` its start
    timestamp.

    Scale shape: one hash aggregate on (key, bucket) — the only
    event-volume shuffle — then one more on key collecting the key's
    (bucket, value) entries; the dense grid and the fill both happen
    SCAN-SIDE as an ``aggregate()`` fold over sequence(min_b, max_b)
    per key (the ngram run-length posture: per-key state is bounded by
    the key's PERIOD SPAN, never its event count, and there is no
    window function anywhere). Grid rows = keys x periods — the
    retention-grid posture. A key spanning more than ``max_periods``
    buckets raises (one bounded pre-flight aggregate): at 10-second
    buckets over three years that's a 9.5M-element array per key — pick
    a coarser grain or split the range instead of letting one key OOM
    an executor."""
    if every_minutes < 1:
        raise ValueError(f"every_minutes must be >= 1, got {every_minutes}")
    if agg not in ("count", "sum", "min", "max", "avg"):
        raise ValueError(f"unknown agg {agg!r}")
    if fill not in ("zero", "none", "ffill", "interp"):
        raise ValueError(f"unknown fill {fill!r}")
    if agg != "count" and value_col is None:
        raise ValueError(f"agg={agg!r} needs value_col")
    step = int(every_minutes) * 60
    k, t = F.col(key_col), F.col(ts_col)
    base = df.filter(k.isNotNull() & t.isNotNull())
    b = F.floor(F.unix_timestamp(t) / F.lit(step)).cast("long").alias("__b")
    if agg == "count":
        cells = base.groupBy(k.alias("__k"), b).agg(
            F.count("*").cast("double").alias("__v"))
    else:
        v = F.col(value_col).cast("double")
        msum = F.sum(micro(v).cast(DEC)).cast("double")
        grp = base.filter(v.isNotNull()).groupBy(k.alias("__k"), b)
        if agg == "sum":
            cells = grp.agg(F.round(msum / F.lit(1e6), 6).alias("__v"))
        elif agg == "avg":
            cells = grp.agg(F.round(
                (msum / F.count("*")) / F.lit(1e6), 6).alias("__v"))
        else:
            fn = F.min if agg == "min" else F.max
            cells = grp.agg(fn(v).alias("__v"))
    return _fill_grid(cells, key_col, step, fill, max_periods)


def _fill_grid(
    cells: DataFrame, key_col: str, step: int, fill: str, max_periods: int,
) -> DataFrame:
    """The shared grid-and-fill tail of :func:`resample` and
    :func:`resample_from_state`: cells (__k, __b, __v) -> the dense
    (key, bucket, bucket_ts, value) grid, fill applied scan-side."""
    per_key = cells.groupBy("__k").agg(
        F.min("__b").alias("__b0"),
        F.max("__b").alias("__b1"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b"), F.col("__v")))
        ).alias("__m"),
        # interp walks the key's cells in bucket order with a cursor
        F.sort_array(
            F.collect_list(F.struct(F.col("__b").alias("b"), F.col("__v").alias("v")))
        ).alias("__arr"),
    )
    # the guard EXECUTES the aggregation — checkpoint it so the
    # returned plan reads the one-row-per-key result instead of
    # rescanning the event table (the shared-shuffle-branch rule);
    # the widest-key pre-flight scalar rides the checkpoint's OWN
    # materialization job via observe() instead of a second scheduled
    # job over the just-pinned blocks (the graph-family r13 pattern)
    per_key, got = eager_checkpoint_observed(
        per_key, F.max(F.col("__b1") - F.col("__b0") + 1).alias("s"))
    span = got["s"] if got["s"] is not None else 0
    if span > max_periods:
        raise ValueError(
            f"resample: a key spans {span} buckets at a {step}s grain "
            f"(max_periods={max_periods}) — use a coarser grain, filter "
            "the time range, or raise max_periods explicitly")
    m = F.col("__m")
    if fill == "interp":
        # cursor fold over the sorted cell array: `ci` (1-based) always
        # points at the next cell with b >= current bucket, so a gap
        # bucket interpolates between arr[ci-1] and arr[ci] directly —
        # no look-ahead pass, still one scan-side fold per key
        arr = F.col("__arr")
        init = F.struct(
            F.array().cast("array<struct<b:long,v:double>>").alias("out"),
            F.lit(1).cast("int").alias("ci"),
        )

        def interp_step(acc, bb):
            nxt = F.element_at(arr, acc["ci"])
            prv = F.element_at(arr, acc["ci"] - 1)
            is_cell = nxt["b"] == bb
            v = F.when(is_cell, nxt["v"]).otherwise(F.round(
                prv["v"]
                + (nxt["v"] - prv["v"])
                * ((bb - prv["b"]) / (nxt["b"] - prv["b"])),
                6,
            ))
            return F.struct(
                F.concat(
                    acc["out"],
                    F.array(F.struct(bb.alias("b"), v.alias("v"))),
                ).alias("out"),
                F.when(is_cell, acc["ci"] + 1).otherwise(acc["ci"]).alias("ci"),
            )

        filled = F.aggregate(
            F.sequence(F.col("__b0"), F.col("__b1")), init, interp_step
        )["out"]
    elif fill in ("zero", "none"):
        # stateless fills are a LINEAR transform over the sequence —
        # the fold used for ffill below would re-copy the accumulated
        # output array at every step (a 50k-bucket key pays ~1.25e9
        # element copies inside one task: O(span²), all dead work
        # since the accumulator is never read for these fills)
        val = (lambda bb: F.coalesce(F.element_at(m, bb), F.lit(0.0))) \
            if fill == "zero" else (lambda bb: F.element_at(m, bb))
        filled = F.transform(
            F.sequence(F.col("__b0"), F.col("__b1")),
            lambda bb: F.struct(bb.alias("b"), val(bb).alias("v")),
        )
    else:  # ffill — inherently sequential: keep the fold
        init = F.struct(
            F.array().cast("array<struct<b:long,v:double>>").alias("out"),
            F.lit(None).cast("double").alias("last"),
        )
        filled = F.aggregate(
            F.sequence(F.col("__b0"), F.col("__b1")),
            init,
            lambda acc, bb: F.struct(
                F.concat(
                    acc["out"],
                    F.array(F.struct(
                        bb.alias("b"),
                        F.coalesce(F.element_at(m, bb), acc["last"])
                        .alias("v"))),
                ).alias("out"),
                F.coalesce(F.element_at(m, bb), acc["last"]).alias("last"),
            ),
        )["out"]
    return (
        per_key.select(F.col("__k").alias(key_col),
                       F.explode(filled).alias("__c"))
        .select(
            key_col,
            F.col("__c.b").alias("bucket"),
            F.timestamp_seconds(F.col("__c.b") * F.lit(step)).alias("bucket_ts"),
            F.col("__c.v").alias("value"),
        )
    )


def _guard_cells(
    per_key: DataFrame, size_col, max_cells: int, who: str,
) -> DataFrame:
    """Bounded pre-flight shared by the grid CONSUMERS (rolling_stats,
    cusum — the resample/survival guard posture): checkpoint the
    per-key aggregate first (so the returned plan reads the
    one-row-per-key result instead of rescanning the input) with the
    widest-key scalar riding the checkpoint's own job via observe(),
    then raise if the widest key's collected cell array exceeds
    ``max_cells``. Safe fed from resample (whose max_periods bounds
    the span); a raw event table fed directly raises here instead of
    building an unbounded per-key array inside one task."""
    per_key, got = eager_checkpoint_observed(
        per_key, F.max(size_col).alias("s"))
    n = got["s"] if got["s"] is not None else 0
    if n > max_cells:
        raise ValueError(
            f"{who}: a key holds {n} cells (max_cells={max_cells}) — "
            "feed a bucketed grid (resample output), filter the range, "
            "or raise max_cells explicitly")
    return per_key


def rolling_stats(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    window: int = 7,
    max_cells: int = 100_000,
) -> DataFrame:
    """Trailing-window statistics + anomaly z-score over a per-key
    bucketed series (the :func:`resample` grid is the intended input):
    for each (key, bucket), the mean/std of the last ``window`` buckets
    PRESENT for that key (partial head windows use what exists) and
    zscore = (value - mean) / std — the monitoring rule that pages when
    an ingestion source's hourly volume leaves its own recent band.

    Determinism contract (cross-engine, ``datapipe/_moments.py``):
    values integerize to micro-units; window sums of micro and micro²
    both run in decimal(38,0), so var = (n·SS - S²) / n² is one double
    division off identical integers, and a window past the helper's
    magnitude bound gives NULL (non-ANSI) or raises (ANSI), never a
    wrapped sum; mean/std/zscore round 6dp terminally. std of a constant
    window is 0 and its zscore NULL.

    Scale shape: ONE hash aggregate on key collects the key's sorted
    cells (bounded by the series span — resample's max_periods guard
    upstream), then everything is a scan-side indexed transform with a
    per-index window slice: O(span · window) work per key, no window
    functions, no second shuffle. ``max_cells`` guards the per-key
    array the same way resample's max_periods does: a RAW event table
    fed here by mistake (instead of a bucketed grid) raises with the
    widest key's cell count instead of building an unbounded array in
    one task."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    k, b, v = F.col(key_col), F.col(bucket_col), F.col(value_col)
    cells = (
        df.filter(k.isNotNull() & b.isNotNull())
        .groupBy(k.alias("__k"))
        .agg(F.sort_array(F.collect_list(F.struct(
            b.cast("long").alias("b"),
            micro(v).alias("mv"),
            v.cast("double").alias("v"),
        ))).alias("__cells"))
    )
    cells = _guard_cells(
        cells, F.size(F.col("__cells")), max_cells, "rolling_stats")
    arr = F.col("__cells")
    w = F.lit(int(window))

    def window_row(c, i):
        # 1-based slice over the trailing window ending at index i
        start = F.greatest(F.lit(1), i + 2 - w)
        win = F.slice(arr, start, F.least(w, i + 1))
        n = F.size(win).cast("long")
        zero = F.lit(0).cast(DEC)
        s = F.aggregate(win, zero, lambda acc, x: acc + x["mv"].cast(DEC))
        ss = F.aggregate(
            win, zero, lambda acc, x: acc + product(x["mv"], x["mv"]))
        mu = F.round(mean(n, s), 6)
        # n·SS - S² >= 0 exactly (integer arithmetic); one double division
        std = F.round(F.sqrt(F.greatest(pop_var(n, s, ss), F.lit(0.0))), 6)
        z = F.when(std > 0, F.round((c["v"] - mu) / std, 6))
        return F.struct(
            c["b"].alias("bucket"), c["v"].alias("value"),
            mu.alias("roll_mean"), std.alias("roll_std"),
            z.alias("zscore"),
        )

    return (
        cells.select(
            F.col("__k").alias(key_col),
            F.explode(F.transform(arr, window_row)).alias("__s"),
        )
        .select(key_col, "__s.bucket", "__s.value", "__s.roll_mean",
                "__s.roll_std", "__s.zscore")
    )


def resample_update_state(
    df: DataFrame, path: str, key_col: str, ts_col: str,
    value_col: str | None = None, every_minutes: int = 60,
    batch_id: str = "",
) -> None:
    """Fold one event batch's (key, bucket) cells into log-structured
    time-series state: appends (key, bucket, n, msum, mn, mx,
    batch_id) rows — every sufficient statistic the resample aggs need,
    ALL exactly mergeable (counts and micro-sums by addition, min/max
    by min/max), so :func:`resample_from_state` reproduces the one-shot
    :func:`resample` for count/sum/avg/min/max over the union of all
    batches without ever rescanning the event log (the retention-pairs
    posture applied to the volume-monitor grid: O(batch) fold work,
    state bounded by keys x buckets-touched x batches until
    compaction sum-merges it). The bucket grain is pinned in the state
    rows and checked on every fold; a non-empty ``batch_id`` already
    folded makes the fold a NO-OP (exactly-once under replay, through
    the ``_layout`` replay ledger).

    Magnitude bound: ``msum`` is a ``long`` sum of micro-units (its type
    is the family's on-disk contract), so a cell's summed values, and
    the merge of a cell across batches, must stay below about 9.2e12 in
    value units (9.2e18 micro-units). Past it an ANSI session raises
    ``ARITHMETIC_OVERFLOW`` and a non-ANSI one wraps to a wrong sum;
    the batch :func:`resample` sums in decimal and has no such bound."""
    if every_minutes < 1:
        raise ValueError(f"every_minutes must be >= 1, got {every_minutes}")
    step = int(every_minutes) * 60
    k, t = F.col(key_col), F.col(ts_col)
    base = df.filter(k.isNotNull() & t.isNotNull())
    v = (F.col(value_col).cast("double") if value_col
         else F.lit(None).cast("double"))
    cells = (
        base.select(
            k.cast("string").alias("key"),
            F.floor(F.unix_timestamp(t) / F.lit(step)).cast("long").alias("bucket"),
            v.alias("__v"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(micro(F.col("__v"))).alias("msum"),
            F.count("__v").cast("long").alias("nv"),
            F.min("__v").alias("mn"),
            F.max("__v").alias("mx"),
        )
    )
    _state.fold(df.sparkSession, path, batch_id, _state.RESAMPLE, cells,
                {"step": step})


def resample_update_stream(
    stream: DataFrame, path: str, key_col: str, ts_col: str,
    checkpoint: str, value_col: str | None = None,
    every_minutes: int = 60, trigger: dict | None = None,
):
    """Fold an event STREAM into persisted time-series state — the
    stream edge of the resample triangle: micro-batch id = batch_id,
    at-least-once replay folds exactly once. The live volume monitor:
    resample_from_state + rolling_stats off the state is the dashboard
    read, O(keys x buckets), never the event log."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: resample_update_state(
            b, path, key_col, ts_col, value_col, every_minutes, bid))


def resample_from_state(
    spark, path: str, agg: str = "count", fill: str = "zero",
    version: int | None = None, max_periods: int = 100_000,
) -> DataFrame:
    """The dense (key, bucket, bucket_ts, value) grid reconstructed
    from persisted time-series state — EXACTLY the one-shot
    :func:`resample` over the union of every ingested batch: cells
    sum/min/max-merge first (exact), then the same per-key scan-side
    grid-and-fill fold runs over the merged cells. ``version`` pins an
    older committed snapshot (compaction cadence = snapshot cadence)."""
    if agg not in ("count", "sum", "min", "max", "avg"):
        raise ValueError(f"unknown agg {agg!r}")
    rows, pins = _state.rows(spark, path, _state.RESAMPLE, version, with_pins=True)
    step = pins["step"]
    merged = _state.merge(rows, _state.RESAMPLE)
    if agg == "count":
        val = merged.withColumn("__v", F.col("n").cast("double"))
    elif agg == "sum":
        val = merged.filter(F.col("nv") > 0).withColumn(
            "__v", F.round(F.col("msum") / F.lit(1e6), 6))
    elif agg == "avg":
        val = merged.filter(F.col("nv") > 0).withColumn(
            "__v", F.round((F.col("msum") / F.col("nv")) / F.lit(1e6), 6))
    elif agg == "min":
        val = merged.filter(F.col("nv") > 0).withColumn("__v", F.col("mn"))
    else:
        val = merged.filter(F.col("nv") > 0).withColumn("__v", F.col("mx"))
    cells = val.select(
        F.col("key").alias("__k"), F.col("bucket").alias("__b"), "__v")
    return _fill_grid(cells, "key", step, fill, max_periods)


def seasonality(
    df: DataFrame, key_col: str, ts_col: str,
) -> DataFrame:
    """Hour-of-week load profile per key: (key, dow, hour, n, share)
    with dow 1=Monday..7=Sunday (ISO, engine-portable via epoch-day
    arithmetic — day 0 = Thursday 1970-01-01), hour 0..23 UTC, and
    share = the cell's fraction of the key's events rounded 6dp. The
    capacity-planning/anomaly-baseline readout next to resample's time
    grid: "is Tuesday 14:00 usually like this?". One hash aggregate on
    (key, dow, hour) — output bounded at keys x 168 — plus a per-key
    total joined back broadcast-sized. Integer epoch arithmetic end to
    end: no timezone/locale conventions anywhere."""
    k, t = F.col(key_col), F.col(ts_col)
    epoch = F.unix_timestamp(t)
    # epoch day 0 (1970-01-01) was a Thursday = ISO 4
    dow = F.pmod(F.floor(epoch / F.lit(86400)) + F.lit(3), F.lit(7)) + F.lit(1)
    hour = F.floor(F.pmod(epoch, F.lit(86400)) / F.lit(3600))
    cells = (
        df.filter(k.isNotNull() & t.isNotNull())
        .groupBy(
            k.alias(key_col),
            dow.cast("int").alias("dow"),
            hour.cast("int").alias("hour"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy(F.col(key_col).alias("__k2")).agg(
        F.sum("n").cast("long").alias("__tot"))
    return (
        cells.join(
            F.broadcast(totals), cells[key_col] == F.col("__k2"), "inner"
        )
        .select(
            key_col, "dow", "hour", "n",
            F.round(F.col("n") / F.col("__tot"), 6).alias("share"),
        )
    )


def cusum(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    k: float = 0.5,
    h: float = 5.0,
    max_cells: int = 100_000,
) -> DataFrame:
    """Two-sided CUSUM change-point detection over a per-key bucketed
    series (Page, Biometrika 1954; feed it the :func:`resample` grid):
    values standardize against the key's own mean/std, then the classic
    recursions s+ = max(0, s+ + z - k) and s- = max(0, s- - z - k)
    accumulate; ``alarm`` fires when either side exceeds ``h``. The
    complement of :func:`rolling_stats`: the z-score band catches
    SPIKES, CUSUM catches small persistent SHIFTS (a source whose
    volume drifts +0.8 sigma forever never trips a 3-sigma rule but
    walks the CUSUM straight up). k = half the shift (in sigmas) worth
    detecting; h = the decision interval (published defaults 0.5/5).

    Returns (key, bucket, value, cusum_pos, cusum_neg, alarm) —
    cusums rounded 6dp terminally, the recursion runs unrounded.

    Determinism: mean/std come from exact integer micro-sums (the
    rolling_stats contract); z and both recursions are the IDENTICAL
    double operation order as the DuckDB recursive-CTE oracle. Scale
    shape: one hash aggregate per key collecting the sorted cells
    (bounded by the series span), stats from the same exact sums, then
    ONE scan-side fold per key — no window functions, no iteration
    jobs. Constant series (std 0) yield NULL cusums (no shift scale to
    measure against). ``max_cells`` is the rolling_stats guard: a raw
    event table fed here instead of a bucketed grid raises instead of
    folding an unbounded per-key array."""
    if h <= 0 or k < 0:
        raise ValueError(f"need k >= 0 and h > 0, got k={k}, h={h}")
    kk, hh = float(k), float(h)
    key, b, v = F.col(key_col), F.col(bucket_col), F.col(value_col)
    mv = micro(v)
    per_key = (
        df.filter(key.isNotNull() & b.isNotNull() & v.isNotNull())
        .groupBy(key.alias("__k"))
        .agg(
            F.sort_array(F.collect_list(F.struct(
                b.cast("long").alias("b"),
                v.cast("double").alias("v"),
            ))).alias("__cells"),
            *moments(None, "__n", __s=mv, __ss=(mv, mv)),
        )
    )
    per_key = _guard_cells(per_key, F.col("__n"), max_cells, "cusum")
    n, sm, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    mu = F.round(mean(n, sm), 6)
    std = F.round(F.sqrt(F.greatest(pop_var(n, sm, ss), F.lit(0.0))), 6)
    staged = per_key.select(
        "__k", "__cells", mu.alias("__mu"), std.alias("__sd"))

    def step(acc, c):
        # try_divide: a constant key (sd 0) must survive ANSI sessions —
        # its cusums are NULLed in the output anyway
        z = F.try_divide(c["v"] - F.col("__mu"), F.col("__sd"))
        sp = F.greatest(F.lit(0.0), acc["sp"] + z - F.lit(kk))
        sn = F.greatest(F.lit(0.0), acc["sn"] - z - F.lit(kk))
        return F.struct(
            F.concat(
                acc["out"],
                F.array(F.struct(
                    c["b"].alias("b"), c["v"].alias("v"),
                    sp.alias("sp"), sn.alias("sn"),
                )),
            ).alias("out"),
            sp.alias("sp"), sn.alias("sn"),
        )

    init = F.struct(
        F.array().cast(
            "array<struct<b:long,v:double,sp:double,sn:double>>"
        ).alias("out"),
        F.lit(0.0).alias("sp"), F.lit(0.0).alias("sn"),
    )
    folded = F.aggregate(F.col("__cells"), init, step)["out"]
    out = staged.select(
        "__k", "__sd", F.explode(folded).alias("__c"),
    )
    sd_ok = F.col("__sd") > 0
    sp, sn = F.col("__c.sp"), F.col("__c.sn")
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__c.b").alias("bucket"),
        F.col("__c.v").alias("value"),
        F.when(sd_ok, F.round(sp, 6)).alias("cusum_pos"),
        F.when(sd_ok, F.round(sn, 6)).alias("cusum_neg"),
        F.when(sd_ok, (sp > F.lit(hh)) | (sn > F.lit(hh))).alias("alarm"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    alpha: float = 0.3,
    L: float = 3.0,
    max_cells: int = 100_000,
) -> DataFrame:
    """EWMA control chart over a per-key bucketed series (Roberts,
    Technometrics 1959; feed it the :func:`resample` grid): the
    exponentially weighted statistic e_t = α·x_t + (1−α)·e_{t−1}
    starting at the key's own mean, flagged when it leaves the
    time-varying band μ ± L·σ·sqrt(α/(2−α)·(1−(1−α)^{2t})). The middle
    leg of the monitoring family: :func:`rolling_stats` catches SPIKES
    (3-sigma on the raw point), :func:`cusum` catches tiny persistent
    SHIFTS, EWMA catches MEDIUM drifts fastest (its memory is tunable:
    small α ≈ cusum-like, α = 1 degenerates to the raw chart).

    Returns (key, bucket, value, ewma, lo, hi, anomaly) — floats
    rounded 6dp terminally, the recursion runs unrounded. Constant
    keys (sd 0) carry a zero-width band and never alarm.

    Determinism: μ/σ from exact integer micro-sums (the rolling_stats
    contract); the recursion and the band use the IDENTICAL double
    operation order as the DuckDB recursive-CTE oracle. Scale shape:
    one hash aggregate per key (cells bounded by ``max_cells`` — the
    same raw-event-table guard as cusum), stats off the same exact
    sums, ONE scan-side fold per key; no window functions."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if L <= 0:
        raise ValueError(f"L must be > 0, got {L}")
    aa, ll = float(alpha), float(L)
    key, b, v = F.col(key_col), F.col(bucket_col), F.col(value_col)
    mv = micro(v)
    per_key = (
        df.filter(key.isNotNull() & b.isNotNull() & v.isNotNull())
        .groupBy(key.alias("__k"))
        .agg(
            F.sort_array(F.collect_list(F.struct(
                b.cast("long").alias("b"),
                v.cast("double").alias("v"),
            ))).alias("__cells"),
            *moments(None, "__n", __s=mv, __ss=(mv, mv)),
        )
    )
    per_key = _guard_cells(per_key, F.col("__n"), max_cells, "ewma")
    n, sm, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    mu = F.round(mean(n, sm), 6)
    std = F.round(F.sqrt(F.greatest(pop_var(n, sm, ss), F.lit(0.0))), 6)
    staged = per_key.select(
        "__k", "__cells", mu.alias("__mu"), std.alias("__sd"))

    def step(acc, c):
        e = F.lit(aa) * c["v"] + F.lit(1.0 - aa) * acc["e"]
        t = acc["t"] + F.lit(1)
        lim = (
            F.lit(ll) * F.col("__sd")
            * F.sqrt(
                F.lit(aa / (2.0 - aa))
                * (F.lit(1.0) - F.pow(F.lit(1.0 - aa), t * F.lit(2)))
            )
        )
        return F.struct(
            F.concat(
                acc["out"],
                F.array(F.struct(
                    c["b"].alias("b"), c["v"].alias("v"), e.alias("e"),
                    (F.col("__mu") - lim).alias("lo"),
                    (F.col("__mu") + lim).alias("hi"),
                )),
            ).alias("out"),
            e.alias("e"), t.alias("t"),
        )

    init = F.struct(
        F.array().cast(
            "array<struct<b:long,v:double,e:double,lo:double,hi:double>>"
        ).alias("out"),
        F.col("__mu").alias("e"), F.lit(0).cast("int").alias("t"),
    )
    folded = F.aggregate(F.col("__cells"), init, step)["out"]
    out = staged.select("__k", F.explode(folded).alias("__c"))
    e, lo, hi = F.col("__c.e"), F.col("__c.lo"), F.col("__c.hi")
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__c.b").alias("bucket"),
        F.col("__c.v").alias("value"),
        F.round(e, 6).alias("ewma"),
        F.round(lo, 6).alias("lo"),
        F.round(hi, 6).alias("hi"),
        ((e < lo) | (e > hi)).alias("anomaly"),
    )


def survival(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
    horizon_periods: int = 1,
    max_periods: int = 10_000,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (Kaplan & Meier,
    JASA 1958) — the churn readout retention grids only imply: lifetime
    = last event - first event in ``period_days`` buckets; a user whose
    last event falls within ``horizon_periods`` of the corpus's end is
    RIGHT-CENSORED (still alive when observation stopped — counting
    them as churned is the classic bias KM exists to fix). Returns one
    row per lifetime bucket: (period, at_risk, churned, censored,
    survival) with S(t) = prod over s <= t of (1 - d_s / n_s), rounded
    6dp terminally.

    Scale shape: one (user, first, last) hash aggregate — the only
    event-volume shuffle — a 1-row observation-end broadcast, a
    per-bucket count aggregate (bounded by the lifetime span), ONE
    one-row collect_list over those buckets, and a scan-side fold
    carrying (at-risk, product). The product multiplies in bucket order
    inside the fold, so it is partition-invariant and mirrored exactly
    by a recursive-CTE oracle. Spans beyond ``max_periods`` raise (the
    resample guard posture)."""
    if period_days < 1:
        raise ValueError(f"period_days must be >= 1, got {period_days}")
    if horizon_periods < 0:
        raise ValueError(
            f"horizon_periods must be >= 0, got {horizon_periods}")
    step = int(period_days) * 86400
    u, t = F.col(user_col), F.col(ts_col)
    spans = (
        df.filter(u.isNotNull() & t.isNotNull())
        .groupBy(u.alias("__u"))
        .agg(
            F.min(F.unix_timestamp(t)).alias("__first"),
            F.max(F.unix_timestamp(t)).alias("__last"),
        )
    )
    end = spans.agg(F.max("__last").alias("__end"))
    marked = spans.crossJoin(F.broadcast(end)).select(
        F.floor((F.col("__last") - F.col("__first")) / F.lit(step))
        .cast("long").alias("period"),
        (
            F.col("__last")
            >= F.col("__end") - F.lit(int(horizon_periods) * step)
        ).alias("__censored"),
    )
    buckets = marked.groupBy("period").agg(
        F.sum(F.when(~F.col("__censored"), 1).otherwise(0))
        .cast("long").alias("churned"),
        F.sum(F.when(F.col("__censored"), 1).otherwise(0))
        .cast("long").alias("censored"),
    )
    one = buckets.agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("period"), F.col("churned"), F.col("censored")
        ))).alias("__b"),
        F.coalesce(F.sum(F.col("churned") + F.col("censored")), F.lit(0))
        .cast("long").alias("__total"),
        F.max("period").alias("__span"),
    )
    # the guard executes the event-volume aggregate — checkpoint the
    # 1-row result so the returned plan reads it; the span scalar
    # rides the checkpoint's own job via observe()
    one, got = eager_checkpoint_observed(one, F.max("__span").alias("s"))
    span = got["s"] if got["s"] is not None else 0
    if span > max_periods:
        raise ValueError(
            f"survival: lifetimes span {span} periods at period_days="
            f"{period_days} (max_periods={max_periods}) — coarsen the "
            "period or raise max_periods explicitly")

    def step_fn(acc, x):
        # KM: at time x, n at-risk users remain; churn events shrink S
        factor = F.lit(1.0) - x["churned"] / acc["n"]
        s = acc["s"] * factor
        return F.struct(
            F.concat(
                acc["out"],
                F.array(F.struct(
                    x["period"].alias("period"),
                    acc["n"].alias("at_risk"),
                    x["churned"].alias("churned"),
                    x["censored"].alias("censored"),
                    s.alias("survival"),
                )),
            ).alias("out"),
            (acc["n"] - x["churned"] - x["censored"]).alias("n"),
            s.alias("s"),
        )

    init = F.struct(
        F.array().cast(
            "array<struct<period:long,at_risk:bigint,churned:bigint,"
            "censored:bigint,survival:double>>"
        ).alias("out"),
        F.col("__total").alias("n"),
        F.lit(1.0).alias("s"),
    )
    folded = F.aggregate(F.col("__b"), init, step_fn)["out"]
    return (
        one.select(F.explode(folded).alias("__r"))
        .select(
            "__r.period", "__r.at_risk", "__r.churned", "__r.censored",
            F.round(F.col("__r.survival"), 6).alias("survival"),
        )
    )


def survival_by(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    by: str,
    period_days: int = 7,
    horizon_periods: int = 1,
    max_periods: int = 10_000,
) -> DataFrame:
    """Per-group Kaplan-Meier curves — "does churn differ by
    acquisition source / plan / geography": the :func:`survival`
    machinery with a group key carried through, one curve per group.
    A user's group is taken from their FIRST event (min ts, ties by
    smallest group value — deterministic); the censoring clock is the
    corpus-wide observation end (groups are compared against the same
    calendar, not each their own). Returns (group, period, at_risk,
    churned, censored, survival).

    Scale shape unchanged: the (user, first, last, group) aggregate is
    the only event-volume shuffle; per-group bucket arrays are bounded
    by each group's lifetime span and fold scan-side."""
    if period_days < 1:
        raise ValueError(f"period_days must be >= 1, got {period_days}")
    if horizon_periods < 0:
        raise ValueError(
            f"horizon_periods must be >= 0, got {horizon_periods}")
    step = int(period_days) * 86400
    u, t, g = F.col(user_col), F.col(ts_col), F.col(by)
    spans = (
        # null groups drop BEFORE attribution: a null-group event
        # must not become a user's "first" channel
        df.filter(u.isNotNull() & t.isNotNull() & g.isNotNull())
        .groupBy(u.alias("__u"))
        .agg(
            F.min(F.unix_timestamp(t)).alias("__first"),
            F.max(F.unix_timestamp(t)).alias("__last"),
            F.min_by(
                g.cast("string"),
                F.struct(F.unix_timestamp(t).alias("t"),
                         g.cast("string").alias("g")),
            ).alias("__g"),
        )
    )
    end = spans.agg(F.max("__last").alias("__end"))
    marked = spans.crossJoin(F.broadcast(end)).select(
        F.col("__g"),
        F.floor((F.col("__last") - F.col("__first")) / F.lit(step))
        .cast("long").alias("period"),
        (
            F.col("__last")
            >= F.col("__end") - F.lit(int(horizon_periods) * step)
        ).alias("__censored"),
    )
    buckets = marked.groupBy("__g", "period").agg(
        F.sum(F.when(~F.col("__censored"), 1).otherwise(0))
        .cast("long").alias("churned"),
        F.sum(F.when(F.col("__censored"), 1).otherwise(0))
        .cast("long").alias("censored"),
    )
    per_group = buckets.groupBy("__g").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("period"), F.col("churned"), F.col("censored")
        ))).alias("__b"),
        F.coalesce(F.sum(F.col("churned") + F.col("censored")), F.lit(0))
        .cast("long").alias("__total"),
        F.max("period").alias("__span"),
    )
    per_group, got = eager_checkpoint_observed(
        per_group, F.max("__span").alias("s"))
    span = got["s"] if got["s"] is not None else 0
    if span > max_periods:
        raise ValueError(
            f"survival_by: lifetimes span {span} periods at period_days="
            f"{period_days} (max_periods={max_periods}) — coarsen the "
            "period or raise max_periods explicitly")

    def step_fn(acc, x):
        factor = F.lit(1.0) - x["churned"] / acc["n"]
        s = acc["s"] * factor
        return F.struct(
            F.concat(
                acc["out"],
                F.array(F.struct(
                    x["period"].alias("period"),
                    acc["n"].alias("at_risk"),
                    x["churned"].alias("churned"),
                    x["censored"].alias("censored"),
                    s.alias("survival"),
                )),
            ).alias("out"),
            (acc["n"] - x["churned"] - x["censored"]).alias("n"),
            s.alias("s"),
        )

    init = F.struct(
        F.array().cast(
            "array<struct<period:long,at_risk:bigint,churned:bigint,"
            "censored:bigint,survival:double>>"
        ).alias("out"),
        F.col("__total").alias("n"),
        F.lit(1.0).alias("s"),
    )
    folded = F.aggregate(F.col("__b"), init, step_fn)["out"]
    return (
        per_group.select(F.col("__g").alias(by),
                         F.explode(folded).alias("__r"))
        .select(
            by, "__r.period", "__r.at_risk", "__r.churned", "__r.censored",
            F.round(F.col("__r.survival"), 6).alias("survival"),
        )
    )


def funnel_steps_by(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    by: str,
    within_minutes: float | None = None,
) -> DataFrame:
    """Per-group funnel — "did the experiment arm convert better": the
    greedy earliest-anchor funnel (anchor='first' semantics, the same
    stage chain as :func:`funnel_steps`) with each user attributed to
    the ``by`` value carried by their ANCHOR event (min (ts, value)
    struct over their step-1 events — deterministic; step-1 events with
    a NULL value don't attribute, so a user labels from their earliest
    labeled anchor). Returns (group, step, event_type, users,
    conversion) with conversion = users_i / that GROUP's step-1 users,
    rounded 6dp.

    Scale shape: the stage chain is unchanged (k-1 co-partitioned
    user-key joins); attribution is one more hash aggregate on the
    user key and each stage count joins it on that same key — no new
    exchange on the already-partitioned side; per-group step-1 sizes
    join back broadcast (rows = groups x steps, never users)."""
    stages = _funnel_stages(
        df, user_col, ts_col, type_col, steps, within_minutes, "first"
    )
    u, t, g = F.col(user_col), F.col(ts_col), F.col(by)
    attr = (
        df.filter(
            (F.col(type_col) == steps[0])
            & u.isNotNull() & t.isNotNull() & g.isNotNull()
        )
        .groupBy(u.alias("__u"))
        .agg(F.min(F.struct(
            _umicros(t).alias("t"), g.cast("string").alias("g")
        ))["g"].alias("__g"))
    )
    counts = [
        s.join(attr, "__u")
        .groupBy("__g")
        .agg(F.count("*").cast("long").alias("users"))
        .select(
            F.col("__g"),
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(steps[i]).alias("event_type"),
            "users",
        )
        for i, s in enumerate(stages)
    ]
    summary = reduce(DataFrame.unionByName, counts)
    # k x groups rows feed two consumers (rows + per-group denominator):
    # checkpoint once, read twice (the funnel_steps discipline)
    summary = eager_checkpoint(summary)
    # emit the FULL (group x step) grid, not just the steps somebody
    # reached: a group whose users all stall before step i still gets
    # its (group, step i) row with users=0 / conversion=0 — otherwise
    # funnel_ab_test's per-step join silently drops the report row
    # exactly when one arm converted nobody, the most decisive A/B
    # outcome. The group universe == the step-1 groups (attribution
    # requires a step-1 event), so the grid explodes off the step-1
    # frame — groups x k rows, no new shuffle, __n1 carried along.
    first = summary.filter(F.col("step") == 1).select(
        F.col("__g"), F.col("users").alias("__n1")
    )
    step_lits = F.array(*[
        F.struct(F.lit(i + 1).cast("long").alias("step"),
                 F.lit(st).alias("event_type"))
        for i, st in enumerate(steps)
    ])
    grid = (
        first.select("__g", "__n1", F.explode(step_lits).alias("__s"))
        .select("__g", "__n1",
                F.col("__s.step").alias("step"),
                F.col("__s.event_type").alias("event_type"))
    )
    users0 = F.coalesce(F.col("users"), F.lit(0))
    return (
        grid.join(summary, ["__g", "step", "event_type"], "left")
        .select(
            F.col("__g").alias(by),
            "step",
            "event_type",
            users0.cast("long").alias("users"),
            F.when(F.col("__n1") > 0,
                   F.round(users0 / F.col("__n1"), 6))
            .otherwise(F.lit(0.0)).alias("conversion"),
        )
    )


def funnel_ab_test(grouped: DataFrame, by: str, arm_a: str, arm_b: str) -> DataFrame:
    """Two-proportion z-test per funnel step between two arms of a
    :func:`funnel_steps_by` result — the readout an experimenter
    actually needs: is B's step-i conversion different from A's beyond
    noise? Per step i >= 2: p = pooled conversion, z = (pA - pB) /
    sqrt(p(1-p)(1/nA + 1/nB)) against each arm's own step-1 denominator
    (the standard two-sample proportion test), significant at
    |z| > 1.96 (alpha = 0.05 two-sided). Returns (step, event_type,
    users_a, users_b, conv_a, conv_b, conv_a_lo, conv_a_hi, conv_b_lo,
    conv_b_hi, diff, diff_lo, diff_hi, z, significant): each arm's 95%
    WILSON score interval (Wilson, JASA 1927 — well-behaved at 0% and
    100% where the Wald interval collapses) and the Newcombe hybrid
    score interval for the difference (Newcombe, Stat. Med. 1998:
    diff ∓ sqrt of the squared one-sided Wilson margins) — the numbers
    an experimenter quotes alongside z.

    All inputs are the grouped funnel's integer counts, so every
    fraction is integer/integer and the z/CI arithmetic is one fixed
    double order; everything rounds 6dp terminally. The frame is
    steps x arms — driver-free but trivially small; a zero pooled
    variance (both arms 0% or 100%) yields NULL z (the Wilson CIs
    still exist there — that is their point)."""
    a = grouped.filter(F.col(by) == arm_a).select(
        "step", "event_type", F.col("users").alias("ua"))
    b = grouped.filter(F.col(by) == arm_b).select(
        F.col("step").alias("sb"), F.col("users").alias("ub"))
    j = a.join(b, a["step"] == F.col("sb"), "inner").drop("sb")
    n1 = j.filter(F.col("step") == 1).select(
        F.col("ua").alias("na"), F.col("ub").alias("nb"))
    w = j.crossJoin(F.broadcast(n1))  # 1-row denominators
    return w.filter(F.col("step") > 1).select(
        "step", "event_type", *_two_proportion_cols())


def _two_proportion_cols() -> list:
    """The shared A/B readout columns over a frame carrying integer
    (ua, ub, na, nb): pooled two-proportion z, per-arm 95% Wilson
    score intervals, and the Newcombe hybrid interval for the
    difference — one fixed double operation order shared verbatim
    with the DuckDB oracles (funnel_ab_sql / retention_ab_sql)."""
    pa = F.col("ua") / F.col("na")
    pb = F.col("ub") / F.col("nb")
    pool = (F.col("ua") + F.col("ub")) / (F.col("na") + F.col("nb"))
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb")))
    z = F.when(se > 0, F.round((pa - pb) / se, 6))
    zc = F.lit(1.96)

    def wilson(p, nn):
        denom = F.lit(1.0) + zc * zc / nn
        center = p + zc * zc / (F.lit(2.0) * nn)
        half = zc * F.sqrt(
            p * (F.lit(1.0) - p) / nn + zc * zc / (F.lit(4.0) * nn * nn))
        return (center - half) / denom, (center + half) / denom

    la, ha = wilson(pa, F.col("na"))
    lb, hb = wilson(pb, F.col("nb"))
    diff = pa - pb
    # Newcombe hybrid score interval for pA - pB
    dlo = diff - F.sqrt((pa - la) * (pa - la) + (hb - pb) * (hb - pb))
    dhi = diff + F.sqrt((ha - pa) * (ha - pa) + (pb - lb) * (pb - lb))
    return [
        F.col("ua").alias("users_a"), F.col("ub").alias("users_b"),
        F.round(pa, 6).alias("conv_a"), F.round(pb, 6).alias("conv_b"),
        F.round(la, 6).alias("conv_a_lo"), F.round(ha, 6).alias("conv_a_hi"),
        F.round(lb, 6).alias("conv_b_lo"), F.round(hb, 6).alias("conv_b_hi"),
        F.round(diff, 6).alias("diff"),
        F.round(dlo, 6).alias("diff_lo"), F.round(dhi, 6).alias("diff_hi"),
        z.cast("double").alias("z"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(1.96)).alias("significant"),
    ]


def retention_cohorts_by(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    by: str,
    period_days: int = 7,
    max_periods: int = 8,
    calendar: str | None = None,
) -> DataFrame:
    """Per-group cohort retention — "does the experiment arm retain
    better": the retention grid with each user attributed to the ``by``
    value on their FIRST event (min (epoch, value) struct — the
    funnel_steps_by / survival_by attribution contract; NULL values
    never attribute). One grid per group, each cohort's denominator its
    own group's offset-0 count. Returns (group, cohort_start,
    period_offset, active_users, retention).

    Scale shape: the (user, bucket) distinct and the attribution
    aggregate are the two event-volume shuffles, both keyed on the
    user column — the first-bucket join and the attribution join then
    reuse that partitioning; grid rows = groups x cohorts x offsets,
    sizes join back broadcast."""
    b = _activity_pairs(df, user_col, ts_col, period_days, calendar)
    u, t, g = F.col(user_col), F.col(ts_col), F.col(by)
    attr = (
        df.filter(u.isNotNull() & t.isNotNull() & g.isNotNull())
        .groupBy(u.alias("__u"))
        .agg(F.min(F.struct(
            _umicros(t).alias("t"), g.cast("string").alias("g")
        ))["g"].alias("__g"))
    )
    first = b.groupBy("__u").agg(F.min("__b").alias("__cb"))
    act = (
        b.join(first, "__u")
        .join(attr, "__u")
        .select("__g", "__cb", (F.col("__b") - F.col("__cb")).alias("period_offset"))
        .filter(F.col("period_offset") < max_periods)
        .groupBy("__g", "__cb", "period_offset")
        .agg(F.count("*").cast("long").alias("active_users"))
    )
    act = eager_checkpoint(act)
    sizes = act.filter(F.col("period_offset") == 0).select(
        F.col("__g").alias("__g2"), F.col("__cb").alias("__cb2"),
        F.col("active_users").alias("__size"),
    )
    # same bucket→date mapping (and output TYPE) as retention_cohorts:
    # floor division for pre-1970 indexes, cohort_start as a DATE — the
    # grouped and ungrouped grids share one output contract
    start = _cohort_start(period_days, calendar)
    return (
        act.join(
            F.broadcast(sizes),
            (act["__g"] == F.col("__g2")) & (act["__cb"] == F.col("__cb2")),
        )
        .select(
            F.col("__g").alias(by),
            start.alias("cohort_start"),
            "period_offset",
            "active_users",
            F.round(F.col("active_users") / F.col("__size"), 6).alias("retention"),
        )
    )


def retention_ab_test(
    grouped: DataFrame, by: str, arm_a: str, arm_b: str,
) -> DataFrame:
    """Two-proportion z-test + Wilson/Newcombe intervals per retention
    offset between two arms of a :func:`retention_cohorts_by` grid —
    the stickiness readout that pairs with :func:`funnel_ab_test`'s
    conversion readout: does arm B retain users differently at offset
    k beyond noise? Cohorts pool per arm (numerator = the arm's
    offset-k actives summed across cohorts, denominator = its offset-0
    total — the standard pooled retention curve; cohorts too young to
    reach offset k contribute only to the denominator, the usual
    pooled-curve caveat, so compare arms only over offsets both have
    fully observed). Returns one row per offset >= 1: (period_offset,
    users_a, users_b, conv_a, conv_b, the four Wilson bounds, diff,
    diff_lo, diff_hi, z, significant) — the
    :func:`funnel_ab_test` column contract with retention rates in
    the conv columns.

    Zero-arm offsets survive: the offset universe is the UNION of both
    arms' observed offsets with absent counts as 0 (the funnel grid
    rule — the offset where one arm retained nobody is the decisive
    readout, not a dropped row). All inputs are the grid's integer
    counts; the z/CI arithmetic is the shared fixed double order."""
    agg = (
        grouped.groupBy(F.col(by).alias("__arm"), "period_offset")
        .agg(F.sum("active_users").cast("long").alias("users"))
    )
    a = agg.filter(F.col("__arm") == arm_a).select(
        "period_offset", F.col("users").alias("ua"))
    b = agg.filter(F.col("__arm") == arm_b).select(
        F.col("period_offset").alias("ob"), F.col("users").alias("ub"))
    j = (
        a.join(b, a["period_offset"].eqNullSafe(F.col("ob")), "full_outer")
        .select(
            F.coalesce(F.col("period_offset"), F.col("ob"))
            .alias("period_offset"),
            F.coalesce(F.col("ua"), F.lit(0)).alias("ua"),
            F.coalesce(F.col("ub"), F.lit(0)).alias("ub"),
        )
    )
    n1 = j.filter(F.col("period_offset") == 0).select(
        F.col("ua").alias("na"), F.col("ub").alias("nb"))
    w = j.crossJoin(F.broadcast(n1))  # 1-row denominators
    return w.filter(F.col("period_offset") > 0).select(
        "period_offset", *_two_proportion_cols())


# ---------------------------------------------------------------------------
# Experiment health: sample-ratio mismatch + CUPED variance reduction
# ---------------------------------------------------------------------------

# Upper-tail chi-square critical values (Pearson 1900), df 1..20 — the
# standard published table constants. SRM convention alarms at 0.001
# (Fabijan et al., "Diagnosing Sample Ratio Mismatch", KDD 2019): an
# experimenter NEVER wants a 1-in-20 false SRM page.
_CHI2_CRIT = {
    "0.05": [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507,
             16.919, 18.307, 19.675, 21.026, 22.362, 23.685, 24.996,
             26.296, 27.587, 28.869, 30.144, 31.410],
    "0.01": [6.635, 9.210, 11.345, 13.277, 15.086, 16.812, 18.475, 20.090,
             21.666, 23.209, 24.725, 26.217, 27.688, 29.141, 30.578,
             31.999, 33.409, 34.805, 36.191, 37.566],
    "0.001": [10.828, 13.816, 16.266, 18.467, 20.515, 22.458, 24.322,
              26.124, 27.877, 29.588, 31.264, 32.909, 34.528, 36.123,
              37.697, 39.252, 40.790, 42.312, 43.820, 45.315],
}


def chi2_critical(df_: int, alpha: str = "0.001") -> float:
    """Chi-square upper-tail critical value for ``df_`` degrees of
    freedom: the published table for df <= 20, the Wilson-Hilferty
    cube approximation (PNAS 1931) beyond — a plain float both the
    Spark op and its DuckDB oracle embed as the SAME literal, so the
    threshold can never diverge between engines."""
    if alpha not in _CHI2_CRIT:
        raise ValueError(
            f"alpha must be one of {sorted(_CHI2_CRIT)}, got {alpha!r}")
    tab = _CHI2_CRIT[alpha]
    if 1 <= df_ <= len(tab):
        return tab[df_ - 1]
    z = {"0.05": 1.6449, "0.01": 2.3263, "0.001": 3.0902}[alpha]
    k = float(df_)
    return k * (1.0 - 2.0 / (9.0 * k) + z * (2.0 / (9.0 * k)) ** 0.5) ** 3


def attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    channel_col=None,
    order_col: str | None = None,
) -> DataFrame:
    """First-/last-touch marketing attribution: for every conversion
    event, the channel of the EARLIEST and the LATEST preceding touch
    event by the same user (standard position-based attribution — the
    two endpoints every multi-touch model interpolates between), plus
    the touch count. Returns one row per conversion: (user, ts,
    first_touch, last_touch, n_touches) — conversions with no prior
    touch keep NULL channels and n_touches = 0 (organic conversions
    are a readout, not a dropped row).

    ``channel_col`` is any Column/name identifying the touch channel
    (a campaign id parsed from props, the event type itself, ...);
    ``order_col`` breaks equal-timestamp ties deterministically
    (REQUIRED for cross-engine stable results when ts granularity is
    coarse; defaults to the timestamp only).

    Scale shape: ONE per-user-partitioned running window over the
    (touch ∪ conversion) frame — first/last with ignorenulls carry the
    endpoints, a conditional running count carries n_touches; no
    self-join, no range join, no per-conversion re-scan. The window
    partitions on the user key (the same shuffle sessionize uses),
    never globally."""
    from pyspark.sql import Window

    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    ch = F.col(channel_col) if isinstance(channel_col, str) else channel_col
    if ch is None:
        ch = ty
    tt = [str(x) for x in touch_types]
    if not tt:
        raise ValueError("attribution needs at least one touch type")
    base = df.filter(
        u.isNotNull() & t.isNotNull()
        & (ty.isin(*tt) | (ty == str(conversion_type))))
    is_touch = ty.isin(*tt)
    tagged = base.select(
        u.alias("user"), t.cast("timestamp").alias("ts"), ty.alias("__ty"),
        F.when(is_touch, ch.cast("string")).alias("__ch"),
        *([F.col(order_col)] if order_col is not None else []),
    )
    w = (
        Window.partitionBy("user")
        .orderBy(*(["ts"] + ([order_col] if order_col is not None else [])))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    first_t = F.first("__ch", ignorenulls=True).over(w)
    last_t = F.last("__ch", ignorenulls=True).over(w)
    n_t = F.sum(F.when(F.col("__ch").isNotNull(), 1).otherwise(0)).over(w)
    return (
        tagged.select(
            "user", "ts", "__ty",
            first_t.alias("first_touch"),
            last_t.alias("last_touch"),
            n_t.cast("long").alias("n_touches"),
        )
        .filter(F.col("__ty") == str(conversion_type))
        .drop("__ty")
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    ratios: dict[str, float] | None = None,
    alpha: str = "0.001",
    max_arms: int = 1000,
) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate that
    must pass BEFORE any A/B readout is believed (Fabijan et al., KDD
    2019: a biased split invalidates funnel_ab_test/retention_ab_test
    no matter how significant they look). Counts DISTINCT units per
    arm (an exposure event counted twice is itself an SRM smell),
    compares against ``ratios`` (arm -> expected weight; default =
    equal split over the observed arms), and grades Pearson's chi-2
    sum((o-e)^2/e) against the published critical value at ``alpha``
    (default 0.001, the SRM paging convention) with df = arms - 1.

    Returns one row per arm: (arm, users, expected_users, ratio,
    expected_ratio, chi2, df, srm) — the scalars repeated per row so
    the frame is self-contained. All ratios are integer/double in one
    fixed operation order, rounded 6dp terminally.

    Scale shape: ONE countDistinct aggregate over the exposure log is
    the only data-sized shuffle; everything after runs on the
    arm-count-sized frame (guarded by ``max_arms``) with 1-row
    broadcast totals. The arm list is collected once off the
    checkpointed aggregate (the sanctioned bounded meta-read) to
    validate ``ratios`` coverage — an arm in the data with no
    expected weight raises instead of silently vanishing from the
    test exactly when its presence IS the mismatch. The converse —
    a PLANNED arm that received zero units — is kept in the test by
    left-joining from the expected-ratio frame with users coalesced
    to 0, so its (0-e)^2/e term (the largest possible component)
    lands in the chi-square and the arm emits a row."""
    unit, arm = F.col(unit_col), F.col(arm_col)
    cnt = (
        df.filter(unit.isNotNull() & arm.isNotNull())
        .groupBy(arm.cast("string").alias("arm"))
        .agg(F.countDistinct(unit).cast("long").alias("users"))
    )
    # r13 session 5: an observe() ride (collect_list on the checkpoint
    # job) was interleaved-A/B'd here and read consistently ~10% WORSE
    # (1.35/1.30/1.19 s → 1.47/1.46/1.35 across 3 alternations): the
    # Observation.get listener-bus wait costs more than this collect —
    # a ≤max_arms-row read off already-pinned local blocks. The
    # observe-ride boundary refined again: it beats a separate job
    # that re-aggregates; it loses to a tiny straight collect.
    cnt = eager_checkpoint(cnt)
    observed = [r["arm"] for r in cnt.select("arm").collect()]
    if len(observed) > max_arms:
        raise ValueError(
            f"srm_check: {len(observed)} arms (max_arms={max_arms}) — "
            "the arm column looks like a unit id, not an assignment")
    if len(observed) < 2:
        raise ValueError("srm_check needs at least two observed arms")
    if ratios is None:
        ratios = {a: 1.0 for a in observed}
    else:
        ratios = {str(a): float(w) for a, w in ratios.items()}
        if any(w <= 0 for w in ratios.values()):
            raise ValueError("srm_check: expected weights must be > 0")
        missing = sorted(set(observed) - set(ratios))
        if missing:
            raise ValueError(
                f"srm_check: arms {missing} observed but absent from "
                "ratios — an unplanned arm is itself a mismatch")
    sw = float(sum(ratios.values()))
    spark = df.sparkSession
    exp = local_table(spark,
        [(a, float(w)) for a, w in sorted(ratios.items())],
        "arm string, w double")
    tot = cnt.agg(F.sum("users").cast("long").alias("n"))
    # LEFT join FROM the planned-arm frame: an arm with an expected
    # weight but zero observed units must still contribute (0-e)^2/e
    # — dropping it (inner join) silences the gate exactly in the
    # most severe mismatch case
    j = (
        exp.join(F.broadcast(cnt), "arm", "left")
        .withColumn(
            "users", F.coalesce(F.col("users"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(tot))  # 1-row total
    )
    e = F.col("n") * (F.col("w") / F.lit(sw))
    comp = (F.col("users") - e) * (F.col("users") - e) / e
    staged = j.select(
        "arm", "users", "n",
        F.round(e, 6).alias("expected_users"),
        F.round(F.col("users") / F.col("n"), 6).alias("ratio"),
        F.round(F.col("w") / F.lit(sw), 6).alias("expected_ratio"),
        comp.alias("__comp"),
    )
    # fold the per-arm components in arm order: a plain SUM of doubles
    # is accumulation-order-dependent; the sorted fold is one fixed
    # IEEE order shared with the oracle's list_reduce
    chi = staged.agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(
                    F.struct(F.col("arm"), F.col("__comp").alias("c")))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ),
            6,
        ).alias("chi2"))
    dof = len(ratios) - 1
    crit = chi2_critical(dof, alpha)
    return (
        staged.drop("__comp", "n")
        .crossJoin(F.broadcast(chi))  # 1-row statistic
        .select(
            "arm", "users", "expected_users", "ratio", "expected_ratio",
            "chi2", F.lit(dof).cast("int").alias("df"),
            (F.col("chi2") > F.lit(crit)).alias("srm"),
        )
    )


def user_period_metrics(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    split_ts: str,
) -> DataFrame:
    """Per-user pre/post period metric pair — the CUPED input builder:
    ``pre`` = the user's value sum strictly before ``split_ts`` (the
    pre-experiment covariate), ``post`` = the sum at/after it (the
    experiment metric). Users active in only one period keep a 0.0 in
    the other (a user with no pre-period signal is still a unit).

    ONE hash aggregate keyed on the user column — the same shuffle
    every downstream per-user join reuses. Sums accumulate as integer
    micro-units in decimal(38,0) (``_moments``: exact, order-independent
    across engines) and convert to doubles once, so the CUPED moments
    downstream see deterministic inputs."""
    u, t = F.col(user_col), F.col(ts_col)
    mv = micro(F.col(value_col))
    before = t.cast("timestamp") < F.to_timestamp(F.lit(split_ts))
    return (
        df.filter(u.isNotNull() & t.isNotNull()
                  & F.col(value_col).isNotNull())
        .groupBy(u.alias(user_col))
        .agg(*moments(before, None, pre=mv), *moments(~before, None, post=mv))
        .withColumns({
            c: F.round(F.coalesce(c, F.lit(0)).cast("double") / F.lit(1e6), 6)
            for c in ("pre", "post")})
    )


def cuped_ab_test(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    covariate_col: str,
    arm_a: str,
    arm_b: str,
) -> DataFrame:
    """CUPED-adjusted two-arm comparison (Deng, Xu, Kohavi & Walker,
    WSDM 2013): on a per-unit frame (one row per unit: arm, metric Y,
    pre-experiment covariate X), fit theta = cov(X,Y)/var(X) on the
    POOLED two-arm data (randomization makes X independent of
    assignment, so pooling is unbiased), adjust Y' = Y - theta*(X -
    mean(X)), and z-test both the raw and the adjusted means. The
    adjusted test needs up to 1/(1-rho^2) FEWER units for the same
    power — the variance-reduction readout var_reduction quantifies
    exactly that.

    Returns ONE row: (users_a, users_b, theta, mean_a, mean_b,
    mean_a_adj, mean_b_adj, diff, diff_adj, se, se_adj, z, z_adj,
    var_reduction_a, var_reduction_b, significant) — significant
    grades |z_adj| > 1.96 (alpha = 0.05 two-sided). A constant
    covariate (var X = 0) yields theta NULL and the adjusted columns
    fall back to the raw ones (CUPED has nothing to remove).

    Determinism: every moment (sums of Y, X, XY, XX, YY per arm)
    accumulates as micro-unit integers in decimal(38,0) — the
    corr_matrix overflow posture — via ONE conditional-aggregation
    pass (no join, no second scan); the double arithmetic after is
    one fixed operation order shared with the DuckDB oracle, rounded
    6dp terminally. Scale shape: a single scan of the unit frame into
    a 1-row result."""
    a, b = str(arm_a), str(arm_b)
    arm = F.col(arm_col).cast("string")
    y = micro(F.col(metric_col))
    x = micro(F.col(covariate_col))
    base = df.filter(
        arm.isin(a, b)
        & F.col(metric_col).isNotNull() & F.col(covariate_col).isNotNull()
    )
    m = base.agg(
        *moments(arm == a, "n_a", sy_a=y, sx_a=x, sxy_a=(x, y),
                 sxx_a=(x, x), syy_a=(y, y)),
        *moments(arm == b, "n_b", sy_b=y, sx_b=x, sxy_b=(x, y),
                 sxx_b=(x, x), syy_b=(y, y)))

    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    sy, sx = F.col("sy_a") + F.col("sy_b"), F.col("sx_a") + F.col("sx_b")
    sxy, sxx = F.col("sxy_a") + F.col("sxy_b"), F.col("sxx_a") + F.col("sxx_b")
    # pooled theta: the micro^2 factors cancel in the ratio
    covp = spread(n, sx, sy, sxy)
    varp = spread(n, sx, sx, sxx)
    theta = F.when(varp > 0, covp / varp)
    mean_x = mean(n, sx)

    def adjusted(tag: str):
        nn = F.col(f"n_{tag}")
        syt, sxt = F.col(f"sy_{tag}"), F.col(f"sx_{tag}")
        mean_y = mean(nn, syt)
        mean_xa = mean(nn, sxt)
        var_y = sample_var(nn, syt, F.col(f"syy_{tag}"))
        var_x = sample_var(nn, sxt, F.col(f"sxx_{tag}"))
        cov = sample_cov(nn, sxt, syt, F.col(f"sxy_{tag}"))
        mean_adj = F.when(
            theta.isNotNull(), mean_y - theta * (mean_xa - mean_x)
        ).otherwise(mean_y)
        var_adj = F.when(
            theta.isNotNull(),
            var_y - F.lit(2.0) * theta * cov + theta * theta * var_x,
        ).otherwise(var_y)
        return mean_y, mean_adj, var_y, var_adj

    mya, maa, vya, vaa = adjusted("a")
    myb, mab, vyb, vab = adjusted("b")
    se = F.sqrt(vya / n_a + vyb / n_b)
    se_adj = F.sqrt(
        F.greatest(vaa, F.lit(0.0)) / n_a
        + F.greatest(vab, F.lit(0.0)) / n_b)
    z = F.when(se > 0, F.round((mya - myb) / se, 6))
    z_adj = F.when(se_adj > 0, F.round((maa - mab) / se_adj, 6))
    return m.select(
        n_a.alias("users_a"), n_b.alias("users_b"),
        F.round(theta, 6).cast("double").alias("theta"),
        F.round(mya, 6).alias("mean_a"), F.round(myb, 6).alias("mean_b"),
        F.round(maa, 6).alias("mean_a_adj"),
        F.round(mab, 6).alias("mean_b_adj"),
        F.round(mya - myb, 6).alias("diff"),
        F.round(maa - mab, 6).alias("diff_adj"),
        F.round(se, 6).alias("se"), F.round(se_adj, 6).alias("se_adj"),
        z.cast("double").alias("z"), z_adj.cast("double").alias("z_adj"),
        F.when(vya > 0, F.round(F.lit(1.0) - vaa / vya, 6))
        .cast("double").alias("var_reduction_a"),
        F.when(vyb > 0, F.round(F.lit(1.0) - vab / vyb, 6))
        .cast("double").alias("var_reduction_b"),
        F.when(z_adj.isNotNull(), F.abs(z_adj) > F.lit(1.96))
        .alias("significant"),
    )


def acf(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    max_lag: int = 24,
    max_cells: int = 100_000,
) -> DataFrame:
    """Sample autocorrelation function per key over a bucketed series
    (Box & Jenkins 1970) — the seasonality/memory detector that tells
    you WHICH lag matters before you configure rolling windows or
    Holt-Winters periods: r_k = sum((x_t - mu)(x_{t+k} - mu)) /
    sum((x_t - mu)^2) with mu the full-series mean, for k = 1..max_lag.
    Feed it the :func:`resample` grid; gaps are handled by
    pairwise deletion (a (t, t+k) pair contributes only when both
    cells exist — on a filled grid this is exactly the textbook
    estimator). Returns (key, lag, n_pairs, acf) for lags with at
    least one pair; a constant series (zero variance) carries NULL
    acf.

    Determinism: EVERY per-lag sum is an exact integer — the
    cross-products (micro^2 units) and the head/tail micro sums all
    accumulate in decimal(38,0) inside the fold — so no double is
    ever summed in engine order; the handful of double ops after are
    one fixed order shared with the oracle (whose integer sums a
    plain self-join can reproduce, any order). Scale shape: one hash
    aggregate per key (cells bounded by ``max_cells``), one
    O(cells * max_lag) scan-side fold per key over the exploded lag
    column, map lookups against the key's own cell map; no window
    functions, no self-join shuffle."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    key, b, v = F.col(key_col), F.col(bucket_col), F.col(value_col)
    mv = micro(v)
    per_key = (
        df.filter(key.isNotNull() & b.isNotNull() & v.isNotNull())
        .groupBy(key.alias("__k"))
        .agg(
            F.sort_array(F.collect_list(F.struct(
                b.cast("long").alias("b"), mv.alias("m"),
            ))).alias("__cells"),
            *moments(None, "__n", __s=mv, __ss=(mv, mv)),
        )
    )
    per_key = _guard_cells(per_key, F.col("__n"), max_cells, "acf")
    # r13 rewrite (guide §1.2 "the distributed algorithm" + §7.2 plan
    # reading): the r12 shape exploded lag FIRST and folded per
    # (key, lag) row with element_at(map) partner lookups — a LINEAR
    # scan of the key's cell map per fold step, O(cells² · lag) per
    # key — and the `np > 0` filter referenced the fold output as an
    # EXPRESSION, so Catalyst collapsed filter+project into evaluating
    # the entire fold TWICE per row (both visible in
    # plans/r13/events_acf_before.txt). Now all max_lag folds are
    # computed in ONE transform() whose array the Generate explodes —
    # downstream filter/project reference the generator's output
    # attribute, single evaluation — and on a CONSECUTIVE grid (the
    # resample fill contract; verified per key in O(cells)) the
    # partner at lag k is cells[i+k] by INDEX, an O(1) array access.
    # Sparse/gapped series keep the exact map-lookup fold as the
    # fallback branch. Integer sums in a fixed iteration order both
    # ways — bit-identical results.
    c = F.col("__cells")
    n_ = F.col("__n")
    consec = F.when(n_ <= 1, F.lit(True)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), (n_ - 1).cast("int")),
            F.lit(True),
            lambda acc, i: acc
            & (F.element_at(c, i + 1)["b"] == F.element_at(c, i)["b"] + 1),
        )
    )
    staged = per_key.select(
        "__k", "__cells", "__n", "__s", "__ss", consec.alias("__dense"),
    )

    dec0 = F.lit(0).cast(DEC)
    init = F.struct(
        dec0.alias("s2"),
        dec0.alias("aa"),
        dec0.alias("bb"),
        F.lit(0).cast("long").alias("np"),
    )

    def dense_fold(lag):
        cnt = F.greatest(n_ - lag.cast("long"), F.lit(0).cast("long"))
        idxs = F.when(cnt > 0, F.sequence(F.lit(1), cnt.cast("int"))).otherwise(
            F.array().cast("array<int>")
        )

        def step(acc, i):
            x = F.element_at(c, i)["m"]
            y = F.element_at(c, i + lag)["m"]
            return F.struct(
                (acc["s2"] + product(x, y)).alias("s2"),
                (acc["aa"] + x.cast(DEC)).alias("aa"),
                (acc["bb"] + y.cast(DEC)).alias("bb"),
                (acc["np"] + F.lit(1)).cast("long").alias("np"),
            )

        return F.aggregate(idxs, init, step)

    def sparse_fold(lag):
        m = F.map_from_entries(c)

        def step(acc, cell):
            # the partner cell `lag` buckets ahead, if the grid has it
            p = F.element_at(m, cell["b"] + lag.cast("long"))
            hit = p.isNotNull()
            return F.struct(
                (acc["s2"] + F.when(hit, product(cell["m"], p))
                 .otherwise(dec0)).alias("s2"),
                (acc["aa"] + F.when(hit, cell["m"].cast(DEC))
                 .otherwise(dec0)).alias("aa"),
                (acc["bb"] + F.when(hit, p.cast(DEC))
                 .otherwise(dec0)).alias("bb"),
                (acc["np"] + F.when(hit, F.lit(1)).otherwise(F.lit(0)))
                .cast("long").alias("np"),
            )

        return F.aggregate(c, init, step)

    lag_structs = F.transform(
        F.sequence(F.lit(1), F.lit(int(max_lag))),
        lambda lag: F.struct(
            lag.alias("lag"),
            F.when(F.col("__dense"), dense_fold(lag))
            .otherwise(sparse_fold(lag)).alias("f"),
        ),
    )
    folded = (
        staged.select(
            "__k", "__n", "__s", "__ss",
            F.explode(lag_structs).alias("__lf"),
        )
        .select(
            "__k", "__n", "__s", "__ss",
            F.col("__lf.lag").alias("lag"), F.col("__lf.f").alias("__f"),
        )
        .filter(F.col("__f.np") > 0)
    )
    n = F.col("__n").cast("double")
    mu = mean(F.col("__n"), F.col("__s"))
    den = F.col("__ss").cast("double") / F.lit(1e12) - n * mu * mu
    num = (
        F.col("__f.s2").cast("double") / F.lit(1e12)
        - mu * ((F.col("__f.aa") + F.col("__f.bb")).cast("double")
                / F.lit(1e6))
        + F.col("__f.np").cast("double") * mu * mu
    )
    return folded.select(
        F.col("__k").alias(key_col),
        F.col("lag").cast("int").alias("lag"),
        F.col("__f.np").alias("n_pairs"),
        (F.when(den > 0, F.round(num / den, 6)) + F.lit(0.0))
        .cast("double").alias("acf"),
    )


def holt_forecast(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 6,
    max_cells: int = 100_000,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing with an
    h-step-ahead forecast per key (Holt 1957, reprinted IJF 2004) —
    the capacity-planning readout the monitoring family leads to:
    level l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1}), trend
    b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}, initialized
    l_1 = x_1, b_1 = x_2 - x_1 (0 for single-cell keys). Feed the
    :func:`resample` grid (buckets in grid units; the recursion
    treats consecutive cells as consecutive steps, so fill gaps
    first).

    Returns one row per observed cell PLUS ``horizon`` future rows
    per key: (key, bucket, value, level, trend, forecast) — on
    observed rows ``forecast`` is the one-step-ahead prediction
    l_{t-1} + b_{t-1} (NULL at t = 1; compare with ``value`` for
    in-sample error), on future rows value/level/trend are NULL and
    ``forecast`` = l_n + h*b_n. Doubles round 6dp terminally; the
    recursion runs unrounded in the IDENTICAL operation order as the
    DuckDB recursive-CTE oracle.

    Scale shape: one hash aggregate per key (``max_cells``-guarded),
    ONE scan-side fold per key, horizon rows appended by a transform
    over a constant sequence; no window functions. NOTE the fold
    emits its per-step rows by array append, so work per key is
    quadratic in cells-per-key (fine for real resample grids — 10k
    hourly cells ≈ 10^8 element copies; a key approaching the
    ``max_cells`` ceiling should be resampled to a coarser grid
    first — the recursion itself is inherently sequential, so a
    cumsum window cannot replace it the way spearman_corr's rank
    map was delinearized)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    if horizon < 0:
        raise ValueError(f"horizon must be >= 0, got {horizon}")
    aa, bb_ = float(alpha), float(beta)
    key, b, v = F.col(key_col), F.col(bucket_col), F.col(value_col)
    per_key = (
        df.filter(key.isNotNull() & b.isNotNull() & v.isNotNull())
        .groupBy(key.alias("__k"))
        .agg(
            F.sort_array(F.collect_list(F.struct(
                b.cast("long").alias("b"), v.cast("double").alias("v"),
            ))).alias("__cells"),
            F.count("*").cast("long").alias("__n"),
        )
    )
    per_key = _guard_cells(per_key, F.col("__n"), max_cells, "holt_forecast")
    cells = F.col("__cells")
    b1 = F.when(
        F.col("__n") >= 2,
        F.element_at(cells, 2)["v"] - F.element_at(cells, 1)["v"],
    ).otherwise(F.lit(0.0))
    staged = per_key.select("__k", "__cells", b1.alias("__b1"))

    row_t = ("array<struct<b:long,v:double,l:double,tr:double,"
             "fc:double>>")

    def step(acc, c):
        first = acc["i"] == 0
        fc = acc["l"] + acc["tr"]
        l_new = F.when(first, c["v"]).otherwise(
            F.lit(aa) * c["v"] + F.lit(1.0 - aa) * fc)
        tr_new = F.when(first, F.col("__b1")).otherwise(
            F.lit(bb_) * (l_new - acc["l"]) + F.lit(1.0 - bb_) * acc["tr"])
        return F.struct(
            F.concat(
                acc["out"],
                F.array(F.struct(
                    c["b"].alias("b"), c["v"].alias("v"),
                    l_new.alias("l"), tr_new.alias("tr"),
                    F.when(~first, fc).alias("fc"),
                )),
            ).alias("out"),
            l_new.alias("l"), tr_new.alias("tr"),
            (acc["i"] + F.lit(1)).alias("i"),
        )

    init = F.struct(
        F.array().cast(row_t).alias("out"),
        F.lit(0.0).alias("l"), F.lit(0.0).alias("tr"),
        F.lit(0).cast("int").alias("i"),
    )
    folded = staged.select(
        "__k", F.aggregate(cells, init, step).alias("__f"))
    fit = F.col("__f.out")
    last = F.element_at(fit, -1)
    future = F.transform(
        F.sequence(F.lit(1), F.lit(int(horizon))),
        lambda h: F.struct(
            (last["b"] + h.cast("long")).alias("b"),
            F.lit(None).cast("double").alias("v"),
            F.lit(None).cast("double").alias("l"),
            F.lit(None).cast("double").alias("tr"),
            (F.col("__f.l") + h.cast("double") * F.col("__f.tr"))
            .alias("fc"),
        ),
    ) if horizon > 0 else F.array().cast(row_t)
    out = folded.select(
        "__k", F.explode(F.concat(fit, future)).alias("__c"))
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__c.b").alias("bucket"),
        F.col("__c.v").alias("value"),
        # + 0.0 normalizes IEEE negative zero (a trend crossing zero
        # rounds to -0.0, which engines format differently)
        (F.round(F.col("__c.l"), 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("__c.tr"), 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.col("__c.fc"), 6) + F.lit(0.0)).alias("forecast"),
    )


def ratio_ab_test(
    df: DataFrame,
    arm_col: str,
    num_col: str,
    den_col: str,
    arm_a: str,
    arm_b: str,
) -> DataFrame:
    """Delta-method A/B test for a RATIO metric (Deng, Knoblich & Lu,
    KDD 2018): clicks-per-view, revenue-per-session — metrics whose
    numerator and denominator both vary per unit, where the naive
    "treat the ratio as a mean" variance is simply wrong (units are
    the randomization grain, not views). Per arm, R = sum(x)/sum(y)
    and var(R) ~ (vx + R^2*vy - 2*R*cov) / (n * my^2) via the first-
    order Taylor expansion of X̄/Ȳ around the means. Returns ONE row:
    (users_a, users_b, ratio_a, ratio_b, diff, se, z, significant).

    One conditional-aggregation scan of micro-integer decimal(38,0)
    moments (x, y, xx, yy, xy per arm — the cuped_ab_test posture, no
    join); the delta arithmetic after is one fixed double order. A
    zero denominator sum or degenerate variance yields NULL z."""
    a, b = str(arm_a), str(arm_b)
    arm = F.col(arm_col).cast("string")
    x = micro(F.col(num_col))
    y = micro(F.col(den_col))
    base = df.filter(
        arm.isin(a, b) & F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull())
    m = base.agg(
        *moments(arm == a, "n_a", sx_a=x, sy_a=y, sxx_a=(x, x),
                 syy_a=(y, y), sxy_a=(x, y)),
        *moments(arm == b, "n_b", sx_b=x, sy_b=y, sxx_b=(x, x),
                 syy_b=(y, y), sxy_b=(x, y)))

    def delta(tag: str):
        nn = F.col(f"n_{tag}")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        nd = nn.cast("double")
        r = F.when(sy.cast("double") != 0,
                   sx.cast("double") / sy.cast("double"))
        my = mean(nn, sy)
        vx = sample_var(nn, sx, F.col(f"sxx_{tag}"))
        vy = sample_var(nn, sy, F.col(f"syy_{tag}"))
        cov = sample_cov(nn, sx, sy, F.col(f"sxy_{tag}"))
        var_r = F.when(
            r.isNotNull() & (my != 0),
            (vx + r * r * vy - F.lit(2.0) * r * cov)
            / (nd * my * my))
        return nn, r, var_r

    na, ra, va = delta("a")
    nb, rb, vb = delta("b")
    # var_r is already the variance OF THE RATIO ESTIMATE (the /n
    # lives inside delta), so the arm variances combine directly
    se = F.when(
        va.isNotNull() & vb.isNotNull(),
        F.sqrt(F.greatest(va + vb, F.lit(0.0))))
    z = F.when(se > 0, F.round((ra - rb) / se, 6))
    return m.select(
        na.alias("users_a"), nb.alias("users_b"),
        F.round(ra, 6).cast("double").alias("ratio_a"),
        F.round(rb, 6).cast("double").alias("ratio_b"),
        F.round(ra - rb, 6).cast("double").alias("diff"),
        F.round(se, 6).cast("double").alias("se"),
        z.cast("double").alias("z"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def msprt_ab_test(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    arm_a: str,
    arm_b: str,
    tau: float = 1.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Always-valid sequential A/B test via the mixture sequential
    probability ratio test (Johari, Pekelis & Walsh, 2017 — the "peeking
    problem" fix): the normal-mixture likelihood ratio over the mean
    difference, Lambda = sqrt(V/(V + tau^2)) * exp(d^2 * tau^2 /
    (2 * V * (V + tau^2))) with V = va/na + vb/nb, gives an
    always-valid p-value p = min(1, 1/Lambda) that stays valid under
    CONTINUOUS MONITORING — an experimenter can read it every hour
    without inflating false positives, unlike the fixed-horizon z test
    it complements. ``tau`` is the mixture scale (set it near the
    effect size worth detecting, in metric units). Returns ONE row:
    (users_a, users_b, mean_a, mean_b, diff, v, log_lambda,
    p_always_valid, significant).

    The same one-scan micro-integer moments as welch_t_test; the
    mixture arithmetic runs on log Lambda (exp overflows exactly when
    the evidence is overwhelming) in one fixed double order:
    p = exp(-log Lambda) clamped to 1. Degenerate V = 0 yields NULL."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    a, b = str(arm_a), str(arm_b)
    g = F.col(arm_col).cast("string")
    mv = micro(F.col(metric_col))
    base = df.filter(g.isin(a, b) & F.col(metric_col).isNotNull())
    m = base.agg(
        *moments(g == a, "n_a", s_a=mv, ss_a=(mv, mv)),
        *moments(g == b, "n_b", s_b=mv, ss_b=(mv, mv)))
    na, nb = F.col("n_a"), F.col("n_b")
    ma, mb = mean(na, F.col("s_a")), mean(nb, F.col("s_b"))
    va = sample_var(na, F.col("s_a"), F.col("ss_a"))
    vb = sample_var(nb, F.col("s_b"), F.col("ss_b"))
    v = va / na.cast("double") + vb / nb.cast("double")
    d = ma - mb
    t2 = float(tau) * float(tau)
    log_lam = F.when(
        v > 0,
        F.lit(0.5) * F.log(v / (v + F.lit(t2)))
        + d * d * F.lit(t2) / (F.lit(2.0) * v * (v + F.lit(t2))))
    p = F.when(log_lam.isNotNull(),
               F.least(F.lit(1.0), F.exp(-log_lam)))
    return m.select(
        na.alias("users_a"), nb.alias("users_b"),
        F.round(ma, 6).alias("mean_a"), F.round(mb, 6).alias("mean_b"),
        F.round(d, 6).alias("diff"),
        F.round(v, 6).cast("double").alias("v"),
        F.round(log_lam, 6).cast("double").alias("log_lambda"),
        F.round(p, 6).cast("double").alias("p_always_valid"),
        F.when(p.isNotNull(), p < F.lit(float(alpha)))
        .alias("significant"),
    )
