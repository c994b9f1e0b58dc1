"""Numeric column operators: outlier flagging and feature scaling.

Both follow the broadcast-scalar pattern: ONE aggregate computes the
per-column statistics (mean/stddev or quartiles; percentile-based ops
take ``exact=False`` to switch from exact type-7 percentiles to
approx_percentile's bounded-state t-digest at extreme scale), the
scalars ride a broadcast 1-row cross join, and the flag/scale itself is
a pure scan-side expression — zero corpus shuffle, whole-stage
codegen."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, _state
from wrangler_spark.datapipe._local import local_table
from wrangler_spark.datapipe._moments import (
    DEC, mean, micro, moments, sample_var, spread,
)


def _pctl(col: str, p: float, exact: bool, accuracy: int):
    """Exact type-7 percentile (the lp-buckets cross-engine contract)
    or the t-digest approx_percentile. Exact buffers EVERY value of the
    column in one aggregation buffer — fine to ~10^8 rows, a driver OOM
    at 100 TB; ``exact=False`` is the scale path (bounded state, same
    one-aggregate plan shape), at the cost of bit-exact oracle parity."""
    if exact:
        return F.expr(f"percentile({col}, {p})")
    return F.expr(f"approx_percentile({col}, {p}, {int(accuracy)})")


def join_group_stats(df: DataFrame, stats: DataFrame, by: list[str]) -> DataFrame:
    """Null-safe per-group stats join-back — the ONE idiom shared by
    scale_column, flag_outliers and curation.keep_top_frac. The stats
    frame's key columns are renamed before the join because stats always
    derive FROM df here, and once more than one derivation separates
    them, ``df[k].eqNullSafe(stats[k])`` can resolve both sides to the
    SAME attribute (Spark's ambiguous-self-join trap — the grouped-MAD
    path hit it as a trivially-true predicate). eqNullSafe keeps
    null-group rows: they join their own group's stats. Returns df's
    rows + the stats columns."""
    stat_cols = [f.name for f in stats.schema.fields if f.name not in by]
    st = stats.select(*[F.col(k).alias(f"__k_{k}") for k in by], *stat_cols)
    cond = None
    for k in by:
        eq = df[k].eqNullSafe(F.col(f"__k_{k}"))
        cond = eq if cond is None else cond & eq
    return df.join(st, cond).drop(*[f"__k_{k}" for k in by])


def flag_outliers(
    df: DataFrame, col: str, method: str = "zscore", k: float = 3.0,
    out_col: str | None = None, exact: bool = True, accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Flag numeric outliers: ``zscore`` marks |x - mean| > k·stddev
    (population stddev, the classic 3-sigma rule), ``iqr`` marks values
    outside [Q1 - k·IQR, Q3 + k·IQR] (Tukey's fences, k=1.5 customary —
    pass it explicitly), ``mad`` marks |x - median| > k·1.4826·MAD
    (median absolute deviation with the normal-consistency constant —
    Iglewicz & Hoaglin's robust rule, k=3.5 customary; unlike zscore,
    a 50% contamination cannot drag the threshold). Adds
    ``<col>_outlier`` boolean; nulls flag false (a missing value is a
    missingness problem, not an outlier).

    Quartiles are exact type-7 percentiles (the lp-buckets contract) so
    the DuckDB oracle reproduces them bit-for-bit; ``exact=False``
    switches to approx_percentile (bounded aggregation state — the
    extreme-scale path, same knob as perplexity_buckets).

    ``by`` computes the fences WITHIN each group (per-source/per-language
    thresholds — a heavy-tailed source must not set every other source's
    fence): stats become a per-group aggregate joined back null-safely,
    the scale_column(by=) shape."""
    out_col = out_col or f"{col}_outlier"
    c = F.col(col).cast("double")

    def _agg(frame, exprs):
        return frame.groupBy(*by).agg(*exprs) if by else frame.agg(*exprs)

    if method == "zscore":
        stats = _agg(df, [
            F.avg(c).alias("__m"), F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias("__s")
        ])
        flag = c.isNotNull() & (F.abs(c - F.col("__m")) > F.lit(float(k)) * F.col("__s")) & (
            F.col("__s") > 0
        )
    elif method == "iqr":
        stats = _agg(df, [
            _pctl(col, 0.25, exact, accuracy).alias("__q1"),
            _pctl(col, 0.75, exact, accuracy).alias("__q3"),
        ])
        iqr = F.col("__q3") - F.col("__q1")
        flag = c.isNotNull() & (
            (c < F.col("__q1") - F.lit(float(k)) * iqr)
            | (c > F.col("__q3") + F.lit(float(k)) * iqr)
        )
    elif method == "mad":
        # two sequential broadcast-scalar aggregates (median, then the
        # median of |x - median|) — two corpus scans, zero corpus
        # shuffle, same shape per pass as the other methods
        med = _agg(df, [_pctl(col, 0.5, exact, accuracy).alias("__med")])
        if by:
            devs = join_group_stats(df, med, by).select(
                *by, F.col("__med"), F.abs(c - F.col("__med")).alias("__dev")
            )
        else:
            devs = df.crossJoin(F.broadcast(med)).select(
                F.col("__med"), F.abs(c - F.col("__med")).alias("__dev")
            )
        stats = _agg(devs, [
            F.min("__med").alias("__med"),
            _pctl("__dev", 0.5, exact, accuracy).alias("__mad"),
        ])
        flag = c.isNotNull() & (F.col("__mad") > 0) & (
            F.abs(c - F.col("__med")) > F.lit(float(k)) * F.lit(1.4826) * F.col("__mad")
        )
    else:
        raise ValueError(f"unknown outlier method: {method!r} (zscore|iqr|mad)")
    if by:
        stat_cols = [f.name for f in stats.schema.fields if f.name.startswith("__")]
        return join_group_stats(df, stats, by).withColumn(out_col, flag).drop(*stat_cols)
    joined = df.crossJoin(F.broadcast(stats))
    return joined.withColumn(out_col, flag).drop(*stats.columns)


def scale_column(
    df: DataFrame, col: str, method: str = "minmax", out_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Feature scaling: ``minmax`` → (x - min)/(max - min) in [0, 1],
    ``zscore`` → (x - mean)/stddev. Adds ``<col>_scaled`` (6dp — the
    cross-engine contract); constant columns scale to 0.0, nulls stay
    null.

    ``by`` scales WITHIN each group instead of globally — the
    mixed-source normalization (a quality score's range differs per
    source/language; global scaling lets one source's spread swamp
    another's). Stats become a per-group aggregate equi-joined back
    (null-safe on the keys so null-group rows keep their stats; the
    stats frame has one row per group, AQE broadcasts it when small)
    instead of the global broadcast scalar."""
    out_col = out_col or f"{col}_scaled"
    c = F.col(col).cast("double")
    if method == "minmax":
        aggs = [F.min(c).alias("__lo"), F.max(c).alias("__hi")]
        rng = F.col("__hi") - F.col("__lo")
        scaled = F.when(rng > 0, F.round((c - F.col("__lo")) / rng, 6)).otherwise(
            F.when(c.isNotNull(), F.lit(0.0))
        )
    elif method == "zscore":
        aggs = [F.avg(c).alias("__m"), F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias("__s")]
        scaled = F.when(F.col("__s") > 0, F.round((c - F.col("__m")) / F.col("__s"), 6)).otherwise(
            F.when(c.isNotNull(), F.lit(0.0))
        )
    else:
        raise ValueError(f"unknown scaling method: {method!r} (minmax|zscore)")
    if by:
        st = df.groupBy(*by).agg(*aggs)
        stat_cols = [f.name for f in st.schema.fields if f.name.startswith("__")]
        return join_group_stats(df, st, by).withColumn(out_col, scaled).drop(*stat_cols)
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    return joined.withColumn(out_col, scaled).drop(*stats.columns)


def winsorize_column(
    df: DataFrame, col: str, lo: float = 0.01, hi: float = 0.99,
    out_col: str | None = None, exact: bool = True, accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Winsorize: clip to the [lo, hi] percentile bounds — the
    robust-statistics companion to flag_outliers for when you want the
    rows KEPT but the tail influence capped (price columns, token
    counts feeding a mean). Adds ``<col>_wins`` (6dp); nulls stay
    null. Same one-aggregate + broadcast-scalar shape; ``exact=False``
    is the bounded-state scale path (approx_percentile). ``by`` clips
    within each group (per-source tails — the scale_column(by=) shape,
    null-safe join-back via join_group_stats)."""
    out_col = out_col or f"{col}_wins"
    c = F.col(col).cast("double")
    aggs = [
        _pctl(col, float(lo), exact, accuracy).alias("__plo"),
        _pctl(col, float(hi), exact, accuracy).alias("__phi"),
    ]
    clipped = F.when(
        c.isNotNull(),
        F.round(F.least(F.greatest(c, F.col("__plo")), F.col("__phi")), 6),
    )
    if by:
        st = df.groupBy(*by).agg(*aggs)
        return join_group_stats(df, st, by).withColumn(out_col, clipped).drop(
            "__plo", "__phi"
        )
    stats = df.agg(*aggs)
    return df.crossJoin(F.broadcast(stats)).withColumn(out_col, clipped).drop(
        "__plo", "__phi"
    )


def quantile_bins(
    df: DataFrame, col: str, n_bins: int = 10, out_col: str | None = None,
    exact: bool = True, accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Equi-depth binning: assign each value its quantile bucket 1..n
    (deciles by default) — the distribution-aware companion to the
    reference's fixed-range `quantize` directive (ref: Quantization.java
    takes explicit range:label pairs; here the ranges come from the data).
    The standard move before stratified sampling by popularity, mixture
    weighting by score, or histogram reporting at 100 TB.

    Bin b = 1 + #{boundaries < x} with boundaries at the i/n percentiles
    (i = 1..n-1, type-7 exact by default — the cross-engine contract;
    ``exact=False`` for bounded-state approx_percentile at extreme
    scale). Strictly-less comparison puts a value sitting exactly ON a
    boundary in the LOWER bin; equal boundary values (low-cardinality
    columns) collapse those bins to the lowest index, never dropping a
    row. Nulls stay null. One aggregate for the n-1 boundary scalars
    (broadcast), then a pure scan-side fold — zero corpus shuffle.
    ``by`` bins within each group (per-language quality deciles — a
    high-scoring language must not claim every global top bin); the
    boundary array joins back null-safely per group."""
    n = int(n_bins)
    if n < 2:
        raise ValueError("n_bins must be >= 2")
    out_col = out_col or f"{col}_bin"
    c = F.col(col).cast("double")
    ps = [i / n for i in range(1, n)]
    if exact:
        bounds = F.expr(f"percentile({col}, array({', '.join(str(p) for p in ps)}))")
    else:
        bounds = F.expr(
            f"approx_percentile({col}, array({', '.join(str(p) for p in ps)}), {int(accuracy)})"
        )
    bin_expr = F.when(
        c.isNotNull(),
        (
            F.lit(1)
            + F.aggregate(
                F.col("__bounds"),
                F.lit(0),
                lambda acc, b: acc + F.when(b < c, 1).otherwise(0),
            )
        ).cast("int"),
    )
    if by:
        st = df.groupBy(*by).agg(bounds.alias("__bounds"))
        return join_group_stats(df, st, by).withColumn(out_col, bin_expr).drop("__bounds")
    stats = df.agg(bounds.alias("__bounds"))
    return df.crossJoin(F.broadcast(stats)).withColumn(out_col, bin_expr).drop("__bounds")


# ---------------------------------------------------------------------------
# Mergeable log-bin quantile sketch.
#
# exact percentiles buffer every value (driver OOM at 100 TB) and
# approx_percentile's t-digest is neither deterministic across partial
# -merge orders nor mergeable across persisted batches. The log-spaced
# histogram is both: bin(v) = floor(log(v)/log(base)) is a pure scan
# expression, (bin, count) rows merge by summation — across partitions,
# across batches, across engines — and the quantile read is a selection
# over a few hundred bin rows. Guaranteed RELATIVE error: with
# base = (1+rel_err)^2 the reported geometric bin midpoint is within
# rel_err of any value in the bin. The cost structure every metrics
# system (Prometheus histograms, HDRHistogram, DDSketch — Masson et al.
# VLDB'19) settles on.
# ---------------------------------------------------------------------------

#: the zero bin — encoded as a sentinel long (not NULL) so bin ordering
#: is engine-portable without null-ordering conventions
ZERO_BIN = -(1 << 31)


def _log_bin(col, base: float):
    """floor(log(v)/log(base)) with a 9dp pre-round on the ratio so the
    last-ulp difference between engines' ln() can't flip a value sitting
    exactly on a bin edge into the neighboring bin (v=1 → ratio 0.0
    exactly; decimals are never exactly base^k for irrational-log
    bases). Zero gets its own sentinel bin; negatives are the caller's
    ValueError."""
    import math

    ratio = F.round(F.log(col.cast("double")) / F.lit(math.log(base)), 9)
    return F.when(col == 0, F.lit(ZERO_BIN)).otherwise(
        F.floor(ratio)
    ).cast("long")


def log_histogram(df: DataFrame, col: str, rel_err: float = 0.05) -> DataFrame:
    """(bin, count) log-spaced histogram of a non-negative column —
    the mergeable quantile state. One scan, one bounded aggregate
    (bin cardinality ≈ log(max/min)/log(base): ~600 bins cover 1e-9 to
    1e9 at 5%); nulls drop, negatives raise (sign-split the column
    yourself if you really have signed data)."""
    base = _hist_base(rel_err)
    c = F.col(col)
    neg = df.filter(c < 0).limit(1).count()
    if neg:
        raise ValueError(
            f"log_histogram({col!r}): negative values present — the "
            "log-bin sketch covers non-negative data")
    return (
        df.filter(c.isNotNull())
        .groupBy(_log_bin(c, base).alias("bin"))
        .agg(F.count("*").cast("long").alias("count"))
    )


def _hist_base(rel_err: float) -> float:
    if not 0.0 < rel_err < 1.0:
        raise ValueError(f"rel_err must be in (0, 1), got {rel_err}")
    return (1.0 + float(rel_err)) ** 2


def quantiles_from_histogram(
    hist: DataFrame, probs=(0.5, 0.9, 0.99), rel_err: float = 0.05,
) -> DataFrame:
    """Nearest-rank quantiles from a (bin, count) histogram: for each
    prob q, the smallest bin whose cumulative count reaches
    ceil(q * total), reported as the geometric bin midpoint
    base^(bin+0.5) rounded to 6dp (the zero bin reports 0.0). Returns
    (prob, value) rows.

    No window anywhere: the histogram aggregates to ONE row holding the
    sorted (bin, count) array — bounded state (~600 structs covers
    1e-9..1e9), the collect_list-over-an-aggregate shape, not a
    corpus collect — and the cumulative selection is a scan-side
    ``aggregate()`` fold over that array per prob row."""
    base = _hist_base(rel_err)
    for q in probs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"probs must be in (0, 1], got {q}")
    h = hist.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), F.col("count")))
        ).alias("__h"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("__tot"),
    )
    pf = local_table(hist.sparkSession,
        [(float(q),) for q in probs], "prob double"
    )
    rank = F.ceil(F.col("prob") * F.col("__tot"))
    init = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(None).cast("long").alias("b")
    )
    picked = F.aggregate(
        F.col("__h"),
        init,
        lambda acc, x: F.struct(
            (acc["cum"] + x["count"]).alias("cum"),
            F.coalesce(
                acc["b"],
                F.when(acc["cum"] + x["count"] >= rank, x["bin"]),
            ).alias("b"),
        ),
    )["b"]
    value = F.when(picked == ZERO_BIN, F.lit(0.0)).otherwise(
        F.pow(F.lit(base), picked + F.lit(0.5))
    )
    return (
        pf.crossJoin(F.broadcast(h))  # 1-row stats frame
        .select("prob", F.round(value, 6).alias("value"))
        .filter(F.col("value").isNotNull())
    )


def quantiles_sketched(
    df: DataFrame, col: str, probs=(0.5, 0.9, 0.99), rel_err: float = 0.05,
) -> DataFrame:
    """One-call mergeable-sketch quantiles: :func:`log_histogram` +
    :func:`quantiles_from_histogram`. (prob, value) rows; value within
    rel_err of the exact nearest-rank quantile, deterministically —
    independent of partitioning, partial-agg order, and engine."""
    return quantiles_from_histogram(
        log_histogram(df, col, rel_err), probs, rel_err
    )


def hist_update_state(
    df: DataFrame, path: str, col: str, rel_err: float = 0.05,
    batch_id: str = "",
) -> None:
    """Fold one batch's log-bin histogram into LOG-STRUCTURED quantile
    state: appends (bin, count, batch_id, rel_err) rows — O(batch)
    work, bins x batches state, never a history rescan (the
    vocab_update_state posture applied to numeric distributions: the
    nightly "p99 doc length" dashboard read stops rescanning the
    corpus). Bin counts merge exactly by summation, so
    :func:`quantiles_from_state` equals the one-shot
    :func:`quantiles_sketched` over the union of all batches — no
    additional merge error, ever.

    All batches must agree on ``rel_err`` (it defines the bin space —
    mixing bases would merge incompatible bins; checked against the
    state's stored value, loudly). Idempotence: a non-empty
    ``batch_id`` already folded makes the fold a NO-OP (the
    exactly-once replay contract, through the ``_layout`` replay
    ledger). Check + append hold the writer lease."""
    _hist_base(rel_err)  # validates rel_err before any write
    # built inside the fold: log_histogram's sign check is a Spark job,
    # which a replay must not run
    _state.fold(df.sparkSession, path, batch_id, _state.HIST,
                lambda _: log_histogram(df, col, rel_err),
                {"rel_err": float(rel_err)})


def hist_update_stream(
    stream: DataFrame, path: str, col: str, checkpoint: str,
    rel_err: float = 0.05, trigger: dict | None = None,
):
    """Fold a numeric STREAM into persisted quantile state — the stream
    edge of the quantile family's batch/state/stream triangle (the
    vocab_update_stream shape): micro-batch id = batch_id, so
    at-least-once foreachBatch replay yields exactly-once state."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: hist_update_state(b, path, col, rel_err, bid))


def hist_from_state(spark, path: str, version: int | None = None) -> DataFrame:
    """The merged (bin, count) histogram from quantile state — one
    sum-merge over bins x batches rows. ``version`` pins an older
    committed snapshot (compaction cadence = snapshot cadence). A path
    never folded raises ``ValueError`` (the state is empty)."""
    return _state.merge(_state.rows(spark, path, _state.HIST, version)[0], _state.HIST)


def quantiles_from_state(
    spark, path: str, probs=(0.5, 0.9, 0.99), version: int | None = None,
) -> DataFrame:
    """Quantiles reconstructed from persisted state: EXACTLY the
    one-shot :func:`quantiles_sketched` on the union of all ingested
    batches (bin counts merge by summation — no merge error), reading
    only the state rows."""
    rows, pins = _state.rows(spark, path, _state.HIST, version, with_pins=True)
    return quantiles_from_histogram(
        _state.merge(rows, _state.HIST), probs, pins["rel_err"])


def quantiles_sketched_by(
    df: DataFrame, col: str, by: str,
    probs=(0.5, 0.9, 0.99), rel_err: float = 0.05,
) -> DataFrame:
    """Per-group mergeable-sketch quantiles — "p99 doc length per
    source" in one pass: (by, prob, value) rows, same bin space and
    nearest-rank contract as :func:`quantiles_sketched`. One hash
    aggregate to (group, bin) counts, one more to a per-group sorted
    bin array (bounded: ~600 structs per group — never the group's
    rows), then the same scan-side selection fold per (group, prob).
    No windows; group count is the only cardinality that matters."""
    base = _hist_base(rel_err)
    for q in probs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"probs must be in (0, 1], got {q}")
    c = F.col(col)
    neg = df.filter(c < 0).limit(1).count()
    if neg:
        raise ValueError(
            f"quantiles_sketched_by({col!r}): negative values present — "
            "the log-bin sketch covers non-negative data")
    hist = (
        df.filter(c.isNotNull() & F.col(by).isNotNull())
        .groupBy(F.col(by).alias("__g"), _log_bin(c, base).alias("bin"))
        .agg(F.count("*").cast("long").alias("count"))
    )
    h = hist.groupBy("__g").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), F.col("count")))
        ).alias("__h"),
        F.sum("count").alias("__tot"),
    )
    pf = local_table(df.sparkSession,
        [(float(q),) for q in probs], "prob double"
    )
    rank = F.ceil(F.col("prob") * F.col("__tot"))
    init = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(None).cast("long").alias("b")
    )
    picked = F.aggregate(
        F.col("__h"),
        init,
        lambda acc, x: F.struct(
            (acc["cum"] + x["count"]).alias("cum"),
            F.coalesce(
                acc["b"],
                F.when(acc["cum"] + x["count"] >= rank, x["bin"]),
            ).alias("b"),
        ),
    )["b"]
    value = F.when(picked == ZERO_BIN, F.lit(0.0)).otherwise(
        F.pow(F.lit(base), picked + F.lit(0.5))
    )
    return (
        h.join(F.broadcast(pf))  # groups x probs — probs is a tiny literal frame
        .select(F.col("__g").alias(by), "prob", F.round(value, 6).alias("value"))
        .filter(F.col("value").isNotNull())
    )


def ks_from_histograms(ha: DataFrame, hb: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic from two (bin, count)
    histograms sharing a bin space: sup over bin boundaries of
    |CDF_a - CDF_b| (exact at bin granularity — the log-bin space makes
    that a relative-error granularity on the value axis). One row:
    (ks, n_a, n_b, ks_critical, drifted) with ks_critical the
    large-sample alpha=0.05 rejection bound
    1.358 * sqrt((n_a + n_b) / (n_a * n_b)) (Smirnov's asymptotic
    table) and drifted = ks > ks_critical.

    Scale shape: both inputs are already bounded bin frames (~600 rows
    for 1e-9..1e9 at 5%); a full-outer bin join, ONE one-row aggregate
    collecting the sorted merged bins, and a scan-side fold tracking
    (cum_a, cum_b, max |diff|). Cumulative counts are exact integers;
    each CDF difference is two integer/integer divisions — IEEE
    identical across engines — and the max is order-free, rounded 6dp
    once."""
    a = ha.select(F.col("bin"), F.col("count").alias("ca"))
    b = hb.select(F.col("bin"), F.col("count").alias("cb"))
    j = a.join(b, "bin", "full").select(
        "bin",
        F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"),
    )
    one = j.agg(
        F.sort_array(F.collect_list(F.struct("bin", "ca", "cb"))).alias("__m"),
        F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("n_b"),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("ca"),
        F.lit(0).cast("long").alias("cb"),
        F.lit(0.0).alias("mx"),
    )
    folded = F.aggregate(
        F.col("__m"),
        init,
        lambda acc, x: F.struct(
            (acc["ca"] + x["ca"]).alias("ca"),
            (acc["cb"] + x["cb"]).alias("cb"),
            F.greatest(
                acc["mx"],
                F.abs(
                    (acc["ca"] + x["ca"]) / F.col("n_a")
                    - (acc["cb"] + x["cb"]) / F.col("n_b")
                ),
            ).alias("mx"),
        ),
    )["mx"]
    ks = F.round(folded, 6)
    crit = F.round(
        F.lit(1.358)
        * F.sqrt((F.col("n_a") + F.col("n_b"))
                 / (F.col("n_a").cast("double") * F.col("n_b"))),
        6,
    )
    return one.select(
        ks.alias("ks"), "n_a", "n_b", crit.alias("ks_critical"),
        (ks > crit).alias("drifted"),
    )


def ks_drift(
    a: DataFrame, b: DataFrame, col: str, rel_err: float = 0.05,
) -> DataFrame:
    """Two-sample KS drift between two corpora over a non-negative
    numeric column — the nonparametric companion to
    curation.distribution_drift's PSI (PSI needs the 10-bin occupancy
    story; KS gives one defensible number with a rejection bound). Built
    on :func:`log_histogram`, so it also runs between two TIME-TRAVELED
    snapshots of persisted quantile state (hist_from_state(version=v1)
    vs v2) without touching either corpus."""
    return ks_from_histograms(
        log_histogram(a, col, rel_err), log_histogram(b, col, rel_err)
    )


def impute_column(
    df: DataFrame, col: str, strategy: str = "mean",
    by: list[str] | None = None, out_col: str | None = None,
    exact: bool = True, accuracy: int = 10000,
) -> DataFrame:
    """Fill a numeric column's NULLs from the data itself — mean /
    median / mode / a constant — optionally PER GROUP (impute a missing
    doc-quality score from its own source's distribution, not the
    corpus's). The numeric completion of fill-null-or-empty's
    constant-only semantics (ref: FillNullOrEmpty.java handles strings).

    Strategies: ``mean`` (micro-unit integer sum / count, the
    determinism contract), ``median`` (exact type-7 percentile, or the
    percentile_approx sketch with ``exact=False`` at scale), ``mode``
    (most frequent non-null value; count desc then value asc — the
    deterministic tie), or any float (a constant — scan-side, no
    aggregate at all). Imputed values round 6dp.

    Scale shape: one aggregate for the fill value (per group with
    ``by`` — the join_group_stats null-safe join-back, AQE-broadcast),
    then a scan-side coalesce. Groups whose every value is NULL stay
    NULL (nothing to impute from). All-NULL ungrouped columns likewise.
    ``out_col`` writes beside instead of replacing."""
    c = F.col(col)
    out = out_col or col
    if isinstance(strategy, (int, float)) and not isinstance(strategy, bool):
        return df.withColumn(
            out, F.coalesce(c, F.lit(float(strategy))).cast("double"))
    if strategy == "mean":
        s = F.sum(micro(c).cast(DEC))
        fill = F.round(mean(F.count(c), s), 6).alias("__fill")
        stats = (df.groupBy(*by) if by else df).agg(fill)
    elif strategy == "median":
        v = c.cast("double")
        if exact:
            fill = F.expr(f"percentile({col}, 0.5)")
        else:
            fill = F.percentile_approx(v, F.lit(0.5), F.lit(accuracy))
        stats = (df.groupBy(*by) if by else df).agg(
            F.round(fill, 6).alias("__fill"))
    elif strategy == "mode":
        counts = (
            df.filter(c.isNotNull())
            .groupBy(*(by or []), c.alias("__v"))
            .agg(F.count("*").alias("__n"))
        )
        best = counts.groupBy(*(by or [])).agg(
            F.max_by(
                F.col("__v"),
                F.struct(
                    F.col("__n").alias("n"),
                    # count desc, then SMALLEST value: negate for max_by
                    (-F.col("__v").cast("double")).alias("tie"),
                ),
            ).cast("double").alias("__fill")
        )
        stats = best
    else:
        raise ValueError(
            f"impute_column: unknown strategy {strategy!r} "
            "(mean | median | mode | a numeric constant)")
    if by:
        joined = join_group_stats(df, stats, list(by))
    else:
        joined = df.crossJoin(F.broadcast(stats))  # 1-row stats frame
    return joined.withColumn(
        out, F.coalesce(c.cast("double"), F.col("__fill"))
    ).drop("__fill")


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation matrix over a numeric column list in ONE
    aggregation pass — the redundancy check over quality signals
    (a 0.98-correlated pair of scores is one signal paid for twice).
    Returns (col_a, col_b, corr, n) for every unordered pair
    (col_a < col_b), corr rounded 6dp, n = rows where BOTH are
    non-null. Pairs constant on their common rows (zero variance)
    yield NULL.

    Determinism contract: every moment (sum, sum of squares, sum of
    products) accumulates as micro-unit integers in decimal(38,0) —
    pairwise-deletion means each PAIR carries its own moments — and
    corr = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²)) is
    computed from those exact integers with one fixed double operation
    order. O(k²) aggregate expressions for k columns, still one scan —
    keep the list to the dozens, not thousands.

    Magnitude bound: the ``datapipe/_moments.py`` one — |Sx| (the
    column's total micro-unit mass) below ~1e19. Past it, ANSI errors
    and non-ANSI nulls the pair — never a silently wrong corr."""
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    if len(set(cols)) != len(cols):
        raise ValueError("corr_matrix: duplicate columns")
    # project each column's micro conversion ONCE (the k² aggregates
    # below would otherwise each re-evaluate round(cast·1e6) — measured
    # meaningful at 6 decimal sums per pair)
    staged = df.select(*[
        micro(F.col(c)).alias(f"__c{j}") for j, c in enumerate(cols)
    ])
    midx = {c: f"__c{j}" for j, c in enumerate(cols)}
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    k = len(cols)
    # r13 (guide §1.2 per-task work): decimal(38,0) aggregation buffers
    # are BigDecimal-backed (no compact-long fast path above precision
    # 18), and the k(k−1)/2 · 6 pairwise-deletion moments made them the
    # whole cost of the scan (measured sf0.1, k=4: 3.4 s for the 36
    # pairwise aggregates vs 0.45 s for the scan itself). Pairwise
    # deletion only DIFFERS from shared per-column moments when some
    # row is null in one column of a pair and not the other — so when
    # every profiled column is null-free (the common shape for
    # quality-score tables) aggregate k·2 + k(k−1)/2 shared moments
    # instead of 6·k(k−1)/2 pairwise ones: identical integers by
    # construction (every `both` predicate is TRUE), same expression
    # types, bit-identical corr. Any null anywhere falls back to the
    # exact pairwise path unchanged.
    #
    # r13 session 5 (measured: the probe job alone was 0.5 s + a
    # scheduling round-trip next to a 2.0 s moment pass): the null
    # probe CARRIES the shared moments speculatively, so the null-free
    # path is ONE scan total — its collected moments feed the same
    # corr expressions through a 1-row LocalRelation (exact decimals;
    # Arrow carries decimal128 untouched). The nulls path re-runs the
    # exact pairwise aggregate as before and discards the speculative
    # shared moments — the documented trade: that path pays ~40% of
    # one extra pass, while the dominant null-free shape saves a full
    # scan + a scheduled job.
    sums = {}
    for j in range(k):
        cj = F.col(f"__c{j}")
        sums[f"__s{j}"], sums[f"__q{j}"] = cj, (cj, cj)
    for i, (a, b) in enumerate(pairs):
        sums[f"__x{i}"] = (F.col(midx[a]), F.col(midx[b]))
    shared_aggs = moments(None, "__nall", **sums)
    probe = staged.agg(
        *[F.sum(F.when(F.col(f"__c{j}").isNull(), 1).otherwise(0))
          .cast("long").alias(f"__nl{j}") for j in range(k)],
        *shared_aggs,
    ).collect()[0]
    no_nulls = all(probe[f"__nl{j}"] == 0 for j in range(k))
    if no_nulls:
        from wrangler_spark.datapipe._local import local_table

        names = ["__nall"] + [
            n for j in range(k) for n in (f"__s{j}", f"__q{j}")
        ] + [f"__x{i}" for i in range(len(pairs))]
        ddl = ", ".join(
            f"{n} {'long' if n == '__nall' else DEC}"
            for n in names
        )
        one = local_table(
            df.sparkSession, [tuple(probe[n] for n in names)], ddl)
    else:
        aggs = []
        for i, (a, b) in enumerate(pairs):
            ca, cb = F.col(midx[a]), F.col(midx[b])
            both = ca.isNotNull() & cb.isNotNull()
            ma = F.when(both, ca)
            mb = F.when(both, cb)
            aggs += moments(both, f"__n{i}") + moments(None, **{
                f"__sa{i}": ma, f"__sb{i}": mb, f"__saa{i}": (ma, ma),
                f"__sbb{i}": (mb, mb), f"__sab{i}": (ma, mb)})
        one = staged.agg(*aggs)
    jdx = {c: j for j, c in enumerate(cols)}
    rows = []
    for i, (a, b) in enumerate(pairs):
        if no_nulls:
            nn = F.col("__nall")
            sa, sb = F.col(f"__s{jdx[a]}"), F.col(f"__s{jdx[b]}")
            saa, sbb = F.col(f"__q{jdx[a]}"), F.col(f"__q{jdx[b]}")
            sab = F.col(f"__x{i}")
        else:
            nn = F.col(f"__n{i}")
            sa, sb = F.col(f"__sa{i}"), F.col(f"__sb{i}")
            saa, sbb, sab = F.col(f"__saa{i}"), F.col(f"__sbb{i}"), F.col(f"__sab{i}")
        cov = spread(nn, sa, sb, sab)
        va = spread(nn, sa, sa, saa)
        vb = spread(nn, sb, sb, sbb)
        corr = F.when(
            (va > 0) & (vb > 0),
            F.round(cov / F.sqrt(va * vb), 6),
        )
        rows.append(F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            corr.cast("double").alias("corr"),
            nn.cast("long").alias("n"),
        ))
    return one.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.col_a", "__r.col_b", "__r.corr", "__r.n")


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: scores
    in [0, 1] bucketed into ``bins`` equal-width bins, each reporting
    (bin, n, mean_score, frac_pos). A calibrated quality classifier has
    frac_pos ≈ mean_score per bin; the divergence is what you read
    before trusting the classifier's threshold to cut a 100 TB corpus
    (a score of "0.9" that is empirically right 60% of the time keeps
    2× the junk you budgeted for).

    Labels must be 0/1 (booleans cast); null score or label rows drop;
    out-of-range scores or labels raise (a clamped point would silently
    poison exactly the edge bins the decision reads). ONE aggregation
    pass; mean_score accumulates micro-unit integers in decimal(38,0)
    (the corr_matrix overflow posture) so engine aggregation order
    cannot drift; terminal round(6)."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    grid = _calibration_grid(df, score_col, label_col, bins)
    return grid.select(
        "bin",
        "n",
        F.round(
            F.col("__sm").cast("double")
            / (F.col("n").cast("double") * F.lit(1e6)),
            6,
        ).alias("mean_score"),
        F.round(
            F.col("__np").cast("double") / F.col("n").cast("double"), 6
        ).alias("frac_pos"),
    )


def _calibration_grid(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int,
    with_sq: bool = False,
) -> DataFrame:
    """Shared single-pass grid for :func:`calibration_bins` /
    :func:`calibration_summary`: the per-bin integer aggregates
    (bin, n, __sm, __np[, __sq]) with out-of-range rows routed to a
    sentinel bin -1 INSIDE the same aggregation, checkpointed
    (≤ bins+1 rows) with the sentinel-row count riding the
    checkpoint's own job via observe(). The previous shape paid a
    separate limit(1).count() guard pass over the full scored frame
    BEFORE the aggregate — two corpus scans per grid; folding the
    EXACT guard predicate into the grouping key makes the grid ONE
    pass and raises in exactly the same cases (any non-null row with
    score outside [0, 1] or label outside {0, 1}); valid rows land in
    the same bins and carry the same integer aggregates, and the
    sentinel row (present only on the raise path) never escapes."""
    from wrangler_spark.datapipe._checkpoint import (
        eager_checkpoint_observed, release,
    )

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & y.isNotNull())
    bad = (s < 0) | (s > 1) | ~y.isin(0, 1)
    b = F.when(bad, F.lit(-1)).otherwise(
        F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    )
    micro = F.round(s * F.lit(1e6)).cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(micro).alias("__sm"),
        F.sum(y.cast("long")).cast("long").alias("__np"),
    ]
    if with_sq:
        sq = micro - (
            y.cast("decimal(38,0)") * F.lit(1000000).cast("decimal(38,0)")
        )
        aggs.append(F.sum((sq * sq).cast("decimal(38,0)")).alias("__sq"))
    grid, got = eager_checkpoint_observed(
        base.groupBy(b.alias("bin")).agg(*aggs),
        F.count(F.when(F.col("bin") == -1, 1)).alias("nbad"),
    )
    if got["nbad"]:
        # release the just-pinned grid blocks before raising — the
        # caller never sees the frame, so nothing can read it again
        # (r13 ADVICE: the bad-input path leaked one tiny checkpoint
        # per call into the _LIVE registry until release_all)
        release(grid)
        raise ValueError(
            f"calibration_bins: {score_col} must lie in [0, 1] and "
            f"{label_col} in {{0, 1}}")
    return grid.filter(F.col("bin") >= 0)


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """One-row calibration scorecard: (n, ece, brier). ECE = the
    bin-weighted mean |frac_pos − mean_score| over the
    :func:`calibration_bins` grid (Naeini et al. 2015's expected
    calibration error); Brier = mean squared (score − label). Both
    reduce over exact integers before ONE terminal float division:
    ECE folds per-bin |Δ|·n micro-units into a long sum over the
    bins-sized grid; Brier's (score_micro − y·1e6)² decimal(38,0)
    sum rides the SAME per-bin aggregate (``__sq`` — grouping cannot
    change an exact integer sum), so the whole scorecard is ONE scan
    of the scored frame plus a bins-sized reduction (r13: the old
    shape paid the guard scan + two more subtree scans — brier's
    global agg and the grid's — inside one action)."""
    grid = _calibration_grid(df, score_col, label_col, bins, with_sq=True)
    # the rounded per-bin readouts, bit-identical to calibration_bins'
    # output columns (same integer inputs, same expressions)
    mean_score = F.round(
        F.col("__sm").cast("double")
        / (F.col("n").cast("double") * F.lit(1e6)),
        6,
    )
    frac_pos = F.round(
        F.col("__np").cast("double") / F.col("n").cast("double"), 6
    )
    # per-bin |Δ|·n in micro-units as LONG (bins-sized frame; |Δ| ≤ 1 so
    # the term is ≤ n·1e6 — overflow would need 9e12 rows in one bin,
    # at which point the Brier decimal path is the binding contract)
    one = grid.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
        F.sum("__sq").alias("__sq"),
        F.sum(
            F.round(
                F.abs(frac_pos - mean_score)
                * F.col("n").cast("double") * F.lit(1e6)
            ).cast("long")
        ).alias("__e"),
        F.sum("n").cast("long").alias("__gn"),
    )
    return one.select(
        "n",
        F.round(
            F.col("__e").cast("double")
            / (F.col("__gn").cast("double") * F.lit(1e6)),
            6,
        ).alias("ece"),
        F.round(
            F.col("__sq").cast("double")
            / (F.col("n").cast("double") * F.lit(1e12)),
            6,
        ).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Categorical association: chi-square independence, Cramér's V, Cohen's kappa
# ---------------------------------------------------------------------------


def _contingency(
    df: DataFrame, col_a: str, col_b: str, max_cells: int, who: str,
) -> DataFrame:
    """Shared contingency machinery: ONE groupBy(a, b) count — the only
    data-sized shuffle — checkpointed (every margin/statistic below
    re-reads the cell frame, never the input), with a bounded cell-count
    pre-flight (the _guard_cells posture: a column pair that is really a
    key pair raises instead of building an unbounded cell list). Levels
    are compared as strings so orderings and joins are one collation on
    both engines; NULL levels are real categories ('∅' sentinel keeps
    them distinct from the literal string 'None')."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_count

    a = F.coalesce(F.col(col_a).cast("string"), F.lit("∅"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("∅"))
    cells = (
        df.groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count("*").cast("long").alias("o"))
    )
    # cell count rides the checkpoint's own job (observe)
    cells, k = eager_checkpoint_count(cells)
    if k > max_cells:
        raise ValueError(
            f"{who}: {k} contingency cells (max_cells={max_cells}) — "
            "these columns look like keys, not categories")
    if k == 0:
        raise ValueError(f"{who}: no rows")
    return cells


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str, max_cells: int = 100_000,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (Pearson 1900) plus Cramér's V effect size (Cramér 1946) —
    the feature-selection / leakage-screen readout: is doc source
    associated with label, is arm associated with country. Returns ONE
    row: (n, levels_a, levels_b, dof, chi2, cramers_v).

    Zero-observed cells with positive margins contribute via the
    closed form chi2 = n * sum(o^2 / (ra * cb)) - n (their (0-e)^2/e
    term equals e, and the identity absorbs every e): only OBSERVED
    cells are ever materialized. The per-cell terms fold in (a, b)
    order — one fixed IEEE accumulation order shared with the oracle's
    list_reduce — and Cramér's V = sqrt(chi2 / (n * min(R-1, C-1))).

    Scale shape: one groupBy(a, b) count, margins re-aggregated off the
    checkpointed cell frame (cell-count-sized), broadcast joins back,
    a cell-count-bounded sorted fold; no window functions."""
    cells = _contingency(df, col_a, col_b, max_cells,
                         "chi_square_independence")
    ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("int").alias("levels_a"),
        F.countDistinct("b").cast("int").alias("levels_b"),
    )
    j = (
        cells.join(F.broadcast(ra), "a").join(F.broadcast(cb), "b")
        .select(
            "a", "b",
            # products in decimal(38,0): long*long wraps past ~3e9
            # counts — the corr_matrix overflow posture
            ((F.col("o").cast("decimal(19,0)")
              * F.col("o").cast("decimal(19,0)")).cast("double")
             / (F.col("ra").cast("decimal(19,0)")
                * F.col("cb").cast("decimal(19,0)")).cast("double"))
            .alias("__t"),
        )
    )
    s = j.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("a", "b", F.col("__t")))),
            F.lit(0.0),
            lambda acc, c: acc + c["__t"],
        ).alias("__s"))
    chi2 = F.col("n") * F.col("__s") - F.col("n")
    dof = (F.col("levels_a") - 1) * (F.col("levels_b") - 1)
    mind = F.least(F.col("levels_a") - 1, F.col("levels_b") - 1)
    return (
        tot.crossJoin(F.broadcast(s))  # 1-row fold result
        .select(
            "n", "levels_a", "levels_b",
            dof.cast("int").alias("dof"),
            F.round(chi2, 6).alias("chi2"),
            F.when(
                mind > 0,
                F.round(F.sqrt(F.greatest(
                    chi2 / (F.col("n") * mind), F.lit(0.0))), 6),
            ).cast("double").alias("cramers_v"),
        )
    )


# Landis & Koch (Biometrics 1977) agreement bands — the standard
# interpretation scale quoted with kappa.
_KAPPA_BANDS = [
    (0.8, "almost_perfect"), (0.6, "substantial"), (0.4, "moderate"),
    (0.2, "fair"), (0.0, "slight"),
]


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str, max_cells: int = 100_000,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two label columns
    (Cohen, Educ. Psychol. Meas. 1960) — the labeling-QA readout for
    training data: do two annotators / a classifier and gold / two
    heuristic filters agree beyond chance? kappa = (po - pe) / (1 - pe)
    with po = observed agreement, pe = chance agreement from the
    marginals. Returns ONE row: (n, po, pe, kappa, agreement) where
    agreement is the Landis-Koch band ('poor' below 0, up to
    'almost_perfect').

    Every input to the ratios is an exact integer (diagonal count;
    marginal products summed in decimal(38,0) — n^2-scaled, the
    corr_matrix overflow posture), so po/pe/kappa are integer-derived
    doubles in one fixed operation order — no fold needed. Scale
    shape: one groupBy(a, b) count; the class-marginal join runs on
    the cell-count-sized frame. A degenerate pe = 1 (both raters
    constant and equal) returns kappa NULL (0/0 — undefined, not
    perfect agreement)."""
    cells = _contingency(df, col_a, col_b, max_cells, "cohens_kappa")
    diag = cells.agg(
        F.sum(F.when(F.col("a") == F.col("b"), F.col("o"))
              .otherwise(F.lit(0))).cast("long").alias("d"),
        F.sum("o").cast("long").alias("n"),
    )
    ra = cells.groupBy(F.col("a").alias("c")).agg(
        F.sum("o").cast("long").alias("ra"))
    cb = cells.groupBy(F.col("b").alias("c")).agg(
        F.sum("o").cast("long").alias("cb"))
    # class-union via union + re-aggregate, not a full-outer join (a
    # full outer can't broadcast, so Spark would sort-merge two
    # class-count-sized frames); a class absent on one side sums to 0
    # and its marginal product vanishes — identical to coalesce(0)
    u = ra.select(
        "c", F.col("ra").alias("__r"), F.lit(0).cast("long").alias("__c"),
    ).unionByName(cb.select(
        "c", F.lit(0).cast("long").alias("__r"), F.col("cb").alias("__c")))
    marg = (
        u.groupBy("c")
        .agg(F.sum("__r").cast("long").alias("ra"),
             F.sum("__c").cast("long").alias("cb"))
        .select(
            (F.col("ra").cast("decimal(19,0)")
             * F.col("cb").cast("decimal(19,0)"))
            .cast("decimal(38,0)").alias("__p"))
        .agg(F.sum("__p").cast("decimal(38,0)").alias("pp"))
    )
    j = diag.crossJoin(F.broadcast(marg))  # 1-row marginal product sum
    po = F.col("d") / F.col("n")
    pe = (F.col("pp").cast("double")
          / (F.col("n").cast("double") * F.col("n").cast("double")))
    kappa = F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6))
    band = F.when(kappa < 0, F.lit("poor"))
    for lo, name in _KAPPA_BANDS:
        band = band.when(kappa >= lo, F.lit(name))
    return j.select(
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        kappa.cast("double").alias("kappa"),
        F.when(kappa.isNotNull(), band).alias("agreement"),
    )


def _tie_term(t):
    """t³ − t, exact in decimal(38,0): one tie group's term in the rank
    tests' tie correction (t up to n, so t³ needs the 38 digits)."""
    t13 = t.cast("decimal(13,0)")
    return (t13 * t13 * t13).cast(DEC) - t.cast(DEC)


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    max_cells: int = 100_000,
    alpha_z: float = 1.96,
) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) between two
    groups of a numeric column — the nonparametric two-sample
    comparison for skewed metrics (latency, spend, token counts) where
    the t/z mean tests mislead. Computed EXACTLY from the value
    histogram, never from per-row ranks: U_a = sum over pairs of
    [a > b] + 0.5 [a == b] accumulates as the INTEGER 2*U via a fold
    over the distinct-value histogram in ascending value order, and
    the tie-corrected normal approximation z = (U - mu) / sigma with
    sigma^2 = (na*nb/12) * ((n+1) - sum(t^3 - t)/(n(n-1))) uses
    decimal(38,0) tie sums. Returns ONE row: (n_a, n_b, u, mu_u,
    sigma_u, z, rank_biserial, significant) — rank_biserial =
    1 - 2U/(na*nb) is the effect size (-1..1, 0 = stochastic
    equality).

    Values group on micro-unit integers (round(v * 1e6)), so the
    histogram keys are exact across engines. Scale shape: ONE
    groupBy(micro-value) count is the only data-sized shuffle; the
    distinct-value histogram is guarded by ``max_cells`` (a continuous
    column with millions of distinct values wants quantile tests, not
    U) and folds scan-side; a rank window over the corpus — the global
    sort — never appears."""
    g = F.col(group_col).cast("string")
    v = F.col(value_col)
    mv = micro(v)
    a, b = str(group_a), str(group_b)
    hist = (
        df.filter(g.isin(a, b) & v.isNotNull())
        .groupBy(mv.alias("__v"))
        .agg(
            F.sum(F.when(g == a, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(g == b, 1).otherwise(0)).cast("long").alias("nb"),
        )
    )
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_count

    hist, k = eager_checkpoint_count(hist)
    if k > max_cells:
        raise ValueError(
            f"mann_whitney_u: {k} distinct values (max_cells="
            f"{max_cells}) — bin the column or use quantile tests")
    if k == 0:
        raise ValueError("mann_whitney_u: no rows in either group")
    agg = hist.agg(
        F.sort_array(F.collect_list(
            F.struct(F.col("__v"), F.col("na"), F.col("nb")))).alias("__c"),
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        # tie sum T = sum(t^3 - t) over per-value tie counts t = na+nb:
        # an order-free exact integer aggregate
        F.sum(_tie_term(F.col("na") + F.col("nb")))
        .cast(DEC).alias("__t"),
    )

    def step(acc, c):
        # 2U gains 2 * na_v * (count of b strictly below) + na_v * nb_v
        return F.struct(
            (acc["u2"]
             + F.lit(2).cast(DEC) * c["na"].cast(DEC) * acc["cb"].cast(DEC)
             + c["na"].cast(DEC) * c["nb"].cast(DEC))
            .cast(DEC).alias("u2"),
            (acc["cb"] + c["nb"]).cast("long").alias("cb"),
        )

    init = F.struct(
        F.lit(0).cast("decimal(38,0)").alias("u2"),
        F.lit(0).cast("long").alias("cb"),
    )
    folded = agg.select(
        "n_a", "n_b", "__t",
        F.aggregate(F.col("__c"), init, step)["u2"].alias("__u2"),
    )
    if folded is None:  # pragma: no cover - lint appeasement
        return folded
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    nanb = (na.cast("decimal(19,0)") * nb.cast("decimal(19,0)"))
    u = F.col("__u2").cast("double") / F.lit(2.0)
    mu = nanb.cast("double") / F.lit(2.0)
    tieterm = (F.col("__t").cast("double")
               / (n.cast("decimal(19,0)") * (n - 1).cast("decimal(19,0)"))
               .cast("double"))
    var = (nanb.cast("double") / F.lit(12.0)
           * ((n + 1).cast("double") - tieterm))
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.when(sigma > 0, F.round((u - mu) / sigma, 6))
    return folded.select(
        na.alias("n_a"), nb.alias("n_b"),
        F.round(u, 6).alias("u"),
        F.round(mu, 6).alias("mu_u"),
        F.round(sigma, 6).alias("sigma_u"),
        z.cast("double").alias("z"),
        (F.round(F.lit(1.0) - F.col("__u2").cast("double")
                 / nanb.cast("double"), 6) + F.lit(0.0))
        .alias("rank_biserial"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(float(alpha_z)))
        .alias("significant"),
    )


# Nigrini (2012) first-digit MAD conformity bands — published
# forensic-accounting thresholds.
_BENFORD_BANDS = [
    (0.006, "close"), (0.012, "acceptable"), (0.015, "marginal"),
]


def benford_deviation(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit Benford's-law screen (Newcomb 1881,
    Benford 1938; MAD bands from Nigrini 2012) — the data-quality /
    fraud tripwire for naturally-spread magnitudes (prices, revenues,
    populations): fabricated or truncated data rarely matches
    P(d) = log10(1 + 1/d). Returns 9 rows, one per leading digit:
    (digit, observed, n, observed_p, expected_p, chi2, mad,
    conformity) — chi2 folds (o - n p)^2 / (n p) in digit order, mad
    is Nigrini's mean |observed_p - expected_p| with bands
    close <= 0.006 < acceptable <= 0.012 < marginal <= 0.015 <
    nonconforming. Digits that never occur still get rows (their
    expected mass counts against the fit).

    The leading digit comes from the micro-unit INTEGER
    abs(round(v * 1e6)) rendered as a string — integer-to-string is
    identical across engines, where double log10/formatting is not;
    values with |v| < 5e-7 (micro 0) are excluded. Scale shape: one
    9-ary hash aggregate over the scan; everything after runs on 9
    rows."""
    import math

    mv = F.abs(F.round(F.col(col).cast("double") * F.lit(1e6))
               .cast("long"))
    # r13: checkpoint the 9-row digit histogram — the expected-join,
    # the total aggregate, and the chi2/mad fold frame each reference
    # it, and left lazy every consumer re-ran the full scan+aggregate
    # (4 lineitem scans visible in plans/r13/num_benford_check.txt;
    # measured ~5 s -> ~1.3 s). The checkpoint state is 9 rows.
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint

    obs = eager_checkpoint(
        df.filter(F.col(col).isNotNull() & (mv > 0))
        .groupBy(F.substring(mv.cast("string"), 1, 1).cast("int")
                 .alias("digit"))
        .agg(F.count("*").cast("long").alias("observed"))
    )
    spark = df.sparkSession
    expected = local_table(spark,
        [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)],
        "digit int, expected_p double")
    full = (
        expected.join(obs, "digit", "left")
        .select(
            "digit", "expected_p",
            F.coalesce(F.col("observed"), F.lit(0)).cast("long")
            .alias("observed"))
    )
    tot = full.agg(F.sum("observed").cast("long").alias("n"))
    j = full.crossJoin(F.broadcast(tot))  # 1-row total
    e = F.col("n") * F.col("expected_p")
    staged = j.select(
        "digit", "observed", "n", "expected_p",
        (F.col("observed") / F.col("n")).alias("__op"),
        ((F.col("observed") - e) * (F.col("observed") - e) / e)
        .alias("__chi"),
    )
    folds = staged.agg(
        F.aggregate(
            F.sort_array(F.collect_list(
                F.struct("digit", F.col("__chi").alias("c")))),
            F.lit(0.0), lambda acc, s: acc + s["c"],
        ).alias("chi2_raw"),
        F.aggregate(
            F.sort_array(F.collect_list(
                F.struct("digit",
                         F.abs(F.col("__op") - F.col("expected_p"))
                         .alias("c")))),
            F.lit(0.0), lambda acc, s: acc + s["c"],
        ).alias("mad_raw"),
    )
    mad = F.col("mad_raw") / F.lit(9.0)
    band = F.lit("nonconforming")
    for tail in reversed(_BENFORD_BANDS):
        band = F.when(mad <= tail[0], F.lit(tail[1])).otherwise(band)
    return (
        staged.drop("__chi")
        .crossJoin(F.broadcast(folds))  # 1-row fold results
        .select(
            "digit", "observed", "n",
            F.round(F.col("__op"), 6).alias("observed_p"),
            F.round(F.col("expected_p"), 6).alias("expected_p"),
            F.round(F.col("chi2_raw"), 6).alias("chi2"),
            F.round(mad, 6).alias("mad"),
            band.alias("conformity"),
        )
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of a numeric
    column (Welch, Biometrika 1947) — the parametric companion to
    :func:`mann_whitney_u`: compares MEANS without assuming equal
    variances (the assumption Student's pooled t silently makes and
    real metrics silently break). Returns ONE row: (n_a, n_b, mean_a,
    mean_b, var_a, var_b, diff, se, t, df, cohens_d, significant) —
    df is the Welch-Satterthwaite effective degrees of freedom,
    cohens_d the pooled-SD effect size, significance graded at
    |t| > 1.96 (the normal approximation; at the corpus sizes this
    engine targets, df is astronomically large and t == z).

    Moments accumulate as micro-unit integers in decimal(38,0) in ONE
    conditional-aggregation scan (the cuped_ab_test posture — no join,
    no second pass); every ratio after is one fixed double order.
    Sample variances (n-1); a zero-variance pair yields NULL t."""
    a, b = str(group_a), str(group_b)
    g = F.col(group_col).cast("string")
    mv = micro(F.col(value_col))
    base = df.filter(g.isin(a, b) & F.col(value_col).isNotNull())
    m = base.agg(
        *moments(g == a, "n_a", s_a=mv, ss_a=(mv, mv)),
        *moments(g == b, "n_b", s_b=mv, ss_b=(mv, mv)))
    na, nb = F.col("n_a"), F.col("n_b")
    ma, mb = mean(na, F.col("s_a")), mean(nb, F.col("s_b"))
    va = sample_var(na, F.col("s_a"), F.col("ss_a"))
    vb = sample_var(nb, F.col("s_b"), F.col("ss_b"))
    qa = va / na.cast("double")
    qb = vb / nb.cast("double")
    se = F.sqrt(qa + qb)
    t = F.when(se > 0, F.round((ma - mb) / se, 6))
    # Welch-Satterthwaite: (qa+qb)^2 / (qa^2/(na-1) + qb^2/(nb-1))
    dfree = F.when(
        se > 0,
        F.round(
            (qa + qb) * (qa + qb)
            / (qa * qa / (na - 1).cast("double")
               + qb * qb / (nb - 1).cast("double")),
            6,
        ),
    )
    # Cohen's d with the pooled SD (Cohen 1988)
    pooled = (
        ((na - 1).cast("double") * va + (nb - 1).cast("double") * vb)
        / (na + nb - 2).cast("double"))
    d = F.when(pooled > 0, F.round((ma - mb) / F.sqrt(pooled), 6))
    return m.select(
        na.alias("n_a"), nb.alias("n_b"),
        F.round(ma, 6).alias("mean_a"), F.round(mb, 6).alias("mean_b"),
        F.round(va, 6).alias("var_a"), F.round(vb, 6).alias("var_b"),
        F.round(ma - mb, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        t.cast("double").alias("t"),
        dfree.cast("double").alias("df"),
        (d + F.lit(0.0)).cast("double").alias("cohens_d"),
        F.when(t.isNotNull(), F.abs(t) > F.lit(1.96)).alias("significant"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list,
    max_cells: int = 100_000,
    alpha: str = "0.05",
) -> DataFrame:
    """Kruskal-Wallis H rank test across k groups (Kruskal & Wallis,
    JASA 1952) — the k-arm extension of :func:`mann_whitney_u`: do ANY
    of the groups' distributions differ? Tie-corrected via midranks:
    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), divided by
    1 - sum(t^3 - t)/(N^3 - N). ``groups`` is the explicit arm list
    (so df = k-1 and the chi-square critical value bind at plan time,
    the srm_check posture). Returns ONE row: (n, k, df, h, h_corrected,
    epsilon_sq, significant) — epsilon_sq = (H_c - k + 1)/(n - k) is
    the effect size, significance grades H_corrected against the
    published chi-square critical value at ``alpha``.

    Doubled rank sums 2*R_g stay exact integers (midrank halves never
    materialize: per value, group g gains n_gv * (2*cum + t_v + 1))
    via ONE ascending-value fold over the distinct-value histogram;
    the tie sum is an order-free decimal aggregate; the handful of
    double ops after run in one fixed generated order (groups in list
    order). Scale shape: one groupBy(value) count with k conditional
    sums — the mann_whitney shape, never a rank window."""
    if len(groups) < 2:
        raise ValueError("kruskal_wallis needs at least two groups")
    gl = [str(g) for g in groups]
    if len(set(gl)) != len(gl):
        raise ValueError("kruskal_wallis: duplicate group labels")
    g = F.col(group_col).cast("string")
    mv = micro(F.col(value_col))
    hist = (
        df.filter(g.isin(*gl) & F.col(value_col).isNotNull())
        .groupBy(mv.alias("__v"))
        .agg(*[
            F.sum(F.when(g == lab, 1).otherwise(0)).cast("long")
            .alias(f"n{i}")
            for i, lab in enumerate(gl)
        ])
    )
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_count

    hist, kcells = eager_checkpoint_count(hist)
    if kcells > max_cells:
        raise ValueError(
            f"kruskal_wallis: {kcells} distinct values (max_cells="
            f"{max_cells}) — bin the column or use quantile tests")
    if kcells == 0:
        raise ValueError("kruskal_wallis: no rows in any group")
    t_v = sum((F.col(f"n{i}") for i in range(1, len(gl))),
              F.col("n0"))
    agg = hist.agg(
        F.sort_array(F.collect_list(F.struct(
            "__v", *[f"n{i}" for i in range(len(gl))]))).alias("__c"),
        *[F.sum(f"n{i}").cast("long").alias(f"N{i}")
          for i in range(len(gl))],
        F.sum(_tie_term(t_v)).cast(DEC).alias("__t"),
    )

    def step(acc, c):
        tv = sum((c[f"n{i}"] for i in range(1, len(gl))), c["n0"])
        w = F.lit(2) * acc["cum"] + tv + F.lit(1)
        fields = [
            (acc[f"r{i}"] + c[f"n{i}"].cast(DEC) * w.cast(DEC))
            .cast(DEC).alias(f"r{i}")
            for i in range(len(gl))
        ]
        return F.struct(
            *fields, (acc["cum"] + tv).cast("long").alias("cum"))

    init = F.struct(
        *[F.lit(0).cast("decimal(38,0)").alias(f"r{i}")
          for i in range(len(gl))],
        F.lit(0).cast("long").alias("cum"))
    folded = agg.select(
        *[f"N{i}" for i in range(len(gl))], "__t",
        F.aggregate(F.col("__c"), init, step).alias("__f"))
    n = sum((F.col(f"N{i}") for i in range(1, len(gl))), F.col("N0"))
    nd = n.cast("double")
    # S = sum_g (2R_g)^2 / (4 n_g), groups in list order (fixed)
    s = None
    for i in range(len(gl)):
        # a LISTED group with zero rows must not contribute a 0/0
        # (NULL in non-ANSI Spark, NaN in DuckDB — the engines would
        # diverge); the N_i > 0 guard makes the term — and hence H
        # and every downstream column — a deterministic NULL in both
        term = F.when(
            F.col(f"N{i}") > 0,
            F.col(f"__f.r{i}").cast("double")
            * F.col(f"__f.r{i}").cast("double")
            / (F.lit(4.0) * F.col(f"N{i}").cast("double")))
        s = term if s is None else s + term
    h = F.lit(12.0) / (nd * (nd + F.lit(1.0))) * s \
        - F.lit(3.0) * (nd + F.lit(1.0))
    tie = (F.lit(1.0)
           - F.col("__t").cast("double")
           / _tie_term(n).cast("double"))
    hc = F.when(tie > 0, h / tie)
    dof = len(gl) - 1
    from wrangler_spark.datapipe.events import chi2_critical

    crit = chi2_critical(dof, alpha)
    kk = F.lit(len(gl)).cast("int")
    eps = F.when(
        (n > len(gl)) & hc.isNotNull(),
        F.round((hc - kk.cast("double") + F.lit(1.0))
                / (nd - kk.cast("double")), 6))
    return folded.select(
        n.alias("n"), kk.alias("k"),
        F.lit(dof).cast("int").alias("df"),
        F.round(h, 6).alias("h"),
        F.round(hc, 6).cast("double").alias("h_corrected"),
        (eps + F.lit(0.0)).cast("double").alias("epsilon_sq"),
        F.when(hc.isNotNull(),
               F.round(hc, 6) > F.lit(crit)).alias("significant"),
    )


def rank_transform(
    df: DataFrame,
    value_col: str,
    out_col: str | None = None,
    max_cells: int = 100_000,
) -> DataFrame:
    """Exact midrank (average-rank) transform of a numeric column —
    :func:`spearman_corr`'s rank machinery exposed as a column op: the
    outlier-flattening monotone normalization feeding rank-based
    features and nonparametric scores. Adds ``out_col`` (default
    ``<col>_rank``): rank 1..n with ties receiving their midrank
    (exact .5 halves — ranks derive from an integer doubled-rank map,
    halved once at the end). NULL values keep a NULL rank.

    Scale shape: one groupBy(value) histogram (``max_cells``-guarded),
    a bounded single-partition cumsum window over the CHECKPOINTED
    histogram, one broadcast map join back — never a corpus rank
    window."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_count

    out_col = out_col or f"{value_col}_rank"
    mv = micro(F.col(value_col))
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(mv.alias("__v"))
        .agg(F.count("*").cast("long").alias("__t"))
    )
    hist, k = eager_checkpoint_count(hist)
    if k > max_cells:
        raise ValueError(
            f"rank_transform: {value_col} has {k} distinct values "
            f"(max_cells={max_cells}) — bin or sample first")
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("__t").over(w), F.lit(0))
    rmap = hist.select(
        "__v",
        ((F.lit(2) * cum + F.col("__t") + F.lit(1)).cast("double")
         / F.lit(2.0)).alias(out_col),
    )
    return (
        df.withColumn("__v", mv)
        .join(F.broadcast(rmap), "__v", "left")
        .drop("__v")
    )


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) — the monotonic-
    association companion to :func:`corr_matrix`'s Pearson: immune to
    outliers and nonlinearity because it correlates RANKS. Computed as
    Pearson over midranks (the exact tie treatment): each column's
    distinct-value histogram is cumsum-windowed in ascending order
    into DOUBLED midranks (2*rank stays an exact integer — midrank
    halves never materialize), broadcast-joined back to the rows, and
    the rank
    pairs reduce through exact decimal(38,0) moment sums — the factor
    of 2 cancels in the correlation. Returns ONE row: (n, rho).

    Scale shape: one groupBy(value) histogram per column (each
    ``max_cells``-guarded — a column with millions of distinct values
    wants sampled or binned ranks), a bounded single-partition cumsum
    window over each CHECKPOINTED histogram (≤ max_cells rows by the
    hard guard), two broadcast rank-map joins, ONE moment scan; no
    corpus rank window ever. Rows where either column
    is NULL drop (pairwise complete). A constant column yields NULL
    rho."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_count

    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull())

    def rank_map(col: str, tag: str) -> DataFrame:
        mv = micro(F.col(col))
        hist = (
            base.groupBy(mv.alias(f"__v{tag}"))
            .agg(F.count("*").cast("long").alias("__t"))
        )
        hist, k = eager_checkpoint_count(hist)
        if k > max_cells:
            raise ValueError(
                f"spearman_corr: {col} has {k} distinct values "
                f"(max_cells={max_cells}) — bin or sample first")
        if k == 0:
            raise ValueError("spearman_corr: no complete rows")
        # doubled midrank for each value: 2*cum_before + t + 1, via a
        # running-count window over the CHECKPOINTED histogram — k is
        # hard-capped by max_cells above, so the single-partition sort
        # is a bounded O(k log k) scan (the oracle's exact cumsum
        # shape), never a corpus window; the literal partition key
        # keeps the spec non-empty for the plan audit while stating
        # the intent: one deliberate bounded partition. (The previous
        # fold built the map by repeated array concat — O(k^2)
        # element copies, ~10^10 at the guard ceiling.)
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(f"__v{tag}")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = F.coalesce(F.sum("__t").over(w), F.lit(0))
        return hist.select(
            f"__v{tag}",
            (F.lit(2) * cum + F.col("__t") + F.lit(1))
            .cast("long").alias(f"__r{tag}"),
        )

    ra, rb = rank_map(col_a, "a"), rank_map(col_b, "b")
    joined = (
        base.select(micro(F.col(col_a)).alias("__va"),
                    micro(F.col(col_b)).alias("__vb"))
        .join(F.broadcast(ra), "__va")
        .join(F.broadcast(rb), "__vb")
    )
    x, y = F.col("__ra"), F.col("__rb")
    m = joined.agg(*moments(
        None, "n", sx=x, sy=y, sxy=(x, y), sxx=(x, x), syy=(y, y)))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = spread(n, sx, sy, F.col("sxy"))
    va = spread(n, sx, sx, F.col("sxx"))
    vb = spread(n, sy, sy, F.col("syy"))
    rho = F.when(
        (va > 0) & (vb > 0),
        F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6))
    return m.select(
        "n", (rho + F.lit(0.0)).cast("double").alias("rho"))
