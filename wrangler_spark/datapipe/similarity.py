"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k is the correctness baseline (broadcast the query
set — the corpus side never shuffles). The IVF variant assigns corpus
vectors to the nearest of C deterministic centroids and probes only the
query's centroid bucket — at 100 TB this is the difference between a full
scan per query and reading one bucket partition (write the corpus
partitioned by centroid_id)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrangler_spark.datapipe._local import local_table


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


# ---------------------------------------------------------------------------
# Per-row vector folds.
#
# Spark's higher-order functions (aggregate / zip_with) are CodegenFallback
# expressions: every element is an interpreted lambda step with boxing, so
# the hot L2/dot folds — evaluated once per (row × candidate) in the
# assignment/encode/scoring joins — dominate per-task CPU (guide §1.2 step
# 2, per-task work). When the caller declares the vector dimension, the
# fold is UNROLLED into a flat left-associative expression chain that
# whole-stage codegen compiles, guarded PER ROW by a length check so any
# row that is not exactly n-dimensional takes the original interpreted
# fold. Bit-exact by construction: the unrolled chain performs the
# identical IEEE additions in the identical order (including the leading
# 0.0 + x of the fold's init), try_element_at on an out-of-range index is
# NULL exactly like zip_with's null-padding, and size(NULL array) is NULL
# so null inputs fall through to the fold's NULL. n=None keeps the old
# expression untouched, and n > _UNROLL_MAX_DIM falls back to the fold
# too.
#
# The cutoff is 16, set by MEASUREMENT, not the 128 plan-size ceiling
# first tried: at dim=64 the unrolled chains made every consumer
# 1.3–6.6x SLOWER in interleaved A/B (emb_project 6.6x, embedding
# dedup 5.6x, semdedup 2.2x, cosine_topk 1.8x) — three 64-term
# try_element_at chains per cosine push the generated method past
# JIT/codegen limits so the whole projection drops to interpreted
# evaluation, worse than the HOF fold alone. At subvector scale
# (dim/m = 8, the PQ L2/dot and ADC sums) the unroll measured ~7%
# faster and is kept.
# ---------------------------------------------------------------------------

_UNROLL_MAX_DIM = 16


def _dot_n(a: Column, b: Column, n: int | None = None) -> Column:
    """Σ a[i]·b[i], unrolled + length-guarded when ``n`` is given."""
    fold = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    if not n or int(n) > _UNROLL_MAX_DIM:
        return fold
    e = F.lit(0.0)
    for i in range(1, int(n) + 1):
        e = e + F.try_element_at(a, F.lit(i)) * F.try_element_at(b, F.lit(i))
    return F.when((F.size(a) == int(n)) & (F.size(b) == int(n)), e).otherwise(fold)


def _l2_n(a: Column, b: Column, n: int | None = None) -> Column:
    """Σ (a[i]−b[i])², unrolled + length-guarded when ``n`` is given."""
    fold = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, x: s + x
    )
    if not n or int(n) > _UNROLL_MAX_DIM:
        return fold
    e = F.lit(0.0)
    for i in range(1, int(n) + 1):
        t = F.try_element_at(a, F.lit(i)) - F.try_element_at(b, F.lit(i))
        e = e + t * t
    return F.when((F.size(a) == int(n)) & (F.size(b) == int(n)), e).otherwise(fold)


def _sumsq_n(a: Column, n: int | None = None) -> Column:
    """Σ a[i]², unrolled + length-guarded when ``n`` is given."""
    fold = F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x)
    if not n or int(n) > _UNROLL_MAX_DIM:
        return fold
    e = F.lit(0.0)
    for i in range(1, int(n) + 1):
        x = F.try_element_at(a, F.lit(i))
        e = e + x * x
    return F.when(F.size(a) == int(n), e).otherwise(fold)


def _cosine(a: Column, b: Column, n: int | None = None) -> Column:
    dot = _dot_n(a, b, n)
    na = F.sqrt(_sumsq_n(a, n))
    nb = F.sqrt(_sumsq_n(b, n))
    return dot / (na * nb)


def _topk_reduce(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase top-k over (query_id, vec_id, cosine) WITHOUT a global
    per-query rank window.

    A ``Window.partitionBy(query_id) + row_number`` plan funnels all N×Q
    scored rows through Q reducer partitions, each sorting the full corpus
    per query — the scale-killer at 100× corpus. Instead:

    phase 1: group by (input partition, query) — the partial aggregation
      runs map-side inside the scan stage, so each scan task emits one row
      per query holding only its partition-local candidates, sorted and
      sliced to k (sort cost n/P·log(n/P) per task, fully parallel);
    phase 2: group by query over the P×k survivors — ≤ P·k rows per query
      ever reach a single reducer, independent of corpus size.

    Ordering contract (identical to the old window): cosine desc with
    NULLS LAST (a null cosine — null embedding element, null array, or
    length-mismatched vectors under zip_with — must never evict a real
    neighbor), ties by vec_id asc; expressed as an ascending struct sort
    on (is_null, -cosine, vec_id). rank is the 1-based position in the
    final sorted slice. NaN cosines (zero-norm vectors) sort last among
    the non-null here — the old rank-window put NaN first, which was
    never useful; fixtures contain no zero vectors.

    Memory bound: phase 1's aggregation state is one list per (partition,
    query) holding that partition's scored rows — a task buffers up to
    partition_rows x Q structs before the slice (the old window sort could
    spill; hash-agg state cannot). Q is therefore ENFORCED bounded by the
    callers: cosine_topk/ivf_topk chunk the query set to ``query_batch``
    queries per pass (_topk_batched) and union the per-batch results, so
    no single aggregation ever sees more than partition_rows x query_batch
    structs regardless of how many queries the caller submits."""
    item = F.struct(
        F.col("cosine").isNull().cast("int").alias("z"),
        (-F.col("cosine")).alias("nc"),
        F.col("vec_id").alias("vec_id"),
    )
    part = (
        scored.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", "query_id")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("tk"))
    )
    top = part.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("tk"))), 1, k).alias("tk")
    )
    return top.select("query_id", F.posexplode("tk").alias("pos", "it")).select(
        "query_id",
        F.col("it.vec_id").alias("vec_id"),
        (-F.col("it.nc")).alias("cosine"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


# resolution of the query-id quantile grid used to derive chunk
# boundaries: supports up to _CHUNK_GRID chunks (beyond that, chunk sizes
# scale up proportionally — at the default query_batch=4096 that is 4M+
# queries per call, past the broadcast contract anyway)
_CHUNK_GRID = 1024


def _topk_batched(q: DataFrame, k: int, query_batch: int, scorer) -> DataFrame:
    """Enforce the phase-1 memory bound of _topk_reduce by chunking the
    query set: ``scorer(q_chunk) -> (query_id, vec_id, cosine)`` is run
    per chunk of ≈ ``query_batch`` queries, each reduced independently,
    results unioned (per-batch output is only Q_chunk·k rows).

    Chunk boundaries come from ONE scalar aggregate job — a row count
    fused with a fixed 1024-point approx_percentile grid over query_id —
    never from collecting the ids themselves (an earlier version pulled
    every distinct id to the driver; the quantile sketch keeps the
    driver payload at 1024 scalars no matter how many queries there
    are). Chunks are contiguous half-open id ranges cut at grid
    quantiles, so the per-chunk filter is a simple range predicate and
    every non-null id lands in exactly one chunk. The sketch is
    approximate (accuracy 1e4), so a chunk can exceed query_batch by the
    sketch error; the memory bound is engineering-approximate, not
    adversarial-exact — a pathological id distribution that defeats the
    sketch is one with massively duplicated ids, which violates the
    query contract anyway. Multi-probe callers carry nprobe rows per
    query; the row count then overestimates Q, which only splits the
    work into more, smaller chunks.

    Each chunk re-reads the corpus: that is the deliberate trade —
    memory-bounded passes over a 100 TB corpus instead of one pass whose
    phase-1 hash-agg state (partition_rows × Q, non-spillable) OOMs at
    large Q. Non-numeric (e.g. string) query ids fall back to the
    collected-distinct-ids path, still bounded by the broadcast
    contract."""
    from pyspark.sql.types import NumericType

    if not isinstance(q.schema["query_id"].dataType, NumericType):
        ids = sorted(r[0] for r in q.select("query_id").distinct().collect())
        if len(ids) <= query_batch:
            return _topk_reduce(scorer(q), k)
        bounds = [ids[i - 1] for i in range(query_batch, len(ids), query_batch)]
    else:
        fracs = [i / _CHUNK_GRID for i in range(1, _CHUNK_GRID)]
        row = q.agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx("query_id", fracs, 10_000).alias("ps"),
        ).collect()[0]
        n = row["n"] or 0
        if n <= query_batch:
            return _topk_reduce(scorer(q), k)
        nchunks = min(-(-n // query_batch), _CHUNK_GRID)
        ps = row["ps"]
        bounds = sorted(
            {
                ps[min(max(round(j * _CHUNK_GRID / nchunks), 1), _CHUNK_GRID - 1) - 1]
                for j in range(1, nchunks)
            }
        )
    parts = []
    for i in range(len(bounds) + 1):
        cond = F.lit(True)
        if i > 0:
            cond = cond & (F.col("query_id") > F.lit(bounds[i - 1]))
        if i < len(bounds):
            cond = cond & (F.col("query_id") <= F.lit(bounds[i]))
        parts.append(_topk_reduce(scorer(q.filter(cond)), k))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_batch: int = 4096,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (broadcast the queries).
    Returns (query_id, vec_id, cosine, rank); self-matches excluded.
    Scoring is a narrow map over the corpus (queries broadcast); the rank
    is a two-phase partial top-k (_topk_reduce) — no stage ever holds more
    than max(partition_rows · query_batch, P·k) rows, with Q bounded by
    ``query_batch``-sized passes (_topk_batched)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))

    def scorer(qb: DataFrame) -> DataFrame:
        joined = c.crossJoin(F.broadcast(qb)).filter(F.col("vec_id") != F.col("query_id"))
        return joined.select(
            "query_id", "vec_id",
            F.round(_cosine(F.col("qv"), F.col("cv"), dim), 6).alias("cosine"),
        )

    return _topk_batched(q, k, query_batch, scorer)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine). Centroids
    are broadcast; assignment is a narrow map — no shuffle. Returns
    (vec_id, centroid_id)."""
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    cent = centroids.select(
        F.col(id_col).alias("centroid_id"), _as_double(F.col(vec_col)).alias("zv")
    )
    return _assign_prepared(c, cent, dim)


def _assign_prepared(c: DataFrame, cent: DataFrame, dim: int | None = None) -> DataFrame:
    """Nearest-centroid assignment over pre-shaped frames (vec_id, cv) x
    (centroid_id, zv): max rounded cosine, ties to the lower centroid id.

    Centroids broadcast, so scoring is a narrow map; the per-vector argmax
    is min-of-struct((-cos, centroid_id)) — an ordinary hash aggregate
    whose map-side partial collapses the C candidate rows of each vector
    inside the scan stage, so only ONE row per vector crosses the shuffle
    (a rank window here would shuffle and sort all N×C rows)."""
    scored = c.crossJoin(F.broadcast(cent)).select(
        "vec_id", "centroid_id",
        F.round(_cosine(F.col("cv"), F.col("zv"), dim), 6).alias("cos"),
    )
    # is_null leads the struct so a null cosine (broken vector/centroid)
    # loses to every real score — the old rank window's desc NULLS LAST
    best = F.min(
        F.struct(
            F.col("cos").isNull().cast("int").alias("z"),
            (-F.col("cos")).alias("nc"),
            F.col("centroid_id").alias("centroid_id"),
        )
    )
    return scored.groupBy("vec_id").agg(best.alias("b")).select(
        "vec_id", F.col("b.centroid_id").alias("centroid_id")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    explode_means: bool | None = None,
    init: DataFrame | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd's) trained entirely with DataFrame ops —
    no collect of the corpus, no UDFs. Per iteration: one broadcast
    nearest-centroid assignment (narrow) + one hash aggregation computing
    the per-dimension mean (map-side partials; k x dim floats of state).
    At 100 TB this is the standard pattern: only the k x dim centroid
    table ever leaves the executors. EAGER: the call itself runs Spark
    jobs (the init collect and every iteration's centroid collect), so a
    lazy ``init`` frame executes even at ``iters=0``, and errors surface
    at call time, not at the first action on the result.

    Determinism for cross-engine parity: init = first k vectors by id,
    assignment cosine rounded to 6dp with ties to the lower centroid id,
    and recentered means rounded to 6dp (so Spark's parallel sum order and
    another engine's serial sum can't drift apart). Empty clusters drop
    out, as in classic Lloyd's. Returns (centroid_id, zv array<double>).

    Recentering has two equivalent shapes:
    - known dim ≤ 128: one aggregate with `dim` unrolled per-dimension
      avg expressions — fastest, but the PLAN grows linearly with dim
      (codegen blow-up territory at 768+);
    - dim unknown or > 128 (or explode_means=True): posexplode to
      (centroid, pos, x) rows, avg per (centroid, pos), re-assemble the
      array via a sorted collect_list — constant plan size at any dim and
      no dim needed at plan time; the exploded aggregate still gets
      map-side partials (k·dim rows per task cross the shuffle). Both
      paths round identically, so results are identical.

    ``dim`` is never sniffed from the data: an earlier version ran
    ``c.select("cv").first()`` here — a blocking driver job inside a
    library function, paid on every call. Callers that know the dimension
    pass it (and get the unrolled path when it is small); callers that
    don't get the dim-agnostic exploded path.

    ``init`` seeds the loop with an existing (centroid_id, zv) frame
    instead of the first-k rows — the hook :func:`kmeans_converge` uses
    to run Lloyd rounds one at a time under a shift test; ``init=None``
    keeps the deterministic first-k initialization."""
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    if explode_means is None:
        explode_means = dim is None or dim > 128
    if not explode_means and dim is None:
        raise ValueError("explode_means=False requires an explicit dim")
    # r14: the centroid table is PARAMETER-sized (k·dim doubles — the
    # docstring's "only the k x dim centroid table ever leaves the
    # executors" made literal): hold it as a DRIVER LITERAL and run each
    # Lloyd round as ONE collect job. Three shape wins over the lazy
    # chain this replaces: (a) the per-round centroid broadcast is a
    # jobless LocalTableScan read instead of a broadcast-build job over
    # a growing lazy plan (an iters=2 chain re-derived iteration 1's
    # whole assignment inside iteration 2's broadcast subtree); (b) the
    # members equi-join — which re-scanned the corpus AND re-exchanged
    # the full vector payload by vec_id every iteration — is gone: the
    # argmin struct CARRIES cv through the per-vector aggregate, so one
    # scan and one vector-bearing exchange per round (guide §8: move
    # the heavy bytes once); the comparator never reaches the cv field
    # because centroid_id is unique within a group, so the argmin is
    # unchanged. (c) lineage truncates for free each round. Identical
    # values: the mean sees the same (centroid, cv) multiset the join
    # produced — null vec_ids are filtered exactly as the old inner
    # join dropped them (unique non-null ids are the family contract;
    # a duplicate id now contributes its cv once, as documented).
    spark = corpus.sparkSession
    src = init.select("centroid_id", "zv") if init is not None else (
        c.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("centroid_id"), F.col("cv").alias("zv")
        )
    )
    cent_schema = src.schema
    cent = local_table(
        spark,
        [(r["centroid_id"],
          None if r["zv"] is None else list(r["zv"])) for r in src.collect()],
        cent_schema,
    )
    for _ in range(iters):
        scored = c.crossJoin(F.broadcast(cent)).select(
            "vec_id", "centroid_id", "cv",
            F.round(_cosine(F.col("cv"), F.col("zv"), dim), 6).alias("cos"),
        )
        best = F.min(
            F.struct(
                F.col("cos").isNull().cast("int").alias("z"),
                (-F.col("cos")).alias("nc"),
                F.col("centroid_id").alias("centroid_id"),
                F.col("cv").alias("cv"),
            )
        )
        members = (
            scored.filter(F.col("vec_id").isNotNull())
            .groupBy("vec_id")
            .agg(best.alias("b"))
            .select(F.col("b.centroid_id").alias("centroid_id"), F.col("b.cv").alias("cv"))
        )
        if explode_means:
            per_dim = (
                members.select("centroid_id", F.posexplode("cv").alias("pos", "x"))
                .groupBy("centroid_id", "pos")
                .agg(F.round(F.avg("x"), 6).alias("m"))
            )
            newc = per_dim.groupBy("centroid_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("zv")
            )
        else:
            newc = members.groupBy("centroid_id").agg(
                F.array(*[F.round(F.avg(F.col("cv")[i]), 6) for i in range(dim)]).alias("zv")
            )
        cent = local_table(
            spark,
            [(r["centroid_id"],
              None if r["zv"] is None else list(r["zv"])) for r in newc.collect()],
            cent_schema,
        )
    return cent


def kmeans_converge(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    tol: float = 1e-4,
    max_iters: int = 10,
) -> DataFrame:
    """:func:`kmeans_centroids` run to a FIXED POINT instead of a blind
    iteration count: Lloyd rounds one at a time, stopping when the max
    L2 centroid shift drops to ``tol`` (or at ``max_iters``, the runaway
    bound). One blind iteration on a real corpus yields near-arbitrary
    clusters; this is the default the cartography compositions
    (cluster_topics / cluster_summary) train with.

    Scale shape: each round is one kmeans_centroids iteration (broadcast
    assignment + map-side mean partials, the corpus never collected);
    the shift test runs DRIVER-SIDE over the k-row centroid literals
    (r14: kmeans_centroids holds its state as a local relation, so the
    per-round shift join + 1-row aggregate job is pure Python over rows
    already on the driver — one scheduled job per round instead of
    two). The Python arithmetic replays the old Spark expression
    exactly: per surviving centroid, sqrt of the left-to-right sum of
    (x−y)² in index order (the zip_with fold's IEEE order), any null/
    length-mismatch making the distance null, nulls excluded from the
    max, NaN propagating so a NaN shift never satisfies the tolerance —
    bit-identical decisions. Determinism: rounds are kmeans_centroids'
    own 6dp-rounded updates from the deterministic first-k seed, so
    ``tol=0.0, max_iters=N`` is bit-identical to
    ``kmeans_centroids(iters=N)`` (a fixed point reached early is also
    kmeans' own fixed point — extra blind rounds cannot move it). Shift
    is measured over SURVIVING centroids (empty clusters drop out, as
    in classic Lloyd's) — a round that dropped a cluster never stops
    the loop, since the dropped centroid's members reassign on the NEXT
    round. Returns a LOCAL (centroid_id, zv) relation (k·dim doubles;
    broadcasts of it are jobless) — ``release`` on it is a safe no-op,
    so existing checkpoint-lifecycle callers are unchanged."""
    import math

    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    # iters=0 = the collected deterministic first-k init
    cent = kmeans_centroids(c, k, 0, "vec_id", "cv", dim=dim)
    n_old = len(cent.collect())  # local relation: a jobless driver read

    def _dist(a, b):
        # sqrt(Σ (a[i]-b[i])²) replaying zip_with+fold semantics: any
        # null operand or length mismatch nulls the whole sum
        if a is None or b is None or len(a) != len(b):
            return None
        s = 0.0
        for x, y in zip(a, b):
            if x is None or y is None:
                return None
            t = x - y
            s += t * t
        return math.sqrt(s)

    for _ in range(max_iters):
        new = kmeans_centroids(c, k, 1, "vec_id", "cv", dim=dim, init=cent)
        old_rows = {r["centroid_id"]: r["zv"] for r in cent.collect()}
        new_rows = [(r["centroid_id"], r["zv"]) for r in new.collect()]
        ds = [
            _dist(zv, old_rows[cid]) for cid, zv in new_rows if cid in old_rows
        ]
        n = len([1 for cid, _ in new_rows if cid in old_rows])
        real = [d for d in ds if d is not None]
        if any(math.isnan(d) for d in real):
            shift = float("nan")
        else:
            shift = max(real) if real else None
        cent = new
        if n == n_old and (shift is None or shift <= float(tol)):
            break
        n_old = n
    return cent


def _probe_assign(
    q: DataFrame, cent: DataFrame, nprobe: int, dim: int | None = None
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query over prepared frames
    (query_id, qv) x (centroid_id, zv): the FAISS-style multi-probe knob —
    probing several buckets recovers the neighbors that fell just across
    a Voronoi boundary from the query.

    Same no-Window discipline as _topk_reduce/_assign_prepared: centroids
    broadcast, per-query top-nprobe is collect_list over the C candidate
    structs → array_sort → slice (C = n_centroids, bounded by design —
    the centroid table must fit in a broadcast anyway), so no global sort
    and per-query state is C structs. nprobe=1 reproduces
    _assign_prepared's argmax exactly (same (is_null, -cos, centroid_id)
    ordering and tie rule). Returns (query_id, centroid_id), ≤ nprobe
    rows per query."""
    scored = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "centroid_id",
        F.round(_cosine(F.col("qv"), F.col("zv"), dim), 6).alias("cos"),
    )
    item = F.struct(
        F.col("cos").isNull().cast("int").alias("z"),
        (-F.col("cos")).alias("nc"),
        F.col("centroid_id").alias("centroid_id"),
    )
    return (
        scored.groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, nprobe).alias("tk"))
        .select("query_id", F.explode("tk").alias("it"))
        .select("query_id", F.col("it.centroid_id").alias("centroid_id"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    train_iters: int = 0,
    query_batch: int = 4096,
    dim: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: probe the query's ``nprobe`` nearest centroid
    buckets (default 1 — the recall/latency knob of every IVF index; at
    nprobe = n_centroids this degenerates to the exact full scan). With
    train_iters=0 the centroids are the first n_centroids corpus vectors
    by id (the deterministic no-training baseline); train_iters>0 runs
    that many spherical k-means iterations first (kmeans_centroids;
    ``dim``, when known, selects its unrolled recentering path).
    Q is bounded per pass by ``query_batch`` (_topk_batched).

    Scale shape: corpus vectors carry exactly one centroid_id (argmax
    assignment — at production scale, write the corpus PARTITIONED BY
    centroid_id so probes are partition-pruned scans); a query appears
    once per probed bucket, so the probe join fans the broadcast side out
    ×nprobe while the corpus side is still touched only in the probed
    buckets. Probed buckets are disjoint per query, so candidate (query,
    vec) pairs never duplicate and the downstream top-k is unchanged."""
    if train_iters > 0:
        cent = kmeans_centroids(corpus, n_centroids, train_iters, id_col, vec_col, dim=dim)
        c_all = corpus.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv")
        )
        assign = _assign_prepared(c_all, cent, dim)
        q_prep = queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        q = q_prep.join(_probe_assign(q_prep, cent, nprobe, dim), on="query_id")
        c = (
            corpus.withColumnRenamed(id_col, "vec_id")
            .join(assign, on="vec_id")
            .select("vec_id", _as_double(F.col(vec_col)).alias("cv"), "centroid_id")
        )
        def scorer_t(qb: DataFrame) -> DataFrame:
            joined = c.join(F.broadcast(qb), on="centroid_id").filter(
                F.col("vec_id") != F.col("query_id")
            )
            return joined.select(
                "query_id", "vec_id",
                F.round(_cosine(F.col("qv"), F.col("cv"), dim), 6).alias("cosine"),
            )

        return _topk_batched(q, k, query_batch, scorer_t)
    centroids = corpus.orderBy(id_col).limit(n_centroids)
    cent = centroids.select(
        F.col(id_col).alias("centroid_id"), _as_double(F.col(vec_col)).alias("zv")
    )
    assign = ivf_assign(corpus, centroids, id_col, vec_col, dim)
    corpus_b = corpus.join(assign, on=id_col)
    q_prep = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q_prep.join(_probe_assign(q_prep, cent, nprobe, dim), on="query_id")
    c = corpus_b.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"), "centroid_id"
    )
    def scorer_u(qb: DataFrame) -> DataFrame:
        joined = c.join(F.broadcast(qb), on="centroid_id").filter(
            F.col("vec_id") != F.col("query_id")
        )
        return joined.select(
            "query_id", "vec_id",
            F.round(_cosine(F.col("qv"), F.col("cv"), dim), 6).alias("cosine"),
        )

    return _topk_batched(q, k, query_batch, scorer_u)


def semdedup(
    corpus: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via k-means clustering
    + within-cluster cosine. A vector is a duplicate if some lower-id
    vector in its cluster has cosine >= threshold; the min-id member of
    each duplicate group survives. Returns (vec_id, centroid_id, is_dup).

    Scale shape: clustering is the broadcast-assign + per-dim-mean
    aggregate of kmeans_centroids (only k x dim floats of driver state);
    the pairwise step is an equi-join on centroid_id — quadratic only
    WITHIN a cluster, which is the SemDeDup design point: scale n_clusters
    with the corpus (k ~ N / target_cluster_size) so per-cluster work
    stays bounded, and the join remains hash-partitioned by cluster."""
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    if train_iters > 0:
        cent = kmeans_centroids(corpus, n_clusters, train_iters, id_col, vec_col, dim=dim)
    else:
        cent = c.orderBy("vec_id").limit(n_clusters).select(
            F.col("vec_id").alias("centroid_id"), F.col("cv").alias("zv")
        )
    a = c.join(_assign_prepared(c, cent, dim), "vec_id")
    left = a.select(F.col("vec_id").alias("id_a"), F.col("cv").alias("va"), "centroid_id")
    right = a.select(F.col("vec_id").alias("id_b"), F.col("cv").alias("vb"), "centroid_id")
    # r13: 1-element-explode barrier — without it the threshold filter
    # collapses the dim-sized cosine fold into the join condition and it
    # evaluates twice per within-cluster pair (the dedup verify fix)
    dup_pairs = (
        left.join(right, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", F.explode(F.array(
            F.round(_cosine(F.col("va"), F.col("vb"), dim), 6))).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    dropped = dup_pairs.select("id_b").distinct().withColumn("__d", F.lit(True))
    return (
        a.join(dropped, a["vec_id"] == dropped["id_b"], "left")
        .select("vec_id", "centroid_id", F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"))
    )


def ann_recall(
    exact: DataFrame, approx: DataFrame, k: int | None = None
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the tuning companion to ivf_topk's n_centroids/nprobe knobs. Both
    inputs are (query_id, vec_id, cosine, rank) frames (cosine_topk /
    ivf_topk output). Returns one row per query (query_id, n_exact,
    n_hit, recall) plus the convention that a query absent from
    ``approx`` scores 0.

    Scale shape: top-k result sets are k rows per query — two
    hash-aggregated collects to per-query id sets, one equi-join on
    query_id, set intersection per row. No window, no corpus access."""
    lim = (lambda d: d.filter(F.col("rank") <= int(k))) if k else (lambda d: d)
    ex = lim(exact).groupBy("query_id").agg(F.collect_set("vec_id").alias("__e"))
    ap = lim(approx).groupBy("query_id").agg(F.collect_set("vec_id").alias("__a"))
    hit = F.size(F.array_intersect(F.col("__e"), F.coalesce(F.col("__a"), F.array())))
    return (
        ex.join(ap, "query_id", "left")
        .select(
            "query_id",
            F.size("__e").cast("long").alias("n_exact"),
            hit.cast("long").alias("n_hit"),
            F.round(
                hit.cast("double") / F.greatest(F.size("__e"), F.lit(1)).cast("double"), 6
            ).alias("recall"),
        )
    )


def ivf_tune_nprobe(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    recall_target: float = 0.9,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
):
    """Tune a persisted IVF index's ``nprobe`` on a query sample — the
    ANN counterpart of lsh_sweep/embedding_sweep's tune-then-pin loop:
    exact brute-force top-k over ``corpus`` is the ground truth
    (computed ONCE, checkpointed), each candidate nprobe queries the
    index and scores mean recall@k via ann_recall, and the SMALLEST
    nprobe clearing ``recall_target`` wins (cheapest bucket volume at
    that recall; falls back to the largest swept value — the
    fail-toward-recall direction every auto-tuner here shares).
    Returns ``(picked_nprobe, sweep_df)`` with one (nprobe, recall,
    n_queries) row per candidate — persist the sweep next to the index
    for audit, exactly as the auto-geometry builders do.

    Recall is MONOTONE non-decreasing in nprobe (the top-(n+1) probed
    centroid set contains the top-n set), so the smallest-clearing rule
    is well-defined — property-tested. Scale shape: the driver loop is
    bounded at len(nprobes) one-row aggregates; the ground truth and
    each probe run are distributed queries."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

    spark = corpus.sparkSession
    cand = sorted(set(int(n) for n in nprobes))
    if not cand or cand[0] < 1:
        raise ValueError(f"nprobes must be >= 1, got {nprobes}")
    truth = eager_checkpoint(cosine_topk(corpus, queries, id_col, vec_col, k))
    rows = []
    for np_ in cand:
        approx = ivf_query_index(spark, path, queries, id_col, vec_col, k, np_)
        r = ann_recall(truth, approx, k).agg(
            F.round(F.avg("recall"), 6).alias("recall"),
            F.count(F.lit(1)).alias("n_queries"),
        ).collect()[0]
        rows.append((np_, float(r["recall"]), int(r["n_queries"])))
    release(truth)
    sweep = local_table(spark, rows, "nprobe int, recall double, n_queries long")
    ok = [n for n, rec, _ in rows if rec >= float(recall_target)]
    return (ok[0] if ok else cand[-1]), sweep


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    dim: int | None = None,
    quantize: bool = False,
    pq_m: int = 0,
    pq_k: int = 16,
    pq_iters: int = 0,
) -> None:
    """Materialize an IVF index on disk: the corpus written PARTITIONED BY
    centroid_id (``<path>/vectors/centroid_id=*/``) plus the centroid
    table (``<path>/centroids``). This is the production form every
    ivf_topk docstring points at — at 100 TB the index is built once and
    every query session probes it with PARTITION-PRUNED scans instead of
    re-assigning the corpus per query batch. Centroids are the
    deterministic first-k baseline, or k-means-trained with
    ``train_iters`` > 0.

    ``quantize=True`` stores the vectors int8-quantized (columns ``q`` +
    ``q_scale`` replace the float array — the embedding_quantize layout):
    ~4× less index disk/scan IO, assignment still happens on the float
    vectors at build time, and ivf_query_index dequantizes bucket rows on
    the fly (recall cost is measurable with ann_recall; int8 keeps top-5
    recall ≥0.9 on the fixture embeddings, tested).

    ``pq_m > 0`` stores IVF-PQ instead (requires ``dim``; exclusive with
    ``quantize``): the vectors partition becomes (vec_id, pq_code) —
    ``pq_m`` codes over the RESIDUAL v - centroid, trained with
    ``pq_iters`` per-subspace Lloyd's over ``pq_k`` codewords — plus the
    residual codebook at ``<path>/codebook``. dim·4 bytes/vector becomes
    pq_m bytes: the layout that fits a billion-vector index in executor
    memory; ivf_query_index ADC-scores the probed buckets without ever
    reading a float vector."""
    if quantize and pq_m:
        raise ValueError("quantize and pq_m are mutually exclusive index layouts")
    if pq_m and not dim:
        raise ValueError("pq_m requires an explicit dim")
    from wrangler_spark.datapipe import _layout
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

    # versioned snapshot build (see minhash_write_index): the rebuild
    # becomes visible only at the commit marker, so probes never see
    # new centroids over old vector partitions
    vdir = _layout.begin_version(corpus.sparkSession, path)
    if train_iters > 0:
        cent = kmeans_centroids(corpus, n_centroids, train_iters, id_col, vec_col, dim=dim)
    else:
        cent = corpus.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("centroid_id"), _as_double(F.col(vec_col)).alias("zv")
        )
    # cent feeds the assignment AND the centroids write (plus the
    # residual join in pq mode) — with train_iters > 0 an un-checkpointed
    # cent re-runs the whole k-means per consumer
    cent = eager_checkpoint(cent)
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    assign = _assign_prepared(c, cent, dim)
    if pq_m:
        # same 3-consumer shuffle-bearing subtree as ivf_pq_topk
        resid = eager_checkpoint(
            c.join(assign, "vec_id")
            .join(F.broadcast(cent), "centroid_id")
            .select(
                "vec_id", "centroid_id",
                F.zip_with("cv", "zv", lambda x, y: x - y).alias("rv"),
            )
        )
        cb = pq_train(resid, dim, pq_m, pq_k, pq_iters, id_col="vec_id", vec_col="rv")
        (
            pq_encode(resid, cb, dim, pq_m, id_col="vec_id", vec_col="rv")
            .select("vec_id", "pq_code", "centroid_id")
            .write.partitionBy("centroid_id")
            .parquet(f"{vdir}/vectors")
        )
        cb.write.parquet(f"{vdir}/codebook")
        cent.write.parquet(f"{vdir}/centroids")
        release(resid)
        release(cb)
        release(cent)
        _layout.commit_version(corpus.sparkSession, vdir)
        return
    base = corpus.withColumnRenamed(id_col, "vec_id")
    if quantize:
        base = embedding_quantize(base, vec_col).drop(vec_col)
    (
        base.join(assign, "vec_id")
        .write.partitionBy("centroid_id")
        .parquet(f"{vdir}/vectors")
    )
    cent.write.parquet(f"{vdir}/centroids")
    release(cent)
    _layout.commit_version(corpus.sparkSession, vdir)


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    query_batch: int = 4096,
) -> DataFrame:
    """Query a persisted IVF index with PARTITION-PRUNED bucket scans:
    the query set probes its ``nprobe`` nearest centroids, the DISTINCT
    probed bucket ids (≤ n_centroids scalars — bounded by the broadcast
    contract) become an ``isin`` partition filter on the vectors read, so
    the scan touches only the probed ``centroid_id=*`` directories
    (verify with .explain: PartitionFilters carries the centroid_id
    predicate and the file index reads a subset of partitions). Scoring
    and top-k reduction are exactly ivf_topk's (same bucket equi-join,
    same two-phase no-Window top-k, same query batching). The index
    root resolves to the latest committed version (``_layout``), so a
    query can run concurrently with a rebuild or compaction."""
    from wrangler_spark.datapipe import _layout

    root = _layout.resolve(spark, path)
    cent = spark.read.parquet(f"{root}/centroids")
    q_prep = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    probes = _probe_assign(q_prep, cent, nprobe)
    probed = [r[0] for r in probes.select("centroid_id").distinct().collect()]
    # tombstoned vec_ids (maintenance.forget_ids) anti-join out here, so
    # a forgotten vector never surfaces in a query between the forget
    # request and the compaction that erases it; the centroid_id filter
    # pushes through the anti-join to the scan, so pruning is unchanged
    from wrangler_spark.datapipe.maintenance import read_forgetting

    raw = read_forgetting(spark, root, "vectors", "vec_id").filter(
        F.col("centroid_id").isin(probed)
    )
    if "pq_code" in raw.columns:
        # IVF-PQ layout (pq_m at build): ADC-score the pruned code scans
        # against the residual codebook — no float vector is ever read.
        # m and dim come from the codebook itself (one bounded scalar
        # aggregate: ≤ m·k rows), never from sniffing the corpus.
        cb = spark.read.parquet(f"{root}/codebook")
        shape = cb.agg(
            (F.max("m") + 1).alias("m"), F.max(F.size("zv")).alias("sub")
        ).collect()[0]
        m = int(shape["m"])
        return _ivf_pq_score(
            raw.select("vec_id", "centroid_id", "pq_code"),
            cent, cb,
            q_prep.select("query_id", F.col("qv").alias("__qv")),
            probes, m * int(shape["sub"]), m, k, query_batch,
        )
    if vec_col not in raw.columns and "q" in raw.columns:
        # int8-quantized index (quantize=True at build): dequantize the
        # probed bucket rows scan-side — q_i · scale, still zero shuffle
        cv = F.transform(F.col("q"), lambda x: x.cast("double") * F.col("q_scale"))
    else:
        cv = _as_double(F.col(vec_col))
    vecs = raw.select("vec_id", cv.alias("cv"), "centroid_id")
    q = q_prep.join(probes, "query_id")

    def scorer(qb: DataFrame) -> DataFrame:
        joined = vecs.join(F.broadcast(qb), "centroid_id").filter(
            F.col("vec_id") != F.col("query_id")
        )
        return joined.select(
            "query_id", "vec_id", F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
        )

    return _topk_batched(q, k, query_batch, scorer)


def embedding_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """L2-normalize an embedding column (6dp-rounded elements — the
    cross-engine contract). Unit vectors make cosine a plain dot product
    downstream and are the expected input of most ANN indexes. Zero/null
    vectors come through as null (a zero vector has no direction).
    Scan-side transform, zero shuffle; the norm is staged as its own
    projection — Spark does no CSE inside HOF lambdas, so referencing
    the O(d) aggregate from the per-element lambda would recompute it
    per element, O(d^2) per row (the constraint embedding_quantize's
    __ma staging documents)."""
    c = F.col(vec_col)
    staged = df.withColumn(
        "__nrm", F.sqrt(F.aggregate(_as_double(c), F.lit(0.0), lambda s, x: s + x * x))
    )
    nrm = F.col("__nrm")
    out = F.when(
        c.isNotNull() & (nrm > 0),
        F.transform(_as_double(c), lambda x: F.round(x / nrm, 6)),
    )
    return staged.withColumn(out_col or vec_col, out).drop("__nrm")


def embedding_quantize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q", scale_col: str = "q_scale"
) -> DataFrame:
    """Symmetric int8 quantization with a per-vector max-abs scale:
    q_i = round(127·x_i / max|x|), scale = round(max|x|/127, 6) — at
    100 TB this is the standard 4x storage/IO cut for embedding columns
    (dequantize as q_i·scale; recall loss is benchmarkable with
    ann_recall over a dequantized index vs the float one). All-zero /
    null vectors quantize to null. Scan-side, zero shuffle; stage the
    max-abs as its own projection (no CSE in HOF lambdas)."""
    staged = df.withColumn(
        "__ma",
        F.aggregate(
            _as_double(F.col(vec_col)), F.lit(0.0), lambda s, x: F.greatest(s, F.abs(x))
        ),
    )
    ma = F.col("__ma")
    q = F.when(
        F.col(vec_col).isNotNull() & (ma > 0),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * F.lit(127.0) / ma).cast("int"),
        ),
    )
    scale = F.when(F.col(vec_col).isNotNull() & (ma > 0), F.round(ma / F.lit(127.0), 6))
    return (
        staged.withColumn(out_col, q)
        .withColumn(scale_col, scale.cast("double"))
        .drop("__ma")
    )


def embedding_project(
    df: DataFrame, dim_in: int, dim_out: int = 16, vec_col: str = "embedding",
    out_col: str | None = None, seed: int = 1337,
    broadcast_signs: bool | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``dim_out`` dimensions:
    y_j = round((Σ_d x_d · s_jd) / sqrt(dim_out), 6) with a deterministic
    ±1 sign matrix (Achlioptas 2003 — sign entries satisfy the JL lemma;
    no gaussians needed). At 100 TB this is the cheap first move before
    clustering / LSH / SemDeDup: 768 → 64 dims cuts every downstream
    shuffle byte and distance computation ~12× while approximately
    preserving pairwise cosines (quantifiable with ann_recall over a
    projected index vs the float one — same harness as int8 quantize).

    ``dim_in`` is explicit, never sniffed with a driver job (the
    kmeans_centroids contract); the seeded LCG matrix is shared with the
    DuckDB oracle, so both engines project bit-identically. Two matrix
    delivery modes mirror embedding_dup_pairs: literal arrays while
    dim_in·dim_out ≤ 8K entries (plan-size bounded), otherwise ONE
    broadcast LocalRelation row with a nested higher-order transform —
    constant plan size, and no shuffle either way. Null vectors project
    to null; vectors shorter than dim_in yield null (zip_with pads with
    null, which poisons the fold — the fixed-width contract surfaces as
    null, not a wrong number)."""
    from .constants import jl_signs

    if dim_in <= 0 or dim_out <= 0:
        raise ValueError("embedding_project needs positive dim_in/dim_out")
    out_col = out_col or vec_col
    signs = jl_signs(dim_out, dim_in, seed)
    v = _as_double(F.col(vec_col))
    scale = F.sqrt(F.lit(float(dim_out)))
    if broadcast_signs is None:
        broadcast_signs = dim_in * dim_out > 8192
    if broadcast_signs:
        pl = local_table(df.sparkSession,
            [([[float(x) for x in r] for r in signs],)], "__sgn ARRAY<ARRAY<DOUBLE>>"
        )
        proj = F.transform(
            F.col("__sgn"),
            lambda row: F.round(
                F.aggregate(
                    F.zip_with(v, row, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
                )
                / scale,
                6,
            ),
        )
        return (
            df.crossJoin(F.broadcast(pl))
            .withColumn(out_col, F.when(v.isNotNull(), proj))
            .drop("__sgn")
        )
    # per-component dot stays the HOF fold: an unrolled
    # element·literal chain (dim_out chains × dim_in terms) was tried
    # and measured 6.6x SLOWER at 64→16 (the projection drops out of
    # codegen entirely) — see the _UNROLL_MAX_DIM note
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(float(x)) for x in row]), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            / scale,
            6,
        )
        for row in signs
    ]
    return df.withColumn(out_col, F.when(v.isNotNull(), F.array(*comps)))


def mmr_rerank(
    topk: DataFrame, corpus: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int | None = None, lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) of a top-k retrieval result: greedily re-orders each
    query's candidates by λ·relevance − (1−λ)·max-similarity-to-already-
    selected — the standard redundancy remover for RAG context packing
    (ten near-identical top hits waste nine context slots).

    Input is a cosine_topk/ivf_topk frame (query_id, vec_id, cosine,
    rank) plus the corpus for candidate vectors; output is (query_id,
    vec_id, cosine, mmr_rank, mmr_score) with ``k`` rows per query
    (default: all candidates re-ordered).

    Scale shape: candidates join their vectors (one equi-join), then ONE
    applyInPandas per query group — the greedy loop is genuinely
    iterative (each pick changes the next pick's penalty) so this is the
    sanctioned Arrow path; per-group state is K vectors with K = the
    top-k size, bounded and tiny. No corpus-sized state anywhere."""
    import numpy as np
    import pandas as pd

    out_k = k
    cand = topk.join(
        corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("__v")),
        "vec_id",
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rank").reset_index(drop=True)
        V = np.stack(pdf["__v"].values).astype(float)
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        V = V / n[:, None]
        sims = V @ V.T
        rel = pdf["cosine"].to_numpy(dtype=float)
        kk = len(pdf) if out_k is None else min(out_k, len(pdf))
        chosen: list[int] = []
        scores: list[float] = []
        rest = list(range(len(pdf)))
        while rest and len(chosen) < kk:
            if not chosen:
                mmr = rel[rest]
            else:
                pen = sims[np.ix_(rest, chosen)].max(axis=1)
                mmr = lam * rel[rest] - (1.0 - lam) * pen
            # ties break to the earlier (higher-relevance) candidate
            best = int(np.argmax(mmr))
            chosen.append(rest.pop(best))
            scores.append(round(float(mmr[best]), 6))
        sel = pdf.iloc[chosen][["query_id", "vec_id", "cosine"]].copy()
        sel["mmr_rank"] = range(1, len(chosen) + 1)
        sel["mmr_score"] = scores
        return sel

    # id types follow the input frame (cosine_topk over string or int
    # ids is legal) — hardcoding long here raised Arrow schema
    # mismatches on any non-long id
    qt = topk.schema["query_id"].dataType.simpleString()
    vt = topk.schema["vec_id"].dataType.simpleString()
    schema = f"query_id {qt}, vec_id {vt}, cosine double, mmr_rank int, mmr_score double"
    return cand.groupBy("query_id").applyInPandas(_mmr, schema)


def rrf_fuse(
    frames: list[DataFrame], kconst: int = 60, k: int = 10
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    fuse ranked result lists — lexical BM25 with vector ANN, or exact
    with approximate — by score(q,d) = Σ_systems 1/(kconst + rank). The
    standard hybrid-retrieval combiner: needs no score calibration
    between systems because only RANKS enter, and kconst=60 is the
    published default. Input frames are (query_id, vec_id, rank) (the
    cosine_topk / ivf_topk / bm25-derived shape); returns (query_id,
    vec_id, rrf_score, rank) with the fused top-k per query.

    Scale shape: one union of k-rows-per-query frames, one hash
    aggregate on (query, doc), then the same two-phase no-Window top-k
    as every ANN path. Input is rank lists, never corpora — the heavy
    retrieval already happened upstream."""
    if not frames:
        raise ValueError("rrf_fuse needs at least one ranked frame")
    u = frames[0].select("query_id", "vec_id", "rank")
    for f in frames[1:]:
        u = u.unionByName(f.select("query_id", "vec_id", "rank"))
    scored = u.groupBy("query_id", "vec_id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(kconst)) + F.col("rank").cast("double"))), 6
        ).alias("cosine")
    )
    out = _topk_reduce(scored, k)
    return out.withColumnRenamed("cosine", "rrf_score")


def ivf_append_index(
    new_vectors: DataFrame, path: str, id_col: str = "vec_id",
    vec_col: str = "embedding", quantize: bool | None = None,
) -> None:
    """Incrementally extend a persisted IVF index: assign NEW vectors to
    the EXISTING centroids and append them to the partitioned layout —
    the ANN counterpart of exact_dedup_against's ingestion contract. At
    100 TB the index is built once and each ingestion batch appends;
    re-clustering is a deliberate, rare event (centroids drift slowly,
    and rewriting 100 TB to move 0.1% of vectors is never worth it —
    re-run ivf_write_index when recall, measured with ann_recall, says
    so).

    ``quantize`` defaults to whatever the existing index stores (sniffed
    from the vectors schema, one metadata read — no data scan), so a
    float index stays float, an int8 index stays int8, and an IVF-PQ
    index (pq_code layout) encodes the batch's residuals against the
    STORED codebook — codewords are frozen at build time, exactly like
    the centroids (retrain, like recluster, is a deliberate rare event
    triggered by an ann_recall regression). Appends use dynamic
    partition append: only the probed centroid_id directories gain
    files, existing data is never rewritten. Appends land in the
    CURRENT resolved version (``_layout``) so they stay visible across
    compaction cadences, and hold the writer lease so they can never
    interleave with a rebuild or compaction of the same index."""
    from wrangler_spark.datapipe import _layout

    spark = new_vectors.sparkSession
    with _layout.writer_lease(spark, path):
        root = _layout.resolve(spark, path)
        cent = spark.read.parquet(f"{root}/centroids")
        existing_cols = spark.read.parquet(f"{root}/vectors").schema.fieldNames()
        c = new_vectors.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv")
        )
        assign = _assign_prepared(c, cent)
        if "pq_code" in existing_cols:
            from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

            cb = spark.read.parquet(f"{root}/codebook")
            shape = cb.agg(
                (F.max("m") + 1).alias("m"), F.max(F.size("zv")).alias("sub")
            ).collect()[0]
            m = int(shape["m"])
            # pq_encode reads resid twice (subvectors + code join-back) and
            # resid contains the assignment shuffle — checkpoint, like the
            # build path
            resid = eager_checkpoint(
                c.join(assign, "vec_id")
                .join(F.broadcast(cent), "centroid_id")
                .select(
                    "vec_id", "centroid_id",
                    F.zip_with("cv", "zv", lambda x, y: x - y).alias("rv"),
                )
            )
            (
                pq_encode(resid, cb, m * int(shape["sub"]), m, id_col="vec_id", vec_col="rv")
                .select("vec_id", "pq_code", "centroid_id")
                .write.mode("append")
                .partitionBy("centroid_id")
                .parquet(f"{root}/vectors")
            )
            release(resid)
            return
        if quantize is None:
            quantize = "q" in existing_cols and vec_col not in existing_cols
        base = new_vectors.withColumnRenamed(id_col, "vec_id")
        if quantize:
            base = embedding_quantize(base, vec_col).drop(vec_col)
        (
            base.join(assign, "vec_id")
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(f"{root}/vectors")
        )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the standard memory-bound ANN
# compression: each vector becomes m uint8-sized codes (dim 64 float64 →
# 8 bytes, a 64x cut), and query scoring never touches a float vector,
# only per-query lookup tables (ADC, asymmetric distance computation).
# At 100 TB this is what makes a billion-vector index fit executor
# memory; combine with the IVF partitioning for the classic IVF-PQ.
# ---------------------------------------------------------------------------


def _subvectors(df: DataFrame, id_expr: Column, vec_col: str, dim: int, m: int) -> DataFrame:
    """(id, __m, __sv): each vector split into m contiguous dim/m
    subvectors — the unrolled-array + posexplode shape (m is small, the
    plan stays constant-size per subspace; no Column-typed slice starts
    needed)."""
    sub = dim // m
    arr = F.array(
        *[F.slice(_as_double(F.col(vec_col)), j * sub + 1, sub) for j in range(m)]
    )
    return df.select(id_expr, F.posexplode(arr).alias("__m", "__sv"))


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train a product-quantization codebook: an independent ``k``-entry
    L2 Lloyd's codebook per contiguous subspace, ALL subspaces in ONE
    grouped iteration loop (the (vec, subspace) rows carry a subspace
    key, so per-iteration assignment and recentering are single
    broadcast-join + hash-aggregate jobs over every subspace at once —
    never m sequential k-means runs). Returns (m, cid, zv) with cid a
    DENSE 0..k-1 index per subspace (what pq_encode's codes and
    pq_topk's lookup tables address by position).

    Determinism (the kmeans_centroids contract): init = the first k
    vectors by id, L2 distances rounded to 6dp with ties to the lower
    init id, per-dimension means rounded to 6dp, and the dense re-index
    sorts by the init id — bit-stable across partitionings. ``dim`` is
    explicit and must be divisible by ``m``; it is never sniffed with a
    driver job.

    Scale shape: only the m·k·(dim/m) codebook ever leaves the
    executors (broadcast per iteration); the subvector frame is
    checkpointed once (it feeds init + 2 consumers per iteration) and
    released before return; per-iteration codebooks release their
    superseded checkpoints (the round-8 lifecycle rule)."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    iters = int(iters)
    sub = dim // m
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    if iters == 0:
        # untrained fast path (the SQL-expressible codebook the graded
        # queries use): the codebook is exactly the first-k vectors'
        # subvectors, a k·dim-double payload — r13 batch 15 collects
        # those k rows (the kmeans-init bounded-driver-read pattern;
        # k is a parameter, never corpus-sized) and returns a LOCAL
        # relation. That removes the whole distributed codebook
        # subtree: the TakeOrdered job, the dense-reindex aggregate's
        # two exchanges, and the eager-checkpoint materialization —
        # and both downstream broadcasts (pq_encode, _adc_tables)
        # become jobless LocalTableScan broadcasts. Same rows by
        # construction: the subvector split commutes with the first-k
        # semi-join, null vec_ids are dropped exactly as the old
        # join("vec_id") dropped them (after occupying their LIMIT
        # slots), and dense cid = position in vec_id order = the old
        # sort-by-init-id reindex. Unique ids are the family contract
        # (the _topk_batched note); _as_double mirrors _subvectors.
        spark = corpus.sparkSession
        first = (
            c.orderBy("vec_id")
            .limit(int(k))
            .select("vec_id", _as_double(F.col("__v")).alias("__dv"))
            .collect()
        )
        data = []
        cid = 0
        for r in first:
            if r["vec_id"] is None:
                continue
            v = r["__dv"]
            for j in range(m):
                zv = None if v is None else list(v[j * sub:(j + 1) * sub])
                data.append((j, cid, zv))
            cid += 1
        return local_table(spark,
            data, schema="m int, cid int, zv array<double>"
        )
    else:
        first_k = c.orderBy("vec_id").limit(int(k)).select("vec_id")
        subs = eager_checkpoint(_subvectors(c, F.col("vec_id"), "__v", dim, m))
        cent = eager_checkpoint(
            subs.join(first_k, "vec_id").select(
                "__m", F.col("vec_id").alias("centroid_id"), F.col("__sv").alias("zv")
            )
        )
    l2 = lambda a, b: F.round(_l2_n(a, b, sub), 6)  # noqa: E731
    for _ in range(iters):
        scored = subs.join(F.broadcast(cent), "__m").select(
            "vec_id", "__m", "__sv", "centroid_id", l2(F.col("__sv"), F.col("zv")).alias("d")
        )
        best = F.min(
            F.struct(
                F.col("d").isNull().cast("int").alias("z"),
                F.col("d").alias("d"),
                F.col("centroid_id").alias("centroid_id"),
            )
        )
        assign = scored.groupBy("vec_id", "__m").agg(best.alias("b")).select(
            "vec_id", "__m", F.col("b.centroid_id").alias("centroid_id")
        )
        per_dim = (
            subs.join(assign, ["vec_id", "__m"])
            .select("__m", "centroid_id", F.posexplode("__sv").alias("pos", "x"))
            .groupBy("__m", "centroid_id", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mn"))
        )
        prev = cent
        cent = eager_checkpoint(
            per_dim.groupBy("__m", "centroid_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
                ).alias("zv")
            )
        )
        release(prev)
    dense = (
        cent.groupBy("__m")
        .agg(F.array_sort(F.collect_list(F.struct("centroid_id", "zv"))).alias("cs"))
        .select(F.col("__m").alias("m"), F.posexplode("cs").alias("cid", "s"))
        .select("m", F.col("cid").cast("int").alias("cid"), F.col("s.zv").alias("zv"))
    )
    out = eager_checkpoint(dense)
    release(cent)
    release(subs)
    return out


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    codes_only: bool = False,
) -> DataFrame:
    """Encode vectors against a pq_train codebook: ``out_col`` becomes
    an array<int> of m dense centroid indices (subspace order). The
    compressed corpus representation pq_topk scores WITHOUT reading the
    vectors — persist (id, pq_code) and drop the float column for the
    64x storage cut. ``codes_only=True`` returns just (id, code) rows
    for consumers that never read the original columns (pq_topk's ADC
    scan, a persisted codes write): it skips the join-back below, which
    at corpus scale is a second full scan of ``df`` plus a corpus-sized
    join spent re-attaching columns the consumer immediately drops —
    identical (id, code) pairs under the family's unique-non-null-id
    contract (r13 session 5; plan evidence in plans/r13/). Nearest-
    centroid per subspace = broadcast join +
    min-struct hash aggregate (one row per (vec, subspace) crosses the
    shuffle; never a rank window). Ties round-6dp to the lower cid,
    matching training.

    r13 note: a scan-side rewrite (codebook collected and inlined as
    literal arrays, per-subspace argmin via array_min — removing the
    explode, the two shuffled aggregates and the code join-back) was
    built, passed parity, and was REVERTED: interleaved count-
    methodology A/B read it ~60% slower locally (5.8-6.5 s vs
    3.5-3.9 s for ann_pq_topk) — the per-row higher-order-function
    candidate sweep is interpreted, while this shape keeps the L2
    scoring on narrow (vec, subspace, cid) rows the join machinery
    pipelines efficiently (guide §1.1: the "ideal" plan lost to the
    measured one). The removed-shuffle idea stays a round-2
    candidate via a vectorized Arrow scorer.

    r13 batch 15 (guide §2.4 — two aggregations keyed (id, m) then (id)
    share one exchange when the second is expressed as m static
    conditional aggregates): the per-subspace argmin and the code-array
    assembly run in ONE groupBy(__id) — F.min ignores the NULL structs
    F.when leaves on other subspaces' rows, so min(when(__m == j, s))
    IS the old per-(__id, j) min, and m is static so the array literal
    replaces the sort-by-__m transform. One exchange instead of two,
    identical structs compared in the identical order."""
    subs = _subvectors(df, F.col(id_col).alias("__id"), vec_col, dim, m)
    l2 = F.round(_l2_n(F.col("__sv"), F.col("zv"), dim // m), 6)
    scored = subs.join(F.broadcast(codebook), F.col("__m") == F.col("m")).select(
        "__id", "__m", "cid", l2.alias("d")
    )
    best = F.struct(
        F.col("d").isNull().cast("int").alias("z"),
        F.col("d").alias("d"),
        F.col("cid").alias("cid"),
    )
    # a broken vector (null / length-mismatched) has every distance null
    # (z=1): its cid becomes NULL, so the code array carries nulls and
    # ADC scoring yields a null score — ranked NULLS LAST by the family
    # contract ("a null cosine must never evict a real neighbor"),
    # matching how cosine_topk/ivf_topk treat the same row
    codes = (
        scored.groupBy("__id")
        .agg(*[
            F.min(F.when(F.col("__m") == j, best)).alias(f"__b{j}")
            for j in range(int(m))
        ])
        .select(
            "__id",
            F.array(*[
                F.when(F.col(f"__b{j}.z") == 0, F.col(f"__b{j}.cid"))
                for j in range(int(m))
            ]).alias(out_col),
        )
    )
    if codes_only:
        return codes.select(F.col("__id").alias(id_col), F.col(out_col))
    return df.join(codes, F.col(id_col) == F.col("__id"), "left").drop("__id")


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    query_batch: int = 4096,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: per query, ONE m×k lookup
    table of subvector dot products (queries × codebook, broadcast);
    per corpus row, the approximate dot product is m array lookups —
    the corpus float vectors are never read. Returns (query_id, vec_id,
    cosine, rank) — the cosine column holds the APPROXIMATE dot product
    (exact cosine for unit vectors up to quantization error; measure
    the error with ann_recall against cosine_topk, the same harness as
    the int8/IVF knobs).

    Scale shape: table construction is queries×(m·k) rows (broadcast
    codebook), the scoring pass is a narrow map over the code column
    (tables broadcast per query batch), and ranking is the family's
    two-phase no-Window top-k with the _topk_batched memory bound.
    ``corpus_codes`` executes once per query chunk — for query sets
    beyond one chunk pass a PERSISTED codes frame (pq_encode output
    written to parquet, or the ivf_write_index(pq_m=…) layout), not the
    raw encode pipeline, or the encode joins re-run per chunk."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))

    def scorer(qb: DataFrame) -> DataFrame:
        tables = _adc_tables(qb, codebook, dim, m)
        return (
            corpus_codes.select(F.col(id_col).alias("vec_id"), F.col(code_col).alias(code_col))
            .crossJoin(F.broadcast(tables))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                F.round(_adc_sum(F.col(code_col), m), 6).alias("cosine"),
            )
        )

    return _topk_batched(q, k, query_batch, scorer)


def _adc_tables(qb: DataFrame, codebook: DataFrame, dim: int, m: int) -> DataFrame:
    """(query_id, __tables) per query in ``qb`` (query_id, __qv):
    __tables[j+1][c+1] = 6dp dot of the query's j-th subvector with
    subspace j's codeword c — the ADC lookup table, built with the
    codebook broadcast (queries × m·k rows, never corpus-sized)."""
    qsubs = _subvectors(qb, F.col("query_id"), "__qv", dim, m)
    dot = F.round(_dot_n(F.col("__sv"), F.col("zv"), dim // m), 6)
    per_cell = qsubs.join(F.broadcast(codebook), F.col("__m") == F.col("m")).select(
        "query_id", "__m", "cid", dot.alias("d")
    )
    # r13 batch 15: ONE groupBy(query_id) collects every (subspace, cid)
    # cell, and the nested m×k table is re-assembled scan-side from the
    # (__m, cid)-sorted flat array — (__m, cid) is unique per query and
    # every subspace carries the same k codewords, so slice j·k+1..k of
    # the sorted flat array IS the old per-subspace cid-sorted ds.
    # One exchange instead of two (the old shape aggregated per
    # (query, __m) first, then per query); d never participates in the
    # sort because (__m, cid) is already unique.
    k_per_sub = (F.size(F.col("__f")) / F.lit(int(m))).cast("int")
    return (
        per_cell.groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("__m", "cid", "d"))).alias("__f"))
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(int(m) - 1)),
                lambda j: F.transform(
                    F.slice(F.col("__f"), j * k_per_sub + F.lit(1), k_per_sub),
                    lambda s: s["d"],
                ),
            ).alias("__tables"),
        )
    )


def _adc_sum(code: Column, m: int) -> Column:
    """The (unrounded) ADC approximate dot product: m lookups of
    ``__tables`` addressed by the row's dense code array — unrolled
    (m is static) into a codegen-compiled chain with the identical
    left-associative order and element_at semantics the old
    sequence-fold had."""
    e: Column = F.lit(0.0)
    for i in range(1, int(m) + 1):
        e = e + F.element_at(
            F.element_at(F.col("__tables"), i),
            F.element_at(code, F.lit(i)) + F.lit(1),
        )
    return e


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: int = 8,
    m: int = 8,
    k_cb: int = 16,
    k: int = 5,
    nprobe: int = 1,
    pq_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_batch: int = 4096,
) -> DataFrame:
    """IVF-PQ (Jégou et al. TPAMI'11 §IV): coarse IVF partitioning +
    product quantization of the RESIDUALS (v - centroid), the classic
    billion-vector layout — each vector stored as (centroid_id, m codes),
    queries probe ``nprobe`` buckets and ADC-score only bucket members.
    For the inner-product metric the identity dot(q, c + r̂) =
    dot(q, c) + dot(q, r̂) makes the lookup tables CENTROID-INDEPENDENT:
    one m×k_cb table per query (built once against the residual
    codebook) plus one scalar dot(q, centroid) per probed bucket.
    Returns (query_id, vec_id, cosine, rank); cosine is the approximate
    dot (exact for unit vectors up to quantization error — measure with
    ann_recall, the family harness).

    Coarse centroids are the deterministic first-``n_centroids`` vectors
    (cosine assignment, the ivf_topk convention); ``pq_iters`` trains the
    residual codebook with per-subspace Lloyd's. All determinism
    contracts (6dp rounding, ties to lower id) are inherited, so the
    untrained path has a full DuckDB oracle.

    Scale shape: residual computation is a broadcast centroid join
    (narrow); codes are checkpointed once (they feed every query chunk —
    at production scale use ivf_write_index(pq_m=m) to persist them
    partitioned by centroid_id and get partition-pruned probes);
    per-chunk scoring joins codes to the broadcast (query, bucket, qc,
    tables) frame on centroid_id — bucket members only, never the whole
    corpus — and ranking is the two-phase no-Window top-k. Checkpoints
    (centroids, codebook, codes) release via the caller's
    checkpoint_scope."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    cent = eager_checkpoint(
        c.orderBy("vec_id").limit(int(n_centroids)).select(
            F.col("vec_id").alias("centroid_id"), F.col("cv").alias("zv")
        )
    )
    assign = _assign_prepared(c, cent, dim)
    # resid's subtree contains the assignment shuffle aggregate and
    # feeds THREE consumers (pq_train's subvectors, pq_encode's
    # subvectors, pq_encode's code join-back) — the checkpoint rule
    # applies; released as soon as codes have materialized
    resid = eager_checkpoint(
        c.join(assign, "vec_id")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id", "centroid_id",
            F.zip_with("cv", "zv", lambda x, y: x - y).alias("rv"),
        )
    )
    cb = pq_train(resid, dim, m, k_cb, pq_iters, id_col="vec_id", vec_col="rv")
    codes = eager_checkpoint(
        pq_encode(resid, cb, dim, m, id_col="vec_id", vec_col="rv")
        .select("vec_id", "centroid_id", "pq_code")
    )
    release(resid)
    q_prep = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    probes = _probe_assign(
        q_prep.select("query_id", F.col("__qv").alias("qv")), cent, nprobe, dim)
    return _ivf_pq_score(codes, cent, cb, q_prep, probes, dim, m, k, query_batch)


def _ivf_pq_score(
    codes: DataFrame, cent: DataFrame, cb: DataFrame, q_prep: DataFrame,
    probes: DataFrame, dim: int, m: int, k: int, query_batch: int,
) -> DataFrame:
    """Shared IVF-PQ scoring tail over prepared frames: codes (vec_id,
    centroid_id, pq_code), cent (centroid_id, zv), cb (m, cid, zv),
    q_prep (query_id, __qv), probes (query_id, centroid_id). Builds the
    centroid-independent ADC tables once, attaches the per-bucket
    query-centroid dot, and runs the family's batched no-Window top-k."""
    tables = _adc_tables(q_prep, cb, dim, m)
    qc_dot = F.round(_dot_n(F.col("__qv"), F.col("zv"), dim), 6)
    q = (
        probes.join(q_prep, "query_id")
        .join(F.broadcast(cent), "centroid_id")
        .select("query_id", "centroid_id", qc_dot.alias("__qc"))
        .join(tables, "query_id")
    )

    def scorer(qb: DataFrame) -> DataFrame:
        joined = codes.join(F.broadcast(qb), "centroid_id").filter(
            F.col("vec_id") != F.col("query_id")
        )
        return joined.select(
            "query_id", "vec_id",
            F.round(F.col("__qc") + _adc_sum(F.col("pq_code"), m), 6).alias("cosine"),
        )

    return _topk_batched(q, k, query_batch, scorer)


def embedding_outliers(
    corpus: DataFrame,
    n_clusters: int = 8,
    q: float = 0.05,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Off-manifold detection — the complement of semdedup: flag vectors
    whose 6dp cosine to their ASSIGNED centroid falls strictly below
    their own cluster's ``q``-quantile. SemDeDup drops what is too close
    to a neighbor; this drops what is too far from everything (encoder
    garbage, binary noise, wrong-modality rows) before it pollutes
    training mixtures. Returns (vec_id, centroid_id, cos, is_outlier);
    a null cosine (broken vector) yields a null flag — filter upstream.

    Per-cluster thresholds (not global): a tight cluster's 5th
    percentile is much higher than a diffuse one's, so a global cut
    either guts diffuse clusters or passes noise near tight ones.

    Scale shape: one broadcast assignment (narrow), one hash aggregate
    to ≤ n_clusters threshold rows (exact type-7 percentile by default —
    the oracle contract; ``exact=False`` swaps in the bounded-state
    t-digest sketch for 100 TB, the numeric.py knob), one broadcast
    join back. No window, no self-join."""
    c = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    if train_iters > 0:
        cent = kmeans_centroids(corpus, n_clusters, train_iters, id_col, vec_col, dim=dim)
    else:
        cent = c.orderBy("vec_id").limit(int(n_clusters)).select(
            F.col("vec_id").alias("centroid_id"), F.col("cv").alias("zv")
        )
    scored = c.crossJoin(F.broadcast(cent)).select(
        "vec_id", "centroid_id",
        F.round(_cosine(F.col("cv"), F.col("zv"), dim), 6).alias("cos"),
    )
    best = F.min(
        F.struct(
            F.col("cos").isNull().cast("int").alias("z"),
            (-F.col("cos")).alias("nc"),
            F.col("centroid_id").alias("centroid_id"),
        )
    )
    a = scored.groupBy("vec_id").agg(best.alias("b")).select(
        "vec_id", F.col("b.centroid_id").alias("centroid_id"), (-F.col("b.nc")).alias("cos")
    )
    pct = (
        F.expr(f"percentile(cos, {float(q)})")
        if exact
        else F.expr(f"approx_percentile(cos, {float(q)}, {int(accuracy)})")
    )
    thr = a.groupBy("centroid_id").agg(F.round(pct, 6).alias("__thr"))
    return a.join(F.broadcast(thr), "centroid_id").select(
        "vec_id", "centroid_id", "cos", (F.col("cos") < F.col("__thr")).alias("is_outlier")
    )


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots (the vector
    twin of curation.distribution_drift): centroid cosine answers
    "did the embedding distribution MOVE" — the monitor that catches a
    re-embedded corpus, a model-version bump, or a topical shift that
    token-level drift misses. Returns ONE row: (n_a, n_b, dim,
    centroid_cosine, centroid_shift, mean_norm_a, mean_norm_b).

    Determinism: per-dimension sums accumulate micro-unit INTEGERS
    (``dim`` fixed aggregate columns — one pass, no explode shuffle),
    and cosine of the centroids equals cosine of those integer sum
    vectors (means differ by the scalar 1/n, which cancels), so the
    dot/norms are exact decimal(38,0) integers folded in dimension
    order; per-vector norms fold left-to-right over the array before
    a micro-integer mean. Scale shape: one aggregate per side, a
    1-row-x-1-row join; nothing dimension-squared, no explode."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def side(df: DataFrame, tag: str) -> DataFrame:
        v = F.col(vec_col)
        ok = v.isNotNull() & (F.size(v) == dim)
        base = df.filter(ok)
        el = lambda i: F.element_at(v, i + 1).cast("double")  # noqa: E731
        sums = [
            F.sum(F.round(el(i) * F.lit(1e6)).cast("long"))
            .cast("decimal(38,0)").alias(f"s{tag}{i}")
            for i in range(dim)
        ]
        # the norm stays the HOF fold: a 64-term unrolled chain (on top
        # of the dim per-dimension sum aggregates in the same stage)
        # measured 1.3x slower — see the _UNROLL_MAX_DIM note
        norm = F.sqrt(F.aggregate(
            F.transform(v, lambda x: x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x * x))
        return base.agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum(F.round(norm * F.lit(1e6)).cast("long"))
            .cast("decimal(38,0)").alias(f"nm_{tag}"),
            *sums,
        )

    j = side(df_a, "a").crossJoin(F.broadcast(side(df_b, "b")))
    zero = F.lit(0).cast("decimal(38,0)")
    dot, na2, nb2 = zero, zero, zero
    for i in range(dim):
        sa, sb = F.col(f"sa{i}"), F.col(f"sb{i}")
        dot = (dot + sa * sb).cast("decimal(38,0)")
        na2 = (na2 + sa * sa).cast("decimal(38,0)")
        nb2 = (nb2 + sb * sb).cast("decimal(38,0)")
    denom = F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))
    cos = F.when(denom > 0, F.round(dot.cast("double") / denom, 6))
    return j.select(
        F.col("n_a"), F.col("n_b"),
        F.lit(int(dim)).cast("int").alias("dim"),
        cos.cast("double").alias("centroid_cosine"),
        F.when(cos.isNotNull(), F.round(F.lit(1.0) - cos, 6))
        .cast("double").alias("centroid_shift"),
        F.round(F.col("nm_a").cast("double")
                / (F.col("n_a").cast("double") * F.lit(1e6)), 6)
        .alias("mean_norm_a"),
        F.round(F.col("nm_b").cast("double")
                / (F.col("n_b").cast("double") * F.lit(1e6)), 6)
        .alias("mean_norm_b"),
    )
