"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash,
embedding-cosine near-dup.

Scale design (100 TB):
- exact dedup is a single hash aggregation on the normalized key — one
  shuffle, map-side partial aggregation for free;
- MinHash-LSH never compares all pairs: signatures are computed scan-side
  (native higher-order functions, no UDFs), candidates come from an
  equi-join on (band, band_key) — the classic banding trick — and only
  candidates pay the exact-Jaccard verification;
- n-gram Jaccard uses an inverted-index join on shared shingles, again
  equi-join shaped, so Spark can hash-partition it;
- embedding near-dup buckets by random-hyperplane signature first
  (equi-join), brute force only within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrangler_spark.datapipe._local import local_table

from wrangler_spark.datapipe._checkpoint import (
    eager_checkpoint,
    eager_checkpoint_observed,
    release,
)
from wrangler_spark.datapipe.similarity import _cosine
from wrangler_spark.datapipe.constants import (
    HYPERPLANES,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    SHINGLE_WORDS,
    make_planes,
)


def normalize_text(c: Column) -> Column:
    """Lowercase, collapse whitespace — the usual exact-dedup key."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest id per normalized text; adds n_dups.
    One hash-aggregate shuffle; at 100 TB hash the key first if texts are
    long (dedup on md5 digest, not the full document)."""
    key = F.md5(normalize_text(F.col(text_col))).alias("__key")
    return (
        df.select(F.col(id_col), key)
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "n_dups")
    )


def _hash28(c: Column) -> Column:
    """28-bit base hash shared with the DuckDB oracle: md5 hex prefix."""
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


# gated-broadcast ceiling: well inside guide §3.1's "a few hundred MB is
# usually fine" and far under the 8 GB broadcast hard cap
_BCAST_BYTES = 128 << 20


def _gated_broadcast(df: DataFrame, est_bytes) -> DataFrame:
    """``F.broadcast(df)`` when a MEASURED size estimate fits in
    ``_BCAST_BYTES``; otherwise ``df`` unchanged (the shuffle join).

    A checkpointed frame analyzes to a bare RDD scan whose size
    statistic is defaultSizeInBytes, so auto-broadcast can never fire
    on it regardless of its real size (the r13 clf-score gate finding).
    Callers pass an estimate derived from scalars that rode the
    checkpoint's own materialization job via observe() — real data, not
    planner guesses — so the hint is only ever forced when the relation
    genuinely fits, and corpus-scale inputs keep the shuffle join."""
    if est_bytes is not None and est_bytes <= _BCAST_BYTES:
        return F.broadcast(df)
    return df


def shingles_of_words(words: Column, k: int = SHINGLE_WORDS) -> Column:
    """Distinct k-word shingles of a tokenized (array<string>) column.
    IMPORTANT: pass a *named column reference*, not an inline split(...)
    expression — `words` appears k+1 times here and Spark does not
    eliminate common subexpressions inside higher-order-function lambdas,
    so an inline split+regex would be recomputed per shingle (measured
    ~10× slowdown on the documents table)."""
    n = F.size(words)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)]),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned source across the cluster before heavy
    per-row compute (hashing/signatures/parsing). Small-SF parquet is often
    a single file with one row group, so the scan stage is one task and
    everything fused into it runs single-threaded; a production 100 TB
    input has hundreds of files and this is a no-op (the gate never fires),
    so the extra shuffle is only ever paid on inputs small enough for it to
    be cheap.

    The gate reads the scan's file list (already computed by the
    datasource's file index) — NOT ``df.rdd.getNumPartitions()``, which
    forces a full physical-plan → RDD conversion on the driver per call
    (~100s of ms of py4j/planning). Non-file sources (memory, JDBC,
    streams) report no files and pass through untouched.

    Few files does NOT imply few partitions: one large splittable parquet
    file is split by maxPartitionBytes into many scan partitions, and
    repartitioning it would pay a full shuffle for nothing. So the gate
    also sums the listed files' sizes (statable file:// paths only) and
    skips the repartition when the combined bytes already yield ≥ target
    scan partitions at the session's maxPartitionBytes."""
    session = df.sparkSession
    target = session.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file source: leave partitioning alone
        return df
    if not (0 < len(files) < target):
        return df
    try:
        max_part = int(session.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b"))
    except Exception:  # noqa: BLE001
        max_part = 128 * 1024 * 1024
    total_bytes = 0
    for f in files:
        if f.startswith("file:"):
            import os
            from urllib.parse import unquote, urlparse

            try:
                total_bytes += os.path.getsize(unquote(urlparse(f).path))
            except OSError:
                total_bytes = 0
                break
        else:  # remote FS: no cheap stat from here — size gate abstains
            total_bytes = 0
            break
    if total_bytes >= target * max_part:
        return df  # splittable bulk: the scan already parallelizes
    return df.repartition(target)


def with_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingles) — tokenization staged as its own projection so the
    split runs once per row."""
    staged = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.split(normalize_text(F.col(text_col)), " ").alias("__w")
    )
    return staged.select("id", shingles_of_words(F.col("__w")).alias("shingles"))


# SQL fragments instead of Column-API lambdas: building 32 HOF lambdas
# through py4j costs ~0.9 s of driver time per plan; one parsed SQL string
# per column is ~3× cheaper and yields the identical expression tree.
_HASH28_SQL = "CAST(conv(substring(md5({x}), 1, 7), 16, 10) AS BIGINT)"


def _sig_sql(j: int) -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return f"array_min(transform(h, x -> (x * {a}L + {b}L) % {MINHASH_P}L)) AS mh{j}"


def minhash_signature(shingles: Column) -> list[Column]:
    """32 minhash values over the shingle set — all JVM-side."""
    hashes = F.transform(shingles, _hash28)

    def mh(a: int, b: int):
        # separate factory: pyspark reads the lambda's arity, so default
        # args (lambda h, a=a, b=b) would look like a 3-arg lambda
        return lambda h: (a * h + b) % MINHASH_P

    return [
        F.array_min(F.transform(hashes, mh(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def _check_lsh_geometry(bands: int, rows: int) -> None:
    """Reject unusable LSH geometry BEFORE any work (and, in the index
    builders, before any write — an invalid geometry must never reach
    storage): zero/negative values would silently produce an empty band
    array (every pair op returns zero pairs with no error), and
    bands*rows is bounded by the bundled permutation count."""
    if bands < 1 or rows < 1:
        raise ValueError(f"bands and rows_per_band must be >= 1, got ({bands}, {rows})")
    if bands * rows > len(MINHASH_A):
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds the {len(MINHASH_A)} bundled "
            "minhash permutations"
        )


def _sig_bands(
    df: DataFrame, id_col: str, text_col: str,
    bands: int = LSH_BANDS, rows: int = LSH_ROWS,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash front end: (base, bands) where base = (id, shingles)
    eagerly localCheckpoint-ed (evaluated once, read by the signature path
    AND the candidate-verification join — with a lazy checkpoint those
    consumers race to materialize the RDD and the losers' metric
    accumulators are dropped), and bands = (id, band, key) banded
    signature rows, ~40 bytes each, the only thing the bucket shuffle
    carries.

    ``bands x rows`` is the LSH operating point (collision probability
    ~= 1 - (1 - j^rows)^bands): more bands / fewer rows per band moves
    the S-curve LEFT (recall up, candidate volume up). bands*rows
    signatures are drawn as a prefix of the 32 bundled permutations, so
    two calls with the same geometry always bucket identically."""
    _check_lsh_geometry(bands, rows)
    base = eager_checkpoint(with_shingles(df, id_col, text_col))
    hashed = base.selectExpr(
        "id", f"transform(shingles, s -> {_HASH28_SQL.format(x='s')}) AS h"
    )
    sig = hashed.selectExpr("id", *[_sig_sql(j) for j in range(bands * rows)])
    band_array = "array(" + ", ".join(
        f"struct({b} AS band, concat_ws('-', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + ") AS key)"
        for b in range(bands)
    ) + ")"
    bands_df = (
        sig.selectExpr("id", f"explode({band_array}) AS bk")
        .selectExpr("id", "bk.band AS band", "bk.key AS key")
    )
    return base, bands_df


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_bucket_size: int = 100, hard_bucket_cap: int = 10_000_000,
    bands: int = LSH_BANDS, rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact Jaccard over shingle sets. Returns (id_a, id_b, jaccard).

    ``bands``/``rows_per_band`` set the LSH operating point (see
    _sig_bands; tune with pair_eval against an ngram_jaccard_pairs
    ground truth before a 100 TB run — e.g. 16x2 trades candidate
    volume for recall at low thresholds vs the 8x4 default). The same
    knob reaches minhash_pairs_against and minhash_write_index; a
    persisted index pins its geometry in meta and the probe reads it
    from there, because probing at a different banding misses pairs
    silently.

    Scale shape: the shingle hashes are computed ONCE per doc (md5 is the
    dominant cost — naively inlining it into all 32 signature mins
    recomputes it 32×); the band self-join carries only (id, band, key) so
    the shuffle payload is ~40 bytes/row, and shingle sets are re-fetched
    for the (rare) candidates only. Reused frames are localCheckpoint-ed
    (not persist()-ed): blocks are ContextCleaner-managed, so repeated
    calls in one session don't accumulate CacheManager entries. At 100 TB
    persist/write the signature table explicitly and reuse it across runs.

    Hot buckets: a (band, key) bucket of b near-identical docs would emit
    b² candidate pairs — the classic quadratic blowup on duplicate-heavy
    corpora (run exact_dedup upstream first). Buckets larger than
    ``max_bucket_size`` are therefore STAR-LINKED: each member pairs with
    the bucket's min-id representative only (b-1 candidates instead of the
    full clique). Connected components are preserved only for members that
    pass the Jaccard threshold against the representative; two hot-bucket
    members similar to each other but not to the representative are not
    linked — acceptable because hot buckets are by construction
    near-identical signature collisions, and exact_dedup upstream removes
    the true-identical mass that creates them.

    Candidate generation is ONE hash aggregation: bucket members are
    collected per (band, key) and pairs are expanded natively from the
    sorted id array (bounded at max_bucket_size² for small buckets, b-1
    for star-linked ones). This replaces the earlier bucket-stats groupBy
    + stats join + band self-join — three shuffles and an extra
    materialization — with a single shuffle of the (id, band, key) rows.
    Per-group state is the bucket's id list; a star-linked bucket is
    collected whole (longs), so a single band-bucket approaching ~10⁸
    members needs exact_dedup upstream first — the same precondition the
    star-linking already assumes. As a fail-soft backstop the expansion
    slices the collected array at ``hard_bucket_cap`` ids (default 10⁷ ≈
    80 MB of longs — large but survivable task state): members beyond the
    cap lose their star link IN THIS BUCKET only, and with 32 independent
    bands a genuine near-dup of the representative collides again
    elsewhere, so the backstop degrades recall marginally instead of
    OOMing the executor. The collect itself cannot be bounded natively
    (no limit-per-group aggregate) — the cap bounds the dominant cost,
    the emitted pair array."""
    base, band_rows = _sig_bands(df, id_col, text_col, bands, rows_per_band)
    # all-pairs within small buckets, star-to-representative in hot ones;
    # ids sorted ascending so id_a < id_b by construction
    pair_expr = (
        f"CASE WHEN size(ids) <= {int(max_bucket_size)} THEN "
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b)))) "
        f"ELSE transform(slice(ids, 2, {int(hard_bucket_cap)}), y -> struct(ids[0] AS id_a, y AS id_b)) "
        "END AS prs"
    )
    cand = (
        band_rows.groupBy("band", "key")
        .agg(F.expr("array_sort(collect_list(id))").alias("ids"))
        .selectExpr(pair_expr)
        .selectExpr("inline(prs)")
        # a duplicated input id lands twice in a bucket's sorted array and
        # would emit a bogus (a, a) self-pair; the old self-join's strict
        # l.id < r.id excluded those — keep that invariant
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sa")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sb")), "id_b")
    )
    # r13 (the ngram_jaccard verify fix, same reasoning): shingle arrays
    # are array_distinct SETS, so |A∪B| = |A| + |B| − |A∩B| — no
    # string-array union materialization; the 1-element explode keeps
    # the intersect OUT of the verify join's condition (it was evaluated
    # there per candidate and again in the output project —
    # plans/r13/dedup_minhash_lsh_before2.txt node 150).
    scored = pairs.select(
        "id_a", "id_b",
        F.size("sa").cast("long").alias("__na"),
        F.size("sb").cast("long").alias("__nb"),
        F.explode(F.array(
            F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
        )).alias("__i"),
    )
    jac = F.round(
        F.col("__i").cast("double")
        / (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double"), 6)
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_bucket_size: int = 100,
) -> DataFrame:
    """One-step near-dedup flagging: (id, is_dup) for every input row,
    where is_dup marks any document that appears as the HIGHER id of a
    verified near-duplicate pair (minhash_lsh_pairs) — the min-id member
    of each duplicate group survives, the same keep-the-smallest contract
    as exact_dedup and semdedup. Transitive chains drop every non-minimal
    member (b dup-of a and c dup-of b drops both b and c), the standard
    greedy behavior of large-corpus dedup pipelines.

    Scale shape: inherits the pair generation's single-shuffle bucketing;
    the flag is a distinct on the (rare) pair ids + one broadcast-friendly
    left join back to the ids."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, max_bucket_size)
    dropped = pairs.select(F.col("id_b").alias("__drop")).distinct()
    return (
        df.select(F.col(id_col))
        .join(dropped, F.col(id_col) == F.col("__drop"), "left")
        .select(F.col(id_col), F.col("__drop").isNotNull().alias("is_dup"))
    )


def _gram_hash_base(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str
) -> tuple[DataFrame, DataFrame]:
    """Shared n-gram → 28-bit-hash-set front end for the gram-set
    similarity family (ngram_jaccard_pairs, overlap_pairs): returns
    (base = (id, grams: array<int> distinct hashes), staged = the
    normalized pre-gram frame, kept for corpus-relative cap scalars).

    EVERYTHING downstream works in 28-bit HASH space: the grams are
    hashed (and re-deduped — two strings may collide) right here, so
    df counts, stop caps, prefix/size filters, and the final score all
    measure the SAME sets. An earlier version computed sizes from
    string-gram counts while scoring hashed sets — a hash collision
    could make hash-similarity >= t with string-similarity < t, and the
    string-space filters could then drop a pair the scoring space
    admits (the "exact parity" claim only held collision-free).
    Aligning the filter space with the scoring space restores the
    PPJoin losslessness proof, and the int join keys are ~3x cheaper to
    shuffle than 5-char strings. The normalized text is staged as its
    own projection: it appears once per gram in the transform lambda
    and Spark won't CSE it there (see shingles_of_words)."""
    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    staged = df.select(F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("__t"))
    txt = F.col("__t")
    if unit == "char":
        ln = F.length(txt)
        grams = F.when(
            ln >= n,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), ln - (n - 1)), lambda i: txt.substr(i, F.lit(n)))
            ),
        ).otherwise(F.array(txt))
    else:
        staged = staged.select("id", F.split(txt, " ").alias("__t"))
        nw = F.size(txt)
        grams = F.when(
            nw >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), nw - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(txt, i, n)),
                )
            ),
        ).otherwise(F.array(F.concat_ws(" ", txt)))
    base = staged.select(
        F.col("id"),
        F.array_distinct(F.transform(grams, _hash28)).alias("grams"),
    )
    return base, staged


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, threshold: float = 0.6,
    max_gram_df: int | float | None = 0.5, unit: str = "word",
    max_gram_group: int | None = None,
    max_pairs_per_doc: int | None = None,
    max_candidates_per_doc: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dups via an inverted-index equi-join: only
    pairs sharing at least one n-gram are ever scored. ``unit`` picks the
    gram alphabet:

    - ``"word"`` (DEFAULT — the scale-true unit): grams are n-word
      sequences, whose universe GROWS with the corpus — df stays near 1
      for non-boilerplate grams, the rarest-first prefix index actually
      prunes, and the op stays near-linear at corpus scale. The same
      reasoning as MinHash's word shingles. Measured on a 5.1k-doc
      random-vocabulary corpus: char grams 156 s (10.6M candidates for
      102 true pairs), word grams 8.3 s finding the same 102 pairs; at
      51k docs char grams OOM the executor while word grams hold at 8.0 s.
    - ``"char"`` (opt-in, the classic bounded-corpus text-similarity
      measure): beware the UNIVERSE SATURATION bound — there are only
      ~1M plausible character 5-grams, so past ~10^5 docs the average
      gram document frequency grows LINEARLY with the corpus and every
      exact pairwise scheme (this one, PPJoin, anything) goes quadratic
      because most doc pairs genuinely share grams. Measured: a 5k-doc
      corpus over a small vocabulary yields 9-11M candidates for a few
      hundred true pairs. Use char grams for bounded corpora or
      within-bucket verification. (The default was char through round 6;
      flipped because a user reaching for the default at corpus scale
      got the quadratic footgun.)

    Stop-gram pruning: a gram shared by k documents contributes k² rows to
    the self-join — one ubiquitous 5-gram (' the ') is the scale-killer at
    100 TB. Grams with document frequency > the cap are dropped from BOTH
    the inverted index and the per-doc gram counts, so the score is exact
    Jaccard over the non-stop grams (they carry ~no signal: a gram in k of
    N docs shifts Jaccard by at most 1/|union| while costing k² join rows).

    ``max_gram_df`` is CORPUS-RELATIVE by default: a float in (0, 1) means
    cap = max(2, ceil(frac · N_docs)). An absolute integer cap does not
    scale — at 100 TB the number of grams sitting just under any fixed cap
    grows with the corpus while the cap prunes nothing proportionally, so
    the join degrades quadratically below it. The doc count enters the
    plan as a broadcast 1-row aggregate (no driver job, no collected
    scalar); an int is still accepted as an absolute cap and None disables
    pruning. The df-count groupBy and the join back ride the same gram-key
    partitioning as the self-join.

    ``max_pairs_per_doc`` applies :func:`cap_pairs_per_doc` to the
    qualifying pairs (keep each doc's highest-Jaccard links) — the
    100 TB posture for replica-heavy corpora where the PAIR SET is the
    scale bound (measured sf0.1→sf1 slope 20x uncapped on the
    adversarial replica corpus, pure output growth).

    ``max_candidates_per_doc`` budgets the candidates BEFORE the
    verification join (the r11 governor capped pairs after full
    scoring, so a 100-replica clique's verify join stayed quadratic):
    candidate multiplicity — how many prefix grams a pair shares — is
    a free by-product of the candidate aggregate, so each doc keeps
    its ``max_candidates_per_doc`` most-gram-sharing candidates
    (ties by the engine-portable md5 pair hash) and ONLY those pay
    the array_intersect verification. Recall: a clique member still
    keeps its k strongest links, so connected components stay
    connected (quantify per-corpus with pair_eval); pairs cut here
    were each doc's WEAKEST-evidence candidates."""
    base, staged = _gram_hash_base(df, id_col, text_col, n, unit)
    # the inverted index feeds FOUR consumers (df-count, prune join,
    # per-doc count, both sides of the self-join). Left lazy, every
    # consumer re-derives the explode AND InferFiltersFromGenerate plants
    # a size(grams)>0 pre-filter under each copy with the whole gram
    # transform inlined — per gram a full regexp normalization (substr
    # over the inlined text), measured 83 s for 5k docs at sf0.1.
    # explode_outer sidesteps the filter inference and the eager
    # localCheckpoint evaluates the gram construction exactly once
    # (checkpoint state = one (id, hash) row per distinct gram — the
    # op's own working set; at 100 TB persist it explicitly instead):
    # measured 1.9 s warm after the change, 40x
    inv = eager_checkpoint(
        base.select("id", F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    # document frequency per gram hash. (id, g) is UNIQUE by
    # construction — _gram_hash_base array_distincts the hash set per
    # doc (the invariant the whole filter-space == scoring-space proof
    # rests on), so count(*) IS countDistinct(id). r13 batch 17: the
    # defensive countDistinct planned a second full exchange of the
    # (g, id) stream (two-level distinct aggregate); count(*) partial-
    # aggregates map-side to one long per gram. Needed even when the
    # stop-gram cap is off — it is the global rarest-first ordering
    # that prefix filtering depends on.
    gdf = inv.groupBy("g").agg(F.count(F.lit(1)).alias("__gdf"))
    if max_gram_df is not None:
        if isinstance(max_gram_df, float):
            # lazy scalar: 1-row (cap) frame broadcast into the filter, so
            # the cap tracks the corpus without a blocking .count() job
            cap = staged.select(
                F.greatest(
                    F.lit(2), F.ceil(F.lit(max_gram_df) * F.count("*"))
                ).cast("long").alias("__cap")
            )
            keep = gdf.crossJoin(F.broadcast(cap)).filter(
                F.col("__gdf") <= F.col("__cap")
            ).select("g", "__gdf")
        else:
            keep = gdf.filter(F.col("__gdf") <= int(max_gram_df)).select("g", "__gdf")
    else:
        keep = gdf.select("g", "__gdf")
    # PREFIX FILTERING (Bayardo et al. 2007 "Scaling Up All Pairs
    # Similarity Search"; Xiao et al. PPJoin): with every doc's kept
    # gram hashes sorted by a global rarest-first order (df asc, hash
    # asc), two docs with Jaccard >= t over those sets MUST share a
    # hash within their first ng - ceil(t*ng) + 1 entries — so only
    # that prefix is indexed for candidate generation, and prefixes
    # hold only the RAREST grams, whose k^2 is small wherever the df
    # distribution has a rare tail. LOSSLESS for the capped-set hash
    # Jaccard this op scores (filter space == scoring space — both are
    # the distinct-28-bit-hash sets), except hot-gram star-linking
    # (below); the DuckDB oracle hashes identically so parity is exact
    # by construction, collisions included.
    #
    # Honest bound, measured on the adversarial fixture (5k docs built
    # from a small vocabulary, only ~2k distinct grams, so ~75% of ALL
    # doc pairs share a rare gram): candidates are output-shaped, 9.4M
    # pairs — exact all-pairs Jaccard is inherently near-quadratic on
    # low-entropy corpora and no lossless candidate scheme can beat the
    # count of genuinely-gram-sharing pairs. On natural corpora the df
    # tail is long and prefixes prune; when the corpus is known to be
    # duplicate-heavy/low-entropy, minhash_lsh is the approximate path
    # with subquadratic candidates.
    per_doc = (
        inv.join(keep, "g")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("__gdf", "g"))).alias("sg"))
        .withColumn("ng", F.size("sg"))
        .withColumn("kept_h", F.transform("sg", lambda s: s["g"]))
        .withColumn(
            "prefix",
            F.transform(
                F.slice(
                    "sg", 1, F.col("ng") - F.ceil(F.lit(threshold) * F.col("ng")).cast("int") + 1
                ),
                lambda s: s["g"],
            ),
        )
        .select("id", "ng", "kept_h", "prefix")
    )
    # r14: doc count + total kept-gram count ride the checkpoint job;
    # 8 B/hash + row overhead bounds the frame's real size, gating the
    # broadcast hints below (the SMJ-everywhere alternative re-exchanges
    # the candidate stream once per verify join)
    per_doc, got = eager_checkpoint_observed(
        per_doc,
        F.count(F.lit(1)).alias("n"),
        F.sum("ng").alias("tg"),
    )
    pd_est = 48 * (got["n"] or 0) + 8 * (got["tg"] or 0)
    # the prefix index is a subset of the kept grams (~(1-t)·tg hashes,
    # 3 narrow columns) — bound it by the same estimate
    idx_est = pd_est
    # candidate generation is ONE hash aggregation, the same shape as
    # minhash_lsh_pairs: per prefix gram collect the sorted doc-id list
    # and expand pairs natively. A plain index self-join re-emits every
    # pair once PER shared prefix gram before the distinct — on a
    # 100-replica-cluster corpus (500k docs, ~40 shared prefix grams per
    # pair) that multiplicity filled 75 GB of shuffle spill and killed
    # the job; the collect+expand emits each gram's pairs exactly once.
    # ``max_gram_group`` (opt-in) STAR-LINKS grams shared by more docs
    # than the cap (members pair with the gram's min doc only) — the
    # minhash hot-bucket rule, for replica-saturated corpora where even
    # prefix grams sit in 100-member cliques (measured: 500k docs in
    # ~100-replica clusters need it to avoid quadratic expansion; at
    # cap=100 the sf0.1 fixture would lose 48 of its 256 true pairs, so
    # the DEFAULT is None = exact: every gram expands its full pair
    # set, each pair emitted once per gram instead of once per shared
    # gram occurrence).
    index = per_doc.select("id", "ng", F.explode("prefix").alias("g"))
    if max_gram_group is None:
        # EXACT default: distributed prefix-index self-join with PPJoin's
        # size filter in the join condition (Jaccard >= t forces
        # t*max(|A|,|B|) <= min(|A|,|B|)). Fastest at moderate gram
        # document frequencies (fixture char grams: 17 s vs 47 s for the
        # collect+expand shape below) — the join distributes each hot
        # gram's k^2 work across tasks.
        cand = (
            index.alias("l")
            .join(
                _gated_broadcast(index.alias("r"), idx_est),
                (F.col("l.g") == F.col("r.g"))
                & (F.col("l.id") < F.col("r.id"))
                & (
                    F.least(F.col("l.ng"), F.col("r.ng")).cast("double")
                    >= F.lit(threshold) * F.greatest(F.col("l.ng"), F.col("r.ng")).cast("double")
                ),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        )
        if max_candidates_per_doc is None:
            cand = cand.distinct()
        else:
            # the join's pre-distinct multiplicity IS the shared-prefix-
            # gram count — the candidate-strength signal the budget
            # ranks on; same shuffle as the distinct
            cand = cand.groupBy("id_a", "id_b").agg(
                F.count("*").cast("long").alias("__shared"))
            cand = cap_pairs_per_doc(
                cand, max_candidates_per_doc, "__shared"
            ).select("id_a", "id_b")
    else:
        # REPLICA-CORPUS mode (max_gram_group set): single-aggregation
        # candidate generation, the minhash hot-bucket shape — per gram
        # collect the sorted (id, ng) list, expand size-compatible pairs
        # natively, STAR-LINK grams above the cap (members pair with the
        # gram's min doc only). On a 100-replica-cluster corpus the
        # self-join re-emits every pair once per shared prefix gram
        # (~40x) before the distinct — 1G pre-distinct rows filled 75 GB
        # of shuffle spill at 500k docs; here a hot gram emits at most
        # cap-1 pairs. Recall caveat mirrors minhash: a pair whose EVERY
        # shared prefix gram is hot loses its clique-interior link —
        # acceptable on the replica corpora this mode exists for, where
        # every pair shares many prefix grams.
        full_expand = (
            "flatten(transform(ids, (x, i) -> "
            "filter(transform(slice(ids, i + 2, size(ids)), "
            f"y -> CASE WHEN least(x.ng, y.ng) >= {float(threshold)} * greatest(x.ng, y.ng) "
            "THEN struct(x.id AS id_a, y.id AS id_b) END), p -> p IS NOT NULL)))"
        )
        pair_expr = (
            f"CASE WHEN size(ids) <= {int(max_gram_group)} THEN {full_expand} "
            f"ELSE transform(slice(ids, 2, {int(max_gram_group)}), y -> struct(ids[0].id AS id_a, y.id AS id_b)) "
            "END AS prs"
        )
        cand = (
            index.groupBy("g")
            .agg(F.expr("array_sort(collect_list(struct(id, ng)))").alias("ids"))
            .selectExpr(pair_expr)
            .selectExpr("inline(prs)")
            .filter(F.col("id_a") != F.col("id_b"))
        )
        if max_candidates_per_doc is None:
            cand = cand.dropDuplicates(["id_a", "id_b"])
        else:
            cand = cand.groupBy("id_a", "id_b").agg(
                F.count("*").cast("long").alias("__shared"))
            cand = cap_pairs_per_doc(
                cand, max_candidates_per_doc, "__shared"
            ).select("id_a", "id_b")
    pairs = (
        cand.join(_gated_broadcast(
            per_doc.select(F.col("id").alias("id_a"), F.col("kept_h").alias("ka"),
                           F.col("ng").alias("na")), pd_est), "id_a")
        .join(_gated_broadcast(
            per_doc.select(F.col("id").alias("id_b"), F.col("kept_h").alias("kb"),
                           F.col("ng").alias("nb")), pd_est), "id_b")
    )
    # r13 (guide §1.2 per-task work, measured 4.0 -> 1.9 s on the sf0.1
    # verify phase): |A∪B| = |A| + |B| − |A∩B| over the distinct hash
    # sets, and both sizes already sit in per_doc — so array_union
    # (which materialized the union ARRAY per candidate just to take
    # its size) is replaced by long arithmetic, and the intersect runs
    # ONCE per candidate inside a 1-element explode. The generator is
    # the same single-evaluation barrier as events_acf: without it the
    # threshold filter collapses into the verify join's condition and
    # the project re-evaluates intersect+union for every survivor
    # (visible in plans/r13/dedup_ngram_word_before2.txt node 196/199).
    # Same integers, same rounded Jaccard, same output.
    scored = pairs.select(
        "id_a", "id_b", "na", "nb",
        F.explode(F.array(
            F.size(F.array_intersect(F.col("ka"), F.col("kb"))).cast("long")
        )).alias("__i"),
    )
    jac = F.round(
        F.col("__i").cast("double")
        / (F.col("na") + F.col("nb") - F.col("__i")).cast("double"), 6)
    out = (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if max_pairs_per_doc is not None:
        out = cap_pairs_per_doc(out, max_pairs_per_doc, "jaccard")
    return out


def overlap_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8,
    max_gram_df: int | float | None = 0.25, unit: str = "word",
    max_pairs_per_doc: int | None = None,
    max_candidates_per_doc: int | None = None,
) -> DataFrame:
    """Overlap-coefficient near-dup pairs: Szymkiewicz–Simpson
    |A∩B| / min(|A|,|B|) over the distinct n-gram hash sets, reported
    with Broder's per-direction containments |A∩B|/|A| and |A∩B|/|B|.
    This is the CONTAINMENT detector Jaccard structurally cannot be: a
    short document fully embedded in a much longer one (quoted email
    chains, article + commentary aggregations, doc re-released with an
    appendix) has Jaccard ≈ |A|/|B| — arbitrarily small — while its
    overlap coefficient is 1.0. Returns (id_a, id_b, overlap_coef,
    containment_a, containment_b) for pairs with coefficient >=
    ``threshold``; id_a < id_b; containment_a is how much of the
    SMALLER-ID doc is contained in the other.

    Scale shape: shares the 28-bit hash-space front end and stop-gram
    cap with ngram_jaccard_pairs (``max_gram_df`` defaults LOWER, 0.25
    corpus-relative — overlap joins admit more candidates than Jaccard
    at the same gram frequencies, so the boilerplate cap carries more
    of the pruning load). Candidate generation uses the overlap-join
    prefix principle (Xiao et al.; the Bayardo prefix bound applied to
    the SMALLER side): |A∩B| >= t·min(|A|,|B|) forces the smaller doc
    to share a gram within the first |A| − ceil(t·|A|) + 1 of its
    rarest-first-sorted kept hashes, so only that prefix is indexed and
    joins against the FULL kept index of same-or-larger docs — sound
    because containment puts no lower bound on the larger doc's size
    (the Jaccard op's symmetric size filter would be UNSOUND here and
    is deliberately absent). Each stage is an equi-join or hash
    aggregate on the gram key; shared frames are checkpointed per the
    repo rule. ``max_pairs_per_doc`` applies :func:`cap_pairs_per_doc`
    to the qualifying pairs (keep each doc's strongest links) — the
    documented 100 TB posture for near-dup-heavy corpora where the
    pair set itself is the scale bound.

    ``max_candidates_per_doc`` budgets candidates BEFORE the
    verification join: the candidate aggregate's multiplicity (how
    many of the smaller doc's prefix grams land in the larger doc's
    kept set) ranks each doc's candidates, the budget keeps the top
    ``max_candidates_per_doc`` per doc (md5 pair-hash ties), and only
    survivors pay array_intersect scoring — the fix for replica-heavy
    corpora where the r11 pair governor still scored the full
    quadratic candidate set."""
    base, staged = _gram_hash_base(df, id_col, text_col, n, unit)
    inv = eager_checkpoint(
        base.select("id", F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    # (id, g) unique by construction (_gram_hash_base array_distincts
    # per doc) — count(*) == countDistinct(id) without the second
    # exchange of the (g, id) stream (see ngram_jaccard_pairs)
    gdf = inv.groupBy("g").agg(F.count(F.lit(1)).alias("__gdf"))
    if max_gram_df is not None:
        if isinstance(max_gram_df, float):
            cap = staged.select(
                F.greatest(
                    F.lit(2), F.ceil(F.lit(max_gram_df) * F.count("*"))
                ).cast("long").alias("__cap")
            )
            keep = gdf.crossJoin(F.broadcast(cap)).filter(
                F.col("__gdf") <= F.col("__cap")
            ).select("g", "__gdf")
        else:
            keep = gdf.filter(F.col("__gdf") <= int(max_gram_df)).select("g", "__gdf")
    else:
        keep = gdf.select("g", "__gdf")
    per_doc = (
        inv.join(keep, "g")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("__gdf", "g"))).alias("sg"))
        .withColumn("ng", F.size("sg"))
        .withColumn("kept_h", F.transform("sg", lambda s: s["g"]))
        .withColumn(
            "prefix",
            F.transform(
                F.slice(
                    "sg", 1, F.col("ng") - F.ceil(F.lit(threshold) * F.col("ng")).cast("int") + 1
                ),
                lambda s: s["g"],
            ),
        )
        .select("id", "ng", "kept_h", "prefix")
    )
    # r14: size scalars ride the checkpoint job and gate the broadcast
    # hints below (see ngram_jaccard_pairs — a checkpointed frame has no
    # stats, so auto-broadcast can never fire on these joins)
    per_doc, got = eager_checkpoint_observed(
        per_doc,
        F.count(F.lit(1)).alias("n"),
        F.sum("ng").alias("tg"),
    )
    pd_est = 48 * (got["n"] or 0) + 8 * (got["tg"] or 0)
    prefix_index = per_doc.select("id", "ng", F.explode("prefix").alias("g"))
    full_index = per_doc.select("id", "ng", F.explode("kept_h").alias("g"))
    cand = (
        # the PREFIX side is the smaller index (~(1-t)·tg hashes) — it
        # is the build side when the gate fires
        _gated_broadcast(prefix_index.alias("l"), pd_est)
        .join(
            full_index.alias("r"),
            (F.col("l.g") == F.col("r.g"))
            & (
                (F.col("l.ng") < F.col("r.ng"))
                | ((F.col("l.ng") == F.col("r.ng")) & (F.col("l.id") < F.col("r.id")))
            ),
        )
        .select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        )
    )
    if max_candidates_per_doc is None:
        cand = cand.distinct()
    else:
        # pre-distinct multiplicity = shared prefix-gram count (the
        # smaller doc's prefix hits in the larger's kept set) — rank
        # candidates on it, verify only each doc's budgeted top-k
        cand = cand.groupBy("id_a", "id_b").agg(
            F.count("*").cast("long").alias("__shared"))
        cand = cap_pairs_per_doc(
            cand, max_candidates_per_doc, "__shared"
        ).select("id_a", "id_b")
    pairs = (
        cand.join(
            _gated_broadcast(per_doc.select(
                F.col("id").alias("id_a"), F.col("kept_h").alias("ka"), F.col("ng").alias("na")
            ), pd_est),
            "id_a",
        )
        .join(
            _gated_broadcast(per_doc.select(
                F.col("id").alias("id_b"), F.col("kept_h").alias("kb"), F.col("ng").alias("nb")
            ), pd_est),
            "id_b",
        )
    )
    # r13: single-evaluation barrier (the events_acf / ngram_jaccard
    # pattern) — without the 1-element explode the threshold filter
    # collapses into the verify join's condition and every candidate
    # pays array_intersect there AND in the output project (coef + two
    # containments). One intersect per candidate now; same values.
    scored = pairs.select(
        "id_a", "id_b", "na", "nb",
        F.explode(F.array(
            F.size(F.array_intersect(F.col("ka"), F.col("kb"))).cast("long")
        )).alias("__i"),
    )
    inter = F.col("__i").cast("double")
    coef = F.round(inter / F.least(F.col("na"), F.col("nb")).cast("double"), 6)
    out = (
        scored.select(
            "id_a",
            "id_b",
            coef.alias("overlap_coef"),
            F.round(inter / F.col("na").cast("double"), 6).alias("containment_a"),
            F.round(inter / F.col("nb").cast("double"), 6).alias("containment_b"),
        )
        .filter(F.col("overlap_coef") >= threshold)
    )
    if max_pairs_per_doc is not None:
        out = cap_pairs_per_doc(out, max_pairs_per_doc, "overlap_coef")
    return out


def cap_pairs_per_doc(
    pairs: DataFrame, max_pairs_per_doc: int, score_col: str | None = None,
) -> DataFrame:
    """Per-document pair budget — the 100 TB governor for the
    output-bound pair family (overlap_pairs, ngram_jaccard_pairs,
    winnow_overlap): on a near-dup-heavy crawl the qualifying pair set
    grows ~quadratically in clique size while everything downstream
    (connected components, dedup decisions, review queues) needs only a
    bounded sample of each document's links. Keeps, for EACH side in
    turn (id_a pass, then id_b pass over the survivors), each
    document's ``max_pairs_per_doc`` best pairs — highest ``score_col``
    first when given, ties (and the no-score case) broken by the
    engine-portable md5 pair hash (the sample_hash contract, so a SQL
    oracle mirrors the cap with two QUALIFY row_number stages in the
    same side order). After both passes a document appears in at most
    2·k pairs (k as id_a + k as id_b); a clique of n replicas emits
    O(n·k) links instead of O(n²) — still plenty for a connected-
    components pass to find one component (each member keeps its k
    strongest links).

    Scale shape: two-level SALTED top-k per side (partial top-k within
    16 hash salts, then top-k of the ≤16·k survivors) — every
    aggregation buffer is O(k) structs even for a document with
    millions of qualifying pairs; no rank window, no single hot
    reducer. Recall effect is measurable with pair_eval (capped vs
    uncapped pairs as approx vs truth)."""
    k = int(max_pairs_per_doc)
    if k < 1:
        raise ValueError(f"max_pairs_per_doc must be >= 1, got {max_pairs_per_doc}")
    payload = list(pairs.columns)
    out = pairs.withColumn(
        "__h",
        F.md5(
            F.concat_ws(
                "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
            )
        ),
    )
    for side in ("id_a", "id_b"):
        rest = [c for c in payload if c != side]
        # struct field layout: sort keys first (negated score so the
        # BEST pair sorts lowest, then the hash tiebreak), payload after
        # — array_sort orders struct arrays by fields left to right
        keys = ([(-F.col(score_col)).alias("__negs")] if score_col else []) + [
            F.col("__h")
        ]
        st = F.struct(*keys, *[F.col(c) for c in rest])
        lvl1 = (
            out.withColumn("__salt", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(16)))
            .groupBy(side, "__salt")
            .agg(F.slice(F.array_sort(F.collect_list(st)), 1, k).alias("__top"))
        )
        out = (
            lvl1.groupBy(side)
            .agg(
                F.slice(F.array_sort(F.flatten(F.collect_list("__top"))), 1, k)
                .alias("__top")
            )
            .select(side, F.explode("__top").alias("__p"))
            .select(
                side,
                *[F.col(f"__p.{c}").alias(c) for c in rest],
                F.col("__p.__h").alias("__h"),
            )
        )
    return out.select(*payload)


def simhash_expr(hashes: Column, bits: int = 32) -> Column:
    """SimHash bit-vote expression over a STAGED array-of-word-hashes
    column (the caller must project the hash array first — it feeds all
    ``bits`` aggregates and Spark does not CSE inside HOF lambdas)."""

    def voter(pw: int):
        return lambda acc, h: acc + F.when(((h / pw).cast("long") % 2) == 1, 1).otherwise(-1)

    bit_cols = []
    for b in range(bits):
        pw = 1 << b
        vote = F.aggregate(hashes, F.lit(0), voter(pw))  # sum of ±1 across words for bit b
        bit_cols.append(F.when(vote > 0, F.lit(pw)).otherwise(F.lit(0)))
    sh = bit_cols[0]
    for c in bit_cols[1:]:
        sh = sh + c
    return sh.cast("long")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash over word hashes (bits ≤ 32 so the bit test
    stays in exact integer range for both engines). Adds `simhash` long."""
    # stage tokenization + hashing: `hashes` feeds all `bits` aggregates,
    # so inlining would recompute md5 per word x bits (no CSE in lambdas)
    df = df.select(
        F.col(id_col), F.array_distinct(F.split(normalize_text(F.col(text_col)), " ")).alias("__w")
    ).select(F.col(id_col), F.transform(F.col("__w"), _hash28).alias("__h"))
    return df.select(F.col(id_col), simhash_expr(F.col("__h"), bits).alias("simhash"))


def _plane_sigs(
    df: DataFrame, id_col: str, vec_col: str,
    planes: list[list[float]] | None, broadcast_planes: bool | None,
) -> DataFrame:
    """(id, v, sig): the scan-side hyperplane-LSH signature frame shared
    by the self-join (embedding_dup_pairs) and the cross-corpus
    (embedding_pairs_against) near-dup ops — factored so both bucket in
    the SAME signature space and a persisted index built by one is
    probeable by the other.

    Plan-size ceiling and the broadcast-planes switch: the default path
    inlines each hyperplane as a literal array, so the plan holds
    N_PLANES x EMB_DIM literals (16x64 = 1K doubles with the bundled
    constants — fine). At 768-dim that is ~12K expression-tree literals —
    codegen blow-up territory — so for plane dim > 128 (or
    ``broadcast_planes=True``) the planes travel as ONE LocalRelation row
    (array<array<double>>) cross-joined with a broadcast hint: every
    executor holds one copy of the plane matrix, the signature is a
    single nested higher-order transform over it, the plan size is
    constant in dim, and no shuffle is introduced (same role as kmeans'
    explode_means switch). Both paths fold the dot product left-to-right
    over the array, so the float results — and therefore the signatures
    and output — are bit-identical."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))
    if planes is None:
        planes = HYPERPLANES
    if broadcast_planes is None:
        broadcast_planes = len(planes[0]) > 128
    if broadcast_planes:
        pl = local_table(df.sparkSession,
            [([[float(x) for x in p] for p in planes],)],
            "pls ARRAY<ARRAY<DOUBLE>>",
        )
        dot = lambda p: F.aggregate(  # noqa: E731
            F.zip_with(F.col("v"), p, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )
        sig = F.concat_ws(
            "",
            F.transform(
                F.col("pls"),
                lambda p: F.when(dot(p) >= 0, F.lit("1")).otherwise(F.lit("0")),
            ),
        )
        return base.crossJoin(F.broadcast(pl)).withColumn("sig", sig).drop("pls")
    sig = None
    for plane in planes:
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        # stays the HOF fold: unrolled element·literal chains (n_planes
        # chains × dim terms in one projection) measured 5.6x slower at
        # dim=64 — the stage drops out of codegen (see similarity's
        # _UNROLL_MAX_DIM note)
        dot = F.aggregate(
            F.zip_with(F.col("v"), lit_plane, lambda a, b: a * b),
            F.lit(0.0), lambda s, x: s + x,
        )
        bit = F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))
        sig = bit if sig is None else F.concat(sig, bit)
    return base.withColumn("sig", sig)


def embedding_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9, exact: bool = False,
    planes: list[list[float]] | None = None, broadcast_planes: bool | None = None,
) -> DataFrame:
    """Embedding near-dup pairs. exact=False buckets by random-hyperplane
    signature first (only same-signature pairs compared — the scale path);
    exact=True brute-forces all pairs (small inputs / recall baseline).
    Signature computation and the literal-vs-broadcast plane delivery
    contract live in :func:`_plane_sigs`."""
    if not exact:
        base = _plane_sigs(df, id_col, vec_col, planes, broadcast_planes)
        l, r = base.alias("l"), base.alias("r")
        cand = l.join(
            r, (F.col("l.sig") == F.col("r.sig")) & (F.col("l.id") < F.col("r.id"))
        )
    else:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        base = df.select(F.col(id_col).alias("id"), v.alias("v"))
        l, r = base.alias("l"), base.alias("r")
        cand = l.join(r, F.col("l.id") < F.col("r.id"))
    # r13: 1-element-explode barrier — keeps the dim-sized cosine fold
    # out of the join condition (single evaluation per candidate; the
    # minhash/ngram verify fix, identical values)
    cos = F.round(
        _cosine(F.col("l.v"), F.col("r.v"), len((planes or HYPERPLANES)[0])), 6)
    return (
        cand.select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            F.explode(F.array(cos)).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Transitive closure of a duplicate-pair graph: (id, component) for
    every node appearing in ``pairs``, where component is the minimum id
    reachable from the node (roots map to themselves).

    Why this exists: the pair-based keep/drop flag (minhash_dedup) drops
    any id that appears as the larger member of SOME verified pair — a
    greedy rule that is not transitively closed. Production dedup
    pipelines cluster first (so a~b, b~c lands a, b, c in ONE group with
    one survivor) and keep one representative per component; that
    clustering is a connected-components problem on a graph with billions
    of edges, which is exactly what this operator solves without ever
    materializing a component on one machine.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    published shuffle-native CC method. Per round:

      large-star: for each node u, every strictly-larger neighbor v is
        re-pointed at m = min(neighbors(u) + [u]) — long chains collapse
        toward their minimum from every direction at once;
      small-star: for each node u over its smaller neighbors N(u),
        N(u) + [u] all re-point at m = min(N(u)) — turns the forest into
        stars.

    Both steps are a groupBy(node).min + an equi-join back on the same
    key (the join reuses the aggregation's hash partitioning, so a round
    is ~2 effective shuffles of the edge list, never more state per task
    than one node's neighbor minimum — an O(1) aggregate, unlike
    label-propagation variants that collect neighbor lists). Convergence
    is O(log^2 n) rounds on ANY graph shape — a 10^9-node path graph
    converges in ~30 steps where naive min-propagation needs 10^9.
    Per-round edges are eagerly localCheckpoint-ed: the loop truncates
    lineage (no exponentially growing plan) and the fingerprint
    (count + xxhash64 sum) read from the checkpointed blocks decides
    fixpoint at no extra scan cost. The superseded round's blocks are
    unpersisted as soon as the new checkpoint materializes — at most
    two rounds of edges are ever pinned, whatever the round count.

    Contract: ids must be non-null and mutually orderable (the component
    representative is the Spark-sort minimum). Self-pairs and duplicate /
    reversed edges are tolerated. Nodes that never appear in a pair are
    absent from the output — callers that need every input row join back
    (see minhash_components). Raises RuntimeError if ``max_rounds``
    (default 25 ≈ log^2 of anything storable) rounds don't converge
    rather than returning a partially-contracted graph."""
    out, _ = _connected_components_sized(pairs, id_a, id_b, max_rounds)
    return out


def _connected_components_sized(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> tuple[DataFrame, int]:
    """:func:`connected_components` plus the fixpoint edge count, which
    the loop's observe() fingerprint already knows — the output holds at
    most 2·n_edges rows, so callers can size-gate a broadcast of it
    (r14, see minhash_components) without an extra count job."""
    edges = eager_checkpoint(
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )
    prev_fp = None
    for _ in range(max_rounds):
        # large-star over both edge directions: (v, m) for every v > u
        und = edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = und.groupBy("a").agg(F.min("b").alias("mn"))
        large = (
            und.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.least(F.col("a"), F.col("mn")).alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: edges now all point large->small; every smaller
        # neighbor AND u itself re-point at u's minimum neighbor
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(mins2, "a")
            .select(F.col("b").alias("x"), F.col("m"))
            .union(mins2.select(F.col("a").alias("x"), F.col("m")))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # the convergence fingerprint rides the checkpoint's own job via
        # observe() — one job per round instead of checkpoint + a second
        # fingerprint scan (the per-round job latency IS the cost floor
        # of this loop at small edge counts). Single consumer, so the
        # accumulator-race caveat documented at minhash's checkpoint
        # doesn't apply. decimal sum: a long sum of 64-bit hashes
        # overflows under ANSI.
        prev_edges = edges
        edges, got = eager_checkpoint_observed(
            small,
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)).alias("h"),
        )
        # the eager checkpoint above has fully materialized this round's
        # edges, so the superseded round's blocks are dead — release them
        # now instead of leaking one checkpoint per round (the r7-measured
        # session-lifetime storage leak)
        release(prev_edges)
        fp = (got["c"], got["h"])
        if fp == prev_fp:
            # at the large/small-star fixpoint the edge set is a union of
            # stars: every edge is (member, component-min)
            out = edges.select(F.col("a").alias("id"), F.col("b").alias("component")).union(
                edges.select(F.col("b").alias("id"), F.col("b").alias("component")).distinct()
            )
            return out, int(got["c"] or 0)
        prev_fp = fp
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds; "
        "the alternating-star fixpoint is O(log^2 n) — this graph either "
        "has non-orderable ids or max_rounds was set far too low"
    )


def minhash_components(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Cluster-grade near-dedup: (id, component, is_dup) for every input
    row, where component is the duplicate CLUSTER representative (minimum
    id reachable through verified MinHash near-dup pairs, transitively
    closed via connected_components) and is_dup flags every non-
    representative member.

    Difference from minhash_dedup's pairwise flags: with pairs (a,b) and
    (b,c) but no verified (a,c), the pairwise rule keeps a and drops b
    and c without recording that they belonged together; here all three
    share component=a, so downstream can keep one survivor per CLUSTER,
    count cluster sizes, or audit what was merged — the contract of
    production dedup pipelines (and what near-dup chains at 100 TB
    actually look like).

    Scale shape: pair generation is minhash_lsh_pairs' single-shuffle
    bucketing; the closure is O(log^2 n) alternating-star rounds over the
    (rare) pair edges only; the final left join back to the corpus is on
    the corpus' own id key."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, max_bucket_size)
    return _components_of(df, id_col, pairs)


def embedding_components(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Transitive clusters over embedding-cosine near-dup pairs: the
    hyperplane-LSH pair generator (embedding_dup_pairs) closed with
    connected_components, then every input row joined back —
    (id, component, is_dup), the embedding-space counterpart of
    minhash_components. Chains of drifted embeddings (a~b, b~c with
    cos(a,c) below threshold) land in ONE cluster with one surviving
    representative — what pair flags alone cannot express."""
    pairs = embedding_dup_pairs(df, id_col, vec_col, threshold)
    return _components_of(df, id_col, pairs)


def _components_of(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(id, component, is_dup) for every row of ``df``: the pair graph
    closed with connected_components and joined back to the corpus —
    an id in no pair is its own component.

    r14: the components frame holds ≤ 2·n_edges narrow rows; when that
    fits, broadcast it so the CORPUS side of the join-back never
    exchanges (the checkpoint-derived frame has no stats, so
    auto-broadcast could not fire — _gated_broadcast)."""
    cc, n_edges = _connected_components_sized(pairs, "id_a", "id_b")
    cc = cc.withColumnRenamed("id", "__cc_id")
    component = F.coalesce(F.col("component"), F.col(id_col))
    return (
        df.select(F.col(id_col))
        .join(
            _gated_broadcast(cc, 96 * n_edges),
            F.col(id_col) == F.col("__cc_id"), "left")
        .select(
            F.col(id_col),
            component.alias("component"),
            (component != F.col(id_col)).alias("is_dup"),
        )
    )

def cluster_survivors(
    components: DataFrame, df: DataFrame, id_col: str = "doc_id",
    comp_col: str = "component", quality_col: str | None = None,
) -> DataFrame:
    """Survivor selection per duplicate cluster — the keep policy that
    turns (id, component) clusters into an actual dedup decision:
    (id, component, keep) where exactly ONE member of every cluster has
    keep=true. With ``quality_col`` the survivor is the highest-quality
    member (ties break to the smaller id); without it, the component
    representative (= minimum id, which connected_components already
    computed) survives, requiring no aggregate at all.

    Why quality-aware: min-id survivorship is arbitrary — production
    pipelines keep the LONGEST / highest-scoring member of a near-dup
    cluster (the shorter ones are usually truncations or boilerplate
    wrappers of it). This is the composition point for quality_score /
    gopher_quality / classifier scores with minhash_components /
    embedding_components.

    Scale shape: the argmax aggregate runs only over members of
    MULTI-member clusters (dup rate x corpus, not the corpus — the
    `dup_comps` semi-join prunes singletons first), one hash aggregate on
    the component key; winners then left-join back to the full mapping —
    a frame of one row per duplicate CLUSTER, broadcastable at any
    realistic dup rate. No window, no global sort."""
    base = components.select(F.col(id_col), F.col(comp_col))
    if quality_col is None:
        return base.withColumn("keep", F.col(id_col) == F.col(comp_col))
    dup_comps = (
        base.filter(F.col(id_col) != F.col(comp_col)).select(comp_col).distinct()
    )
    members = base.join(dup_comps, comp_col).join(
        df.select(F.col(id_col), F.col(quality_col)), id_col
    )
    # argmax quality, tie -> min id: min_by over the (is_null, -quality,
    # id) struct — the null flag leads so a NULL quality loses to every
    # real score (bare struct ordering would sort the null field FIRST
    # ascending and hand null-quality members the win)
    winners = members.groupBy(comp_col).agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                F.col(quality_col).isNull().cast("int").alias("z"),
                (-F.col(quality_col).cast("double")).alias("nq"),
                F.col(id_col).alias("i"),
            ),
        ).alias("__surv")
    )
    return base.join(winners, comp_col, "left").select(
        F.col(id_col),
        F.col(comp_col),
        F.when(F.col("__surv").isNull(), F.col(id_col) == F.col(comp_col))
        .otherwise(F.col(id_col) == F.col("__surv"))
        .alias("keep"),
    )


def pair_eval(
    approx: DataFrame, exact: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Precision / recall / F1 of an approximate near-dup pair generator
    against an exact one — the dedup counterpart of ann_recall, and the
    metric that tunes LSH band/row choices before a 100 TB run: run both
    generators on a sample, read one row, adjust bands. Pairs are
    direction- and duplicate-normalized before comparison.

    Scale shape: two distincts + one full outer join on the (rare) pair
    keys + a single global aggregate to one row."""
    def norm(p: DataFrame) -> DataFrame:
        return p.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        ).distinct()

    a = norm(approx).withColumn("__a", F.lit(1))
    e = norm(exact).withColumn("__e", F.lit(1))
    j = a.join(e, ["u", "v"], "full")
    return j.agg(
        F.count("__a").alias("approx_pairs"),
        F.count("__e").alias("exact_pairs"),
        F.count(F.when(F.col("__a").isNotNull() & F.col("__e").isNotNull(), 1)).alias("hits"),
    ).select(
        "approx_pairs",
        "exact_pairs",
        "hits",
        F.round(F.col("hits") / F.greatest(F.col("approx_pairs"), F.lit(1)), 6).alias("precision"),
        F.round(F.col("hits") / F.greatest(F.col("exact_pairs"), F.lit(1)), 6).alias("recall"),
    )

def _bloom_positions(key: Column, bits: int, k: int) -> list[Column]:
    """The k Bloom bit positions of ``key`` (Bloom CACM'70), derived by
    Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod bits
    from two xxhash64 views of the key (distinct constant salt columns).
    h1, h2 are reduced mod bits BEFORE combining — identical result
    (modular arithmetic), but every intermediate stays < k*bits, so the
    expression never overflows a long and is ANSI-mode safe. h2 is
    forced ODD (2·(h mod ⌊bits/2⌋) + 1 < bits): with the power-of-two
    ``bits`` the defaults use, odd step ⇒ coprime ⇒ the k probes walk k
    DISTINCT positions — an even step with a large gcd would collapse
    them onto a small subgroup and inflate the FP rate."""
    h1 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(2)), F.lit(max(bits // 2, 1))) * F.lit(2) + F.lit(1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(bits)) for i in range(k)]


def bloom_words(keys: DataFrame, key_col: str, bits: int, num_hashes: int) -> DataFrame:
    """SPARSE Bloom bitmap over a key frame: (``__w`` word index,
    ``__bits`` 64-bit word) rows for every NON-ZERO 64-bit word of the
    ``bits``-wide filter. One explode + one hash aggregate; the output is
    bounded by min(bits/64, num_hashes * n_keys) rows NO MATTER how big
    the key corpus is — this is the artifact you materialize once per
    accumulated corpus and broadcast against every ingestion batch."""
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), bits, num_hashes)))
    return (
        keys.select(pos.alias("__p"))
        .select(
            F.shiftright("__p", 6).alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))").alias("__m"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__m)").alias("__bits"))
    )


def lsh_sweep(
    df: DataFrame, id_col: str, text_col: str, truth: DataFrame,
    geometries: list[tuple[int, int]] = ((4, 8), (8, 4), (16, 2)),
    threshold: float = 0.5,
) -> DataFrame:
    """Tune the LSH operating point BEFORE a full-scale run: for each
    (bands, rows_per_band) geometry, run minhash_lsh_pairs on a SAMPLE
    and score it against a ground-truth pair set (typically
    ngram_jaccard_pairs at the same threshold) via pair_eval. Returns
    one row per geometry: (bands, rows_per_band, approx_pairs,
    exact_pairs, hits, precision, recall) — pick the leftmost geometry
    whose recall clears your bar; its candidate volume (approx_pairs)
    is the 100 TB cost you are signing up for.

    Driver-side loop over len(geometries) (3-5 in practice) bounded
    one-row aggregates — the sanctioned tuning-harness shape; the
    ground truth computes ONCE and is reused across geometries."""
    truth = eager_checkpoint(
        truth.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        ).distinct()
    )
    spark = df.sparkSession
    rows = []
    for b, r in geometries:
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, threshold, bands=int(b), rows_per_band=int(r)
        )
        m = pair_eval(pairs, truth).collect()[0]
        rows.append((int(b), int(r), m["approx_pairs"], m["exact_pairs"],
                     m["hits"], m["precision"], m["recall"]))
    release(truth)
    return local_table(spark,
        rows,
        "bands int, rows_per_band int, approx_pairs long, exact_pairs long, "
        "hits long, precision double, recall double",
    )


def embedding_sweep(
    df: DataFrame, id_col: str, vec_col: str, truth: DataFrame | None = None,
    n_planes_list: tuple[int, ...] = (4, 8, 12, 16),
    threshold: float = 0.9, dim: int | None = None,
) -> DataFrame:
    """Tune the hyperplane COUNT before a full-scale embedding-dedup run
    — the embedding analog of :func:`lsh_sweep`: for each n, bucket a
    SAMPLE with the first n bundled planes and score the candidate pairs
    against exact all-pairs cosine ground truth via pair_eval. One row
    per n: (n_planes, approx_pairs, exact_pairs, hits, precision,
    recall). FEWER planes = coarser buckets = recall up, candidate
    volume up (the opposite tilt from minhash bands); plane matrices are
    PREFIX-CONSISTENT (make_planes), so an n-plane collision set
    provably CONTAINS every n'-plane collision set for n' > n and recall
    is monotone non-increasing in n — pick the LARGEST n whose recall
    clears your bar (cheapest candidate volume at that recall).

    ``truth`` defaults to ``embedding_dup_pairs(exact=True)`` on ``df``
    — all-pairs cosine, so run this on a bounded sample (the lsh_sweep
    contract); ``dim`` defaults to the bundled EMB_DIM when the vectors
    match it, otherwise pass it explicitly."""
    from wrangler_spark.datapipe.constants import EMB_DIM

    d = int(dim) if dim else EMB_DIM
    if truth is None:
        truth = embedding_dup_pairs(df, id_col, vec_col, threshold, exact=True)
    truth = eager_checkpoint(
        truth.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        ).distinct()
    )
    spark = df.sparkSession
    rows = []
    for n in n_planes_list:
        pairs = embedding_dup_pairs(
            df, id_col, vec_col, threshold, planes=make_planes(int(n), d)
        )
        m = pair_eval(pairs, truth).collect()[0]
        rows.append((int(n), m["approx_pairs"], m["exact_pairs"],
                     m["hits"], m["precision"], m["recall"]))
    release(truth)
    return local_table(spark,
        rows,
        "n_planes int, approx_pairs long, exact_pairs long, "
        "hits long, precision double, recall double",
    )


def exact_dedup_against(
    df_new: DataFrame, df_old: DataFrame, id_col: str, text_col: str,
    bloom_bits: int = 0, bloom_hashes: int = 5,
) -> DataFrame:
    """Incremental exact dedup: (id, is_dup) for every NEW row, where
    is_dup marks a normalized text already present in the EXISTING corpus.
    The production shape of dedup at 100 TB is incremental — each
    ingestion batch is checked against the accumulated corpus, not
    re-self-deduped from scratch. Stream-safe: with a STREAMING new side
    this becomes a stream-static left join and runs unchanged under
    Structured Streaming (tested) — readStream the landing zone, join
    the corpus keys.

    Scale shape: the old corpus collapses to DISTINCT 16-byte md5 keys
    (one hash aggregate over keys only — the documents never move), then
    one equi-join on the key. The old-keys frame is what you materialize
    once and reuse across batches; a small batch joining a huge key set
    shuffles only the batch side when AQE picks the broadcast the other
    way, and partitioned key parquet turns this into a co-located join.

    ``bloom_bits > 0`` switches on the Bloom pre-filter — the true
    100 TB shape when the OLD key set is too big to broadcast and the
    join would otherwise shuffle every new row: the old keys collapse to
    a sparse bitmap (:func:`bloom_words`, ≤ bits/64 rows), the new batch
    is probed scan-side through ``bloom_hashes`` chained BROADCAST joins
    on word index (pure JVM — no Python, no shuffle), and only
    bloom-POSITIVE rows reach the verification equi-join. The result is
    bit-identical to the plain path (false positives are resolved by the
    verification join; a Bloom filter has no false negatives), so both
    paths share one oracle. Size ``bloom_bits`` ≈ 10-15x the old key
    count for ~1% FP at the default 5 hashes; the probed frame is
    referenced by both output branches, so the batch is scanned twice
    (column-pruned to id + text) — the price of skipping the shuffle for
    the ~99% clean rows."""
    key = F.md5(normalize_text(F.col(text_col)))
    old_keys = df_old.select(key.alias("__k")).distinct().withColumn("__hit", F.lit(1))
    if not bloom_bits:
        return (
            df_new.select(F.col(id_col), key.alias("__k"))
            .join(old_keys, "__k", "left")
            .select(F.col(id_col), F.col("__hit").isNotNull().alias("is_dup"))
        )
    # the words frame feeds 2*bloom_hashes broadcast consumers and its
    # subtree contains the full old-corpus scan + a shuffle aggregate —
    # the repo's checkpoint rule applies; it materializes to <= bits/64
    # rows (released by the caller's checkpoint_scope)
    words = eager_checkpoint(bloom_words(old_keys, "__k", bloom_bits, bloom_hashes))
    probed = _bloom_probe(
        df_new.select(F.col(id_col), key.alias("__k")), words, bloom_bits, bloom_hashes
    )
    cand = (
        probed.filter(F.col("__maybe"))
        .select(F.col(id_col), F.col("__k"))
        .join(old_keys, "__k", "left")
        .select(F.col(id_col), F.col("__hit").isNotNull().alias("is_dup"))
    )
    clean = probed.filter(~F.col("__maybe")).select(
        F.col(id_col), F.lit(False).alias("is_dup")
    )
    return cand.unionByName(clean)


def _bloom_probe(keyed: DataFrame, words: DataFrame, bits: int, k: int) -> DataFrame:
    """Append ``__maybe`` to a (… , __k) frame: the pure-JVM Bloom
    membership test — k chained broadcast joins on word index + native
    bit tests; a missing word (null) makes the row a definite miss."""
    probed = keyed
    for i, p in enumerate(_bloom_positions(F.col("__k"), bits, k)):
        probed = probed.withColumn(f"__p{i}", p)
    maybe = F.lit(True)
    for i in range(k):
        wf = words.select(F.col("__w").alias(f"__w{i}"), F.col("__bits").alias(f"__b{i}"))
        probed = probed.join(
            F.broadcast(wf), F.shiftright(F.col(f"__p{i}"), 6) == F.col(f"__w{i}"), "left"
        )
        maybe = maybe & F.expr(
            f"(shiftrightunsigned(__b{i}, CAST(pmod(__p{i}, 64) AS INT)) & 1) = 1"
        )
    out = probed.withColumn("__maybe", F.coalesce(maybe, F.lit(False)))
    return out.drop(*[c for c in out.columns if c.startswith("__p") or c.startswith("__w") or c.startswith("__b")])


def bloom_write_index(
    df_old: DataFrame, path: str, text_col: str,
    bits: int = 1 << 27, num_hashes: int = 5, append: bool = False,
) -> None:
    """Persist (or extend) a LOG-STRUCTURED Bloom index of the corpus's
    normalized-content keys: ``<path>/words`` holds sparse bitmap word
    rows — appends are PLAIN parquet appends (no read-modify-write;
    duplicate word rows are bit_or-merged at load, which is why a Bloom
    filter is the one sketch where log-structured append is exact) —
    and ``<path>/meta`` pins (bits, num_hashes), asserted on every
    append (mixing geometries would corrupt membership silently).

    This is the terminal form of the incremental-dedup state machine:
    per ingestion batch, probe (bloom_probe_index), then append the
    batch's own keys — O(batch) work and O(bits) state forever, never
    a rescan of history.

    Layout: a fresh build writes a versioned snapshot
    (``<path>/v_NNNNNN`` + ``_COMMITTED``, see ``_layout``) — a rebuild
    of a live index becomes visible only at the commit marker, so a
    crash mid-build leaves the previous version probing correctly, and
    new-geometry meta can never pair with old words. Appends land in
    the CURRENT version, resolved and geometry-checked under the writer
    lease (log-structured, O(batch))."""
    from wrangler_spark.datapipe import _layout

    spark = df_old.sparkSession
    if bits < 64 or num_hashes < 1:
        raise ValueError(f"bloom geometry must be bits>=64, k>=1 — got ({bits}, {num_hashes})")
    key = F.md5(normalize_text(F.col(text_col)))
    words = bloom_words(df_old.select(key.alias("__k")).distinct(), "__k", bits, num_hashes)
    if append:
        with _layout.append(spark, path) as root:
            meta = _layout.read_meta(spark, root)
            _bloom_check_scheme(meta)
            if (int(meta["bits"]), int(meta["num_hashes"])) != (int(bits), int(num_hashes)):
                raise ValueError(
                    f"bloom geometry mismatch: index has (bits={meta['bits']}, "
                    f"num_hashes={meta['num_hashes']}), got ({bits}, {num_hashes})"
                )
            words.write.mode("append").parquet(f"{root}/words")
        return
    with _layout.build(spark, path) as vdir:
        words.write.parquet(f"{vdir}/words")
        _layout.write_meta(spark, vdir, (int(bits), int(num_hashes), _BLOOM_SCHEME),
                           "bits long, num_hashes int, scheme int")


# position-derivation version persisted in every index's meta: ANY change
# to _bloom_positions MUST bump this — probing an index built with a
# different scheme yields silent false negatives, the one failure a Bloom
# filter must never have. v2 = odd-h2 double hashing.
_BLOOM_SCHEME = 2


def _bloom_check_scheme(meta) -> None:
    stored = int(meta["scheme"]) if "scheme" in meta.__fields__ else 1
    if stored != _BLOOM_SCHEME:
        raise ValueError(
            f"bloom index was built with position scheme v{stored}, this code "
            f"is v{_BLOOM_SCHEME} — probing would silently miss true duplicates; "
            "rebuild the index (bloom_write_index without append)"
        )


def bloom_probe_index(
    df_new: DataFrame, path: str, id_col: str, text_col: str,
) -> DataFrame:
    """(id, is_dup_maybe) for a batch against a persisted Bloom index:
    NO false negatives (every true duplicate of an indexed doc is
    flagged), false positives at the filter's design rate
    (~(1 - e^(-kn/m))^k; <1% when bits ≈ 15x the key count). The
    bloom-only verdict is the pure-O(batch) path — when exactness is
    required, verify the flagged rows with exact_dedup_against against
    a recent delta, or accept the FP rate (in dedup, an FP just drops a
    non-duplicate — usually a fine trade at 100 TB). Probe is the same
    pure-JVM chained broadcast join as the in-memory path. The index
    root resolves to the latest committed version (``_layout``), so a
    probe can run concurrently with a rebuild or compaction."""
    from wrangler_spark.datapipe import _layout

    spark = df_new.sparkSession
    root = _layout.resolve(spark, path)
    meta = _layout.read_meta(spark, root)
    _bloom_check_scheme(meta)
    bits, k = int(meta["bits"]), int(meta["num_hashes"])
    # the OR-merge aggregate feeds k broadcast consumers; aliased
    # broadcast sides defeat exchange reuse (measured: k+1 scans of the
    # words parquet without this), so the bounded <= bits/64-row frame
    # is checkpointed once (released by the caller's checkpoint_scope)
    words = eager_checkpoint(
        spark.read.parquet(f"{root}/words")
        .groupBy("__w")
        .agg(F.expr("bit_or(__bits)").alias("__bits"))
    )
    key = F.md5(normalize_text(F.col(text_col)))
    probed = _bloom_probe(
        df_new.select(F.col(id_col), key.alias("__k")), words, bits, k
    )
    return probed.select(F.col(id_col), F.col("__maybe").alias("is_dup_maybe"))


def minhash_pairs_against(
    df_new: DataFrame, df_old: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.5, max_bucket_size: int = 100,
    bands: int = LSH_BANDS, rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Incremental NEAR-dedup: (id_new, id_old, jaccard) for new docs that
    near-duplicate an EXISTING doc — the asymmetric counterpart of
    minhash_lsh_pairs for batch ingestion. New-new pairs are deliberately
    not emitted (run minhash_lsh_pairs on the batch for those); old-old
    pairs never are.

    Scale shape: both corpora share the banding front end (_sig_bands);
    the OLD side aggregates each (band, key) bucket to its sorted id list
    capped at ``max_bucket_size`` (a hot old bucket is a near-identical
    signature collision — any ``max_bucket_size`` representatives give the
    same keep/drop verdict for a colliding new doc, the star-link
    argument), so candidates per new row are bounded and the old corpus
    shuffles only its ~40-byte band rows. Verification re-fetches shingle
    sets for the rare candidates from each side's checkpointed base.

    ``bands``/``rows_per_band`` must match on BOTH sides (they do here by
    construction); the persisted-index path pins them in the index meta
    for the same reason."""
    base_n, bands_n = _sig_bands(df_new, id_col, text_col, bands, rows_per_band)
    base_o, bands_o = _sig_bands(df_old, id_col, text_col, bands, rows_per_band)
    old_buckets = bands_o.groupBy("band", "key").agg(
        F.expr(f"slice(array_sort(collect_list(id)), 1, {int(max_bucket_size)})").alias("__olds")
    )
    return _pairs_against_tail(base_n, bands_n, base_o, old_buckets, threshold)


def _pairs_against_tail(
    base_n: DataFrame, bands_n: DataFrame, base_o: DataFrame,
    old_buckets: DataFrame, threshold: float,
) -> DataFrame:
    """Shared candidate+verify tail of the cross-corpus near-dedup: band
    equi-join against the (capped) old buckets, exact Jaccard over the
    two shingle bases for the surviving candidates only."""
    cand = (
        bands_n.join(old_buckets, ["band", "key"])
        .selectExpr("id AS id_new", "explode(__olds) AS id_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    pairs = (
        cand.join(base_n.select(F.col("id").alias("id_new"), F.col("shingles").alias("sa")), "id_new")
        .join(base_o.select(F.col("id").alias("id_old"), F.col("shingles").alias("sb")), "id_old")
    )
    # r13: arithmetic union over the distinct shingle sets + the
    # 1-element-explode single-evaluation barrier (the minhash_lsh_pairs
    # verify fix, same reasoning and identical values)
    scored = pairs.select(
        "id_new", "id_old",
        F.size("sa").cast("long").alias("__na"),
        F.size("sb").cast("long").alias("__nb"),
        F.explode(F.array(
            F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
        )).alias("__i"),
    )
    jac = F.round(
        F.col("__i").cast("double")
        / (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double"), 6)
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def minhash_write_index(
    df_old: DataFrame, path: str, id_col: str, text_col: str,
    max_bucket_size: int = 100,
    bands: int = LSH_BANDS, rows_per_band: int = LSH_ROWS,
    geometry: str | None = None,
    threshold: float = 0.5,
    sample_docs: int = 2000,
    recall_target: float = 0.9,
    geometries: list[tuple[int, int]] = ((4, 8), (8, 4), (16, 2)),
) -> None:
    """Materialize the accumulated corpus's LSH state ONCE so every
    ingestion batch skips re-hashing 100 TB of history:
    ``<path>/buckets`` = the capped sorted (band, key, __olds) bucket
    table (the expensive groupBy paid at build time) and
    ``<path>/shingles`` = (id, shingles) verification payloads, read
    only for the rare candidates. minhash_pairs_against recomputes both
    per call — correct, but O(old corpus) per batch; this is the
    materialize-once counterpart (same discipline as ivf_write_index).

    Freshness contract: the index is a snapshot. The standard layout is
    log-structured — rebuild on a cadence, and for exactness between
    rebuilds ALSO run minhash_pairs_against(batch, delta_since_rebuild)
    (cheap: the delta is small) and union the pairs. Parquet can't
    merge capped lists in place, so there is deliberately no in-place
    bucket append.

    The banding geometry is PINNED in the index meta and the probe
    reads it from there — probing buckets built at a different
    (bands, rows) would silently miss true pairs (the bloom-scheme
    hazard), so geometry is an index property, not a probe argument.
    Geometry is VALIDATED before anything is written, and the build is
    a versioned snapshot (``<path>/v_NNNNNN`` + ``_COMMITTED`` marker,
    see ``_layout``): a rebuild of a live index becomes visible only at
    the single atomic marker create, so a crash at any point — before,
    between, or after the dataset writes — leaves probes on the
    previous committed version, and NEW-geometry meta can never pair
    with OLD-geometry buckets (the rebuild-in-place hazard the old
    meta-first ordering only narrowed, never closed).

    ``geometry="auto"`` closes the tune-then-pin loop: before building,
    :func:`lsh_sweep` runs on a deterministic ``sample_docs``-row sample
    (ground truth = word-3-gram Jaccard pairs at the same
    ``threshold``), the LEFTMOST swept geometry whose recall clears
    ``recall_target`` wins (falling back to the highest-recall one —
    more bands, the right failure direction: extra candidate volume,
    never silent misses), the winner overrides ``bands``/
    ``rows_per_band``, and the full sweep table is persisted at
    ``<path>/sweep`` so the 100 TB operator can audit what the pin was
    based on. The probe path is unchanged — it reads geometry from meta
    exactly as for a hand-pinned index."""
    from wrangler_spark.datapipe import _layout

    spark = df_old.sparkSession
    sweep = None
    if geometry == "auto":
        for b, r in geometries:
            _check_lsh_geometry(int(b), int(r))  # validate the whole sweep space up front
        sample = df_old.select(id_col, text_col).orderBy(id_col).limit(int(sample_docs))
        sample = eager_checkpoint(sample)  # feeds truth AND every sweep geometry
        truth = ngram_jaccard_pairs(sample, id_col, text_col, 3, threshold, unit="word")
        sweep = lsh_sweep(sample, id_col, text_col, truth,
                          geometries=geometries, threshold=threshold)
        rows_ = sweep.orderBy("bands").collect()
        ok = [r for r in rows_ if r["recall"] >= float(recall_target)]
        pick = ok[0] if ok else rows_[-1]
        bands, rows_per_band = int(pick["bands"]), int(pick["rows_per_band"])
        release(sample)
    elif geometry is not None:
        raise ValueError(f"geometry must be 'auto' or None, got {geometry!r}")
    # validate BEFORE any write — an invalid geometry must never clobber
    # a live index's meta (it used to, pre-_sig_bands-validation)
    _check_lsh_geometry(int(bands), int(rows_per_band))
    with _layout.build(spark, path) as vdir:
        _layout.write_meta(spark, vdir, (int(bands), int(rows_per_band)),
                           "bands int, rows_per_band int")
        if sweep is not None:
            sweep.write.parquet(f"{vdir}/sweep")
        base_o, bands_o = _sig_bands(df_old, id_col, text_col, bands, rows_per_band)
        (
            bands_o.groupBy("band", "key")
            .agg(F.expr(f"slice(array_sort(collect_list(id)), 1, {int(max_bucket_size)})").alias("__olds"))
            .write.parquet(f"{vdir}/buckets")
        )
        base_o.write.parquet(f"{vdir}/shingles")


def minhash_pairs_against_index(
    df_new: DataFrame, path: str, id_col: str, text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """minhash_pairs_against for a batch vs a PERSISTED minhash index:
    identical pairs (same banding, caps, and exact-Jaccard verification)
    but the old side is two parquet scans — the batch's band rows join
    the stored buckets, and stored shingles are fetched for candidates
    only. The per-batch cost no longer contains the old corpus's
    signature computation at all. Banding geometry comes from the
    index's meta (default geometry assumed for pre-meta indexes), so a
    tuned index is always probed in its own signature space. The index
    root resolves to the latest committed version (``_layout``), so the
    probe can run concurrently with a rebuild or compaction."""
    from wrangler_spark.datapipe import _layout

    spark = df_new.sparkSession
    root = _layout.resolve(spark, path)
    # ONLY a missing meta means the pre-meta index layout; any other
    # failure (corrupt parquet, permissions, empty meta) must raise —
    # silently probing at the default geometry against tuned buckets
    # would return (almost) no pairs with no error
    bands, rows = LSH_BANDS, LSH_ROWS
    if _layout.has_meta(spark, root):
        meta = _layout.read_meta(spark, root)
        bands, rows = int(meta["bands"]), int(meta["rows_per_band"])
    base_n, bands_n = _sig_bands(df_new, id_col, text_col, bands, rows)
    return _pairs_against_tail(
        base_n, bands_n,
        spark.read.parquet(f"{root}/shingles"),
        spark.read.parquet(f"{root}/buckets"),
        threshold,
    )


def embedding_pairs_against(
    df_new: DataFrame, df_old: DataFrame, id_col: str, vec_col: str,
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
    broadcast_planes: bool | None = None,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Incremental SEMANTIC near-dedup: (id_new, id_old, cosine) for new
    docs whose embedding near-duplicates an EXISTING doc's — the
    embedding analog of minhash_pairs_against, and the semantic-
    decontamination primitive: embed the benchmark/eval corpus as the
    OLD side and an ingestion batch as the NEW side; any pair above
    threshold is contamination MinHash cannot see (paraphrases share no
    n-grams). Asymmetric by contract: new-new and old-old pairs are
    never emitted (embedding_dup_pairs covers within-corpus pairs).

    Scale shape: both sides compute the scan-side hyperplane signature
    (:func:`_plane_sigs` — zero shuffle); the OLD side aggregates each
    signature bucket to a sorted id list capped at ``max_bucket_size``
    (a hot bucket means near-identical directions — any cap
    representatives give a colliding new doc the same verdict, the same
    star-link argument as minhash_pairs_against), so candidates per new
    row are bounded and the old corpus shuffles only (16-char sig, id)
    rows. The old side is eagerly checkpointed ONCE (minhash's base_o
    discipline — it feeds both the bucket aggregate and the
    vector-verification join, and an expensive upstream lineage must
    not evaluate twice; released by the caller's checkpoint_scope); old
    VECTORS are re-fetched from it for the rare candidates via one
    equi-join on id — the embedding floats never ride the bucket
    shuffle. Only the NEW side is stream-safe (scan-side signature);
    the old side is static by contract, as in every *_against op."""
    sigs_n = _plane_sigs(df_new, id_col, vec_col, planes, broadcast_planes)
    sigs_o = eager_checkpoint(_plane_sigs(df_old, id_col, vec_col, planes, broadcast_planes))
    old_buckets = sigs_o.groupBy("sig").agg(
        F.expr(f"slice(array_sort(collect_list(id)), 1, {int(max_bucket_size)})").alias("__olds")
    )
    vecs_o = sigs_o.select(F.col("id").alias("id_old"), F.col("v").alias("__vo"))
    return _emb_against_tail(
        sigs_n, vecs_o, old_buckets, threshold,
        dim=len((planes or HYPERPLANES)[0]))


def _emb_against_tail(
    sigs_n: DataFrame, vecs_o: DataFrame, old_buckets: DataFrame, threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """Shared candidate+verify tail of the cross-corpus embedding dedup:
    full-signature equi-join against the capped old buckets (one bucket
    per doc — unlike minhash bands, a pair can collide only once, so no
    dedup step), exact cosine for the surviving candidates only."""
    cand = sigs_n.join(old_buckets, "sig").select(
        F.col("id").alias("id_new"),
        F.col("v").alias("__vn"),
        F.explode("__olds").alias("id_old"),
    )
    # r13: the 1-element-explode single-evaluation barrier — without it
    # the threshold filter collapses the dim-sized cosine fold into the
    # verify join's CONDITION and the project evaluates it again per
    # survivor (plans/r13/dedup_cross_embedding_before2.txt node 117).
    cos = F.round(_cosine(F.col("__vn"), F.col("__vo"), dim), 6)
    return (
        cand.join(vecs_o, "id_old")
        .select(
            "id_new", "id_old",
            F.explode(F.array(cos)).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_write_index(
    df_old: DataFrame, path: str, id_col: str, vec_col: str,
    planes: list[list[float]] | str | None = None,
    broadcast_planes: bool | None = None,
    max_bucket_size: int = 100,
    threshold: float = 0.9,
    sample_rows: int = 2000,
    recall_target: float = 0.9,
    n_planes_list: tuple[int, ...] = (4, 8, 12, 16),
) -> None:
    """Materialize the accumulated corpus's hyperplane-LSH state ONCE so
    ingestion batches skip re-bucketing history (the embedding
    counterpart of minhash_write_index, same materialize-once posture):
    ``<path>/buckets`` = capped sorted (sig, __olds), ``<path>/vectors``
    = (id_old, __vo) verification payloads read only for candidates, and
    ``<path>/meta`` pins the PLANE MATRIX — probing with different
    planes would bucket in a different space and silently miss true
    pairs, so the probe always reads its planes from the index.

    Freshness contract is minhash_write_index's: the index is a
    snapshot — rebuild on a cadence and check batches against the
    since-rebuild delta with embedding_pairs_against (cheap: the delta
    is small).

    ``planes="auto"`` runs :func:`embedding_sweep` on a deterministic
    ``sample_rows``-row sample first (exact all-pairs cosine as ground
    truth) and pins the LARGEST prefix-consistent plane count whose
    recall clears ``recall_target`` (fewest candidates at that recall;
    falls back to the fewest planes = highest recall — the fail-toward-
    extra-candidates direction, minhash auto's contract mirrored). The
    winning matrix lands in meta exactly as a hand-picked one would, and
    the sweep table persists at ``<path>/sweep`` for audit."""
    from wrangler_spark.datapipe import _layout

    spark = df_old.sparkSession
    sweep = None
    if isinstance(planes, str):
        if planes != "auto":
            raise ValueError(f"planes must be a matrix, 'auto', or None — got {planes!r}")
        sample = eager_checkpoint(
            df_old.select(id_col, vec_col).orderBy(id_col).limit(int(sample_rows))
        )
        first = sample.select(vec_col).first()
        if first is None or first[0] is None:
            release(sample)
            raise ValueError(
                "planes='auto' cannot tune on an empty corpus / null vectors — "
                f"the first sampled {vec_col!r} row is missing; pass an explicit "
                "plane matrix or fix the input"
            )
        dim = len(first[0])
        sweep = embedding_sweep(
            sample, id_col, vec_col,
            n_planes_list=n_planes_list, threshold=threshold, dim=dim,
        )
        rows_ = sweep.orderBy(F.col("n_planes").desc()).collect()
        ok = [r for r in rows_ if r["recall"] >= float(recall_target)]
        pick = ok[0] if ok else rows_[-1]
        planes = make_planes(int(pick["n_planes"]), dim)
        release(sample)
    if planes is None:
        planes = HYPERPLANES
    if not planes or not planes[0]:
        raise ValueError("planes must be a non-empty matrix")
    # versioned snapshot build (see minhash_write_index): nothing is
    # visible until the commit marker, so a rebuild-in-place crash can
    # never pair new planes with old buckets
    with _layout.build(spark, path) as vdir:
        # one materialization serves both artifact writes (bucket
        # aggregate + vector payloads); the build releases it
        sigs_o = eager_checkpoint(_plane_sigs(df_old, id_col, vec_col, planes, broadcast_planes))
        (
            sigs_o.groupBy("sig")
            .agg(F.expr(f"slice(array_sort(collect_list(id)), 1, {int(max_bucket_size)})").alias("__olds"))
            .write.parquet(f"{vdir}/buckets")
        )
        sigs_o.select(
            F.col("id").alias("id_old"), F.col("v").alias("__vo")
        ).write.parquet(f"{vdir}/vectors")
        _layout.write_meta(spark, vdir, ([[float(x) for x in p] for p in planes],),
                           "planes ARRAY<ARRAY<DOUBLE>>")
        if sweep is not None:
            sweep.write.parquet(f"{vdir}/sweep")


def embedding_pairs_against_index(
    df_new: DataFrame, path: str, id_col: str, vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """embedding_pairs_against for a batch vs a PERSISTED hyperplane-LSH
    index: identical pairs (planes read from the index meta, same caps
    and exact-cosine verification) but the old side is two parquet scans
    and the per-batch cost no longer contains the old corpus's
    signature computation at all. The index root resolves to the latest
    committed version (``_layout``), so the probe can run concurrently
    with a rebuild or compaction."""
    from wrangler_spark.datapipe import _layout

    spark = df_new.sparkSession
    root = _layout.resolve(spark, path)
    planes = [[float(x) for x in p] for p in _layout.read_meta(spark, root)["planes"]]
    sigs_n = _plane_sigs(df_new, id_col, vec_col, planes, None)
    return _emb_against_tail(
        sigs_n,
        spark.read.parquet(f"{root}/vectors"),
        spark.read.parquet(f"{root}/buckets"),
        threshold,
        dim=len(planes[0]) if planes else None,
    )


def entity_match_pairs(
    df: DataFrame, id_col: str, block_cols: list[str],
    sim_cols: list[tuple[str, int]], max_block_size: int = 1000,
) -> DataFrame:
    """Blocking + verification entity resolution over TABULAR records —
    the distributed completion of the reference's text-distance family
    (ref: TextDistanceMeasure.java's 15 pairwise methods, which the
    reference only ever applies to two columns of ONE row): find record
    PAIRS that agree on every blocking key and are within a Levenshtein
    budget on each similarity column. Returns (id_a, id_b, <col>_dist
    per sim col).

    ``block_cols`` are exact-match keys (zip, nation, segment — the
    classic blocking step that makes matching sub-quadratic: only
    same-block pairs are ever compared); ``sim_cols`` is
    [(col, max_levenshtein), ...] verified on the candidates only.
    Blocking is STRICT equality per key: a NULL blocking key matches
    nothing (the SQL-join semantics of the oracle), so rows with any
    NULL key never pair.

    Scale shape: one hash aggregate per block collects the sorted id
    list (capped at ``max_block_size`` — an over-broad blocking key is
    the quadratic footgun, same cap contract as the MinHash buckets),
    pairs expand natively, then one join back per side fetches the
    similarity columns for the (rare) candidates. Levenshtein runs
    JVM-side on candidate pairs only."""
    # names or Column expressions: phonetic blocking is
    # entity_match_pairs(df, id, [F.soundex("name")], ...) — any
    # deterministic expression works as a blocking key. Keys are grouped
    # as SEPARATE columns, never concatenated: a '|'-joined string
    # conflates ('a|b','c') with ('a','b|c'), and concat_ws drops NULLs
    # so (NULL,'X') / ('X',NULL) / all-NULL rows collide. Strict-equality
    # semantics (the oracle's): a NULL blocking key matches nothing, so
    # those rows are filtered before grouping.
    key_cols = [
        (F.col(c) if isinstance(c, str) else c).alias(f"__bk{i}")
        for i, c in enumerate(block_cols)
    ]
    key_names = [f"__bk{i}" for i in range(len(block_cols))]
    not_null = F.lit(True)
    for n in key_names:
        not_null = not_null & F.col(n).isNotNull()
    blocks = (
        df.select(F.col(id_col).alias("id"), *key_cols)
        .filter(not_null)
        .groupBy(*key_names)
        .agg(F.expr(f"slice(array_sort(collect_list(id)), 1, {int(max_block_size)})").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        blocks.selectExpr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b)))) AS prs"
        )
        .selectExpr("inline(prs)")
    )
    attrs = df.select(
        F.col(id_col).alias("__aid"), *[F.col(c).alias(f"__l_{c}") for c, _ in sim_cols]
    )
    attrs_b = df.select(
        F.col(id_col).alias("__bid"), *[F.col(c).alias(f"__r_{c}") for c, _ in sim_cols]
    )
    out = (
        cand.join(attrs, F.col("id_a") == F.col("__aid"))
        .join(attrs_b, F.col("id_b") == F.col("__bid"))
    )
    return _lev_verify(out, "id_a", "id_b", sim_cols)


def _lev_verify(
    out: DataFrame, a_col: str, b_col: str, sim_cols: list[tuple[str, int]]
) -> DataFrame:
    """Shared levenshtein-budget verification tail for the entity-match
    family. r13 batch 16: the distances are computed inside a 1-element
    explode — the same single-evaluation generator barrier as the gram-
    set verify — so each (expensive, JVM string-DP) levenshtein runs
    ONCE per candidate; without it the budget filter collapses into the
    attribute join's condition and the output projection re-evaluates
    every distance for every survivor.

    r13 session 5 (guide §1.2 per-task work): each distance is computed
    with the BANDED DP (``levenshtein(l, r, threshold=budget)``,
    SPARK-44012) — O(budget·len) cells instead of O(len²), returning -1
    exactly when the true distance exceeds the budget. Provably the
    same output: the op only ever emits pairs with every distance ≤ its
    budget, and below the threshold the banded DP returns the exact
    distance, so ``d ≥ 0`` ⟺ the old ``d ≤ budget`` and the emitted
    values are the same integers. NULL semantics unchanged (null input
    → null distance → fails ``>= 0`` exactly as it failed ``<=``)."""
    d_struct = F.struct(*[
        F.levenshtein(
            F.col(f"__l_{c}"), F.col(f"__r_{c}"), threshold=int(budget)
        ).alias(f"{c}_dist")
        for c, budget in sim_cols
    ])
    scored = out.select(a_col, b_col, F.explode(F.array(d_struct)).alias("__d"))
    keep = F.lit(True)
    for c, _ in sim_cols:
        keep = keep & (F.col(f"__d.{c}_dist") >= 0)
    return scored.filter(keep).select(
        a_col, b_col,
        *[F.col(f"__d.{c}_dist").alias(f"{c}_dist") for c, _ in sim_cols],
    )


def entity_match_against(
    df_new: DataFrame, df_old: DataFrame, id_col: str, block_cols: list[str],
    sim_cols: list[tuple[str, int]], max_block_size: int = 1000,
) -> DataFrame:
    """Cross-corpus record linkage: match each NEW record against an
    EXISTING corpus — the fuzzy-key analog of exact_dedup_against, and
    the reconcile-two-ingestion-sources step every production pipeline
    hits (same blocking/verification contract as entity_match_pairs,
    asymmetric new-old candidates only; new-new pairs are deliberately
    not emitted — run entity_match_pairs on the batch for those, and
    old-old never are). Returns (id_new, id_old, <col>_dist per sim
    col) for pairs that agree on every blocking key and are within the
    Levenshtein budget on each similarity column.

    Blocking is STRICT per-column equality (NULL keys match nothing,
    the SQL-join semantics of the oracle). ``block_cols`` accepts
    column names or Column expressions (phonetic blocking via
    F.soundex works here too).

    Scale shape: the OLD corpus collapses to one capped, sorted id
    list per block (one hash aggregate over id + keys only — the old
    documents never move; materialize this frame once and reuse it
    across ingestion batches, the exact_dedup_against contract); each
    new record equi-joins its block's list and explodes, so candidates
    are block-bounded, never quadratic; attribute joins fetch the
    similarity columns for the (rare) candidates only, and levenshtein
    runs JVM-side on those. A new record belongs to exactly one block,
    so (id_new, id_old) pairs are unique by construction — no distinct
    pass."""

    def keyed(df: DataFrame, id_alias: str):
        cols = [
            (F.col(c) if isinstance(c, str) else c).alias(f"__bk{i}")
            for i, c in enumerate(block_cols)
        ]
        out = df.select(F.col(id_col).alias(id_alias), *cols)
        nn = F.lit(True)
        for i in range(len(block_cols)):
            nn = nn & F.col(f"__bk{i}").isNotNull()
        return out.filter(nn)

    key_names = [f"__bk{i}" for i in range(len(block_cols))]
    old_blocks = (
        keyed(df_old, "__oid")
        .groupBy(*key_names)
        .agg(F.expr(f"slice(array_sort(collect_list(__oid)), 1, {int(max_block_size)})").alias("__olds"))
    )
    cand = (
        keyed(df_new, "id_new")
        .join(old_blocks, key_names)
        .select("id_new", F.explode("__olds").alias("id_old"))
    )
    attrs_new = df_new.select(
        F.col(id_col).alias("__aid"), *[F.col(c).alias(f"__l_{c}") for c, _ in sim_cols]
    )
    attrs_old = df_old.select(
        F.col(id_col).alias("__bid"), *[F.col(c).alias(f"__r_{c}") for c, _ in sim_cols]
    )
    out = (
        cand.join(attrs_new, F.col("id_new") == F.col("__aid"))
        .join(attrs_old, F.col("id_old") == F.col("__bid"))
    )
    return _lev_verify(out, "id_new", "id_old", sim_cols)


def template_dedup(
    df: DataFrame, id_col: str, text_col: str, mask_numbers: bool = True,
    mask_urls: bool = True,
) -> DataFrame:
    """Template-aware exact dedup: digits (and optionally URLs) are
    masked before keying, so the thousands of near-identical TEMPLATED
    documents instruction/synthetic datasets carry — same sentence,
    different numbers or links — collapse onto one representative.
    Returns (id, n_dups, template_key) per distinct template; plain
    exact_dedup sees each filled-in variant as unique.

    Scale shape: identical to exact_dedup — scan-side masking + one
    hash-aggregate shuffle on the 16-byte key."""
    norm = normalize_text(F.col(text_col))
    if mask_urls:
        norm = F.regexp_replace(norm, r"[a-z][a-z0-9+.-]*://[^ ]+", "<url>")
    if mask_numbers:
        norm = F.regexp_replace(norm, r"[0-9]+", "#")
    key = F.md5(norm).alias("__key")
    return (
        df.select(F.col(id_col), key)
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "n_dups", F.col("__key").alias("template_key"))
    )

def cluster_histogram(components: DataFrame, comp_col: str = "component") -> DataFrame:
    """Duplicate-cluster size distribution: (cluster_size, n_clusters,
    n_docs) — the audit readout of a dedup run. A healthy web corpus
    shows a long singleton tail and a short head; a fat head (huge
    clusters) means boilerplate or mirror floods and tells you to run
    exact_dedup / substring dedup upstream before paying the near-dup
    pass. Two count-shaped hash aggregates (map-side partials), no
    window."""
    sizes = components.groupBy(comp_col).agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .withColumn("n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long"))
    )


def cluster_weights(components: DataFrame, id_col: str = "id",
                    comp_col: str = "component") -> DataFrame:
    """Soft dedup: cluster-size-inverse sampling weights instead of
    deletions — every member of a near-dup cluster survives with weight
    1/cluster_size, so a 40x-mirrored page contributes ONE page's worth
    of training mass while singletons keep weight 1.0 (the
    keep-all-reweight alternative to keep-one-per-component that
    preserves paraphrase diversity inside clusters; cf. the soft-dedup
    discussion in public LLM data-curation writeups). Input is any
    (id, component) frame (minhash_components, embedding_components,
    graph_components); output (id, component, cluster_size, weight),
    weight rounded 6dp.

    One hash aggregate to component sizes + one equi-join back on the
    component key (the sizes frame is cluster-count-sized — broadcast
    when small, hash-join co-partitioned with the aggregate otherwise;
    AQE decides)."""
    sizes = components.groupBy(comp_col).agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return components.join(sizes, comp_col).select(
        F.col(id_col).alias("id"),
        F.col(comp_col).alias("component"),
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )
