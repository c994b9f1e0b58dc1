"""Corpus-curation operators for training-data pipelines: PII redaction,
cross-document paragraph dedup (C4-style), benchmark decontamination,
source/domain blocklist filtering, and deterministic hash sampling.

Scale design (100 TB):
- PII redaction is a chain of native ``regexp_replace`` calls — scan-side,
  no shuffle, whole-stage codegen;
- paragraph dedup shuffles (paragraph-hash) once for the global
  first-occurrence decision and once (doc id) for reassembly — both
  equi-partitioned hash shuffles with map-side-combinable aggregates;
- decontamination broadcasts the benchmark gram set (benchmarks are tiny
  next to the corpus) so the corpus never shuffles;
- hash sampling is a pure scan-side filter: md5-prefix threshold compare,
  reproducible across runs/engines, no RNG state.

All regexes are kept in the Java-regex ∩ RE2 dialect so the DuckDB
oracles (oracles.py) evaluate the exact same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, _state
from wrangler_spark.datapipe._local import local_table

from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

# --- PII patterns (cf. the public BigScience/ROOTS and Dolma scrubbing
# heuristics). Order matters: specific → general so phone-shaped digit
# runs inside already-redacted spans don't double-fire. Each entry is
# (tag, pattern, replacement-token).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("cc", r"\b(?:\d{4}[ -]){3}\d{4}\b|\b\d{13,19}\b", "<CC>"),
    ("phone", r"\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
]


def luhn_valid(c: Column) -> Column:
    """Scan-side Luhn (mod-10) checksum over the digits of a string —
    the public check every real card number passes (ISO/IEC 7812),
    which random 13-19 digit runs fail ~90% of the time. Non-digits
    are stripped first; true when 13-19 digits remain and the checksum
    holds. Pure HOF arithmetic (split + indexed transform + aggregate
    fold) — no UDF, stays in codegen."""
    digits = F.regexp_replace(c, r"[^0-9]", "")
    rev = F.split(F.reverse(digits), "")
    # from the rightmost digit: double every SECOND digit, subtract 9
    # when the double exceeds 9 (the digit-sum shortcut), sum all
    terms = F.transform(
        rev,
        lambda x, i: F.when(
            i % 2 == 1,
            F.when(x.cast("int") * 2 > 9, x.cast("int") * 2 - 9)
            .otherwise(x.cast("int") * 2),
        ).otherwise(x.cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + F.coalesce(x, F.lit(0)))
    n = F.length(digits)
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def pii_redact(df: DataFrame, text_col: str, luhn_check: bool = False) -> DataFrame:
    """Redact PII spans in-place and report per-category counts
    (n_pii_email, n_pii_ip, n_pii_ssn, n_pii_cc, n_pii_phone, n_pii).
    Counts are measured on the original text; redaction applies the
    patterns sequentially in PII_PATTERNS order. Pure scan-side
    regexp_replace chain — no shuffle, stays in codegen.

    ``luhn_check=True`` gates the credit-card category through
    :func:`luhn_valid`: card-shaped digit runs that fail the mod-10
    checksum (order ids, timestamps, serials — ~90% of random runs)
    are neither counted nor redacted. The selective redaction is an
    extract → filter-valid → literal-replace fold over the row's
    candidates — still scan-side, bounded by matches per row."""
    c = F.col(text_col)
    counts = {f"n_pii_{tag}": F.regexp_count(c, F.lit(pat)).cast("long") for tag, pat, _ in PII_PATTERNS}
    red = c
    cc_pat = next(p for t, p, _ in PII_PATTERNS if t == "cc")
    cc_tok = next(tok for t, _, tok in PII_PATTERNS if t == "cc")
    if luhn_check:
        # distinct candidates, longest-first (a shorter candidate that is
        # a substring of a longer one must replace AFTER it), ties by
        # value — a fully deterministic, oracle-mirrorable fold order
        valid_cands = F.transform(
            F.array_sort(
                F.transform(
                    F.filter(
                        F.array_distinct(F.regexp_extract_all(c, F.lit(cc_pat), 0)),
                        luhn_valid,
                    ),
                    lambda x: F.struct((-F.length(x)).alias("nl"), x.alias("c")),
                )
            ),
            lambda s: s["c"],
        )
        counts["n_pii_cc"] = F.size(
            F.filter(F.regexp_extract_all(c, F.lit(cc_pat), 0), luhn_valid)
        ).cast("long")
    for tag, pat, tok in PII_PATTERNS:
        if luhn_check and tag == "cc":
            red = F.aggregate(
                valid_cands, red, lambda acc, cand: F.replace(acc, cand, F.lit(cc_tok))
            )
        else:
            red = F.regexp_replace(red, pat, tok)
    out = df.withColumns(counts)
    total = None
    for k in counts:
        total = F.col(k) if total is None else total + F.col(k)
    return out.withColumn("n_pii", total).withColumn(text_col, red)


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style cross-document paragraph dedup: split on newlines, keep
    only the globally-first occurrence (ordered by id, then position) of
    each normalized paragraph, and reassemble documents. Returns
    (id, <text_col> deduped, n_paras, n_dropped).

    Scale shape: one shuffle on the paragraph md5 (window row_number —
    partial aggregation doesn't apply, but the key is a 32-char hash so
    the shuffle payload is small and uniformly distributed; the paragraph
    text itself travels once), then one shuffle on the doc id for
    reassembly. A stop-paragraph that appears in millions of docs is NOT
    quadratic here (unlike similarity self-joins): each occurrence is one
    row in the window partition."""
    c = F.col(text_col)
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(c, "\n")).alias("__pos", "__para"),
    ).withColumn("__key", F.md5(F.regexp_replace(F.lower(F.trim(F.col("__para"))), r"\s+", " ")))
    w = Window.partitionBy("__key").orderBy("__id", "__pos")
    first = paras.withColumn("__rn", F.row_number().over(w))
    return (
        first.groupBy("__id")
        .agg(
            F.coalesce(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("__rn") == 1, F.struct("__pos", "__para"))
                            )
                        ),
                        lambda s: s["__para"],
                    ),
                ),
                F.lit(""),
            ).alias(text_col),
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
        )
        .withColumnRenamed("__id", id_col)
    )


def keep_top_frac(
    df: DataFrame, score_col: str, frac: float,
    exact: bool = True, accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Keep the top ``frac`` of rows by score — the classifier-threshold
    pruning step (train on the top X% by quality/edu-value): one
    aggregate computes the (1-frac) quantile of the score, the scalar
    broadcasts back, and the filter runs scan-side. Boundary ties are
    ALL kept (>= threshold — the stable, deterministic contract; the
    realized fraction can exceed ``frac`` by the tie mass). Null scores
    never pass. ``exact=True`` is the type-7 cross-engine percentile
    (buffers the score column in one aggregation buffer — fine to ~10^8
    rows); ``exact=False`` swaps in approx_percentile, the
    bounded-state path at 100 TB (same plan shape, no oracle
    bit-parity). Unlike sample_hash (a uniform rate), this is
    rank-selective — and unlike a global sort-limit, it never sorts:
    the quantile aggregate + scan-side filter costs one pass + one
    broadcast whatever the corpus size.

    ``by`` applies the fraction WITHIN each group (top X% per
    language/source — a global threshold would let one high-scoring
    source crowd out every other): per-group quantiles equi-joined
    back null-safely, the scale_column(by=) shape."""
    from wrangler_spark.datapipe.numeric import _pctl

    if not 0.0 < float(frac) <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    thr = _pctl(score_col, 1.0 - float(frac), exact, accuracy).alias("__thr")
    passing = F.col(score_col).cast("double") >= F.col("__thr")
    if by:
        from wrangler_spark.datapipe.numeric import join_group_stats

        st = df.groupBy(*by).agg(thr)
        return join_group_stats(df, st, by).filter(passing).drop("__thr")
    stats = df.agg(thr)
    return df.crossJoin(F.broadcast(stats)).filter(passing).drop("__thr")


def strip_boilerplate_lines(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet-style line filter):
    a line whose normalized form appears in >= ``min_docs`` DISTINCT
    documents is removed from EVERY document. This is deliberately NOT
    paragraph_dedup's keep-first contract — nav bars, cookie banners and
    footers should survive nowhere, while a genuinely-authored paragraph
    that happens to be mirrored should survive once (use paragraph_dedup
    for that). Blank lines are never counted or removed (they are
    document structure, not content). Returns
    (id, <text_col> stripped, n_lines, n_dropped).

    Scale shape: one hash aggregate (key -> distinct doc count) where
    partial aggregation applies — a million-doc boilerplate line is one
    row per partition after the map-side combine; the bad-key table
    (boilerplate only — tiny vs the corpus) equi-joins back on the md5
    key and AQE broadcasts it when it fits; reassembly is the same
    doc-id aggregate as paragraph_dedup. No windows anywhere, so a
    hot line is never a hot partition."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(F.col("__line"))), r"\s+", " ")
    lines = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(c, "\n")).alias("__pos", "__line"),
        )
        .withColumn("__blank", norm == "")
        .withColumn("__key", F.md5(norm))
    )
    bad = (
        lines.filter(~F.col("__blank"))
        .groupBy("__key")
        .agg(F.countDistinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__key", F.lit(True).alias("__bad"))
    )
    drop = F.coalesce(F.col("__bad"), F.lit(False))
    return (
        lines.join(bad, "__key", "left")
        .groupBy("__id")
        .agg(
            F.coalesce(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.when(~drop, F.struct("__pos", "__line")))
                        ),
                        lambda s: s["__line"],
                    ),
                ),
                F.lit(""),
            ).alias(text_col),
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(drop, 1).otherwise(0)).cast("long").alias("n_dropped"),
        )
        .withColumnRenamed("__id", id_col)
    )


def _word_grams(words: Column, n: int) -> Column:
    """Distinct n-word grams of a tokenized column (named ref, not inline —
    no CSE inside HOF lambdas)."""
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination (the published GPT-3/PaLM recipe): flag
    training documents sharing ≥ ``threshold`` fraction of their word
    n-grams with any benchmark document. ``bench`` is a DataFrame with the
    same ``text_col``. Returns (id, n_grams, n_matched,
    contamination_ratio, contaminated) for every input document.

    Scale shape: the benchmark gram set is distinct-ed and BROADCAST
    (benchmark suites are MBs; the corpus is the 100 TB side), so the
    corpus-side plan is scan → gram explode → broadcast-hash-join →
    per-doc aggregate — the only shuffle is the final groupBy(id), which
    is count-shaped (map-side partials)."""
    norm = lambda c: F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")  # noqa: E731
    doc_grams = (
        df.select(F.col(id_col).alias("__id"), norm(F.col(text_col)).alias("__w"))
        .select("__id", F.explode(_word_grams(F.col("__w"), n)).alias("__g"))
    )
    bench_grams = (
        bench.select(norm(F.col(text_col)).alias("__w"))
        .select(F.explode(_word_grams(F.col("__w"), n)).alias("__g"))
        .distinct()
    )
    matched = (
        doc_grams.join(F.broadcast(bench_grams), "__g", "inner")
        .groupBy("__id")
        .agg(F.count("*").cast("long").alias("n_matched"))
    )
    totals = df.select(F.col(id_col).alias("__id"), norm(F.col(text_col)).alias("__w")).select(
        "__id", F.size(_word_grams(F.col("__w"), n)).cast("long").alias("n_grams")
    )
    ratio = F.round(
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("double")
        / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
        6,
    )
    return (
        totals.join(matched, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
            ratio.alias("contamination_ratio"),
            (ratio >= threshold).alias("contaminated"),
        )
    )


_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"


def source_filter(
    df: DataFrame, col: str, blocked: list[str], allow: bool = False
) -> DataFrame:
    """Blocklist (or allowlist with ``allow=True``) filter on a source /
    URL column. URLs are reduced to their host; bare source labels pass
    through unchanged. The predicate is expression-based (CASE over
    regexp_extract) so it can't enter the parquet PushedFilters, but it
    runs scan-adjacent inside whole-stage codegen — no shuffle, rows drop
    before anything downstream. Adds the extracted ``host`` column."""
    c = F.col(col)
    host = F.regexp_extract(c, _HOST_RE, 1)
    val = F.when(host != "", host).otherwise(c)
    out = df.withColumn("host", val)
    cond = F.col("host").isin(blocked)
    return out.filter(cond if allow else ~cond)


def sample_hash(df: DataFrame, key_col: str, rate: float, salt: str = "") -> Column:
    """Deterministic keep-condition for rate-based sampling: md5 prefix of
    (salt || key) compared against a 16-bit hex threshold. Engine-portable
    (same rows kept by the DuckDB oracle), reproducible, no RNG state,
    scan-side."""
    if rate >= 1.0:
        return F.lit(True)
    thr = format(max(int(round(rate * 65536)), 0), "04x")
    return F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 4) < thr


def sample_stratified(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Quality-weighted (stratified) deterministic sampling: per-bucket
    keep rates, hash-gated per row so the sample is stable across runs and
    engines. E.g. rates={'high': 1.0, 'mid': 0.5, 'low': 0.1} over a
    quality-bucket column. Scan-side filter, no shuffle."""
    keep = None
    for bucket, rate in rates.items():
        cond = (F.col(bucket_col) == bucket) & sample_hash(df, key_col, rate, salt)
        keep = cond if keep is None else keep | cond
    others = ~F.col(bucket_col).isin(list(rates)) & sample_hash(df, key_col, default_rate, salt)
    keep = others if keep is None else keep | others
    return df.filter(keep)


def substring_dup_spans(
    df: DataFrame, id_col: str, text_col: str, window: int = 20,
    keep_first: bool = False,
) -> DataFrame:
    """Exact substring-span dedup (the token-window variant of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find every ``window``-token span whose exact normalized
    text occurs more than once ANYWHERE in the corpus, and report/remove
    the covered tokens. Returns one row per input doc:
    (id, n_tokens, n_covered, dup_ratio, text_deduped) where
    text_deduped is the doc with every covered token dropped.

    Why span-level: paragraph_dedup (C4) only catches duplication that
    respects paragraph boundaries; boilerplate (license headers,
    navigation chrome, quoted chain-mail) duplicates MID-paragraph.
    The suffix-array approach of the paper is single-node; the
    distributed equivalent used here is the rolling window + inverted
    index: fixed-width windows at every token position, md5 over the
    window text, a count per window hash, and positions covered by any
    window with count > 1 are duplicated spans. ``keep_first`` picks
    the survivor contract:

    - ``False`` (default): ALL occurrences are removed — the divergence
      from the paper that cross-corpus boilerplate removal wants (a
      license header duplicated across corpora should not survive in
      either);
    - ``True``: the paper's semantics (Lee et al. keep one occurrence)
      — the globally-first occurrence of each duplicated window, by
      (min doc id, min position) over the inverted index, keeps its
      tokens; only the later occurrences are covered/removed. The
      tie-break is ONE more aggregate on the existing window-hash key
      (min of a (doc_id, pos) struct riding the same shuffle
      partitioning) — no new shuffle shape. A survivor's tokens can
      still fall to a DIFFERENT window's non-first occurrence — that
      overlap behavior is inherent to window-granular dedup and
      matches the paper's span merging in effect.

    Scale shape — this op is LINEAR, unlike the pair-based dedups: the
    window explode is n_tokens rows per doc (same order as tokenize),
    the hash count is one map-side-combinable shuffle, the dup filter is
    an equi-join back on the hash (inverted index), and per-doc coverage
    is one more hash aggregation keyed by doc id. A span duplicated 10^9
    times costs 10^9 join rows — linear in its occurrences, never the
    k^2 of pair expansion. At 100 TB the only care is the md5 width: the
    full 128-bit hex is the join key, so hash collisions are negligible
    and no verification pass is needed."""
    base, exploded = _window_hashes(df, id_col, text_col, int(window))
    w = int(window)
    if keep_first:
        # one aggregate computes BOTH the dup flag and the survivor
        # tie-break (min (doc_id, pos) struct) per window hash — same
        # single shuffle on wh as the count-only path
        dup = (
            exploded.groupBy("wh")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min(F.struct(F.col("__sid").alias("fd"), F.col("pos").alias("fp"))).alias("fo"),
            )
            .filter(F.col("cnt") > 1)
            .select("wh", "fo")
        )
        occ = exploded.join(dup, "wh").filter(
            ~((F.col("__sid") == F.col("fo.fd")) & (F.col("pos") == F.col("fo.fp")))
        )
    else:
        dup = exploded.groupBy("wh").agg(F.count(F.lit(1)).alias("cnt")).filter(
            F.col("cnt") > 1
        ).select("wh")
        occ = exploded.join(dup, "wh")
    return _span_coverage(base, occ, id_col, w, "dup_ratio", "text_deduped")


def _window_hashes(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> tuple[DataFrame, DataFrame]:
    """(base, exploded) rolling-window frames shared by the within-corpus
    (substring_dup_spans) and against-benchmark (substring_spans_against)
    span ops: base = (__sid, t tokens), exploded = one (__sid, pos, wh)
    row per window position, wh = md5 over the window's normalized text.

    base feeds TWO branches (the window explode and the final coverage
    join), so the normalize+split runs twice — DELIBERATELY left lazy:
    a localCheckpoint here measured SLOWER (0.52 -> 0.61-0.85 s warm at
    sf0.1) because materializing the tokenized corpus costs more than
    re-running a scan-side split over pruned parquet. The checkpoint
    idiom pays only when the shared subtree contains shuffles/aggregates
    (DSIR counts, ngram inv, perplexity_buckets' scored frame) — a pure
    scan-side branch is cheaper to recompute than to store."""
    from wrangler_spark.datapipe.dedup import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col).alias("__sid"), toks.alias("t"))
    wins = F.when(
        F.size("t") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (w - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(w)))).alias("wh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wh:string>>"))
    exploded = base.select("__sid", F.explode(wins).alias("s")).select(
        "__sid", F.col("s.pos").alias("pos"), F.col("s.wh").alias("wh")
    )
    return base, exploded


def _span_coverage(
    base: DataFrame, occ: DataFrame, id_col: str, w: int,
    ratio_name: str, text_name: str,
) -> DataFrame:
    """Shared coverage tail: flagged (__sid, pos) occurrences -> per-doc
    covered-position set -> (id, n_tokens, n_covered, ratio, stripped
    text). One hash aggregate keyed by doc id + one left join back."""
    cov = (
        occ
        .select("__sid", F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1)).alias("span"))
        .groupBy("__sid")
        .agg(F.array_distinct(F.flatten(F.collect_list("span"))).alias("cp"))
    )
    joined = base.join(cov, "__sid", "left")
    cp = F.coalesce(F.col("cp"), F.array().cast("array<int>"))
    n_tokens = F.size("t")
    n_covered = F.size(cp)
    return joined.select(
        F.col("__sid").alias(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        n_covered.cast("long").alias("n_covered"),
        F.round(
            n_covered.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 6
        ).alias(ratio_name),
        F.concat_ws(
            " ", F.filter(F.col("t"), lambda x, i: ~F.array_contains(cp, i + F.lit(1)))
        ).alias(text_name),
    )


def substring_spans_against(
    df: DataFrame, bench: DataFrame, id_col: str, text_col: str, window: int = 20,
) -> DataFrame:
    """Verbatim-contamination spans against a benchmark corpus: every
    ``window``-token span of a doc whose exact normalized text occurs
    ANYWHERE in ``bench`` is contaminated. Returns one row per input doc:
    (id, n_tokens, n_covered, contam_ratio, text_clean) with the covered
    tokens stripped from text_clean.

    decontaminate() answers "how much n-gram overlap" (a gate); this is
    its span-level companion — positive evidence (which tokens) and the
    surgical fix (strip the verbatim spans, keep the doc) for borderline
    docs a hard gate would waste. Same rolling-window machinery as
    substring_dup_spans (Lee et al. 2022), but the inverted index is the
    BENCHMARK side and the join is asymmetric: the bench collapses to
    DISTINCT window hashes — eval suites are tiny next to a training
    corpus, so the hash set broadcasts (AQE) and clean docs never
    shuffle. Linear in corpus tokens, like the within-corpus op."""
    w = int(window)
    base, exploded = _window_hashes(df, id_col, text_col, w)
    _, bench_e = _window_hashes(bench, id_col, text_col, w)
    occ = exploded.join(bench_e.select("wh").distinct(), "wh")
    return _span_coverage(base, occ, id_col, w, "contam_ratio", "text_clean")


def _hashed_ngram_features(
    df: DataFrame, id_col: str, text_col: str, buckets: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Hashed unigram+bigram features per doc: (id, b) with one row per
    feature OCCURRENCE, b = 28-bit md5 hash of the feature string mod
    ``buckets`` (the cross-engine base hash shared with the DuckDB
    oracles). The hashing trick bounds the model size at ``buckets``
    regardless of corpus vocabulary. ``extra_cols`` ride through the
    explode unchanged (e.g. a training label), so a caller can carry
    per-doc metadata without a join back onto the feature stream."""
    from wrangler_spark.datapipe.dedup import _hash28, normalize_text

    extras = [F.col(c) for c in (extra_cols or [])]
    # materialize the token array BEFORE the lambdas reference it: handing
    # the raw split(regexp_replace(...)) expression to the bigram transform
    # lets Catalyst inline the full normalization into every element_at —
    # O(n_tokens) regex re-evaluations per doc (measured 16 s for 5k docs
    # vs sub-second with the projection boundary)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("t"),
        *extras,
    )
    t = F.col("t")
    uni = F.filter(t, lambda w: w != "")
    bi = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + F.lit(1))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_OUTER, not explode: InferFiltersFromGenerate synthesizes a
    # `size(child) > 0 AND isnotnull(child)` pre-filter under a plain
    # explode and inlines the whole feature expression into it — the
    # per-doc cost triples and, worse, the inlining dissolves the
    # projection boundary above so every element_at re-runs the split+
    # regexp normalization (measured: 7.6 s warm for a 536k-feature
    # corpus vs 0.6 s without the inferred filter). outer generates are
    # exempt from that rule; the cheap post-explode null filter restores
    # identical semantics (feature-less docs drop out)
    passthru = list(extra_cols or [])
    return (
        base.select("__id", F.concat(uni, bi).alias("fs"), *passthru)
        .select("__id", F.explode_outer("fs").alias("f"), *passthru)
        .filter(F.col("f").isNotNull())
        .select(
            "__id",
            F.pmod(_hash28(F.col("f")), F.lit(int(buckets))).alias("b"),
            *passthru,
        )
    )


def dsir_logratio(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 10_000,
    out_col: str = "dsir_lr",
) -> DataFrame:
    """DSIR importance weight (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much more likely its hashed n-gram features are under the
    TARGET distribution than under the RAW distribution —
    log w(x) = Σ_features [ln p_target(b) − ln p_raw(b)], add-one
    smoothed over ``buckets`` hash buckets. Positive = looks like the
    target corpus (keep/upsample for training), negative = looks like
    generic raw crawl. Adds ``out_col`` (null for feature-less docs) and
    ``n_feat``; all raw columns pass through. Resampling itself composes
    with sample_hash/sample_stratified on a bucketed ``out_col``.

    Scale shape: ONE fused hash-aggregation builds both bucket-count
    columns (raw ∪ target with a flag column — one explode pass, one
    shuffle, one checkpoint job instead of two of each); the per-bucket
    log-ratio table is at most ``buckets`` rows and BROADCASTs to the
    scoring join, and the per-doc reduce is an integer micro-unit sum
    (map-side partials; same determinism contract as unigram_logprob:
    per-feature weight rounded to round(·×1e6) as long BEFORE summing so
    parallel order can't drift). N_target/N_raw are a 1-row aggregate of
    the checkpointed counts table cross-joined in broadcast — no driver
    collect, exactly the oracle's scalar subqueries. The raw corpus is
    scanned twice (fused counts + scoring) — at 100 TB persist the
    bucket table and reuse it."""
    B = int(buckets)
    rawf = _hashed_ngram_features(raw, id_col, text_col, B)
    tgtf = _hashed_ngram_features(target, id_col, text_col, B)
    feats = rawf.withColumn("__is_t", F.lit(0)).unionByName(
        tgtf.withColumn("__is_t", F.lit(1))
    )
    counts = (
        feats.groupBy("b")
        .agg(
            F.sum(1 - F.col("__is_t")).cast("long").alias("cr"),
            F.sum("__is_t").cast("long").alias("ct"),
        )
    )
    counts = eager_checkpoint(counts)
    nn = counts.agg(
        F.sum("cr").cast("long").alias("nr"), F.sum("ct").cast("long").alias("nt")
    )
    w = F.round(
        (
            F.log((F.col("ct") + F.lit(1)).cast("double") / (F.col("nt") + F.lit(B)).cast("double"))
            - F.log((F.col("cr") + F.lit(1)).cast("double") / (F.col("nr") + F.lit(B)).cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    # every bucket a raw doc can hit has cr >= 1 by construction; buckets
    # only the target hits (cr=0) never join to a raw doc, so keeping
    # them in wtab is harmless
    wtab = counts.crossJoin(F.broadcast(nn)).select("b", w.alias("w"))
    per_doc = (
        rawf.join(F.broadcast(wtab), "b")
        .groupBy("__id")
        .agg(F.sum("w").alias("__sum"), F.count(F.lit(1)).cast("long").alias("n_feat"))
        .select(
            "__id",
            F.round(F.col("__sum").cast("double") / F.lit(1e6), 6).alias(out_col),
            "n_feat",
        )
    )
    return raw.join(per_doc, F.col(id_col) == F.col("__id"), "left").drop("__id")


def cluster_topics(
    docs: DataFrame,
    embs: DataFrame,
    n_clusters: int = 8,
    label_k: int = 5,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int | None = None,
    dim: int | None = None,
    weight: str = "logodds",
    prior_strength: float = 100.0,
    tol: float = 1e-4,
    max_train_iters: int = 10,
) -> DataFrame:
    """Corpus cartography: cluster the corpus in EMBEDDING space
    (spherical k-means, similarity.kmeans_centroids) and label every
    cluster with its DISTINGUISHING vocabulary
    (text.group_top_terms(weight='logodds') — Monroe et al., so the
    labels survive stopwords). The 'what is actually in my 100 TB
    corpus' primitive: one call turns (documents, embeddings) into
    (cluster_id, term, tf, score, rank) — the composition SemDeDup-style
    cluster curation starts from, reusing the exact ops it would
    continue with (semdedup shares the k-means; mixtures/caps consume
    the cluster assignment).

    Scale shape: every stage is an existing scale-shaped op — k-means
    never collects the corpus (broadcast assignment + map-side mean
    partials), the assignment join is an equi-join on the id, and the
    labeling is the marginal-join + two-phase slice. The centroid frame
    is checkpointed by kmeans' caller contract and released by the
    surrounding checkpoint_scope.

    ``train_iters=None`` (the default) trains to a centroid-shift fixed
    point (similarity.kmeans_converge: stop when the max L2 shift <=
    ``tol``, bounded by ``max_train_iters``) — the posture a real corpus
    needs; an explicit integer pins a blind iteration count (the
    cross-engine-parity form: a fixed count is SQL-unrollable, a
    convergence test is not)."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint
    from wrangler_spark.datapipe.similarity import (
        _as_double, _assign_prepared, kmeans_centroids, kmeans_converge,
    )
    from wrangler_spark.datapipe.text import group_top_terms

    if train_iters is None:
        cent = kmeans_converge(
            embs, n_clusters, vec_id_col, vec_col, dim=dim,
            tol=tol, max_iters=max_train_iters,
        )
    else:
        # r14: kmeans_centroids returns a LOCAL relation (driver-literal
        # centroids) — checkpointing it again was a pure-overhead job
        # that also erased its exact stats
        cent = kmeans_centroids(embs, n_clusters, train_iters, vec_id_col, vec_col, dim=dim)
    c = embs.select(
        F.col(vec_id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    assign = _assign_prepared(c, cent).select(
        F.col("vec_id").alias(doc_id_col), F.col("centroid_id").alias("cluster_id")
    )
    labeled = docs.select(F.col(doc_id_col), F.col(text_col)).join(
        assign, doc_id_col
    )
    return group_top_terms(
        labeled, text_col, "cluster_id", label_k,
        weight=weight, prior_strength=prior_strength,
    )


def cluster_summary(
    docs: DataFrame,
    embs: DataFrame,
    n_clusters: int = 8,
    label_k: int = 3,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int | None = None,
    dim: int | None = None,
    prior_strength: float = 100.0,
    tol: float = 1e-4,
    max_train_iters: int = 10,
) -> DataFrame:
    """The one-glance corpus map: one row per embedding cluster with its
    size, corpus share, and a ``label`` of the top ``label_k``
    distinguishing terms (space-joined, log-odds order) — the table a
    curation review starts from before deciding which clusters to cap,
    drop, or upsample. Pure composition of :func:`cluster_topics` (the
    per-term detail view) folded to one row per cluster, plus one
    bounded size aggregate over the assignment.

    Scale shape: cluster_topics' shapes, then two aggregates over
    frames bounded by n_clusters x label_k and n_clusters — nothing new
    touches the corpus. ``train_iters=None`` (default) trains to a
    centroid-shift fixed point (kmeans_converge, ``tol`` /
    ``max_train_iters``); an integer pins a blind count."""
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint
    from wrangler_spark.datapipe.similarity import (
        _as_double, _assign_prepared, kmeans_centroids, kmeans_converge,
    )
    from wrangler_spark.datapipe.text import group_top_terms

    if train_iters is None:
        cent = kmeans_converge(
            embs, n_clusters, vec_id_col, vec_col, dim=dim,
            tol=tol, max_iters=max_train_iters,
        )
    else:
        # r14: kmeans_centroids returns a LOCAL relation (driver-literal
        # centroids) — checkpointing it again was a pure-overhead job
        # that also erased its exact stats
        cent = kmeans_centroids(embs, n_clusters, train_iters, vec_id_col, vec_col, dim=dim)
    c = embs.select(
        F.col(vec_id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    assign = _assign_prepared(c, cent).select(
        F.col("vec_id").alias(doc_id_col), F.col("centroid_id").alias("cluster_id")
    )
    # the assignment feeds BOTH the size aggregate and the labeling join
    labeled = eager_checkpoint(
        docs.select(F.col(doc_id_col), F.col(text_col)).join(assign, doc_id_col)
    )
    sizes = labeled.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    total = sizes.agg(F.sum("n_docs").alias("__n"))
    labels = (
        group_top_terms(
            labeled, text_col, "cluster_id", label_k,
            weight="logodds", prior_strength=prior_strength,
        )
        .groupBy("cluster_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rank").alias("r"), F.col("term").alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("label")
        )
    )
    return (
        sizes.crossJoin(F.broadcast(total))
        .join(labels, "cluster_id", "left")
        .select(
            "cluster_id",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs").cast("double") / F.col("__n").cast("double"), 6).alias("share"),
            F.coalesce(F.col("label"), F.lit("")).alias("label"),
        )
    )


def exclusive_prefix_sum(
    df: DataFrame, order_col: str, value_col: str,
    range_partitions: int | None = None, by: tuple[str, ...] = (),
) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of ``value_col`` in
    ``(by..., order_col)`` order — appended as ``__prefix``. The
    textbook two-phase scan (Blelloch) in DataFrame ops, shared by
    pack_sequences and sample_token_budget; a plain
    ``Window.orderBy(order_col)`` would funnel the whole corpus through
    ONE reducer for the running total (the scale-killer the ANN top-k
    rewrite removed):

      1. range-repartition by (by..., order_col) — parallel sort;
         ascending ranges land in ascending partition ids
         (repartitionByRange's contract), so groups span partitions in
         order (no per-group single reducer even for ONE giant group);
      2. per-(partition, group) running totals via a window PARTITIONED
         BY the physical partition id — embarrassingly parallel;
      3. per-(partition, group) totals (one row each) get their
         exclusive offsets from a per-group window over that P·G-row
         aggregate, joined back. With no ``by`` the offsets frame is
         exactly P rows — broadcast unconditionally; with ``by`` it is
         P·G rows where G is the GROUP CARDINALITY of the caller's
         column (sample_token_budget(by='domain') on a web corpus makes
         G millions), so the join-back is a plain equi-join on
         (__pid, by...) and AQE upgrades it to a broadcast at runtime
         only when the measured size is actually small — never a forced
         unbounded driver/broadcast.

    The ranged frame is eagerly checkpointed: it feeds both the local
    scan and the totals, and an un-pinned RangePartitioner re-executed
    per consumer would resample its boundaries with a different seed,
    silently corrupting the prefix (the repo's established
    multi-consumer idiom). ``order_col`` values must be unique within a
    group — ties make the prefix ambiguous."""
    P = int(range_partitions or df.sparkSession.sparkContext.defaultParallelism)
    cols = [*by, order_col]
    ranged = eager_checkpoint(
        df.repartitionByRange(P, *cols).withColumn("__pid", F.spark_partition_id())
    )
    local = ranged.withColumn(
        "__local",
        F.coalesce(
            F.sum(value_col).over(
                Window.partitionBy("__pid", *by)
                .orderBy(order_col)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    totals = ranged.groupBy("__pid", *by).agg(F.sum(value_col).alias("__tot"))
    offs = totals.withColumn(
        "__off",
        F.coalesce(
            F.sum("__tot").over(
                Window.partitionBy(*by)
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__pid", *by, "__off")
    return (
        local.join(F.broadcast(offs) if not by else offs, ["__pid", *by])
        .withColumn("__prefix", (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )


def sample_token_budget(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget_tokens: int,
    by: str | None = None,
    seed: str = "",
    count_col: str | None = None,
) -> DataFrame:
    """TOKEN-budget corpus selection — the mixture-assembly primitive
    when recipes are written in tokens, not documents ("30B tokens of
    web, 5B of code"): keep documents, in deterministic seeded-hash
    order, until the running token total reaches ``budget_tokens`` —
    per ``by`` group when given (each group fills its own budget).
    A uniform random subset of the right SIZE, stable across runs and
    engines (the sample_hash ordering contract). The document that
    STRADDLES the boundary is kept — every doc whose exclusive prefix
    is under the budget survives, so the selection can overshoot by at
    most one document (the keep_top_frac boundary convention; dropping
    the straddler would undershoot instead, and a budget is a floor
    target). Token counts use the shared TOKEN_RE (text.token_count);
    ``count_col`` substitutes a precomputed count (e.g. a real
    tokenizer's). Returns the surviving rows with ``n_tokens``.

    Scale shape: one scan-side count + hash key, then the shared
    distributed two-phase prefix scan (exclusive_prefix_sum — never a
    global or per-group single-reducer window), then a scan-side
    filter. Budget semantics need the prefix, not a sort: no TopK, no
    collect."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    from wrangler_spark.datapipe.text import TOKEN_RE

    n = (
        F.col(count_col).cast("long")
        if count_col
        else F.regexp_count(F.col(text_col), F.lit(TOKEN_RE)).cast("long")
    )
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    staged = df.withColumn("n_tokens", n).withColumn("__k", key)
    pref = exclusive_prefix_sum(
        staged, "__k", "n_tokens", by=((by,) if by else ())
    )
    return pref.filter(F.col("__prefix") < int(budget_tokens)).drop("__k", "__prefix")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 2048,
    range_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing for pretraining batches: lay every document out on
    the concatenated token stream (deterministic doc_id order) and report
    where it lands when the stream is chunked into fixed ``seq_len``
    sequences — the standard concat-then-chunk packing of GPT-style
    pretraining, where documents may straddle sequence boundaries.
    Returns (id, n_tokens, start_pos, seq_id, seq_offset, n_seqs) with
    start_pos = exclusive prefix sum of token counts in id order,
    seq_id = start_pos // seq_len, seq_offset = start_pos % seq_len,
    n_seqs = number of sequences the doc touches (0 for empty docs).
    Token counts use the shared TOKEN_RE regex (text.token_count).
    Ids must be unique and orderable — the layout is defined by the total
    id order, and duplicate ids would make the prefix sum ambiguous.

    Scale shape — the whole op is a DISTRIBUTED PREFIX SUM, never a
    global window: the shared two-phase scan (exclusive_prefix_sum,
    where the shape is documented) plus scan-side chunk arithmetic.
    Every shuffle is bounded; the only serial state is the P-row offset
    table."""
    from wrangler_spark.datapipe.text import TOKEN_RE

    L = int(seq_len)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_RE)).cast("long").alias("n_tokens"),
    )
    pref = exclusive_prefix_sum(base, "__id", "n_tokens", range_partitions)
    start = F.col("__prefix")
    return pref.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        start.alias("start_pos"),
        F.floor(start / L).cast("long").alias("seq_id"),
        (start % L).cast("long").alias("seq_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
            F.floor((start + F.col("n_tokens") - 1) / L) - F.floor(start / L) + 1
        ).cast("long").alias("n_seqs"),
    )


# query-parameter names that never identify content (analytics /
# click-tracking); the URL-dedup canonicalization drops them. The name
# may appear with a value (utm_source=x) or bare (a valueless 'fbclid'
# still tracks) — hence (=|$), not '='
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)(=|$)"


def url_canonicalize(df: DataFrame, url_col: str, out_prefix: str = "url") -> DataFrame:
    """Canonical URL key for URL-level dedup / domain aggregation: adds
    ``{out_prefix}_canonical`` and ``{out_prefix}_host``. Rules (the
    common crawl-pipeline normalization): lowercase scheme+host, strip a
    leading ``www.``, strip an explicit port only when it is the
    SCHEME'S default (http→:80, https→:443 — an https://host:80 is a
    genuinely different resource and keeps its port), drop the fragment,
    drop tracking query params (TRACKING_PARAM_RE — with or without a
    value), sort the surviving params, strip trailing slashes from the path
    (all of them — the canonical string must be a fixpoint). Values that don't
    parse as a URL (no ``scheme://host``) pass through unchanged with a
    null host — the column can mix URLs and bare source labels.

    Scale shape: pure scan-side string expressions (regexp groups + one
    bounded array filter/sort over the query params) — no shuffle, no
    UDF, whole-stage codegen; the canonical string feeds exact_dedup /
    groupBy directly."""
    pat = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)(\?([^#]*))?"
    c = F.col(url_col)
    scheme = F.lower(F.regexp_extract(c, pat, 1))
    host0 = F.lower(F.regexp_extract(c, pat, 2))
    host1 = F.regexp_replace(host0, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host1, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host1, r":443$", ""))
        .otherwise(host1)
    )
    # /+$ (not /$): stripping a single slash is not idempotent on
    # 'a//b//' (pass 1 -> 'a//b/', pass 2 -> 'a//b'), and a dedup KEY
    # must be a fixpoint — re-canonicalizing must never re-split groups
    # (caught by the test_url_canonicalize_idempotent property)
    path = F.regexp_replace(F.regexp_extract(c, pat, 3), r"/+$", "")
    query = F.regexp_extract(c, pat, 5)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda w: (w != "") & ~w.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme, F.lit("://"), host, path, F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit(""))
    )
    is_url = host0 != ""
    return df.withColumn(
        f"{out_prefix}_canonical", F.when(is_url, canon).otherwise(c)
    ).withColumn(f"{out_prefix}_host", F.when(is_url, host))


def mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    temperature: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-based domain rebalancing — the multilingual/multi-domain
    mixture rule of mT5/XLM-R ("sample with p ∝ n^τ", Conneau et al. 2020;
    UniMax is the budgeted refinement): a domain of size n_d keeps rows at
    rate round((n_d / n_min)^(τ−1), 6), so at τ=1 nothing changes, at τ=0
    every domain downsamples to ~n_min rows (flat mixture), and between,
    large domains shrink toward the temperature-scaled share. Downsample-
    only by construction (the smallest domain anchors at rate 1.0 — no
    row duplication). Keeps are the deterministic md5 hash gate of
    sample_hash (floor(rate·65536) 16-bit hex threshold), so the sample
    is stable across runs AND engines. Returns the kept rows with
    n_domain and sample_rate attached.

    Scale shape: one count aggregate (the domain table — thousands of
    rows at most), a 1-row min cross-joined in broadcast, the rate table
    broadcast-joined back on the domain key, and the gate is a scan-side
    filter. The corpus itself never shuffles."""
    tau = float(temperature)
    if not 0.0 <= tau <= 1.0:
        # τ > 1 would produce rates > 1 for every above-minimum domain,
        # which the downsample-only gate silently clips to keep-all —
        # reject instead of no-opping (upsampling needs row duplication,
        # a different operator)
        raise ValueError(f"temperature must be in [0, 1], got {tau}")
    d = F.col(domain_col)
    counts = df.groupBy(d.alias("__d")).agg(F.count(F.lit(1)).cast("long").alias("n_domain"))
    nmin = counts.agg(F.min("n_domain").alias("__nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "__d",
        "n_domain",
        F.round(
            F.pow(F.col("n_domain").cast("double") / F.col("__nmin").cast("double"), F.lit(tau - 1.0)),
            6,
        ).alias("sample_rate"),
    )
    joined = df.join(F.broadcast(rates), d.eqNullSafe(F.col("__d")), "left").drop("__d")
    # 16-bit hex gate, engine-portable: floor(rate*65536) is unambiguous
    # where a round() could straddle engines' half-way rules
    thr = F.lower(
        F.lpad(F.hex(F.floor(F.col("sample_rate") * 65536).cast("int")), 4, "0")
    )
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4
    )
    return joined.filter((F.col("sample_rate") >= 1.0) | (prefix < thr))


def _sigmoid_micro(m: Column) -> Column:
    """round(1/(1+exp(−m/1e6)), 6): the classifier's probability of a
    micro-unit margin."""
    return F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-m.cast("double") / F.lit(1e6))), 6)


def _train_weights(
    feats: DataFrame, n_docs: int, B: int, iters: int, lr: float,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """The classifier's full-batch gradient descent over checkpointed
    (__id, b, __y) presence features: returns the weight table as a
    local relation and its sorted (b, w) rows (row 0 is the bias b = −1).

    r13 batch 16: w0 = ALL buckets {-1} ∪ [0, B) at weight 0 as a
    LOCAL relation, replacing a full feats scan + distinct +
    checkpoint job. Provably score-identical: every feats bucket is
    pmod-bounded inside the range, so the margins join matches the
    same rows; a bucket absent from feats gets no gradient row and
    stays exactly 0 through every update (0 − round(lr·0/N) = 0),
    and a zero weight contributes 0 to any future margin — the old
    present-buckets-only table dropped the same rows at the join
    instead. Only the returned table's row set widens (zero rows for
    never-seen buckets), which no score can observe.

    r14: the weight table is PARAMETER-sized (B+1 rows) — hold it as a
    driver literal and run each iteration as ONE collect job instead
    of eager_checkpoint + a broadcast-build job per iteration (the
    pq_train(iters=0) local-codebook precedent). Every arithmetic step
    stays in Spark expressions (the update select below), so the
    collected longs are the bit-identical checkpoint rows; the next
    iteration's broadcast(w) is a jobless LocalTableScan read."""
    spark = feats.sparkSession
    w_rows = [(b, 0) for b in range(-1, B)]
    w = local_table(spark, w_rows, schema="b long, w long")
    for _ in range(int(iters)):
        margins = (
            feats.join(F.broadcast(w), "b")
            .groupBy("__id", "__y")
            .agg(F.sum("w").alias("__m"))
        )
        p = _sigmoid_micro(F.col("__m"))
        err = margins.select(
            "__id",
            F.round((p - F.col("__y").cast("double")) * F.lit(1e6)).cast("long").alias("__e"),
        )
        grad = (
            feats.join(err, "__id")
            .groupBy("b")
            .agg(F.sum("__e").alias("__g"))
        )
        upd = w.join(grad, "b", "left").select(
            "b",
            (
                F.col("w")
                - F.round(
                    F.lit(float(lr)) * F.coalesce(F.col("__g"), F.lit(0)).cast("double") / F.lit(float(n_docs))
                ).cast("long")
            ).alias("w"),
        )
        w_rows = sorted((r["b"], r["w"]) for r in upd.collect())
        w = local_table(spark, w_rows, schema="b long, w long")
    return w, w_rows


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 512,
    iters: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """Train a hashed-feature logistic-regression quality classifier with
    DataFrame ops only — the fastText-style DISCRIMINATIVE counterpart to
    DSIR's generative log-ratio (the published pipeline pattern: GPT-3 /
    PaLM / LLaMA all filtered CommonCrawl with a linear classifier over
    cheap features, positives = curated corpus, negatives = raw crawl).
    Features are the same hashed unigram+bigram buckets as dsir_logratio,
    taken as PRESENCE (0/1, distinct per doc) plus an always-on bias
    bucket b = −1; training is full-batch gradient descent unrolled
    ``iters`` times. Returns the weight table (b, w) with w in integer
    MICRO-UNITS (divide by 1e6 for the real weight); feed to
    quality_classifier_score.

    Cross-engine determinism (the repo's integer contract): the per-doc
    margin is an integer sum of micro-unit weights; the sigmoid output is
    rounded to 6dp and the per-doc error integerized to micro-units
    BEFORE the per-bucket gradient sum, so engine aggregation order
    cannot drift; the weight update rounds lr·grad/N once per bucket.
    The DuckDB oracle unrolls the same iterations as CTEs and matches
    exactly.

    Scale shape: the labeled presence features are built once and
    eagerly checkpointed (they feed every iteration twice); per
    iteration = one broadcast join (weights ≤ buckets+1 rows) + one
    per-doc integer-sum aggregate + one equi-join of the per-doc error
    back onto the features + one per-bucket integer-sum aggregate — two
    bounded hash shuffles, no driver-side model state beyond the weight
    table itself (checkpointed per iteration exactly like
    kmeans_centroids' recentering). N is a one-row count over the
    checkpointed features, the unigram_logprob scalar-literal
    precedent."""
    B = int(buckets)
    lab = lambda df, y: _hashed_ngram_features(df, id_col, text_col, B).select(  # noqa: E731
        "__id", "b"
    ).withColumn("__y", F.lit(y))
    hashed = lab(pos, 1).unionByName(lab(neg, 0))
    # r14: ONE aggregation builds the distinct feature set AND the bias
    # row per (doc, class) — collect_set subsumes the per-side
    # .distinct(), and exploding bucket-set ∪ {-1} subsumes the docs
    # bias union. The old shape evaluated the corpus hash explode TWICE
    # (the lazy `docs = feats.select(...).distinct()` branch re-derived
    # both hash subtrees inside the union) and paid three exchanges
    # (distinct per side + the docs distinct) before the repartition;
    # this is one hash pass and one exchange. Row-set identical: per
    # (doc, class) the exploded set is exactly the old distinct rows,
    # and -1 (outside pmod's [0, B) range) is the old one-per-doc bias
    # row. Grouping keeps __y so a doc deliberately placed in BOTH
    # classes (the documented two-frame case) still gets both groups.
    perdoc = hashed.groupBy("__id", "__y").agg(F.collect_set("b").alias("__bs"))
    # pin the per-doc hash partitioning BEFORE the checkpoint: every
    # iteration's error join keys on __id, so the (much larger) feature
    # side then reuses the checkpoint's partitioning instead of
    # reshuffling the full feature stream once per iteration (guide
    # §2.4 — two operations keyed the same way share one exchange)
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_observed

    feats, got = eager_checkpoint_observed(
        perdoc.select(
            "__id",
            F.explode(F.array_append("__bs", F.lit(-1).cast("long"))).alias("b"),
            "__y",
        ).repartition("__id"),
        # doc count = the number of b=-1 bias rows (one per doc) — rides
        # the checkpoint's own job instead of a second docs.count() pass
        F.count(F.when(F.col("b") == -1, 1)).alias("nd"),
    )
    w, _ = _train_weights(feats, got["nd"], B, iters, lr)
    # the features fed their last gradient above; the returned weight
    # table is a local relation — nothing left checkpointed here
    release(feats)
    return w


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 512,
    out_col: str = "clf_score",
) -> DataFrame:
    """Score documents with a train_quality_classifier weight table:
    sigmoid of (bias + Σ present-bucket weights), rounded 6dp. Adds
    ``out_col``; all input columns pass through. Buckets must match
    training. Scale shape: features scan-side, weight table broadcast,
    one per-doc integer-sum aggregate — the corpus shuffles once."""
    B = int(buckets)
    feats = _hashed_ngram_features(df, id_col, text_col, B).distinct()
    feats = feats.unionByName(
        df.select(F.col(id_col).alias("__id"), F.lit(-1).alias("b"))
    )
    margins = (
        feats.join(F.broadcast(weights), "b")
        .groupBy("__id")
        .agg(F.sum("w").alias("__m"))
    )
    scored = margins.select("__id", _sigmoid_micro(F.col("__m")).alias(out_col))
    return df.join(scored, F.col(id_col) == F.col("__id"), "left").drop("__id")


def train_and_score_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int = 512,
    iters: int = 3,
    lr: float = 1.0,
    out_col: str = "clf_score",
) -> DataFrame:
    """:func:`train_quality_classifier` + :func:`quality_classifier_score`
    fused for the self-training case (label is a 0/1 COLUMN of the same
    frame being scored, e.g. "curated source" vs "raw crawl" flags):
    byte-identical output to train(df[label=1], df[label=0]) followed by
    score(df), at ONE hashed-feature build instead of three.

    The separate path scans/normalizes/hashes the corpus once for the
    positive features, once for the negatives, and a third time to score;
    here the label rides the single feature explode (``extra_cols``), the
    checkpointed training features double as the scoring features (minus
    the label; the per-doc bias rows are re-derived from ``df`` so
    feature-less docs still score sigmoid(bias) exactly as the separate
    path does), and the GD loop is the same integer-exact recurrence over
    the same rows — identical weights, identical scores.

    Requires ``label_col`` to be functionally dependent on ``id_col``
    (one label per doc). A doc deliberately placed in BOTH classes needs
    the two-frame API."""
    B = int(buckets)
    base = df.select(
        F.col(id_col).alias("__bid"),
        F.col(text_col).alias("__btext"),
        F.col(label_col).cast("int").alias("__y"),
    )
    hashed = _hashed_ngram_features(
        base, "__bid", "__btext", B, extra_cols=["__y"]
    ).select("__id", "b", "__y")
    # r14: ONE aggregation replaces distinct + docs-distinct +
    # repartition — the lazy `docs` branch re-derived the whole corpus
    # hash explode inside the union (no cross-branch reuse within one
    # action), so the old build hashed the corpus twice and paid three
    # exchanges. collect_set(b) per doc IS the distinct feature set,
    # exploding set ∪ {-1} adds the one bias row per doc, and max(__y)
    # is THE label under the documented functional-dependence contract
    # (one label per doc). groupBy("__id") alone keeps the aggregate's
    # HashPartitioning(__id), which select/explode preserve into the
    # checkpoint — the GD loop's margins aggregate and error join then
    # run exchange-free (guide §2.4), with no repartition needed.
    perdoc = hashed.groupBy("__id").agg(
        F.max("__y").alias("__y"), F.collect_set("b").alias("__bs")
    )
    # the doc count = the number of b=-1 bias rows (exactly one per
    # doc), riding the feature checkpoint's own job via observe()
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_observed

    feats, got = eager_checkpoint_observed(
        perdoc.select(
            "__id",
            F.explode(F.array_append("__bs", F.lit(-1).cast("long"))).alias("b"),
            "__y",
        ),
        F.count(F.when(F.col("b") == -1, 1)).alias("nd"),
    )
    n_docs = got["nd"]
    w, w_rows = _train_weights(feats, n_docs, B, iters, lr)
    # r14 scoring pass: the checkpointed features ALREADY carry one bias
    # row per feature-bearing doc, so score directly off them — no
    # union with a df-derived bias stream, which broke the checkpoint's
    # __id partitioning and forced a full re-exchange of the feature
    # stream under the margins aggregate. A feature-LESS doc (empty/
    # null text) has no feats rows at all; its margin in the separate
    # path is exactly the bias weight, so it gets the bias-only score
    # as a literal at the final join (computed with the identical Spark
    # round/exp expression over the known driver scalar w[-1]). Rows
    # with a NULL id keep a NULL score exactly as before (the old join
    # on id == __id never matched them either).
    margins = (
        feats.join(F.broadcast(w), "b")
        .groupBy("__id")
        .agg(F.sum("w").alias("__m"))
    )
    scored = eager_checkpoint(
        margins.select("__id", _sigmoid_micro(F.col("__m")).alias(out_col)))
    release(feats)
    bias_w = int(w_rows[0][1])  # sorted, so row 0 is b = -1
    bias_score = _sigmoid_micro(F.lit(bias_w))
    # the checkpoint erases size stats (an RDD scan estimates at
    # defaultSizeInBytes), so auto-broadcast can never fire on the
    # score join the way it did on the lazy separate-path plan.
    # n_docs is already a known driver scalar: broadcast the (id,
    # score) frame below a bounded row count (~16 B/row -> ~160 MB at
    # the cap, guide §3.1's comfortable range), fall back to the
    # shuffle join at corpus scale where a doc-count broadcast is the
    # OOM. Same rows either way; join strategy only.
    sc = F.broadcast(scored) if n_docs <= 10_000_000 else scored
    out = df.join(sc, F.col(id_col) == F.col("__id"), "left").drop("__id")
    return out.withColumn(
        out_col,
        F.when(
            F.col(id_col).isNotNull(), F.coalesce(F.col(out_col), bias_score)
        ).otherwise(F.col(out_col)),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping word windows — the standard
    RAG-indexing / context-window chunking (stride = chunk_words −
    overlap; the final partial window is kept so no tail text is lost;
    empty docs yield zero rows). Whitespace words, rejoined with single
    spaces (documented normalization — chunk boundaries are word-exact,
    intra-chunk whitespace is collapsed). Returns one row per chunk:
    (id, chunk_id, chunk_start, chunk_text, n_chunk_words) — feed
    chunk_text to the embedding/ANN path and (id, chunk_id) back-joins
    retrieval hits to documents.

    Scale shape: pure scan-side transform + one explode — zero shuffle,
    whole-stage codegen; output size is input words × (1 + overlap/
    stride), bounded by construction. The same explode_outer discipline
    as every other generator (InferFiltersFromGenerate would otherwise
    inline the window construction into a synthesized filter)."""
    W, O = int(chunk_words), int(overlap)
    if not 0 <= O < W:
        raise ValueError(f"need 0 <= overlap < chunk_words, got {O} >= {W}")
    step = W - O
    base = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
    ).select("__id", F.filter(F.col("__w"), lambda x: x != "").alias("__w"))
    w = F.col("__w")
    n = F.size(w)
    # window starts: 1, 1+step, ... — the last start is the largest
    # s <= n with s == 1 (mod step), so the tail is always covered
    starts = F.when(
        n >= 1, F.sequence(F.lit(1), F.greatest(n - F.lit(W - 1), F.lit(1)) + F.lit(step - 1), F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    # drop synthetic starts past n (sequence overshoots by < step)
    starts = F.filter(starts, lambda s: s <= n)
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("cs"),
            F.concat_ws(" ", F.slice(w, s, F.lit(W))).alias("ct"),
            F.least(n - s + 1, F.lit(W)).cast("long").alias("cn"),
        ),
    )
    return (
        base.select("__id", F.posexplode_outer(chunks).alias("__pos", "c"))
        .filter(F.col("c").isNotNull())
        .select(
            F.col("__id").alias(id_col),
            F.col("__pos").cast("long").alias("chunk_id"),
            F.col("c.cs").cast("long").alias("chunk_start"),
            F.col("c.ct").alias("chunk_text"),
            F.col("c.cn").alias("n_chunk_words"),
        )
    )


def mixture_plan(
    df: DataFrame,
    domain_col: str,
    token_col: str,
    weights: dict[str, float],
    budget: int,
) -> DataFrame:
    """Token-budget mixture planning — the explicit-share counterpart to
    mixture_sample's temperature rule (the planning step of every
    pretraining data recipe: 'B tokens total, w_d of them from domain
    d'). Produces the per-domain plan table: (domain, n_docs,
    avail_tokens, target_share, want_tokens, sample_rate, shortfall)
    where target shares are ``weights`` renormalized over the domains it
    names (others get share 0 and rate 0), want = share·budget,
    rate = min(1, want/avail) rounded 6dp — downsample-only, and a
    domain that cannot fill its share reports the token ``shortfall``
    instead of silently under-delivering (upsampling/epoching is the
    trainer's decision, not the sampler's).

    Scale shape: ONE aggregate over (domain) — the plan table is
    domain-cardinality-tiny; apply it with sample_to_budget (hash gate)
    or feed it to an epoch scheduler."""
    total_w = sum(float(v) for v in weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    shares = {k: float(v) / total_w for k, v in weights.items()}
    d = F.col(domain_col)
    agg = df.groupBy(d.alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("avail_tokens"),
    )
    share = F.coalesce(
        *[F.when(F.col("domain") == k, F.lit(v)) for k, v in shares.items()],
        F.lit(0.0),
    ) if shares else F.lit(0.0)
    want = F.round(share * F.lit(float(int(budget)))).cast("long")
    rate = F.round(
        F.least(
            F.lit(1.0),
            want.cast("double") / F.greatest(F.col("avail_tokens"), F.lit(1)).cast("double"),
        ),
        6,
    )
    return agg.select(
        "domain",
        "n_docs",
        "avail_tokens",
        F.round(share, 6).alias("target_share"),
        want.alias("want_tokens"),
        rate.alias("sample_rate"),
        F.greatest(want - F.col("avail_tokens"), F.lit(0)).cast("long").alias("shortfall"),
    )


def sample_to_budget(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    token_col: str,
    weights: dict[str, float],
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Apply a mixture_plan: keep each domain's rows at its plan rate via
    the deterministic md5 hash gate (same floor-16-bit threshold as
    mixture_sample), dropping domains outside ``weights``. In
    expectation each kept domain contributes ~want_tokens (exactness is
    per-doc-granular — a hash gate cannot split documents). Returns kept
    rows with n_docs/avail_tokens/target_share/want_tokens/sample_rate
    attached. Plan table broadcast-joins back; corpus never shuffles."""
    plan = mixture_plan(df, domain_col, token_col, weights, budget)
    joined = df.join(
        F.broadcast(plan), F.col(domain_col).eqNullSafe(F.col("domain")), "inner"
    ).drop("domain", "shortfall")
    thr = F.lower(
        F.lpad(F.hex(F.floor(F.col("sample_rate") * 65536).cast("int")), 4, "0")
    )
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4
    )
    return joined.filter((F.col("sample_rate") >= 1.0) | (prefix < thr))

def cap_per_group(
    df: DataFrame, group_col: str, id_col: str, n: int,
    order_col: str | None = None,
) -> DataFrame:
    """Cap any single group's contribution at ``n`` rows — the per-host /
    per-domain document cap of C4-style pipelines (one mirror-heavy domain
    must not dominate the corpus). Returns the SURVIVING (group, id) rows.

    Which n survive: with ``order_col``, the n HIGHEST by that column
    (ties → smaller id) — "keep the best n per domain"; without it, the n
    smallest by md5(id) — a deterministic pseudo-random sample per group,
    reproducible across runs and engines.

    Scale shape: the same two-phase trick as the ANN top-k (_topk_reduce)
    — phase 1 groups by (input partition, group) and slices each
    partition-local sorted list to n map-side, so at most P·n rows per
    group ever reach the phase-2 reducer, independent of group size. A
    rank window would funnel every row of the hottest domain through one
    sorted reducer partition — the exact skew this op exists to fight."""
    # ordering structs lead with an is-null flag: bare struct ordering
    # sorts a null field FIRST ascending, which would keep null-quality
    # rows preferentially — they must lose to every scored row
    ordk = (
        F.struct(
            F.col(order_col).isNull().cast("int").alias("z"),
            (-F.col(order_col).cast("double")).alias("o"),
            F.col(id_col).alias("i"),
        )
        if order_col
        else F.struct(
            F.lit(0).alias("z"),
            F.md5(F.col(id_col).cast("string")).alias("o"),
            F.col(id_col).alias("i"),
        )
    )
    part = (
        df.select(F.col(group_col), ordk.alias("__it"))
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", group_col)
        .agg(F.slice(F.array_sort(F.collect_list("__it")), 1, int(n)).alias("tk"))
    )
    top = part.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("tk"))), 1, int(n)).alias("tk")
    )
    return top.select(F.col(group_col), F.explode("tk").alias("__it")).select(
        F.col(group_col), F.col("__it.i").alias(id_col)
    )

def corpus_diff(
    df_old: DataFrame, df_new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions: (id, status) with
    status ∈ added / removed / changed / unchanged, where content
    identity is the normalized-text md5 (same key as exact dedup). The
    audit primitive of incremental pipelines: what did this ingestion
    round actually do — and the 'changed' set is what downstream caches
    (embeddings, signatures, indexes) must recompute.

    Scale shape: each side collapses to (id, 16-byte key) scan-side, then
    ONE full-outer equi-join on id — no content ever shuffles."""
    from wrangler_spark.datapipe.dedup import normalize_text

    key = F.md5(normalize_text(F.col(text_col)))
    a = df_old.select(F.col(id_col).alias("__ia"), key.alias("__ka"))
    b = df_new.select(F.col(id_col).alias("__ib"), key.alias("__kb"))
    j = a.join(b, F.col("__ia") == F.col("__ib"), "full")
    status = (
        F.when(F.col("__ia").isNull(), F.lit("added"))
        .when(F.col("__ib").isNull(), F.lit("removed"))
        .when(F.col("__ka") != F.col("__kb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("__ib"), F.col("__ia")).alias(id_col), status.alias("status")
    )

def keyword_tag(
    df: DataFrame, id_col: str, text_col: str, keywords,
    kw_col: str = "keyword",
) -> DataFrame:
    """Dictionary tagging: (id, keyword, n_hits) for every document
    containing a dictionary word or phrase as whole words — the targeted-
    selection primitive (medical/code/legal sub-corpus extraction,
    blocklist topic filters) that regex alternations stop scaling for.

    ``keywords`` is a list of strings or a 1-column DataFrame. Keywords
    are normalized like the document text; multi-word phrases match as
    word n-grams.

    Scale shape: the dictionary is grouped by phrase word-count (the
    distinct counts — a handful of scalars — are the only driver
    round-trip); for each count m the corpus explodes its m-word grams
    ONCE and equi-joins the broadcast dictionary slice; per-doc counts
    come from one hash aggregate. Corpus never shuffles; no per-keyword
    expressions, so a 100K-entry dictionary costs the same plan as a
    10-entry one."""
    from wrangler_spark.datapipe.dedup import normalize_text

    spark = df.sparkSession
    if not isinstance(keywords, DataFrame):
        keywords = local_table(spark, [(k,) for k in keywords], f"{kw_col} string")
    kw = keywords.select(
        normalize_text(F.col(keywords.columns[0])).alias("__kw")
    ).filter(F.length("__kw") > 0).distinct()
    kw = kw.withColumn("__m", F.size(F.split(F.col("__kw"), " ")))
    lengths = sorted(r["__m"] for r in kw.select("__m").distinct().collect())
    if not lengths:  # empty dictionary: no matches, keep the output contract
        spark2 = df.sparkSession
        return local_table(spark2,
            [], f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
                f"{kw_col} string, n_hits long"
        )
    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__w")
    )
    parts = []
    for m in lengths:
        grams = words.select(
            F.col(id_col), F.explode(_word_grams_all(F.col("__w"), m)).alias("__kw")
        )
        parts.append(
            grams.join(
                F.broadcast(kw.filter(F.col("__m") == m).select("__kw")), "__kw"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(F.col(id_col), F.col("__kw").alias(kw_col)).agg(
        F.count("*").cast("long").alias("n_hits")
    )


def _word_grams_all(words: Column, n: int) -> Column:
    """ALL n-word grams (with repeats — hit counts need every occurrence),
    unlike _word_grams' distinct set; empty when the doc is shorter than
    n words."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))

def shuffle_shards(
    df: DataFrame, id_col: str, n_shards: int, seed: str = ""
) -> DataFrame:
    """Deterministic pre-training shard assignment + within-shard order:
    adds (shard, sort_key) where shard = hash28(seed‖id) mod n_shards and
    sort_key is the md5 of the same string — a reproducible global
    shuffle without any RNG state. Write with
    write_corpus(partition_by=['shard']) and read shards in sort_key
    order for the training-ready layout; changing ``seed`` reshuffles,
    same seed replays byte-identically (the epoch-shuffle contract).

    Scale shape: pure scan-side expressions; the partitionBy write is the
    only shuffle and it is the one you wanted anyway."""
    from wrangler_spark.datapipe.dedup import _hash28

    tagged = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    return df.withColumn(
        "shard", F.pmod(_hash28(tagged), F.lit(int(n_shards))).cast("int")
    ).withColumn("sort_key", F.md5(tagged))

def corpus_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str | None = None, exact: bool = True,
) -> DataFrame:
    """One-call corpus health snapshot — the numbers a curation run is
    judged by, computed in a SINGLE aggregate job over one scan:
    (n_docs, n_null_text, n_chars, n_words, n_exact_dup_docs,
    distinct_langs, pct_dup). Exact-dup count via the same normalized-md5
    key as exact_dedup (count - approx? no: exact distinct), language
    breadth via the lang column when present.

    Scale shape: ONE pass, one hash aggregate to a single row; the
    distinct content count rides the same aggregate as
    count(DISTINCT key) — Spark expands it to a two-stage exact distinct,
    still one job, no window, no collect of anything but the 1-row
    result frame (which stays a DataFrame — callers decide when to
    collect). ``exact=False`` swaps the distinct counts for
    approx_count_distinct (HyperLogLog++, ~2% default error): the exact
    distinct shuffles every distinct 16-byte key once, which at 100 TB
    is a corpus-sized shuffle for a HEALTH METRIC — the sketch collapses
    it to fixed-size per-partition state, one narrow job. Report numbers
    feed dashboards and drift gates, not dedup decisions, so the
    approximation is the right default at extreme scale (dedup itself
    always uses the exact path)."""
    from wrangler_spark.datapipe.dedup import normalize_text

    cdist = F.countDistinct if exact else F.approx_count_distinct
    key = F.md5(normalize_text(F.col(text_col)))
    words = F.size(F.split(normalize_text(F.col(text_col)), " "))
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(F.col(text_col).isNull(), 1)).cast("long").alias("n_null_text"),
        F.coalesce(F.sum(F.length(F.col(text_col))), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.sum(words), F.lit(0)).cast("long").alias("n_words"),
        # HLL can OVER-estimate distincts (~2% error), which would push
        # count - distinct negative on a near-unique corpus — clamp at 0
        F.greatest(F.count(text_col) - cdist(key), F.lit(0))
        .cast("long").alias("n_exact_dup_docs"),
    ]
    if lang_col:
        aggs.append(cdist(F.col(lang_col)).cast("long").alias("distinct_langs"))
    out = df.agg(*aggs)
    return out.withColumn(
        "pct_dup",
        F.round(
            F.col("n_exact_dup_docs").cast("double")
            / F.greatest(F.col("n_docs"), F.lit(1)).cast("double"),
            6,
        ),
    )

def report_update_state(
    df: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str | None = None, batch_id: str = "",
    by: str | None = None,
) -> None:
    """Fold one ingestion batch into a LOG-STRUCTURED corpus-report
    state: appends a single row of (counts + DataSketches HLL binaries)
    parquet — O(batch) work, O(rows-appended) state, never a rescan of
    history. The distinct-count sketches are MERGEABLE, so
    :func:`report_from_state` reconstructs the whole-corpus report from
    any number of batch rows inside the sketch's accuracy guarantee
    (~2% at the default lgK; the merged estimate can differ from a
    one-pass sketch by a few counts — HLL4's exception-slot handling —
    but both sit inside the same bound, and the counts/sums are exact
    regardless). This is the materialize-once posture
    (retention_write_state, bloom_write_index) applied to the health
    metrics a 100 TB dashboard polls: per-batch cost stays flat as the
    corpus grows. All batches must agree on lang_col/by presence: the
    state's column set is its pinned geometry (``_state``), and a fold
    whose columns differ from the stored rows' is refused.

    ``by`` keeps one state row per GROUP per batch (source/shard) —
    the corpus_report_by counterpart; dup estimates then stay
    within-group, like the one-shot grouped report. The group column
    keeps its REAL name in the state rows (and in the report output) —
    all batches must agree on it, and it may not collide with the
    report's own metric names.

    Idempotence: a non-empty ``batch_id`` already folded makes the
    fold a NO-OP, so a replayed micro-batch (report_update_stream's
    crash-recovery path) never double-counts — the vocab_update_state
    contract (the ``_layout`` replay ledger). The check + append hold
    the ``_layout`` writer lease."""
    from wrangler_spark.datapipe.dedup import normalize_text

    if by and by in _REPORT_STATE_COLS:
        raise ValueError(
            f"by={by!r} collides with a report state column; rename the "
            "group column before folding it into state"
        )
    key = F.md5(normalize_text(F.col(text_col)))
    words = F.size(F.split(normalize_text(F.col(text_col)), " "))
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(F.col(text_col).isNull(), 1)).cast("long").alias("n_null_text"),
        F.coalesce(F.sum(F.length(F.col(text_col))), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.sum(words), F.lit(0)).cast("long").alias("n_words"),
        F.count(text_col).cast("long").alias("n_with_text"),
        F.hll_sketch_agg(key).alias("content_sketch"),
    ]
    if lang_col:
        aggs.append(F.hll_sketch_agg(F.col(lang_col)).alias("lang_sketch"))
    agged = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    _state.fold(df.sparkSession, path, batch_id, _state.REPORT, agged)


def report_update_stream(
    stream: DataFrame, path: str, checkpoint: str,
    id_col: str = "doc_id", text_col: str = "text",
    lang_col: str | None = None, by: str | None = None,
    trigger: dict | None = None,
):
    """Fold a document STREAM into persisted corpus-report state — the
    stream edge of the report family's triangle (batch: corpus_report;
    state: report_update_state / report_from_state; stream: THIS, the
    retention_update_stream shape). One state row (or one per group)
    appends per micro-batch — exact counts + mergeable HLL sketches,
    O(batch) forever. The micro-batch id is the batch_id and
    report_update_state no-ops on an id already in the state, so
    at-least-once delivery yields EXACTLY-ONCE state. Returns the
    started StreamingQuery; default trigger availableNow."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: report_update_state(
            b, path, id_col, text_col, lang_col, bid, by))


# the metric/meta columns every report state row carries; anything else
# in a state row's schema is the (single) group column, under its real
# name — how report_from_state recovers what the grouping was without a
# separate meta table
_REPORT_STATE_COLS = frozenset(
    {"n_docs", "n_null_text", "n_chars", "n_words", "n_with_text",
     "content_sketch", "lang_sketch", "batch_id"}
)


def report_from_state(spark, path: str, version: int | None = None) -> DataFrame:
    """Whole-corpus health report from the accumulated batch rows: sums
    are exact, distinct counts come from the UNION of the per-batch HLL
    sketches (within the same ~2% guarantee as a one-pass sketch).
    Output columns match corpus_report(exact=False)
    semantics: (n_docs, n_null_text, n_chars, n_words, n_exact_dup_docs
    [, distinct_langs], pct_dup). Reads only the state rows — one row
    per ingested batch (or per group per batch for a grouped state,
    returning one report row per group, keyed by the group column's
    REAL name as written by report_update_state; states written before
    the name was preserved surface as ``__grp``) — never the corpus.
    A path never folded raises ``ValueError`` (the state is empty)."""
    # the report family reads every footer's columns: a state whose
    # batches were folded with DIFFERENT group columns before the fold
    # checked them surfaces as multiple extra columns, rejected below
    rows, _ = _state.rows(spark, path, _state.REPORT, version)
    extra = [c for c in rows.columns if c not in _REPORT_STATE_COLS]
    if len(extra) > 1:
        # a state whose batches were written with DIFFERENT group
        # columns (or a legacy __grp state appended with a real-name
        # batch): grouping by an arbitrary one would silently bucket
        # the other batches under null — refuse instead
        raise ValueError(
            f"mixed group columns in report state: {sorted(extra)} — "
            "all batches of one state must share the same 'by' column"
        )
    grp_col = extra[0] if extra else None
    grouped = grp_col is not None
    aggs = [
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_null_text").cast("long").alias("n_null_text"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_with_text").cast("long").alias("__with_text"),
        F.hll_sketch_estimate(F.hll_union_agg("content_sketch")).alias("__distinct"),
    ]
    if "lang_sketch" in rows.columns:
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg("lang_sketch"))
            .cast("long").alias("distinct_langs")
        )
    agged = rows.groupBy(grp_col).agg(*aggs) if grouped else rows.agg(*aggs)
    out = agged.withColumn(
        "n_exact_dup_docs",
        F.greatest(F.col("__with_text") - F.col("__distinct"), F.lit(0)).cast("long"),
    )
    out = out.withColumn(
        "pct_dup",
        F.round(
            F.col("n_exact_dup_docs").cast("double")
            / F.greatest(F.col("n_docs"), F.lit(1)).cast("double"),
            6,
        ),
    ).drop("__with_text", "__distinct")
    cols = ["n_docs", "n_null_text", "n_chars", "n_words", "n_exact_dup_docs"]
    if "lang_sketch" in rows.columns:
        cols.append("distinct_langs")
    if grouped:
        cols = [grp_col] + cols
    return out.select(*cols, "pct_dup")


def split_by_cluster(
    components: DataFrame, test_frac: float = 0.1, id_col: str = "doc_id",
    comp_col: str = "component", salt: str = "",
) -> DataFrame:
    """Leakage-free train/test split: the deterministic hash gate is
    applied to the duplicate-cluster REPRESENTATIVE, so a whole near-dup
    cluster always lands on one side — the split that makes held-out loss
    honest (a test doc whose near-duplicate sits in train is leakage that
    a per-doc split cannot prevent). Input is the (id, component) frame
    from minhash_components / embedding_components; output adds
    ``split`` ∈ {'train', 'test'}.

    Scale shape: pure scan-side md5-threshold gate on the component key —
    zero shuffle beyond what the components frame already carries; the
    same 16-bit threshold arithmetic as sample_hash, so rates are
    reproducible across engines."""
    # clamp: at frac >= 1 the 4-hex-digit threshold would overflow lpad
    # (hex(65536) is 5 chars, lpad TRUNCATES to '1000' ≈ 1/16) — the same
    # rate>=1.0 short-circuit sample_hash uses
    thr = max(0, min(65535, int(float(test_frac) * 65536)))
    if float(test_frac) >= 1.0:
        return components.withColumn("split", F.lit("test"))
    gate = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(comp_col).cast("string"))), 1, 4
    )
    lim = F.lpad(F.lower(F.hex(F.lit(thr))), 4, "0")
    return components.withColumn(
        "split", F.when(gate < lim, F.lit("test")).otherwise(F.lit("train"))
    )

def corpus_report_by(
    df: DataFrame, group_col: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """corpus_report per group (source / lang / shard): one row per group
    with the same metrics — the per-slice view that catches a single bad
    source poisoning an otherwise healthy ingestion round. Same single-
    aggregate shape, grouped; dup counts are WITHIN-group exact dups."""
    from wrangler_spark.datapipe.dedup import normalize_text

    key = F.md5(normalize_text(F.col(text_col)))
    words = F.size(F.split(normalize_text(F.col(text_col)), " "))
    return (
        df.groupBy(F.col(group_col))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col(text_col).isNull(), 1)).cast("long").alias("n_null_text"),
            F.coalesce(F.sum(F.length(F.col(text_col))), F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce(F.sum(words), F.lit(0)).cast("long").alias("n_words"),
            (F.count(text_col) - F.countDistinct(key)).cast("long").alias("n_exact_dup_docs"),
        )
        .withColumn(
            "pct_dup",
            F.round(
                F.col("n_exact_dup_docs").cast("double")
                / F.greatest(F.col("n_docs"), F.lit(1)).cast("double"),
                6,
            ),
        )
    )

# bounded-length lookbehind alternation (Java regex requirement): common
# English abbreviations + any single-letter token (initials, "e"/"g" of
# e.g.) must not end a sentence; a digit directly after the punctuation
# means a decimal ("3.14"), not a boundary
_ABBREV_SAFE_BOUNDARY = (
    r"(?<!\b(?:Dr|Mr|Mrs|Ms|Prof|St|Jr|Sr|vs|etc|Inc|Ltd|Co|No|Fig|al))"
    r"(?<!\b[A-Za-z])[.!?]+(?!\d)"
)


def sentence_split(
    df: DataFrame, id_col: str, text_col: str, abbrev_safe: bool = False,
) -> DataFrame:
    """Explode documents into (id, sent_idx, sentence) rows on terminal
    punctuation — the finer-grained sibling of chunk_documents for
    sentence-level RAG indexing, dedup, and alignment. The splitter is
    the deterministic [.!?]+ boundary (shared with readability's
    sentence count and the DuckDB oracle); empty fragments are dropped,
    sent_idx is 1-based document order. Scan-side split + one explode,
    zero shuffle.

    LIMITATION: the default [.!?]+ is a punctuation rule, not a
    linguistic segmenter — it splits on abbreviations ("Dr. Smith" →
    "Dr" / "Smith") and inside decimals ("3.14" → "3" / "14"). That is
    the deliberate cross-engine contract (deterministic, oracle-
    reproducible). ``abbrev_safe=True`` opts into a lookbehind/
    lookahead rule that keeps common abbreviations, single-letter
    initials, and decimals intact (still scan-side, still
    deterministic; tradeoff: a sentence genuinely ending in a
    single-letter word — "plan B." — no longer splits there). The two
    modes agree on abbreviation- and decimal-free text (property
    tested)."""
    c = F.col(text_col)
    boundary = _ABBREV_SAFE_BOUNDARY if abbrev_safe else r"[.!?]+"
    parts = F.filter(
        F.transform(F.split(c, boundary), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    return df.select(
        F.col(id_col), F.posexplode(parts).alias("sent_idx0", "sentence")
    ).select(
        F.col(id_col), (F.col("sent_idx0") + 1).cast("int").alias("sent_idx"), "sentence"
    )

def sentence_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Cross-document SENTENCE dedup: keep only the globally-first
    occurrence of each normalized sentence and reassemble documents —
    the finer-grained sibling of paragraph_dedup for web boilerplate
    that rides inside paragraphs ("subscribe to our newsletter", cookie
    banners glued to prose). Returns (id, <text_col> deduped,
    n_sentences, n_dropped); sentences are [.!?]+ bounded (the
    sentence_split/readability rule) and rejoin with '. '.

    Scale shape: identical to paragraph_dedup — one shuffle on the
    sentence md5 for the first-occurrence decision, one on the doc id
    for reassembly; a boilerplate sentence in millions of docs is one
    row per occurrence in its window partition, never quadratic."""
    c = F.col(text_col)
    parts = F.filter(
        F.transform(F.split(c, r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    sents = df.select(
        F.col(id_col).alias("__id"), F.posexplode(parts).alias("__pos", "__sent")
    ).withColumn(
        "__key", F.md5(F.regexp_replace(F.lower(F.col("__sent")), r"\s+", " "))
    )
    w = Window.partitionBy("__key").orderBy("__id", "__pos")
    first = sents.withColumn("__rn", F.row_number().over(w))
    agg = first.groupBy("__id").agg(
        F.coalesce(
            F.concat_ws(
                ". ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__rn") == 1, F.struct("__pos", "__sent"))
                        )
                    ),
                    lambda s: s["__sent"],
                ),
            ),
            F.lit(""),
        ).alias(text_col),
        F.count("*").cast("long").alias("n_sentences"),
        F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
    )
    # keep sentence-less docs (empty/null text): posexplode dropped them
    # from the aggregate, so join back to every input id
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_sentences"), F.lit(0)).cast("long").alias("n_sentences"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def distribution_drift(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int = 10,
    exact: bool = True, accuracy: int = 10000,
) -> DataFrame:
    """Population Stability Index between a REFERENCE corpus and the
    CURRENT batch over a numeric column (quality score, token count,
    perplexity): bin both by the reference's equi-depth quantile
    boundaries and compare occupancy. Returns one row per bin —
    (bin, ref_count, cur_count, ref_frac, cur_frac, psi_term) — and
    sum(psi_term) is the PSI, with the published operating rule:
    < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 drifted (investigate
    before training). The standard production-ML ingestion-monitoring
    check: a new crawl snapshot whose quality distribution drifts gets
    caught HERE, one aggregate row per bin, before it pollutes a mixture.

    Boundaries come from the reference only (that is the point — "has
    the new data moved relative to what we trained on"); current values
    outside the reference range land in the edge bins, exactly where
    drift should surface. Nulls are excluded from both sides.
    Determinism: fractions round to 6dp BEFORE the psi term, and the
    term smooths zero-occupancy with a 1e-6 floor (PSI's standard
    epsilon — an empty bin is strong drift signal, not an infinity).

    Scale shape: one aggregate on the reference for the n-1 boundary
    scalars (broadcast), one scan-side bin fold + one count aggregate
    per side (bins rows, not corpus rows), one n-row outer join."""
    n = int(n_bins)
    if n < 2:
        raise ValueError("n_bins must be >= 2")
    c = F.col(col).cast("double")
    ps = [i / n for i in range(1, n)]
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {int(accuracy)}"
    bounds = F.expr(f"{fn}({col}, array({', '.join(str(p) for p in ps)}){acc})")
    stats = ref.agg(bounds.alias("__bounds"))
    bin_of = (
        F.lit(1)
        + F.aggregate(
            F.col("__bounds"), F.lit(0), lambda acc_, b: acc_ + F.when(b < c, 1).otherwise(0)
        )
    ).cast("int")

    def binned(df: DataFrame, name: str) -> DataFrame:
        return (
            df.filter(c.isNotNull())
            .crossJoin(F.broadcast(stats))
            .select(bin_of.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    r, u = binned(ref, "ref_count"), binned(cur, "cur_count")
    joined = (
        r.join(u, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("ref_count", F.lit(0)).cast("long").alias("ref_count"),
            F.coalesce("cur_count", F.lit(0)).cast("long").alias("cur_count"),
        )
    )
    totals = joined.agg(
        F.sum("ref_count").alias("__rt"), F.sum("cur_count").alias("__ct")
    )
    rf = F.round(F.col("ref_count") / F.greatest(F.col("__rt"), F.lit(1)), 6)
    cf = F.round(F.col("cur_count") / F.greatest(F.col("__ct"), F.lit(1)), 6)
    out = joined.crossJoin(F.broadcast(totals)).select(
        "bin", "ref_count", "cur_count",
        rf.alias("ref_frac"), cf.alias("cur_frac"),
    )
    rs = F.greatest(F.col("ref_frac"), F.lit(1e-6))
    cs = F.greatest(F.col("cur_frac"), F.lit(1e-6))
    return out.withColumn(
        "psi_term",
        F.round((F.col("ref_frac") - F.col("cur_frac")) * F.log(rs / cs), 6),
    )


def corpus_overlap(
    df_a: DataFrame, df_b: DataFrame, text_col: str, exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """One-row content-overlap summary between two corpora: (n_a, n_b,
    n_union, n_intersect, jaccard) over distinct normalized-content
    keys — the cheap answer to "how much of snapshot B is already in A"
    BEFORE committing to corpus_diff's full-outer id join or a dedup
    pass. ``exact=False`` swaps every distinct count for a
    HyperLogLog++ sketch (union counted over a unioned scan — sketch
    state is KB regardless of corpus size, the 100 TB mode);
    inclusion–exclusion then gives the intersection, clamped at 0
    (sketch error can push it negative). jaccard = n_intersect /
    n_union.

    Scale shape: two scan-side key projections, ONE aggregate job per
    side + one over the union — no join at all, nothing corpus-sized
    crosses a shuffle in sketch mode."""
    from wrangler_spark.datapipe.dedup import normalize_text

    key = F.md5(normalize_text(F.col(text_col))).alias("__k")
    a, b = df_a.select(key), df_b.select(key)
    cdist = (
        (lambda c: F.countDistinct(c)) if exact
        else (lambda c: F.approx_count_distinct(c, rsd))
    )
    na = a.agg(cdist(F.col("__k")).alias("n")).collect()[0]["n"]
    nb = b.agg(cdist(F.col("__k")).alias("n")).collect()[0]["n"]
    nu = a.unionByName(b).agg(cdist(F.col("__k")).alias("n")).collect()[0]["n"]
    ni = max(na + nb - nu, 0)
    spark = df_a.sparkSession
    return local_table(spark,
        [(int(na), int(nb), int(nu), int(ni),
          round(ni / nu, 6) if nu else 0.0)],
        "n_a long, n_b long, n_union long, n_intersect long, jaccard double",
    )


def key_skew(df: DataFrame, col: str, k: int = 20) -> DataFrame:
    """Top-k hottest keys of a column with their corpus share — the
    pre-flight check for every join/groupBy key at 100 TB: a key holding
    5% of a 100 TB table is a 5 TB reducer partition, and THIS table is
    what decides whether that key needs salting (or an AQE skew-join
    threshold bump) before the nightly join ships.

    (key, n, share) rows, share rounded 6dp, ordered (n DESC, key ASC —
    deterministic tie-break). One shuffle (groupBy key), then a
    distributed TakeOrdered over the key counts — each partition keeps
    k, only P*k rows reach the driver-side sort, never the key universe.
    Null keys count as a real group (they hash to ONE partition in a
    join — the classic silent skew)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = df.groupBy(F.col(col).cast("string").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    counts = eager_checkpoint(counts)
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("__tot"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(int(k))
        .crossJoin(F.broadcast(total))  # 1-row stats frame
        .select(
            "key", "n",
            F.round(F.col("n") / F.col("__tot"), 6).alias("share"),
        )
    )


def key_skew_summary(df: DataFrame, col: str) -> DataFrame:
    """One-row skew scorecard for a key column: (n_rows, n_keys,
    max_share, skew_ratio, hhi). ``skew_ratio`` = hottest key count over
    the uniform expectation (total/n_keys) — 1.0 is perfectly even, the
    number of straggler-multiples otherwise; ``hhi`` is the Herfindahl
    index Σ share² (the effective number of keys is 1/hhi). Two bounded
    aggregates over the key-count frame; shares rounded 6dp."""
    counts = df.groupBy(F.col(col).cast("string").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    return counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.round(
            F.max("n") / F.coalesce(F.sum("n"), F.lit(0)), 6
        ).alias("max_share"),
        F.round(
            F.max("n") / (F.coalesce(F.sum("n"), F.lit(0)) / F.count("*")), 6
        ).alias("skew_ratio"),
        # n² in DOUBLE: a 1e12-row key squared overflows long at scale
        F.round(
            F.sum(F.col("n").cast("double") * F.col("n").cast("double"))
            / (
                F.coalesce(F.sum("n"), F.lit(0)).cast("double")
                * F.coalesce(F.sum("n"), F.lit(0)).cast("double")
            ),
            6,
        ).alias("hhi"),
    )


def sample_weighted(
    df: DataFrame, key_col: str, weight_col: str, rate: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic weight-proportional sampling: keep each row with
    probability min(1, rate·weight) — the consumer of
    :func:`~wrangler_spark.datapipe.dedup.cluster_weights` (soft-dedup
    weights become soft-dedup SAMPLING: a 40x cluster keeps ~rate docs
    total, singletons keep at ~rate each) and of any importance/DSIR
    weight column. Same engine-portable md5-prefix coin as
    :func:`sample_hash` (no RNG state; same rows survive in the DuckDB
    oracle and on every retry), with a PER-ROW threshold: the row's
    16-bit hash coin is compared against floor(p·65536) rendered as a
    4-hex threshold — pure scan-side string/arithmetic expressions.
    ``salt`` reshuffles which rows win; same salt replays identically."""
    if rate < 0:
        raise ValueError(f"rate must be >= 0, got {rate}")
    p = F.least(F.lit(1.0), F.lit(float(rate)) * F.col(weight_col).cast("double"))
    n = F.floor(p * F.lit(65536)).cast("long")
    coin = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 4
    )
    return df.filter((n >= 65536) | (coin < F.format_string("%04x", n)))


# --- declarative data-quality constraints (the Deequ posture:
# Schelter et al., "Automating Large-Scale Data Quality Verification",
# VLDB 2018 — declare constraints, compute EVERY required metric in one
# aggregation pass over the table, grade each rule against its
# threshold; no reference analog beyond validate-standard's
# one-schema-per-row shape)

_DQ_RULES = ("not_null", "unique", "range", "matches", "in_set", "min_rows")


def check_constraints(
    df: DataFrame, rules: list[dict], include_counts: bool = False,
) -> DataFrame:
    """Declarative table-quality verification: grade a rule list against
    the data in ONE aggregation job and return a per-rule report —
    (rule, column, metric, value, threshold, passed) rows. The
    ingestion gate for a 100 TB pipeline: every metric any rule needs
    folds into a single partial-aggregating scan (conditional sums),
    so checking 40 constraints costs the same I/O as checking one;
    ``unique`` rules add exact ``count_distinct`` aggregates (an Expand
    over the distinct columns — still one scan, and the only rule worth
    that price: swap in HLL via corpus_report if a bound suffices).

    Rules (each a dict; ``max_frac`` defaults to 0.0 and is the graded
    threshold on the violation fraction):

    - ``{"rule": "not_null", "col": c}`` — fraction of NULL values;
    - ``{"rule": "unique", "col": c}`` — fraction of rows beyond the
      first per value (NULLs count as one shared value, like SQL
      ``GROUP BY``);
    - ``{"rule": "range", "col": c, "min": lo, "max": hi}`` — fraction
      outside [lo, hi] (either bound may be None; NULLs don't violate —
      pair with not_null to forbid them);
    - ``{"rule": "matches", "col": c, "pattern": p}`` — fraction of
      non-NULL values NOT fully matching the (Java∩RE2) regex;
    - ``{"rule": "in_set", "col": c, "values": [...]}`` — fraction of
      non-NULL values outside the set;
    - ``{"rule": "min_rows", "n": k}`` — table has at least k rows
      (metric = row count, threshold = k, passed = n_rows >= k).

    Violation fractions are integer/integer rounded 6dp (the
    cross-engine determinism contract); an empty table yields 0.0
    fractions (nothing violates). ``passed`` is value <= threshold
    (>= for min_rows).

    ``include_counts=True`` appends the raw (viol, n) integers behind
    each fraction — what :func:`constraints_update_state` persists so
    cross-batch reports merge EXACTLY by summation (``unique``'s
    distinct count is not summable; its viol is per-table only)."""
    if not rules:
        raise ValueError("check_constraints: empty rule list")
    aggs = [F.count("*").cast("long").alias("__n")]
    meta: list[dict] = []  # (rule, col, metric, threshold, agg aliases)
    for i, r in enumerate(rules):
        kind = r.get("rule")
        if kind not in _DQ_RULES:
            raise ValueError(
                f"check_constraints: unknown rule {kind!r} "
                f"(expected one of {_DQ_RULES})")
        a = f"__m{i}"
        if kind == "min_rows":
            meta.append({"rule": kind, "col": None, "metric": "n_rows",
                         "thr": float(r["n"]), "alias": None})
            continue
        c = F.col(r["col"])
        if kind == "not_null":
            viol = c.isNull()
            metric = "null_frac"
        elif kind == "unique":
            aggs.append(F.count_distinct(c).cast("long").alias(a))
            # NULLs vanish from count_distinct but occupy rows: one
            # NULL group is allowed its first row, like GROUP BY
            aggs.append(
                F.max(F.when(c.isNull(), 1).otherwise(0)).alias(a + "_hasnull")
            )
            meta.append({"rule": kind, "col": r["col"],
                         "metric": "dup_frac",
                         "thr": float(r.get("max_frac", 0.0)), "alias": a})
            continue
        elif kind == "range":
            lo, hi = r.get("min"), r.get("max")
            if lo is None and hi is None:
                raise ValueError(
                    f"check_constraints: range rule on {r['col']!r} "
                    "needs min and/or max")
            viol = F.lit(False)
            if lo is not None:
                viol = viol | (c < F.lit(lo))
            if hi is not None:
                viol = viol | (c > F.lit(hi))
            metric = "oob_frac"
        elif kind == "matches":
            viol = c.isNotNull() & ~c.cast("string").rlike(
                "^(?:" + r["pattern"] + ")$")
            metric = "mismatch_frac"
        else:  # in_set
            vals = list(r["values"])
            if not vals:
                raise ValueError(
                    f"check_constraints: in_set rule on {r['col']!r} "
                    "needs a non-empty value set")
            viol = c.isNotNull() & ~c.cast("string").isin(
                [str(v) for v in vals])
            metric = "oos_frac"
        aggs.append(
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(a)
        )
        meta.append({"rule": kind, "col": r["col"], "metric": metric,
                     "thr": float(r.get("max_frac", 0.0)), "alias": a})
    one = df.agg(*aggs)
    n = F.coalesce(F.col("__n"), F.lit(0))
    reports = []
    for m in meta:
        if m["rule"] == "min_rows":
            value = n.cast("double")
            passed = n >= F.lit(int(m["thr"]))
            viol = F.lit(None).cast("long")
        elif m["rule"] == "unique":
            distinct = F.col(m["alias"]) + F.col(m["alias"] + "_hasnull")
            value = F.round(
                F.when(n == 0, F.lit(0.0)).otherwise((n - distinct) / n), 6
            )
            passed = value <= F.lit(m["thr"])
            viol = F.when(n == 0, F.lit(0)).otherwise(n - distinct)
        else:
            value = F.round(
                F.when(n == 0, F.lit(0.0)).otherwise(F.col(m["alias"]) / n), 6
            )
            passed = value <= F.lit(m["thr"])
            viol = F.coalesce(F.col(m["alias"]), F.lit(0))
        reports.append(F.struct(
            F.lit(m["rule"]).alias("rule"),
            F.lit(m["col"]).cast("string").alias("column"),
            F.lit(m["metric"]).alias("metric"),
            value.cast("double").alias("value"),
            F.lit(m["thr"]).cast("double").alias("threshold"),
            passed.alias("passed"),
            viol.cast("long").alias("viol"),
            n.cast("long").alias("n"),
        ))
    # one report row per rule, exploded from the single aggregate row —
    # report size = rule count, never data-sized
    cols = ["__r.rule", "__r.column", "__r.metric", "__r.value",
            "__r.threshold", "__r.passed"]
    if include_counts:
        cols += ["__r.viol", "__r.n"]
    return one.select(
        F.explode(F.array(*reports)).alias("__r")
    ).select(*cols)


# --- count-min sketch key-frequency family (Cormode & Muthukrishnan,
# J. Algorithms 2005): a depth x width counter grid where every key
# increments one slot per row; estimates are the min over rows --
# always >= the true count, within eps*N with probability 1-delta for
# width=ceil(e/eps), depth=ceil(ln 1/delta). The grid merges EXACTLY by
# element-wise addition, which is what makes it a persisted-state
# citizen: fold batches forever in O(depth*width) state, never rescan
# history. Hashing is the engine-portable md5 prefix (the dedup 28-bit
# convention) with the row index as salt, so the DuckDB oracle and any
# retry land every key in the same slot.

_CMS_NULL = "\x00"  # sentinel so NULL keys are a real (countable) key


def _cms_slot(c: Column, d: int, width: int) -> Column:
    key = F.coalesce(c.cast("string"), F.lit(_CMS_NULL))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{d}:"), key)), 1, 7), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(int(width)))


def _cms_geometry(depth: int, width: int) -> None:
    if not 1 <= depth <= 16:
        raise ValueError(f"cms depth must be in [1, 16], got {depth}")
    if width < 16:
        raise ValueError(f"cms width must be >= 16, got {width}")
    # the estimate side BROADCASTS the grid: depth*width rows at ~24 B.
    # 2^24 * 16 deep would be a 6 GB broadcast — past any sane eps this
    # sketch is the wrong tool (use key_skew / an exact groupBy)
    if depth * width > (1 << 24):
        raise ValueError(
            f"cms grid depth*width = {depth * width} exceeds 2^24 — the "
            "probe broadcast would be GBs; lower eps needs an exact count")


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024,
) -> DataFrame:
    """(d, slot, count) count-min sketch of a key column — the
    bounded-state answer to "how often does ANY key occur" when the key
    universe itself doesn't fit anywhere (key_skew's top-k shows the
    head; the sketch answers point queries over the whole tail). One
    scan, one hash aggregate on (d, slot) — output depth*width rows
    regardless of data size, partial-agg combinable, no windows. NULL
    keys count under a sentinel slot (the join-skew view of NULL as a
    real key)."""
    _cms_geometry(depth, width)
    c = F.col(col)
    rows = F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"), _cms_slot(c, d, width).alias("slot"))
        for d in range(depth)
    ])).alias("__cell")
    return (
        df.select(rows)
        .groupBy(F.col("__cell.d").alias("d"), F.col("__cell.slot").alias("slot"))
        .agg(F.count("*").cast("long").alias("count"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, col: str,
    depth: int = 4, width: int = 1024,
) -> DataFrame:
    """Point-query a count-min sketch: (key, est) with est = min over
    the depth rows of the key's slot counts (0 for never-seen slots) —
    an upper bound on the true count, within eps*N w.h.p. ``keys`` is a
    frame of keys to look up (distinct-ified); the SKETCH side of the
    join is depth*width bounded, so it broadcasts — the key frame
    streams through scan-side. Geometry must match the build (the
    persisted form pins it in meta and checks)."""
    _cms_geometry(depth, width)
    c = F.col(col)
    probes = keys.select(
        F.coalesce(c.cast("string"), F.lit(_CMS_NULL)).alias("key")
    ).distinct().select(
        "key",
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("d"),
                _cms_slot(F.col("key"), d, width).alias("slot"),
            )
            for d in range(depth)
        ])).alias("__cell"),
    ).select("key", "__cell.d", "__cell.slot")
    return (
        probes.join(F.broadcast(sketch), ["d", "slot"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("count"), F.lit(0))).cast("long").alias("est"))
    )


def cms_update_state(
    df: DataFrame, path: str, col: str, depth: int = 4, width: int = 1024,
    batch_id: str = "",
) -> None:
    """Fold one batch's count-min sketch into log-structured persisted
    state: appends (d, slot, count, batch_id) rows — O(batch) work,
    depth*width*batches state, never a history rescan; slot counts
    merge EXACTLY by summation (the CMS merge theorem), so the
    state-reconstructed estimate equals the one-shot sketch over the
    union of all batches. Geometry is pinned in the state rows and
    checked on every fold (probing a different grid would silently
    misestimate — the bloom/minhash pinned-geometry discipline). A
    non-empty ``batch_id`` already folded makes the fold a NO-OP
    (exactly-once under at-least-once replay, through the ``_layout``
    replay ledger)."""
    _cms_geometry(depth, width)
    _state.fold(df.sparkSession, path, batch_id, _state.CMS,
                cms_sketch(df, col, depth, width),
                {"depth": int(depth), "width": int(width)})


def cms_update_stream(
    stream: DataFrame, path: str, col: str, checkpoint: str,
    depth: int = 4, width: int = 1024, trigger: dict | None = None,
):
    """Fold a key STREAM into persisted count-min state — the stream
    edge of the CMS batch/state/stream triangle (the hist_update_stream
    shape): micro-batch id = batch_id, so at-least-once foreachBatch
    replay yields exactly-once state."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: cms_update_state(b, path, col, depth, width, bid))


def cms_from_state(spark, path: str, version: int | None = None):
    """The merged (d, slot, count) sketch from persisted CMS state plus
    its pinned (depth, width): one sum-merge over the state rows.
    ``version`` pins an older committed snapshot (compaction cadence =
    snapshot cadence). Returns (sketch, depth, width)."""
    rows, geo = _state.rows(spark, path, _state.CMS, version, with_pins=True)
    return _state.merge(rows, _state.CMS), int(geo["depth"]), int(geo["width"])


def distinct_sketch(
    df: DataFrame, cols: list[str], by: str | None = None, lgk: int = 12,
) -> DataFrame:
    """Mergeable HLL distinct-count sketches (Spark's native Apache
    DataSketches HllSketch — hll_sketch_agg) — the bounded-state answer
    to "how many distinct users/domains/docs" that exact
    count_distinct can't give at 100 TB (its Expand carries the full
    key universe through the shuffle; the sketch is 2^lgk registers
    regardless of cardinality, and register MAX-merge is lossless, so
    cross-batch unions reproduce the one-shot estimate exactly).

    One aggregation pass over ``cols`` (optionally per ``by`` group):
    (group?, column, sketch, estimate) rows; values are hashed as
    their STRING form (type-stable across batches — a long column
    folded today and read as string tomorrow still unions correctly);
    NULLs don't count (the approx_count_distinct convention).
    ``lgk`` = log2 registers (12 → 4 KiB, ~1.6% rel. err).

    No DuckDB oracle: the estimate is DataSketches-specific, so the
    graded form is rows-only + the state-reconstruction==one-shot
    equality asserted in tests (the strong invariant sum-merge
    families get from their oracles)."""
    if not cols:
        raise ValueError("distinct_sketch: no columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"distinct_sketch: unknown columns {missing}")
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(int(lgk)))
        .alias(f"__s{i}")
        for i, c in enumerate(cols)
    ]
    one = df.groupBy(F.col(by).alias("__g")).agg(*aggs) if by \
        else df.agg(*aggs)
    rows = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), F.col(f"__s{i}").alias("sketch"))
        for i, c in enumerate(cols)
    ])).alias("__r")
    keep = ([F.col("__g").alias(by)] if by else []) + [
        F.col("__r.column").alias("column"),
        F.col("__r.sketch").alias("sketch"),
        F.hll_sketch_estimate(F.col("__r.sketch")).cast("long")
        .alias("estimate"),
    ]
    return one.select(rows, *([F.col("__g")] if by else [])).select(*keep)


def distinct_overlap(
    a: DataFrame, b: DataFrame, col: str, lgk: int = 12,
) -> DataFrame:
    """Approximate distinct-set overlap between two frames via HLL
    inclusion–exclusion — "how many distinct users/doc-ids appear in
    BOTH snapshots" without materializing either key set (the
    corpus_overlap question asked of KEYS instead of content): one
    sketch per side, registers max-merged for the union, then
    |A∩B| ≈ est(A) + est(B) − est(A∪B), clamped at 0 (the estimator
    can go slightly negative for near-disjoint sets — that IS the
    error bar). Returns one row (est_a, est_b, est_union,
    est_intersection, jaccard_distinct with jaccard = inter/union
    rounded 6dp, NULL on an empty union).

    Scale shape: one aggregation scan per side producing a 1-row
    sketch; everything after is 1-row broadcast arithmetic. The
    intersection error compounds three estimates (~3x a single
    sketch's relative error at small overlaps) — raise lgk when the
    overlap being measured is a small fraction of either side."""
    sk = lambda d: d.agg(  # noqa: E731
        F.hll_sketch_agg(F.col(col).cast("string"), F.lit(int(lgk)))
        .alias("sk"))
    sa, sb = sk(a), sk(b)
    est = lambda c: F.hll_sketch_estimate(c).cast("long")  # noqa: E731
    u = sa.unionByName(sb).agg(F.hll_union_agg("sk").alias("us"))
    inter = F.greatest(
        F.lit(0).cast("long"),
        F.col("est_a") + F.col("est_b") - F.col("est_union"))
    return (
        u.select(est(F.col("us")).alias("est_union"))
        .crossJoin(F.broadcast(sa.select(est(F.col("sk")).alias("est_a"))))
        .crossJoin(F.broadcast(sb.select(est(F.col("sk")).alias("est_b"))))
        .select(
            "est_a", "est_b", "est_union",
            inter.alias("est_intersection"),
            F.when(F.col("est_union") > 0,
                   F.round(inter / F.col("est_union"), 6))
            .alias("jaccard_distinct"),
        )
    )


def distinct_update_state(
    df: DataFrame, path: str, cols: list[str], by: str | None = None,
    lgk: int = 12, batch_id: str = "",
) -> None:
    """Fold one batch's HLL distinct sketches into log-structured
    persisted state: appends (group?, column, sketch, lgk, batch_id)
    rows — O(batch) work, (groups x cols x batches) sketch rows until
    compaction, never a history rescan. HLL registers merge by MAX
    (hll_union_agg), which is LOSSLESS at the sketch level, so
    :func:`distinct_from_state` reproduces the one-shot estimate over
    the union of all batches exactly. ``lgk`` is pinned in the rows
    and checked on every fold; a non-empty ``batch_id`` already
    folded makes the fold a NO-OP (exactly-once under replay, through
    the ``_layout`` replay ledger); check + append hold the writer
    lease."""
    batch = distinct_sketch(df, cols, by, lgk).select(
        (F.col(by).cast("string") if by else F.lit(None).cast("string"))
        .alias("g"),
        "column", "sketch",
        # this family's rows carry lgk before batch_id
        F.lit(int(lgk)).alias("lgk"),
    )
    _state.fold(df.sparkSession, path, batch_id, _state.DISTINCT, batch,
                {"lgk": int(lgk)})


def distinct_from_state(
    spark, path: str, version: int | None = None,
) -> DataFrame:
    """The merged distinct-count estimates from persisted HLL state:
    one hll_union_agg per (group, column) over the state rows —
    (group, column, estimate). ``version`` pins an older committed
    snapshot (time travel, the resample/cms convention)."""
    rows, _ = _state.rows(spark, path, _state.DISTINCT, version)
    return (
        rows.groupBy("g", "column")
        .agg(F.hll_union_agg("sketch").alias("__u"))
        .select(
            F.col("g"), F.col("column"),
            F.hll_sketch_estimate(F.col("__u")).cast("long")
            .alias("estimate"),
        )
    )


def distinct_update_stream(
    stream: DataFrame, path: str, cols: list[str], checkpoint: str,
    by: str | None = None, lgk: int = 12, trigger: dict | None = None,
):
    """Fold a STREAM into persisted HLL distinct state — the stream
    edge of the distinct batch/state/stream triangle (the
    cms_update_stream shape): micro-batch id = batch_id, so
    at-least-once foreachBatch replay yields exactly-once state."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: distinct_update_state(b, path, cols, by, lgk, bid))


def constraints_update_state(
    df: DataFrame, path: str, rules: list[dict], batch_id: str = "",
) -> None:
    """Fold one ingestion batch's data-quality report into
    log-structured persisted state: appends the batch's
    (rule, column, metric, value, threshold, passed, viol, n,
    batch_id) rows — the quality TIME SERIES a pipeline dashboard
    reads ("null_frac by ingestion batch") without ever rescanning
    history; O(batch) work, rules x batches state. Raw (viol, n)
    integers ride along so :func:`constraints_from_state` can rebuild
    the exact across-all-batches report by summation. A non-empty
    ``batch_id`` already folded makes the fold a NO-OP (the
    exactly-once replay contract, through the ``_layout`` replay
    ledger); check + append hold the writer lease."""
    report = check_constraints(df, rules, include_counts=True)
    _state.fold(df.sparkSession, path, batch_id, _state.CONSTRAINTS, report)


def constraints_update_stream(
    stream: DataFrame, path: str, rules: list[dict], checkpoint: str,
    trigger: dict | None = None,
):
    """Grade a STREAM's micro-batches against a rule list and fold each
    report into persisted state — the live data-quality monitor (the
    report_update_stream posture): micro-batch id = batch_id, so
    at-least-once foreachBatch replay yields exactly-once state."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: constraints_update_state(b, path, rules, bid))


def constraints_history(spark, path: str, version: int | None = None) -> DataFrame:
    """The per-batch quality time series from constraints state —
    exactly the rows each fold graded, batch_id attached. Feed it to
    :func:`~wrangler_spark.datapipe.events.rolling_stats` keyed on
    (rule, column) to alarm on drifting violation fractions.
    ``version`` pins an older committed snapshot."""
    return _state.rows(spark, path, _state.CONSTRAINTS, version)[0]


def constraints_from_state(
    spark, path: str, version: int | None = None,
) -> DataFrame:
    """The exact across-all-batches report reconstructed from
    constraints state: fractions re-derive from summed (viol, n)
    integers — identical to running :func:`check_constraints` over the
    union of every ingested batch — and min_rows grades the summed row
    count. ``unique`` rules are inherently per-batch (distinct counts
    don't sum: the same key in two batches is one duplicate the sums
    can't see) and are EXCLUDED here — read them from
    :func:`constraints_history`."""
    rows, _ = _state.rows(spark, path, _state.CONSTRAINTS, version)
    agg = (
        rows.filter(F.col("rule") != "unique")
        .groupBy("rule", "column", "metric", "threshold")
        .agg(F.sum("viol").cast("long").alias("viol"),
             F.sum("n").cast("long").alias("n"))
    )
    n = F.col("n")
    is_rows = F.col("rule") == "min_rows"
    value = F.when(is_rows, n.cast("double")).otherwise(
        F.round(F.when(n == 0, F.lit(0.0)).otherwise(F.col("viol") / n), 6)
    )
    return agg.select(
        "rule", "column", "metric",
        value.cast("double").alias("value"),
        "threshold",
        F.when(is_rows, n >= F.col("threshold"))
        .otherwise(value <= F.col("threshold")).alias("passed"),
        "viol", "n",
    )


def _profile_names(df: DataFrame, cols: list[str] | None) -> list[str]:
    """Column list a profile of ``df`` covers (validated)."""
    names = list(cols) if cols else [f.name for f in df.schema.fields]
    have = {f.name for f in df.schema.fields}
    missing = [c for c in names if c not in have]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    if not names:
        raise ValueError("profile_table: no columns to profile")
    return names


def _exact_distinct_futures(df: DataFrame, names: list[str], pool):
    """Submit the per-column distinct-count jobs to ``pool`` (guide
    §2.6); returns futures in ``names`` order."""
    return [
        pool.submit(lambda c: df.select(c).distinct().count(), cname)
        for cname in names
    ]


def profile_table(
    df: DataFrame, cols: list[str] | None = None, exact: bool = False,
    _exact_counts: list[int] | None = None,
) -> DataFrame:
    """Per-column profile in ONE aggregation pass — the discovery step
    in the Deequ loop (profile -> :func:`suggest_constraints` ->
    :func:`check_constraints`): (column, dtype, n_rows, n_null,
    null_frac, n_distinct, min, max) rows, one per profiled column.
    min/max render as strings (columns differ in type; numeric columns
    keep their natural ordering, strings are lexicographic — exactly
    the source ordering). ``exact=False`` (the 100 TB default) uses
    HLL approx_count_distinct for n_distinct — every other metric is
    exact conditional-sum arithmetic; ``exact=True`` swaps in true
    per-column distinct counts. r13: the exact path no longer plans
    len(cols) count_distincts in one aggregate — Spark compiles that
    to an Expand that multiplies every scanned row (len(cols)+1)x
    before the de-dup aggregate (measured 6.5 s vs 0.7 s on a
    9-column 1.5M-row table) — but runs one bounded
    ``distinct().count()`` job PER column from a small driver thread
    pool (guide §2.6 overlapping independent jobs; each job scans
    only its own parquet column, so total bytes read match the single
    pass) and stitches the counts into the returned frame as
    literals. Identical values: a per-column distinct-row count
    equals count_distinct + has-null by definition. The exact path
    therefore runs its distinct jobs EAGERLY at call time; min/max/
    null metrics stay in the returned lazy single-pass aggregate
    either way. null_frac is integer/integer rounded 6dp.

    r14 note: a lazy form (each count a broadcast scalar subtree
    crossJoined into the profile row) was built and REVERTED — it
    measured ~20% slower across 3 interleaved A/B alternations
    (dq_profile_diff 1.82 → 2.21 s pooled medians): 18 AQE-planned
    broadcast subqueries cost more in planning/scheduling than the
    direct thread-pool jobs they replaced. ``_exact_counts`` lets
    :func:`profile_diff` overlap BOTH snapshots' jobs in one pool
    instead of two sequential pools."""
    names = _profile_names(df, cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exact_counts: list[int] | None = _exact_counts
    if exact and exact_counts is None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(names))) as pool:
            exact_counts = [
                f.result() for f in _exact_distinct_futures(df, names, pool)
            ]
    aggs = [F.count("*").cast("long").alias("__n")]
    for i, cname in enumerate(names):
        c = F.col(cname)
        aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0))
                    .cast("long").alias(f"__null{i}"))
        if not exact:
            aggs.append(F.approx_count_distinct(c).cast("long").alias(f"__d{i}"))
            aggs.append(F.max(F.when(c.isNull(), 1).otherwise(0))
                        .alias(f"__hn{i}"))
        aggs.append(F.min(c).cast("string").alias(f"__min{i}"))
        aggs.append(F.max(c).cast("string").alias(f"__max{i}"))
    one = df.agg(*aggs)
    n = F.coalesce(F.col("__n"), F.lit(0))
    rows = []
    for i, cname in enumerate(names):
        null_frac = F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(F.col(f"__null{i}") / n), 6)
        # a NULL group is one distinct value, like GROUP BY
        if exact:
            # the distinct-row count already includes the NULL group;
            # the empty-frame case mirrors the aggregate path's NULL
            # (count_distinct 0 + max-over-no-rows NULL)
            distinct = F.when(n == 0, F.lit(None).cast("long")).otherwise(
                F.lit(int(exact_counts[i])).cast("long"))
        else:
            distinct = F.col(f"__d{i}") + F.col(f"__hn{i}")
        rows.append(F.struct(
            F.lit(cname).alias("column"),
            F.lit(types[cname]).alias("dtype"),
            n.alias("n_rows"),
            F.col(f"__null{i}").alias("n_null"),
            null_frac.cast("double").alias("null_frac"),
            distinct.cast("long").alias("n_distinct"),
            F.col(f"__min{i}").alias("min"),
            F.col(f"__max{i}").alias("max"),
        ))
    return one.select(F.explode(F.array(*rows)).alias("__p")).select(
        "__p.column", "__p.dtype", "__p.n_rows", "__p.n_null",
        "__p.null_frac", "__p.n_distinct", "__p.min", "__p.max")


# canonical value shapes for matches-rule suggestion, most-specific
# first (the first shape every non-null value of a column fully matches
# wins). Java-regex ∩ RE2 subset only (no backrefs/lookarounds) — the
# same pattern runs on both engines.
_SHAPE_PATTERNS: list[tuple[str, str]] = [
    ("uuid", r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
             r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"),
    ("email", r"[^@\s]+@[^@\s]+\.[^@\s]+"),
    ("integer", r"[+-]?\d+"),
    ("decimal", r"[+-]?\d+\.\d+"),
    ("entity_id", r"[A-Za-z]+#\d+"),
    ("json_object", r"\{.*\}"),
]

# r13 (guide §1.2 per-task work): cheap NECESSARY conditions evaluated
# before each shape regex — Spark's And short-circuits, so the regex
# engine only runs on values that could possibly match (a 36-char
# length test or an indexOf beats compiling a row through the regex
# VM). Each guard is implied by its anchored pattern, so
# guard AND rlike == rlike and the suggested rules are unchanged.
_SHAPE_REGEX_GUARDS = {
    "uuid": lambda cc: F.length(cc) == 36,
    "email": lambda cc: cc.contains("@") & cc.contains("."),
    "decimal": lambda cc: cc.contains("."),
    "entity_id": lambda cc: cc.contains("#"),
    "json_object": lambda cc: cc.startswith("{") & cc.endswith("}"),
}


def suggest_constraints(
    profile_df: DataFrame, df: DataFrame | None = None,
    in_set_max_distinct: int = 20,
) -> list[dict]:
    """Turn a :func:`profile_table` result into a
    :func:`check_constraints` rule list — the Deequ suggestion step:
    ``not_null`` where no value is missing, ``unique`` where every row
    is distinct (only trustworthy from an ``exact=True`` profile — HLL
    distincts suggest, they don't prove), ``range`` with the observed
    [min, max] for numeric columns, and a table-level ``min_rows`` at
    half the observed count (the re-ingestion sanity floor). The
    profile is one row per COLUMN, so collecting it is a bounded
    driver read, not a data read.

    Passing the profiled ``df`` additionally suggests ``in_set`` for
    LOW-CARDINALITY string columns (Deequ's isContainedIn posture —
    the status/enum columns a schema never encodes): a string column
    with 1 < n_distinct <= ``in_set_max_distinct`` gets its observed
    value set as the allowed set. The value collection is ONE extra
    aggregate with a collect_set per eligible column — eligibility is
    already profile-proven, so every buffer is bounded by
    ``in_set_max_distinct`` values.

    The same pass also suggests ``matches`` SHAPE rules (Deequ's
    hasPattern posture): a string column with at least one non-null
    value whose EVERY non-null value fully matches one of the
    canonical shapes in ``_SHAPE_PATTERNS`` (uuid / email / integer /
    decimal / entity_id like ``Customer#000000042`` / json_object)
    gets a matches rule with the FIRST — most specific — shape that
    covers it; the mismatch counts for all shapes ride the one
    aggregate as integer sums, so the whole suggestion step stays a
    single extra scan."""
    numeric_types = {"tinyint", "smallint", "int", "bigint",
                     "float", "double"}
    rules: list[dict] = []
    prof = profile_df.collect()
    in_set_cols: list[str] = []
    shape_cols: list[str] = []
    for r in prof:
        if r["n_rows"] == 0:
            continue
        if r["n_null"] == 0:
            rules.append({"rule": "not_null", "col": r["column"]})
        if r["n_distinct"] == r["n_rows"]:
            rules.append({"rule": "unique", "col": r["column"]})
        base = r["dtype"].split("(")[0]
        if base in numeric_types and r["min"] is not None:
            rules.append({
                "rule": "range", "col": r["column"],
                "min": float(r["min"]), "max": float(r["max"]),
            })
        if (df is not None and base == "string"
                and 1 < r["n_distinct"] <= in_set_max_distinct):
            in_set_cols.append(r["column"])
        if (df is not None and base == "string"
                and r["n_null"] < r["n_rows"]):
            shape_cols.append(r["column"])
    if in_set_cols or shape_cols:
        aggs = [
            F.sort_array(F.collect_set(F.col(c).cast("string")))
            .alias(f"__v{i}") for i, c in enumerate(in_set_cols)
        ]
        for i, c in enumerate(shape_cols):
            cc = F.col(c).cast("string")
            for j, (shape, pat) in enumerate(_SHAPE_PATTERNS):
                match = cc.rlike("^(?:" + pat + ")$")
                guard = _SHAPE_REGEX_GUARDS.get(shape)
                if guard is not None:
                    match = guard(cc) & match
                aggs.append(F.sum(F.when(
                    cc.isNotNull() & ~match,
                    1).otherwise(0)).cast("long").alias(f"__s{i}_{j}"))
        one = df.agg(*aggs).collect()[0]
        for i, c in enumerate(in_set_cols):
            rules.append({"rule": "in_set", "col": c,
                          "values": list(one[f"__v{i}"])})
        for i, c in enumerate(shape_cols):
            for j, (shape, pat) in enumerate(_SHAPE_PATTERNS):
                if one[f"__s{i}_{j}"] == 0:
                    rules.append({"rule": "matches", "col": c,
                                  "pattern": pat, "shape": shape})
                    break
    if prof:
        rules.append({"rule": "min_rows", "n": max(1, prof[0]["n_rows"] // 2)})
    return rules


def profile_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Schema + profile drift between two table snapshots — the Deequ
    loop's change detector: run :func:`profile_table` on both sides
    and compare per column. Catches the upstream changes constraint
    checks only see after they fire: a column added or dropped, a
    dtype change, a null-rate jump, a cardinality collapse, a
    min/max range shift. Returns one row per column in EITHER
    snapshot: (column, status[added|dropped|common], dtype_a, dtype_b,
    dtype_changed, n_rows_a, n_rows_b, null_frac_a, null_frac_b,
    null_frac_delta, n_distinct_a, n_distinct_b, n_distinct_delta,
    range_changed) — missing-side metrics NULL.

    Scale shape: exactly two profile passes (one aggregate each); the
    diff itself runs on column-count-sized frames combined by union +
    re-aggregate (no join — the unbroadcastable-full-outer lesson).
    ``exact`` passes through to profile_table (HLL distincts by
    default; exact count_distinct for oracle-grade runs)."""
    counts_a = counts_b = None
    if exact:
        # r14 (guide §2.6): BOTH snapshots' per-column distinct jobs go
        # through ONE shared pool, submitted before either side blocks —
        # the old shape ran two sequential 8-worker pools (side b's
        # jobs could not start until side a's pool had drained).
        from concurrent.futures import ThreadPoolExecutor

        names_a = _profile_names(df_a, cols)
        names_b = _profile_names(df_b, cols)
        with ThreadPoolExecutor(
            max_workers=min(16, len(names_a) + len(names_b))
        ) as pool:
            fa = _exact_distinct_futures(df_a, names_a, pool)
            fb = _exact_distinct_futures(df_b, names_b, pool)
            counts_a = [f.result() for f in fa]
            counts_b = [f.result() for f in fb]

    def tag(df: DataFrame, side: str, counts) -> DataFrame:
        return profile_table(df, cols, exact, _exact_counts=counts).select(
            "column", F.lit(side).alias("__side"), "dtype", "n_rows",
            "n_null", "null_frac", "n_distinct", "min", "max")

    u = tag(df_a, "a", counts_a).unionByName(tag(df_b, "b", counts_b))

    def pick(col: str, side: str):
        return F.max(F.when(F.col("__side") == side, F.col(col)))

    g = u.groupBy("column").agg(
        *[pick(c, s).alias(f"{c}_{s}")
          for c in ("dtype", "n_rows", "n_null", "null_frac",
                    "n_distinct", "min", "max")
          for s in ("a", "b")],
    )
    has_a = F.col("dtype_a").isNotNull()
    has_b = F.col("dtype_b").isNotNull()
    common = has_a & has_b
    status = (F.when(common, "common")
              .when(has_a, "dropped").otherwise("added"))
    return g.select(
        "column", status.alias("status"),
        "dtype_a", "dtype_b",
        F.when(common, F.col("dtype_a") != F.col("dtype_b"))
        .alias("dtype_changed"),
        "n_rows_a", "n_rows_b",
        "null_frac_a", "null_frac_b",
        F.when(common,
               F.round(F.col("null_frac_b") - F.col("null_frac_a"), 6)
               + F.lit(0.0))
        .cast("double").alias("null_frac_delta"),
        "n_distinct_a", "n_distinct_b",
        F.when(common, F.col("n_distinct_b") - F.col("n_distinct_a"))
        .cast("long").alias("n_distinct_delta"),
        F.when(common,
               (~F.col("min_a").eqNullSafe(F.col("min_b")))
               | (~F.col("max_a").eqNullSafe(F.col("max_b"))))
        .alias("range_changed"),
    )
