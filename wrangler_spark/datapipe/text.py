"""Text-analysis operators for corpus curation: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All native Column expressions. Tokenization is staged as its own
projection (`__words`) before any expression that references it more than
once — Spark does not common-subexpression-eliminate inside higher-order
lambdas, so an inlined split+regex would re-run per reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wrangler_spark.datapipe import _layout, _state
from wrangler_spark.datapipe._checkpoint import (
    eager_checkpoint,
    eager_checkpoint_observed,
    release,
)
from wrangler_spark.datapipe.constants import EN_STOPWORDS

# GPT-2-ish pre-tokenizer approximation: letter runs, digit runs,
# punctuation runs (kept regex-dialect-neutral so the DuckDB oracle
# counts identically).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

_W = "__words"


def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(_W, F.split(norm, " "))


def _stopword_ratio() -> Column:
    words = F.col(_W)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return F.round(n_sw.cast("double") / F.greatest(F.size(words), F.lit(1)).cast("double"), 6)


def langid(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-density language heuristic: en if ≥ 5% of tokens are
    English stopwords (the classic cheap n-gram/stopword LID baseline)."""
    staged = _with_words(df, text_col)
    out = staged.withColumn(
        out_col, F.when(_stopword_ratio() >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))
    )
    return out.drop(_W)


def quality_score(df: DataFrame, text_col: str, out_col: str = "quality") -> DataFrame:
    """Composite [0,1] quality score: length, stopword density, alpha ratio,
    mean word length — the usual cheap pretraining-corpus filters.

    Cross-engine determinism: each component is converted to integer
    MICRO-UNITS (round(x*1e6)) before the weighted sum, and the final
    divide-by-10 is integer division. A weighted sum of independently
    6dp-rounded doubles can differ by 1 ULP between engines and flip the
    final rounding (~1 doc in 5000 at sf0.1 did exactly that); integer
    arithmetic on identically-derived doubles cannot."""
    c = F.col(text_col)
    staged = _with_words(df, text_col)
    n_chars = F.length(c).cast("double")
    n_words = F.greatest(F.size(F.col(_W)), F.lit(1)).cast("double")
    words = F.col(_W)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.filter(words, lambda w: F.array_contains(sw, w))).cast("double")
    micro = lambda x: F.round(x * 1_000_000).cast("long")  # noqa: E731
    ls = micro(F.least(n_chars / 500.0, F.lit(1.0)))
    ss = micro(F.least(n_sw * 5.0 / n_words, F.lit(1.0)))
    al = micro(
        F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
        / F.greatest(n_chars, F.lit(1.0))
    )
    mean_wlen = n_chars / n_words
    wl = (
        F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), F.lit(1_000_000))
        .otherwise(F.lit(500_000))
        .cast("long")
    )
    total = ls * 3 + ss * 3 + al * 2 + wl * 2
    score = F.floor(total / 10).cast("double") / 1_000_000.0
    return staged.withColumn(out_col, score).drop(_W)


def token_count(df: DataFrame, text_col: str, out_col: str = "n_tokens") -> DataFrame:
    """Whitespace word count + regex sub-word token count."""
    c = F.col(text_col)
    df = df.withColumn(f"{out_col}_ws", F.size(F.split(F.trim(c), r"\s+")).cast("long"))
    return df.withColumn(out_col, F.regexp_count(c, F.lit(TOKEN_RE)).cast("long"))


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set (the OpenRefine 'fingerprint' method)."""
    staged = _with_words(df, text_col)
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col(_W)))))
    return staged.withColumn(out_col, fp).drop(_W)


# The Gopher/MassiveText repetition-and-quality rules (Rae et al. 2021,
# §A1.1; also the C4 heuristics) — the standard cheap pretraining filters.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_L = "__lines"


def _ratio(num: Column, den: Column) -> Column:
    return F.round(num.cast("double") / F.greatest(den, F.lit(1)).cast("double"), 6)


_P = "__paras"


def repetition_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Within-document repetition ratios (Gopher §A1.1 'repetitious
    text'): dup_line_ratio / dup_line_char_ratio over newline-split
    lines, dup_para_ratio / dup_para_char_ratio over blank-line-split
    PARAGRAPHS (Gopher's second structural unit — a single-paragraph
    document scores 0, never 'all duplicate'), plus dup_word_ratio over
    normalized words. All native array ops — one projection, no
    shuffle; lines/paras/words staged once (no CSE in HOF lambdas)."""
    c = F.col(text_col)
    staged = _with_words(
        df.withColumn(_L, F.split(c, "\n")).withColumn(_P, F.split(c, r"\n{2,}")),
        text_col,
    )
    lines, paras, words = F.col(_L), F.col(_P), F.col(_W)
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )

    def _dup(arr, unit: str) -> DataFrame:
        # a one-element split (no separator in the doc) carries no
        # duplication evidence for that unit: ratio 0 by the distinct
        # rule already (1 distinct of 1)
        return {
            f"dup_{unit}_ratio": F.round(
                1.0 - _ratio(F.size(F.array_distinct(arr)), F.size(arr)), 6
            ),
            f"dup_{unit}_char_ratio": F.round(
                1.0 - _ratio(chars(F.array_distinct(arr)), chars(arr)), 6
            ),
        }

    out = staged.withColumns(
        {
            **_dup(lines, "line"),
            **_dup(paras, "para"),
            "dup_word_ratio": F.round(
                1.0 - _ratio(F.size(F.array_distinct(words)), F.size(words)), 6
            ),
        }
    )
    return out.drop(_L, _P, _W)


def _runlen_top_dup(sorted_grams):
    """(top, dup) struct from a SORTED gram array via ONE run-length
    fold: walking the array, equal neighbors extend the current run;
    a run of length >= 2 contributes run_length x gram_chars to ``dup``
    and competes for ``top``. Pure per-row Column expression — the
    zero-exchange core of :func:`ngram_repetition_stats`."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def _contrib(acc):
        # the finished run's char coverage; singleton runs contribute 0
        # (a gram seen once is not repetition — see the caller's rule)
        return F.when(
            acc["cnt"] >= 2, acc["cnt"] * F.length(acc["prev"]).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    def _merge(acc, x):
        return F.when(
            acc["prev"].isNotNull() & (x == acc["prev"]),
            F.struct(
                acc["prev"].alias("prev"),
                (acc["cnt"] + F.lit(1).cast("long")).alias("cnt"),
                acc["top"].alias("top"),
                acc["dup"].alias("dup"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("cnt"),
                F.greatest(acc["top"], _contrib(acc)).alias("top"),
                (acc["dup"] + _contrib(acc)).alias("dup"),
            )
        )

    def _finish(acc):
        return F.struct(
            F.greatest(acc["top"], _contrib(acc)).alias("top"),
            (acc["dup"] + _contrib(acc)).alias("dup"),
        )

    return F.aggregate(sorted_grams, init, _merge, _finish)


def ngram_repetition_stats(
    df: DataFrame, id_col: str, text_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The n-gram half of Gopher §A1.1's repetition filters (Rae et al.
    2021; the thresholds RefinedWeb/FineWeb/Dolma reuse): per document,
    ``top_{n}gram_char_frac`` = characters covered by the single most
    frequent word n-gram (occurrences x gram length over the normalized
    text length; Gopher filters at n=2,3,4 with caps 0.20/0.18/0.16) —
    PROVIDED the top gram occurs at least twice: a singleton n-gram is
    not repetition, and counting it makes every short document trivially
    fail the caps. NOTE this >= 2 rule is a deliberate LOCAL divergence
    from the published formulation, which counts the most frequent
    n-gram's characters even at one occurrence; the DuckDB oracle and
    :func:`repetition_filter` share the local rule, so parity holds, but
    pass/fail on very short documents can differ from other public
    reimplementations. Both fraction families are capped at 1.0
    (overlapping occurrences make the occurrence-sum bound exceed the
    text length) — and ``dup_{n}gram_char_frac`` = characters covered by
    ALL n-grams that occur more than once (n=5..10, caps 0.15 down to
    0.10). Coverage is the standard occurrence-sum upper bound
    (overlapping occurrences count each time), capped at 1.0. Documents
    with fewer than n words score 0.0 for that n; normalization is the
    shared dedup contract (lower/trim/whitespace-collapse).

    Scale shape: ZERO exchange. The gram multiset is per-document by
    definition, so no cross-row aggregation exists to distribute: per n,
    the gram array is built, ``array_sort``-ed, and folded to its
    (top, dup) char totals by a run-length ``aggregate`` — all inside
    one scan-side projection, one output row per input row, no shuffle,
    no join-back. (The previous shape exploded (doc, n, gram) rows into
    a hash aggregate — correct, but it shuffled the raw gram STRINGS,
    ~sum(n)·text bytes ≈ 50x the corpus through one exchange at 100 TB,
    violating the package's hash-the-key discipline, dedup.py:42.)
    Per-row transient memory is the same sum(n)·doc_len bound the old
    explode paid per task, now never serialized. Fold structs are staged
    one column per n so each fold evaluates once (CollapseProject keeps
    multiply-referenced non-trivial aliases staged).

    Measured trade (sf0.1, local[32]): the interpreted sort+fold costs
    ~1.5-2x the codegen'd explode+hash-aggregate in CPU — and removes
    the exchange entirely. Embarrassingly parallel CPU scales with
    executors; a 50x-corpus-bytes shuffle does not. (A hash-the-grams
    variant — xxhash64 over the word slice, long comparisons — was
    measured SLOWER than the string fold: the cost is the per-element
    interpreted evaluation, not the string compares.)"""
    ns = sorted(set(int(n) for n in (*top_ns, *dup_ns)))
    if not ns or ns[0] < 2:
        raise ValueError(f"n-gram sizes must be >= 2, got {(*top_ns, *dup_ns)}")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    staged = df.withColumn(
        "__w", F.filter(F.split(norm, " "), lambda x: x != "")
    ).withColumn("__nc", F.length(F.array_join("__w", " ")))
    wd = F.col("__w")

    def _grams(n: int):
        empty = F.array().cast("array<string>")
        return F.when(
            F.size(wd) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(wd) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(wd, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(empty)

    folded = staged.withColumns(
        {f"__f{n}": _runlen_top_dup(F.array_sort(_grams(n))) for n in ns}
    )
    frac = lambda c: F.round(  # noqa: E731
        c.cast("double") / F.greatest(F.col("__nc"), F.lit(1)).cast("double"), 6
    )
    out = folded.withColumns(
        {
            **{
                f"top_{n}gram_char_frac": F.coalesce(
                    F.least(frac(F.col(f"__f{n}")["top"]), F.lit(1.0)), F.lit(0.0)
                )
                for n in top_ns
            },
            **{
                f"dup_{n}gram_char_frac": F.coalesce(
                    F.least(frac(F.col(f"__f{n}")["dup"]), F.lit(1.0)), F.lit(0.0)
                )
                for n in dup_ns
            },
        }
    )
    return out.drop("__w", "__nc", *[f"__f{n}" for n in ns])


# Gopher §A1.1 repetitious-text removal thresholds (Rae et al. 2021,
# Table A1) — a document exceeding ANY cap is removed. The published
# numbers RefinedWeb/FineWeb reuse.
GOPHER_REP_CAPS = {
    "dup_line_ratio": 0.30,
    "dup_line_char_ratio": 0.20,
    "dup_para_ratio": 0.30,
    "dup_para_char_ratio": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def repetition_filter(
    df: DataFrame, id_col: str, text_col: str,
    caps: dict[str, float] | None = None,
) -> DataFrame:
    """The Gopher repetitious-text FILTER — the published caps applied to
    both signal families (line ratios from :func:`repetition_stats`,
    n-gram char fractions from :func:`ngram_repetition_stats`): adds
    ``repetition_pass`` (true = keep; a doc exceeding ANY cap fails).
    Null/empty documents pass — no text is no repetition evidence (the
    word-count rule in gopher_quality is the filter that drops those).
    Both of Gopher's structural units are enforced: newline-split lines
    AND blank-line-split paragraphs, each with the published
    fraction/character caps (0.30/0.20); ``caps`` overrides individual
    thresholds.

    Scale shape: the n-gram half's single tagged explode + aggregates
    (ngram_repetition_stats) plus a scan-side line-ratio projection —
    the conjunction itself is free."""
    caps = {**GOPHER_REP_CAPS, **(caps or {})}
    unknown = set(caps) - set(GOPHER_REP_CAPS)
    if unknown:
        raise ValueError(f"unknown repetition caps: {sorted(unknown)}")
    staged = ngram_repetition_stats(df, id_col, text_col)
    staged = repetition_stats(staged, text_col)
    cond = None
    for col_name, cap in caps.items():
        ok = F.coalesce(F.col(col_name), F.lit(0.0)) <= F.lit(float(cap))
        cond = ok if cond is None else (cond & ok)
    # blank docs pass outright: the line-char ratio degenerates to 1.0
    # on zero characters (1 - 0/1), and no text is no repetition
    blank = F.col(text_col).isNull() | (F.length(F.trim(F.col(text_col))) == 0)
    drop = list(GOPHER_REP_CAPS) + ["dup_word_ratio"]
    return staged.withColumn("repetition_pass", blank | cond).drop(*drop)


def gopher_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher/MassiveText quality rules as per-document flags + the overall
    gopher_pass verdict: word count in [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio (# and ellipses) <= 0.1, bullet-start
    lines <= 90%, ellipsis-end lines <= 30%, >= 80% words with an
    alphabetic char, >= 2 of the 8 Gopher stopwords. Entirely native
    Column expressions (filters run scan-side at 100 TB)."""
    c = F.col(text_col)
    staged = _with_words(df.withColumn(_L, F.split(c, "\n")), text_col)
    lines, words = F.col(_L), F.col(_W)
    n_words = F.size(words)
    n_lines = F.size(lines)
    mean_wlen = _ratio(
        F.aggregate(words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)), n_words
    )
    n_symbols = F.regexp_count(c, F.lit("#")) + F.regexp_count(c, F.lit(r"\.\.\.")) + F.regexp_count(
        c, F.lit("…")
    )
    symbol_ratio = _ratio(n_symbols, n_words)
    bullet_ratio = _ratio(
        F.size(F.filter(lines, lambda x: F.ltrim(x).rlike(r"^[-*•]"))), n_lines
    )
    ellipsis_ratio = _ratio(
        F.size(F.filter(lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$"))), n_lines
    )
    alpha_ratio = _ratio(F.size(F.filter(words, lambda w: w.rlike("[a-z]"))), n_words)
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    flags = {
        "g_word_count": (n_words >= 50) & (n_words <= 100_000),
        "g_mean_word_len": (mean_wlen >= 3.0) & (mean_wlen <= 10.0),
        "g_symbol_ratio": symbol_ratio <= 0.1,
        "g_bullet_ratio": bullet_ratio <= 0.9,
        "g_ellipsis_ratio": ellipsis_ratio <= 0.3,
        "g_alpha_ratio": alpha_ratio >= 0.8,
        "g_stopwords": n_stop >= 2,
    }
    out = staged.withColumns({k: v for k, v in flags.items()})
    overall = None
    for k in flags:
        overall = F.col(k) if overall is None else (overall & F.col(k))
    return out.withColumn("gopher_pass", overall).drop(_L, _W)


CODE_KEYWORDS = (
    "def|return|import|class|function|var|let|const|void|static|public|"
    "struct|impl|fn|printf|include|elif|endif|typedef|namespace"
)


def code_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Code-vs-prose detection signals + an ``is_code`` verdict — the
    corpus-partitioning step every mixed crawl needs before mixture
    weights (code and prose want different dedup, quality, and sampling
    treatment; The Stack / StarCoder pipelines route on exactly these
    cheap surface signals before any learned classifier). Adds:

    - ``indent_frac``: lines starting with ≥2 spaces or a tab / lines
      (block indentation — Python/YAML/most pretty-printed code);
    - ``eol_code_frac``: lines ending in ``;`` ``{`` ``}`` / lines
      (statement terminators — C/Java/JS families);
    - ``kw_hits``: standalone code-keyword occurrences (word-bounded);
    - ``sym_density``: ``{}()[];=<>`` chars per character;
    - ``is_code``: indent_frac ≥ 0.3 OR eol_code_frac ≥ 0.2 OR
      (kw_hits ≥ 3 AND sym_density ≥ 0.01) — a transparent threshold
      rule in the C4/Gopher posture (auditable, not learned).

    Entirely native Column expressions — runs scan-side at 100 TB;
    ratios round 6dp off integer counts (cross-engine exact)."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    n_chars = F.length(c)
    indent_frac = _ratio(
        F.size(F.filter(lines, lambda x: x.rlike(r"^( {2,}|\t)"))), n_lines
    )
    eol_frac = _ratio(
        F.size(F.filter(lines, lambda x: F.rtrim(x).rlike(r"[;{}]$"))), n_lines
    )
    kw = F.regexp_count(c, F.lit(rf"\b({CODE_KEYWORDS})\b"))
    sym = _ratio(F.regexp_count(c, F.lit(r"[{}()\[\];=<>]")), n_chars)
    out = df.withColumns({
        "indent_frac": indent_frac,
        "eol_code_frac": eol_frac,
        "kw_hits": kw.cast("long"),
        "sym_density": sym,
    })
    return out.withColumn(
        "is_code",
        (F.col("indent_frac") >= 0.3)
        | (F.col("eol_code_frac") >= 0.2)
        | ((F.col("kw_hits") >= 3) & (F.col("sym_density") >= 0.01)),
    )


def tokenize(df: DataFrame, text_col: str, out_col: str = "tokens") -> DataFrame:
    """Materialize the regex pre-tokenization (same TOKEN_RE as
    token_count): array of letter runs / digit runs / punctuation runs.
    Narrow map-side projection — the input stage for n-gram features or a
    downstream BPE pass."""
    return df.withColumn(
        out_col, F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 50_000,
    out_col: str = "doc_lp",
) -> DataFrame:
    """CCNet-style LM-quality signal (Wenzek et al. 2020 score documents
    with a language-model perplexity; here the model is a corpus-internal
    unigram LM, the cheap self-contained variant): per-document mean token
    surprisal -log2 p(token), add-one smoothed over the top-`vocab_size`
    vocabulary, out-of-vocabulary tokens taking the floor probability
    1/(N+V+1). Low score = stereotypical in-distribution text, high =
    rare/garbled — the usual bucket-then-sample quality axis. Adds
    `out_col` (null for token-less docs); all other columns pass through.

    Scale shape: vocabulary = one explode + hash-aggregate (map-side
    partials) + a sort-limit on the aggregated vocab table; scoring joins
    the exploded tokens to the BROADCAST vocab (corpus never shuffles for
    the lookup) and reduces per doc with an integer sum. The aggregated
    counts table is localCheckpoint-ed so its three consumers (total-count
    scalar, vocab cut, scoring join) tokenize the corpus exactly once; at
    100 TB persist/write the vocab table and reuse it across runs.

    Cross-engine determinism: per-token surprisal is converted to integer
    MICRO-UNITS (round(-log2(p)*1e6) as long) before the per-doc sum, so
    Spark's partial-aggregation order cannot drift from a serial engine
    (same contract as quality_score); N and V are driver-side scalar
    aggregates baked in as literals."""
    staged = _with_words(df, text_col)
    tok = staged.select(F.col(id_col).alias("__id"), F.explode(F.col(_W)).alias("token")).filter(
        F.col("token") != ""
    )
    # the two tiny driver scalars — total tokens (incl. what the cut
    # drops) and the kept-vocab size (min(vocab_size, distinct tokens),
    # may be < vocab_size on small corpora) — ride the counts
    # checkpoint's own job via observe(), not two more scalar jobs
    counts, got = eager_checkpoint_observed(
        tok.groupBy("token").agg(F.count("*").cast("long").alias("c")),
        F.coalesce(F.sum("c"), F.lit(0)).alias("t"),
        F.count(F.lit(1)).alias("k"),
    )
    n_total = got["t"]
    vocab = counts.orderBy(F.col("c").desc(), F.col("token").asc()).limit(vocab_size)
    v_kept = min(int(vocab_size), got["k"])
    denom = float(n_total + v_kept + 1)
    surp = F.round(
        -F.log2((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double") / F.lit(denom))
        * F.lit(1e6)
    ).cast("long")
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .select("__id", surp.alias("__s"))
        .groupBy("__id")
        .agg(F.sum("__s").alias("__sum"), F.count("*").alias("__n"))
        .withColumn(
            out_col,
            F.round(
                F.col("__sum").cast("double") / (F.col("__n").cast("double") * F.lit(1e6)), 6
            ),
        )
        .select("__id", out_col)
    )
    return (
        df.join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
    )


def vocabulary(df: DataFrame, text_col: str, k: int = 1000) -> DataFrame:
    """Corpus-level vocabulary: top-k tokens by total term frequency, with
    document frequency and rank (ties broken lexically). The canonical
    pretraining vocab/stop-list builder.

    Scale shape: explode → one hash-aggregate shuffle keyed on the token
    (map-side partials collapse each partition's counts first, so the
    shuffle carries at most |vocab| rows per partition, not |tokens|);
    the top-k is a distributed TakeOrdered (each partition keeps its
    local top-k, the driver merges P·k rows) — NEVER a global rank
    window: a 100 TB web corpus's raw token vocabulary (typos, URLs,
    hashes) runs 10^8-10^9 distinct rows, and a
    ``Window.orderBy(tf desc)`` would funnel all of them through ONE
    task to rank. The rank column is re-derived from the k survivors
    (posexplode of one sorted k-array — the _topk_reduce finish),
    bounded by k, never by vocabulary size."""
    staged = _with_words(df, text_col)
    tok = (
        staged.select(F.explode(F.col(_W)).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = tok.groupBy("token").agg(F.count("*").cast("long").alias("tf"))
    docs = (
        staged.select(F.explode(F.array_distinct(F.col(_W))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    top = (
        counts.join(docs, "token")
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(int(k))
    )
    # rank over the k survivors only: collect the (<= k)-row result into
    # ONE sorted array and posexplode — same ordering contract as the
    # old row_number (tf desc, token asc), expressed as an ascending
    # struct sort on (-tf, token)
    item = F.struct(
        (-F.col("tf")).alias("ntf"),
        F.col("token").alias("token"),
        F.col("df").alias("df"),
    )
    return (
        top.agg(F.array_sort(F.collect_list(item)).alias("__tk"))
        .select(F.posexplode("__tk").alias("__pos", "__it"))
        .select(
            F.col("__it.token").alias("token"),
            (-F.col("__it.ntf")).cast("long").alias("tf"),
            F.col("__it.df").alias("df"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
        )
    )


def bm25_scores(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against every query
    (Robertson et al.; the Lucene-style non-negative idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5))). Returns (query_id, id, bm25) for
    every (query, doc) pair with at least one matching term — the
    retrieval primitive behind search-based decontamination, RAG corpus
    audits, and relevance-filtered selection.

    Scale shape: the query term set is exploded, distinct-ed and
    BROADCAST (query workloads are tiny next to a 100 TB corpus); the
    corpus-side plan is token explode → broadcast semi-join on the term →
    per (doc, term) tf count → broadcast joins to the per-term df table
    and the 1-row (N, avgdl) aggregate — the only wide shuffles are
    count-shaped hash aggregations with map-side partials. Per-term
    contributions are integerized to micro-units (round(·×1e6) as long)
    BEFORE the per-doc sum, the repo-wide cross-engine determinism
    contract, so Spark's parallel sum order cannot drift from the serial
    DuckDB oracle.

    Doc length uses the whitespace token count of the normalized text
    (the same tokenization that produces the terms, so dl = Σ tf)."""
    k1 = float(k1)
    b = float(b)
    docs_w = _with_words(df, text_col).select(
        F.col(id_col).alias("__id"),
        F.col(_W).alias("__w"),
        F.size(F.col(_W)).cast("long").alias("dl"),
    )
    stats = docs_w.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    terms = (
        _with_words(queries, query_text_col)
        .select(F.col(query_id_col).alias("__qid"), F.explode(F.col(_W)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    term_set = terms.select("term").distinct()
    # dl rides the token rows so scoring needs NO join back to the corpus
    # (an equi-join against a per-doc dl table would shuffle the corpus
    # a second time); explode_outer per the repo-wide
    # InferFiltersFromGenerate discipline
    tok = docs_w.select("__id", "dl", F.explode_outer("__w").alias("term")).filter(
        F.col("term").isNotNull() & (F.col("term") != "")
    )
    # tf only for query terms (broadcast semi-join keeps the corpus narrow)
    tf = (
        tok.join(F.broadcast(term_set), "term")
        .groupBy("__id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = F.round(
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        * F.lit(1e6)
    ).cast("long")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("__id", "term", contrib.alias("__c"))
        .join(F.broadcast(terms), "term")
        .groupBy("__qid", "__id")
        .agg(F.sum("__c").alias("__s"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__id").alias(id_col),
            F.round(F.col("__s").cast("double") / F.lit(1e6), 6).alias("bm25"),
        )
    )
    return scored


def langid_multi(
    df: DataFrame, text_col: str, out_col: str = "lang_pred", min_ratio: float = 0.05,
    cjk_ratio: float = 0.3,
) -> DataFrame:
    """Multi-language LID: density of each language's function words
    (constants.LANG_STOPWORDS: en/es/fr/de/it/pt/nl/sv/pl/id), argmax
    wins (ties to the lexically-smaller code), 'unknown' below
    ``min_ratio`` — plus a
    SCRIPT branch for zh: stopword profiles are a Latin-alphabet
    instrument and see CJK text as zero-density noise, so a document
    whose non-whitespace characters are ≥ ``cjk_ratio`` CJK classifies
    as 'zh' with the CJK fraction as its score (ideograph presence IS
    the function-word signal for unsegmented scripts). Adds ``out_col``
    and lang_score. The cheap-LID baseline — a real pipeline swaps in
    fastText via the same column contract, but this one is
    deterministic, dependency-free and SQL-oracle-able.

    Scale shape: per-row array filters against 10 broadcast-literal word
    lists + one codepoint-class regexp count — scan-side, zero shuffle,
    whole-stage codegen. The argmax is the repo's struct-sort idiom
    (array_sort over (-density, code) structs), never a window."""
    from wrangler_spark.datapipe.constants import LANG_STOPWORDS, SCRIPT_RANGES

    staged = _with_words(df, text_col)
    words = F.col(_W)
    n = F.greatest(F.size(words), F.lit(1)).cast("double")
    def matcher(sw):
        # factory, not a default-arg lambda: pyspark reads the lambda's
        # arity, so `lambda w, s=sw` would register as the 2-arg
        # (element, index) form (same pitfall as minhash_signature.mh)
        return lambda w: F.array_contains(sw, w)

    items = []
    for lang in sorted(LANG_STOPWORDS):
        swarr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        r = F.round(F.size(F.filter(words, matcher(swarr))).cast("double") / n, 6)
        items.append(F.struct((-r).alias("nr"), F.lit(lang).alias("l")))
    best = F.array_sort(F.array(*items)).getItem(0)
    score = F.round(-best["nr"], 6)
    c = F.col(text_col)
    denom = F.greatest(
        F.length(F.regexp_replace(c, r"\s", "")), F.lit(1)
    ).cast("double")
    # non-Latin scripts, checked in fixed order (dominant script wins
    # first): the script itself is the language signal for scripts the
    # Latin stopword profiles cannot see. cyrillic→ru / greek→el /
    # arabic→ar are the standard cheap-LID approximations (documented
    # coarseness: all Cyrillic-script languages tag ru at this tier).
    pred, final_score = None, None
    for script, code in (("cjk", "zh"), ("arabic", "ar"), ("cyrillic", "ru"), ("greek", "el")):
        cls = "[" + "".join(
            f"\\u{lo:04X}-\\u{hi:04X}" for lo, hi in SCRIPT_RANGES[script]
        ) + "]"
        frac = F.round(F.regexp_count(c, F.lit(cls)).cast("double") / denom, 6)
        hit = frac >= F.lit(float(cjk_ratio))
        if pred is None:
            pred = F.when(hit, F.lit(code))
            final_score = F.when(hit, frac)
        else:
            pred = pred.when(hit, F.lit(code))
            final_score = final_score.when(hit, frac)
    pred = pred.otherwise(
        F.when(score >= F.lit(float(min_ratio)), best["l"]).otherwise(F.lit("unknown"))
    )
    final_score = final_score.otherwise(score)
    return (
        staged.withColumn(out_col, pred)
        .withColumn("lang_score", final_score)
        .drop(_W)
    )


def script_ratios(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document Unicode script composition: for each script in
    constants.SCRIPT_RANGES (latin/cyrillic/greek/arabic/cjk/digit) adds
    ``script_<name>`` = fraction of the document's non-whitespace
    characters in that script's codepoint ranges, plus
    ``script_other`` = the unaccounted remainder. The standard
    mixed-script / wrong-script filter signal for multilingual corpora
    (and the cheap companion to langid_multi, which only sees function
    words).

    Scale shape: one regexp_count per script over the raw text —
    scan-side, zero shuffle, codegen; ratios are integer/integer rounded
    once (cross-engine deterministic)."""
    from wrangler_spark.datapipe.constants import SCRIPT_RANGES

    c = F.col(text_col)
    denom = F.greatest(
        F.length(F.regexp_replace(c, r"\s", "")), F.lit(1)
    ).cast("double")
    out = df
    accounted = None
    for name in sorted(SCRIPT_RANGES):
        cls = "[" + "".join(
            f"\\u{lo:04X}-\\u{hi:04X}" for lo, hi in SCRIPT_RANGES[name]
        ) + "]"
        n = F.regexp_count(c, F.lit(cls))
        out = out.withColumn(f"script_{name}", F.round(n.cast("double") / denom, 6))
        accounted = n if accounted is None else accounted + n
    return out.withColumn(
        "script_other",
        F.round(
            (F.length(F.regexp_replace(c, r"\s", "")) - accounted).cast("double") / denom, 6
        ),
    )


# terminal punctuation accepted by the C4 line rule (Raffel et al. 2020:
# "a period, exclamation mark, question mark, or end quotation mark") —
# ASCII-only so the Java and RE2 regex dialects read it identically
C4_TERMINAL_RE = r"""[.!?"']$"""


def c4_quality(
    df: DataFrame,
    text_col: str,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4-style line/document quality filtering (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning..." — the cleaning rules
    behind the C4 corpus, cf. also the public TensorFlow-Datasets
    c4_utils): keep only lines that end in terminal punctuation, have at
    least ``min_words_per_line`` words, and do not contain 'javascript';
    flag documents containing 'lorem ipsum' or a curly brace (code), or
    whose cleaned text has fewer than ``min_sentences`` sentences. Adds
    (text_clean, n_lines, n_kept_lines, has_lorem, has_brace,
    n_sentences, c4_pass); all input columns pass through — the caller
    decides between filtering on c4_pass and training on text_clean.

    The word-blocklist rule of the paper needs the external "bad words"
    list — compose with source_filter / a register_lookup table for
    that; it is a data file, not an operator.

    Scale shape: one split + bounded array filter + a few regexp_counts
    per row — scan-side, zero shuffle, whole-stage codegen (the same
    plan family as gopher_quality)."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    keep_line = lambda l: (  # noqa: E731
        F.rtrim(l).rlike(C4_TERMINAL_RE)
        & (F.regexp_count(l, F.lit(r"\S+")) >= min_words_per_line)
        & ~F.lower(l).contains("javascript")
    )
    staged = df.withColumn("__kept", F.filter(lines, keep_line))
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_brace = c.contains("{")
    text_clean = F.concat_ws("\n", F.col("__kept"))
    n_sent = F.regexp_count(text_clean, F.lit(r"[.!?]"))
    return (
        staged.withColumn("text_clean", text_clean)
        .withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", F.size("__kept").cast("long"))
        .withColumn("has_lorem", has_lorem)
        .withColumn("has_brace", has_brace)
        .withColumn("n_sentences", n_sent.cast("long"))
        .withColumn(
            "c4_pass",
            ~has_lorem & ~has_brace & (n_sent >= min_sentences),
        )
        .drop("__kept")
    )


def perplexity_buckets(
    df: DataFrame,
    lp_col: str,
    by_col: str | None = None,
    out_col: str = "lp_bucket",
    fractions: tuple[float, float] = (1 / 3, 2 / 3),
    approx: bool = False,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): split the
    corpus into three quality tiers by LM score tertiles — per
    ``by_col`` group (typically the language) when given, else global.
    Low score = in-distribution = 'head' (the tier CCNet keeps first).
    Compose downstream with sample_stratified over the bucket column.
    Null scores (token-less docs) get a null bucket.

    Determinism/scale trade, explicit: the default computes EXACT
    tertile boundaries (Spark's `percentile`, linearly interpolated —
    the same type-7 quantile DuckDB's quantile_cont computes, so the
    oracle matches) — exact percentile buffers each group's values on
    its reducer, fine up to ~1e8 docs per language group. At full
    100 TB scale pass ``approx=True`` (percentile_approx, bounded
    sketch state, same plan otherwise) — the boundaries then drift by
    sketch error, which a sampling tier can tolerate but an oracle
    diff cannot, hence exact as the default. Boundaries are a per-group
    TWO-DOUBLE table: broadcast-joined back, corpus scans once, one
    grouped aggregate total."""
    f1, f2 = float(fractions[0]), float(fractions[1])
    # the input frame feeds TWO plan branches (the boundary aggregate and
    # the output join); left lazy, both branches re-derive the whole
    # upstream — for the canonical unigram_logprob composition that means
    # tokenizing and scoring the corpus twice (measured 0.67 s -> 0.28 s
    # at sf0.1; at 100 TB it is a second full corpus pass). The lazy
    # localCheckpoint materializes the scores once, shared by both
    # consumers (the repo's multi-consumer idiom; lazy, not eager, so no
    # extra blocking job at call time — the first action computes it).
    df = eager_checkpoint(df, eager=False)
    lp = F.col(lp_col)
    pct = F.percentile_approx(lp, [f1, f2], 10_000) if approx else F.percentile(lp, [f1, f2])
    bounds = F.round(pct.getItem(0), 6).alias("__b1"), F.round(pct.getItem(1), 6).alias("__b2")
    if by_col is None:
        b = df.agg(*bounds)
        joined = df.crossJoin(F.broadcast(b))
    else:
        b = df.groupBy(F.col(by_col).alias("__byk")).agg(*bounds)
        joined = df.join(
            F.broadcast(b), F.col(by_col).eqNullSafe(F.col("__byk")), "left"
        ).drop("__byk")
    bucket = (
        F.when(lp.isNull(), F.lit(None).cast("string"))
        .when(lp <= F.col("__b1"), F.lit("head"))
        .when(lp <= F.col("__b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return joined.withColumn(out_col, bucket).drop("__b1", "__b2")


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 50_000,
    lam: float = 0.7,
    out_col: str = "doc_lp2",
) -> DataFrame:
    """Interpolated bigram LM quality score — the step from
    unigram_logprob toward CCNet's KenLM n-gram scorer (Wenzek et al.
    2020; Jelinek-Mercer interpolation): per-token surprisal
    −log2(λ·p_bi + (1−λ)·p_uni), averaged per document, where
    p_bi(w|w₁) = c(w₁,w)/c(w₁) (MLE with the standard unigram-count
    denominator) and p_uni is the add-one top-``vocab_size`` unigram of
    unigram_logprob (same N+V+1 smoothing, same OOV floor). A document's
    first token has no predecessor and scores pure unigram. Low score =
    fluent in-distribution text; captures word-ORDER garbling that a
    unigram model cannot (shuffled text scores ~unchanged under unigram,
    sharply worse here). Adds ``out_col`` (null for token-less docs).

    Scale shape: the (prev, cur) pair stream is built SCAN-SIDE from the
    token array (no window/lag — a transform over positions), exploded
    once and eagerly checkpointed (three consumers: unigram counts,
    bigram counts, scoring — the ngram-inv fan-out discipline). The
    unigram vocab broadcasts; the bigram table does NOT (it grows with
    the corpus) — scoring joins it on the (prev, cur) hash key, one
    bounded shuffle each side. Per-token surprisal is micro-unit
    integerized before the per-doc sum (the cross-engine contract);
    N and V are scalar aggregates over the checkpointed counts."""
    L = float(lam)
    staged = _with_words(df, text_col)
    # stage the filtered token array as its own projection FIRST (no CSE
    # inside HOF lambdas — the pair transform references it 3x per
    # element), then build pairs over the staged column reference
    base = staged.select(
        F.col(id_col).alias("__id"),
        F.filter(F.col(_W), lambda x: x != "").alias("__wl"),
    )
    wl = F.col("__wl")
    # the size guard matters: F.sequence(1, 0) generates DESCENDING
    # [1, 0] (not empty), and element_at(wl, 0) is an error/null — an
    # empty token array must yield an empty pair array
    pairs = F.when(
        F.size(wl) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(wl)),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(wl, i - 1)).alias("prev"),
                F.element_at(wl, i).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    # explode_outer + null-filter + eager checkpoint idiom (three
    # consumers re-derive the explode otherwise)
    toks = eager_checkpoint(
        base.select("__id", F.explode_outer(pairs).alias("p"))
        .filter(F.col("p.cur").isNotNull())
        .select("__id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    # total-token and kept-vocab scalars ride the unigram checkpoint's
    # own job (observe) — same two values, two fewer scalar jobs
    uni, got = eager_checkpoint_observed(
        toks.groupBy("cur").agg(F.count(F.lit(1)).cast("long").alias("c")),
        F.coalesce(F.sum("c"), F.lit(0)).alias("t"),
        F.count(F.lit(1)).alias("k"),
    )
    n_total = got["t"]
    vocab = uni.orderBy(F.col("c").desc(), F.col("cur").asc()).limit(int(vocab_size))
    v_kept = min(int(vocab_size), got["k"])
    denom = float(n_total + v_kept + 1)
    bi = (
        toks.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .join(uni.select(F.col("cur").alias("prev"), F.col("c").alias("c1")), "prev")
    )
    scored = (
        toks.join(F.broadcast(vocab.withColumnRenamed("c", "cv")), "cur", "left")
        .join(bi, ["prev", "cur"], "left")
    )
    p_uni = (F.coalesce(F.col("cv"), F.lit(0)) + F.lit(1)).cast("double") / F.lit(denom)
    p_bi = F.coalesce(
        F.col("c12").cast("double") / F.col("c1").cast("double"), F.lit(0.0)
    )
    interp = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(L) * p_bi + F.lit(1.0 - L) * p_uni
    )
    s = F.round(-F.log2(interp) * F.lit(1e6)).cast("long")
    per_doc = (
        scored.select("__id", s.alias("__s"))
        .groupBy("__id")
        .agg(F.sum("__s").alias("__sum"), F.count(F.lit(1)).alias("__n"))
        .select(
            "__id",
            F.round(
                F.col("__sum").cast("double") / (F.col("__n").cast("double") * F.lit(1e6)), 6
            ).alias(out_col),
        )
    )
    return df.join(per_doc, F.col(id_col) == F.col("__id"), "left").drop("__id")

def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS scheme): hash every ``k``-word gram, slide a window
    of ``w`` consecutive hashes, select each window's RIGHTMOST minimum,
    de-duplicate the selections. Guarantees: any shared run of at least
    w+k-1 words between two documents shares at least one selected
    fingerprint, while only ~2/(w+1) of the gram hashes are kept — the
    published local, position-robust alternative to fixed-stride
    fingerprints for partial-overlap detection (shared paragraphs between
    docs that are NOT near-dups as wholes).

    Returns exploded (id, pos, fp) rows — pos is the 1-based gram
    position, fp the shared 28-bit md5 hash, so fingerprints equi-join
    across documents (the overlap-detection join is fp-to-fp, exactly
    like the substring-dedup inverted index).

    Plan-shape note (the load-bearing part): the words → gram-hashes →
    window-selection chain is built as NESTED LAMBDA BINDINGS —
    ``transform(array(expr), x -> ...)`` wraps each intermediate array so
    downstream references read the bound lambda variable ``x``, which is
    MATERIALIZED ONCE per row. Staging these as separate projections
    instead lets CollapseProject inline the split/regex/md5 chain into
    every element_at of the window fold (confirmed by thread dump:
    RegExpReplace re-evaluated inside the innermost lambda — minutes on a
    two-row frame). Zero shuffle; the rightmost-minimum is a left fold
    with <= so later equal hashes win, per the paper's tie rule."""
    from wrangler_spark.datapipe.dedup import _hash28

    def gram_hashes(wd):
        n = F.size(wd)
        return F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: _hash28(
                F.concat_ws(" ", *[F.element_at(wd, i + j) for j in range(k)])
            ),
        )

    def selection(hs):
        ng = F.size(hs)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), ng - (w - 1)),
                lambda i: F.aggregate(
                    F.sequence(i, i + (w - 1)),
                    F.struct(
                        F.lit(None).cast("long").alias("v"), F.lit(0).cast("int").alias("p")
                    ),
                    lambda acc, j: F.when(
                        acc["v"].isNull() | (F.element_at(hs, j) <= acc["v"]),
                        F.struct(F.element_at(hs, j).alias("v"), j.cast("int").alias("p")),
                    ).otherwise(acc),
                ),
            )
        )

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = F.split(norm, " ")
    sel = F.element_at(
        F.transform(
            F.array(words),
            lambda wd: F.when(
                F.size(wd) >= k + w - 1,
                F.element_at(
                    F.transform(F.array(gram_hashes(wd)), selection), 1
                ),
            ),
        ),
        1,
    )
    picked = df.select(F.col(id_col), sel.alias("__sel"))
    return picked.select(F.col(id_col), F.explode("__sel").alias("__s")).select(
        F.col(id_col), F.col("__s.p").alias("pos"), F.col("__s.v").alias("fp")
    )


def winnow_overlap(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4,
    min_shared: int = 2, max_fp_df: int | None = 1000,
    max_pairs_per_doc: int | None = None,
    fp_sample_mod: int | None = None,
) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints:
    (id_a, id_b, shared_fps) for documents sharing at least ``min_shared``
    selected fingerprints — detects COPIED PASSAGES between documents that
    are not near-dups as wholes (the MOSS use case: one plagiarized
    paragraph inside otherwise-distinct docs), which whole-document
    Jaccard/MinHash structurally miss.

    Scale shape: the winnow selection is scan-side (zero shuffle); pairs
    come from an inverted-index equi-join on the fingerprint value —
    identical shape to the substring-dedup index. ``max_fp_df`` drops
    fingerprints appearing in more than that many documents (ubiquitous
    boilerplate — the k²-join-row scale-killer, same argument as the
    ngram stop-gram cap); matching spans that common carry no
    plagiarism signal anyway. ``max_pairs_per_doc`` applies
    dedup.cap_pairs_per_doc to the qualifying pairs (keep each doc's
    most-shared partners) — the 100 TB posture when the pair set
    itself is the scale bound.

    ``fp_sample_mod`` is the pre-score budget this op CAN take (the
    r12 budget family's shape, adapted): candidate pairs are found on
    the deterministic 1/mod fingerprint subset ``fp % mod == 0``
    (threshold scaled to ``max(1, min_shared // mod)``), then ONLY the
    survivors pay an exact shared-count verification against the full
    fingerprint frame — the self-join's expansion shrinks ~mod^2 per
    hot fingerprint while every emitted pair still carries its EXACT
    shared_fps. Quantified recall cost (binomial): a pair with S
    truly-shared fps is missed with probability ~C(S,<thr) at keep
    rate 1/mod — at mod=2, min_shared=2 that is 0.25^1... measure it
    with dedup.pair_eval on your corpus; pairs at the min_shared floor
    bear the loss, heavy-overlap pairs (the MOSS signal) survive.
    Default None = exact. Without the budget: ``max_fp_df`` bounds the
    join expansion and ``max_pairs_per_doc`` bounds the output."""
    # the (id, fp) frame feeds FOUR consumers (the hot-fp aggregate, the
    # cap join-back, and both sides of the self-join) and contains a
    # shuffle (.distinct()) — the repo's checkpoint-when-shared-branch-
    # shuffles rule applies (r7 measured plan without it: 4 FileScans,
    # 7 Exchanges, 0 ReusedExchange — the deep winnow selection scan
    # re-executed per consumer)
    # r14: the row count rides the checkpoint job and gates broadcast
    # hints on the joins below — a checkpointed frame has no size stats,
    # so auto-broadcast can never fire on it (dedup._gated_broadcast);
    # (id, fp) rows are two longs, ~48 B each with row overhead
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint_observed
    from wrangler_spark.datapipe.dedup import _gated_broadcast

    fps, got = eager_checkpoint_observed(
        winnow_fingerprints(df, id_col, text_col, k, w).select(
            F.col(id_col).alias("id"), "fp"
        ).distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    fps_est = 48 * (got["n"] or 0)
    if max_fp_df is not None:
        # (id, fp) unique by the .distinct() the checkpoint materialized —
        # count(*) == countDistinct(id) without the second exchange of
        # the (fp, id) stream (r13 batch 17, the gram-family gdf change)
        hot = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        kept = fps.join(hot.filter(F.col("__df") <= int(max_fp_df)).select("fp"), "fp")
        # r13: the FILTERED frame is what the self-join branches (and,
        # in budget mode, the sub/fa/fb trio) consume — left lazy, the
        # hot-df aggregate + join re-ran once per branch (2 countDistinct
        # spans in plans/r13/text_winnow_overlap_before2.txt). Checkpoint
        # it, release the superseded raw checkpoint.
        prev = fps
        fps = eager_checkpoint(kept)
        release(prev)
    if fp_sample_mod is not None:
        if fp_sample_mod < 2:
            raise ValueError(
                f"fp_sample_mod must be >= 2, got {fp_sample_mod}")
        # phase 1 — candidates on the 1/mod fingerprint subset (the
        # md5-derived fp is uniform over residues, so the subset is a
        # deterministic random sample shared with the oracle)
        thr = max(1, int(min_shared) // int(fp_sample_mod))
        sub = fps.filter(
            F.pmod(F.col("fp"), F.lit(int(fp_sample_mod))) == 0)
        sl, sr = sub.alias("l"), sub.alias("r")
        cand = (
            sl.join(_gated_broadcast(sr, fps_est),
                    (F.col("l.fp") == F.col("r.fp"))
                    & (F.col("l.id") < F.col("r.id")))
            .groupBy(F.col("l.id").alias("id_a"),
                     F.col("r.id").alias("id_b"))
            .agg(F.count("*").alias("__s"))
            .filter(F.col("__s") >= thr)
            .select("id_a", "id_b")
        )
        # phase 2 — EXACT shared count, survivors only: expand each
        # candidate by doc A's full fingerprints, equi-join on
        # (id_b, fp) — candidate-bounded work, distributed keys
        fa = _gated_broadcast(fps.select(F.col("id").alias("id_a"), "fp"), fps_est)
        fb = _gated_broadcast(fps.select(F.col("id").alias("id_b"), "fp"), fps_est)
        out = (
            cand.join(fa, "id_a")
            .join(fb, ["id_b", "fp"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared_fps"))
            .filter(F.col("shared_fps") >= int(min_shared))
        )
    else:
        l, r = fps.alias("l"), _gated_broadcast(fps.alias("r"), fps_est)
        out = (
            l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.id") < F.col("r.id")))
            .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .agg(F.count("*").alias("shared_fps"))
            .filter(F.col("shared_fps") >= int(min_shared))
        )
    if max_pairs_per_doc is not None:
        from wrangler_spark.datapipe.dedup import cap_pairs_per_doc

        out = cap_pairs_per_doc(out, max_pairs_per_doc, "shared_fps")
    return out


def bm25_topk(
    df: DataFrame, queries: DataFrame, id_col: str, text_col: str, k: int = 10,
    query_id_col: str = "query_id", query_text_col: str = "query",
    k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """Rank-shaped BM25: the top-k (query_id, vec_id, bm25, rank) per
    query — the frame rrf_fuse consumes, so lexical retrieval fuses with
    vector ANN in one line. Ranking reuses the ANN family's two-phase
    no-Window top-k (bm25 desc, ties → smaller id)."""
    from wrangler_spark.datapipe.similarity import _topk_reduce

    scored = bm25_scores(
        df, queries, id_col, text_col, query_id_col, query_text_col, k1, b
    ).select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.col("bm25").alias("cosine"),
    )
    return _topk_reduce(scored, k).withColumnRenamed("cosine", "bm25")


def readability(
    df: DataFrame, text_col: str,
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade level (Kincaid et
    al. 1975) — the classic readability pair, a standard curation signal
    (too-low grade = fragment soup, absurdly high = OCR garbage or
    legalese). Adds n_sentences, n_words_fk, n_syllables, flesch_ease,
    fk_grade (6dp).

    Syllables use the deterministic vowel-GROUP heuristic (runs of
    aeiouy count once, minimum 1 per word) — not dictionary-true, but
    identical in both engines and monotone with real syllable counts,
    which is all a corpus-level filter needs. Scan-side expressions,
    zero shuffle."""
    c = F.col(text_col)
    sentences = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1)).cast("double")
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    words_arr = F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)
    n_words = F.greatest(F.size(words_arr), F.lit(1)).cast("double")
    syl = F.aggregate(
        words_arr,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)).cast("long"),
    )
    ease = F.round(
        F.lit(206.835) - F.lit(1.015) * (n_words / sentences)
        - F.lit(84.6) * (syl.cast("double") / n_words),
        6,
    )
    grade = F.round(
        F.lit(0.39) * (n_words / sentences)
        + F.lit(11.8) * (syl.cast("double") / n_words) - F.lit(15.59),
        6,
    )
    return (
        df.withColumn("n_sentences", sentences.cast("long"))
        .withColumn("n_words_fk", n_words.cast("long"))
        .withColumn("n_syllables", syl)
        .withColumn("flesch_ease", F.when(c.isNotNull(), ease))
        .withColumn("fk_grade", F.when(c.isNotNull(), grade))
    )


def char_entropy(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "char_entropy",
) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution — the cheap degenerate-text detector: keyboard mash,
    repeated padding, and single-char runs score near 0, natural English
    prose ~4.0-4.5, uniform random noise → log2(alphabet). The standard
    pre-filter before heavier quality models (a corpus-scale histogram
    of this column finds encoding disasters in one pass). Adds
    ``out_col`` (6dp); null/empty text → null (no distribution).

    Cross-engine determinism (the repo's integer contract): entropy is
    computed as log2(N) − (Σ_ch c·log2(c)·1e6 rounded to long) / (N·1e6)
    — each per-character term integerizes BEFORE the per-doc sum, so
    engine aggregation order cannot drift the 6dp rounding.

    Scale shape: one explode to (id, char) rows, one hash aggregate on
    (id, char), one on id — two bounded shuffles whose width is the
    alphabet per doc, never quadratic; the final left join is on the
    corpus' own id key."""
    chars = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(F.split(F.col(text_col), "")).alias("__ch"),
    ).filter(F.length("__ch") > 0)
    counts = chars.groupBy("__id", "__ch").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ent = (
        counts.groupBy("__id")
        .agg(
            F.sum("c").alias("__n"),
            F.sum(
                F.round(F.col("c").cast("double") * F.log2("c") * F.lit(1e6)).cast("long")
            ).alias("__s"),
        )
        .select(
            "__id",
            F.round(
                F.log2("__n")
                - F.col("__s").cast("double") / (F.col("__n").cast("double") * F.lit(1e6)),
                6,
            ).alias(out_col),
        )
    )
    return df.join(ent, F.col(id_col) == F.col("__id"), "left").drop("__id")


def top_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 20,
) -> DataFrame:
    """Corpus-level n-gram heavy hitters: the ``k`` most frequent word
    n-grams with occurrence and document counts — the boilerplate
    DISCOVERY step (cookie banners, nav bars, license headers show up
    as top trigrams long before any dedup pass), and the input a human
    reviews before writing keyword_tag / template_dedup rules. Returns
    (ngram, n_occurrences, n_docs) ordered by count desc with the gram
    text as the deterministic tiebreak.

    Scale shape: gram construction is scan-side (the same nested
    lambda-binding idiom as winnow_fingerprints — the split/normalize
    chain materializes once per row and can never be inlined into the
    per-gram lambda), one hash aggregate on the gram, then a
    distributed sort-limit (TakeOrdered: each partition keeps its local
    top-k, the driver merges P·k rows — never a global sort of the gram
    table). Normalization is the shared dedup contract
    (lower/trim/whitespace-collapse)."""
    nn = int(n)
    if nn < 1:
        raise ValueError("n must be >= 1")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = F.split(norm, " ")
    grams = F.element_at(
        F.transform(
            F.array(words),
            lambda wd: F.when(
                F.size(wd) >= nn,
                F.transform(
                    F.sequence(F.lit(1), F.size(wd) - (nn - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(wd, i + j) for j in range(nn)]
                    ),
                ),
            ),
        ),
        1,
    )
    exploded = (
        df.select(F.col(id_col).alias("__id"), F.explode_outer(grams).alias("ngram"))
        .filter(F.col("ngram").isNotNull() & (F.col("ngram") != ""))
    )
    counts = exploded.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("__id").cast("long").alias("n_docs"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("ngram").asc()
    ).limit(int(k))



def unicode_normalize(
    df: DataFrame, col: str, form: str = "NFC", out_col: str | None = None
) -> DataFrame:
    """Unicode normalization (NFC / NFKC / NFD / NFKD) — the
    canonicalization every multilingual dedup pipeline runs BEFORE
    hashing: é as U+00E9 and as e + COMBINING ACUTE are the same text
    but different bytes, so they md5/MinHash apart and survive dedup.
    NFKC additionally folds compatibility forms (ﬁ → fi, ① → 1,
    fullwidth → ASCII) — the aggressive pre-dedup choice.

    Spark has no built-in normalizer, so this is the sanctioned Arrow
    path: one vectorized pandas UDF over stdlib unicodedata (C-speed
    per string), scan-side, zero shuffle — the same contract as the
    multimodal decoders. Nulls pass through. NFC output is
    cross-checked against DuckDB's nfc_normalize in the oracle."""
    import unicodedata

    from wrangler_spark.udfs import value_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    norm_udf = value_udf(lambda t: unicodedata.normalize(form, t), "string")
    return df.withColumn(out_col or col, norm_udf(F.col(col)))


def compression_ratio(
    df: DataFrame, col: str, out_col: str = "compress_ratio", level: int = 6
) -> DataFrame:
    """zlib compression ratio (compressed bytes / raw UTF-8 bytes) — the
    classic two-sided quality signal: boilerplate/repetition compresses
    far below normal prose (ratio << typical), while random gibberish /
    base64 / binary noise barely compresses (ratio ≈ 1). Filter both
    tails. Deterministic for a fixed zlib level, so thresholds derived
    at sf0.01 hold at 100 TB.

    Sanctioned Arrow path (stdlib zlib is C-speed per string; no SQL
    engine exposes a compression scalar, so this op is rows-only —
    properties are unit-tested instead). Null → null, empty → 1.0.
    Scan-side, zero shuffle."""
    import zlib

    from wrangler_spark.udfs import value_udf

    def ratio(t):
        raw = t.encode("utf-8")
        if not raw:
            return 1.0
        return round(len(zlib.compress(raw, level)) / len(raw), 6)

    return df.withColumn(out_col, value_udf(ratio, "double")(F.col(col)))


def hash_embedding(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64,
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic dense text embedding WITHOUT a model: component d
    is Σ over the doc's distinct normalized tokens of ±1, the sign
    drawn from a 28-bit md5 hash of (token, d) — feature hashing with
    sign hashing (Weinberger et al. ICML'09), the dense generalization
    of SimHash (Charikar STOC'02). L2-normalized, so cosine between two
    embeddings estimates token-set overlap — which means the ENTIRE
    vector stack (cosine_topk, IVF/PQ indexes, SemDeDup,
    embedding_outliers, embedding_project) runs on raw text with zero
    external models. Zero-token docs get a NULL embedding (the family's
    null contract: never ranked above a real vector).

    Scale shape: scan-side nested HOF (outer transform over dims, inner
    aggregate over tokens) — zero shuffle; cost is dim × tokens md5
    calls per doc, so keep dim modest (32–64) — this is the cheap
    lexical-similarity embedding, not a semantic encoder. 6dp rounding
    on the normalized components is the cross-engine contract (integer
    ±1 sums and IEEE sqrt are exact; only the divide is rounded)."""
    from wrangler_spark.datapipe.dedup import _hash28

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")  # sequence(0,-1) descends
    toks = F.array_remove(
        F.array_distinct(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
        ),
        "",
    )
    staged = df.select(F.col(id_col), toks.alias("__t"))

    def sign(t: Column, d: Column) -> Column:
        h = _hash28(F.concat_ws("#", t, d.cast("string")))
        return (F.pmod(h, F.lit(2)) * 2 - 1).cast("double")

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(int(dim) - 1)),
        lambda d: F.aggregate(F.col("__t"), F.lit(0.0), lambda acc, t: acc + sign(t, d)),
    )
    staged = staged.withColumn("__v", vec).withColumn(
        "__nrm", F.sqrt(F.aggregate(F.col("__v"), F.lit(0.0), lambda s, x: s + x * x))
    )
    out = F.when(
        F.col("__nrm") > 0,
        F.transform(F.col("__v"), lambda x: F.round(x / F.col("__nrm"), 6)),
    )
    return staged.select(F.col(id_col), out.alias(out_col))


def html_to_text(
    df: DataFrame, col: str, out_col: str = "text",
    keep_block_breaks: bool = True,
) -> DataFrame:
    """Strip HTML to visible text — the extraction step between a WARC
    ``response`` payload (sources.read_warc) and the text-curation stack
    (langid -> quality -> dedup). `<script>/<style>/<template>` subtrees
    and comments are dropped entirely; block-level closes emit a newline
    (so paragraph_dedup / strip_boilerplate still see line structure)
    and entities are decoded by the parser. Whitespace inside a line is
    collapsed; lines are trimmed; 3+ consecutive blank lines collapse to
    one. Input may be a string column or a binary column (decoded UTF-8,
    errors replaced — crawl payloads lie about charsets).

    This is the sanctioned Arrow path (stdlib html.parser, one vectorized
    pandas UDF, scan-side, zero shuffle — same contract as the multimodal
    decoders and unicode_normalize). It is a structural extractor, not a
    readability/boilerplate model: run strip_boilerplate_lines on the
    OUTPUT for corpus-level boilerplate, which sees repeated nav/footer
    lines across documents and removes them with corpus statistics this
    per-document pass cannot have. Nulls and unparseable fragments pass
    through as null / best-effort text (html.parser never raises on
    malformed markup)."""
    import re as _re
    from html.parser import HTMLParser

    from wrangler_spark.udfs import value_udf

    _BLOCK = {
        "p", "div", "br", "li", "ul", "ol", "tr", "table", "h1", "h2",
        "h3", "h4", "h5", "h6", "blockquote", "pre", "section", "article",
        "header", "footer", "nav", "form", "hr", "dd", "dt",
    }
    _SKIP = {"script", "style", "template", "noscript", "head"}

    class _Extract(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.parts: list[str] = []
            self._skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP:
                self._skip += 1
            elif tag in _BLOCK:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in _SKIP and self._skip:
                self._skip -= 1
            elif tag in _BLOCK:
                self.parts.append("\n")

        def handle_data(self, data):
            if not self._skip:
                self.parts.append(data)

    ws = _re.compile(r"[ \t\f\v\xa0]+")

    def _one(raw) -> str:
        if isinstance(raw, (bytes, bytearray)):
            raw = bytes(raw).decode("utf-8", "replace")
        p = _Extract()
        try:
            p.feed(raw)
            p.close()
        except Exception:
            pass  # html.parser is forgiving; belt-and-braces for exotic input
        text = ws.sub(" ", "".join(p.parts))
        # adjacent block tags produce spurious empty lines -- collapse to
        # ONE newline per block boundary (downstream paragraph_dedup /
        # strip_boilerplate split on single \n)
        lines = [ln for ln in (s.strip() for s in text.split("\n")) if ln]
        if not keep_block_breaks:
            return " ".join(lines)
        return "\n".join(lines)

    return df.withColumn(out_col, value_udf(_one, "string")(F.col(col)))  # _one decodes binary itself


def vocab_coverage(
    df: DataFrame, text_col: str, coverage: float = 0.999,
) -> DataFrame:
    """Corpus vocabulary with a cumulative-coverage cutoff: the word
    table (word, count, share) restricted to the MOST FREQUENT words
    whose summed share first reaches ``coverage`` of all tokens — the
    vocab-sizing step before a unigram LM / tokenizer baseline (Zipf's
    law means 99.9% token coverage usually needs a tiny fraction of the
    type inventory; everything below the cut is OOV/byte-fallback
    territory). Also the vocabulary-pruning dual of top_ngrams' fixed-k.

    Scale shape — the naive formulation is a GLOBAL SORT of the word
    table plus a running-total window (one partition, the classic
    anti-pattern). Here the cutoff COUNT is derived instead from the
    count-of-counts histogram: one hash aggregate (word -> count, the
    table a 100 TB corpus bounds at vocabulary size, not token count —
    eagerly checkpointed, since it is a shuffle-bearing branch shared
    by the histogram AND the returned filter; released by the caller's
    checkpoint_scope), one tiny aggregate folding the histogram into a
    single sorted array (at most a few thousand distinct frequency
    values even for web-scale corpora, Zipf again), a running-sum FOLD
    over that array deriving total and threshold in the SAME 1-row
    frame, and a scan-side ``count >= threshold`` filter joined back
    with crossJoin(broadcast(stats)) — the whole op stays LAZY (no
    driver collect; nothing executes at plan-build time beyond the
    checkpoint, which a streaming input skips) and the corpus is
    scanned and aggregated exactly once. The threshold is the smallest
    frequency whose inclusion reaches coverage, so the kept set can
    overshoot coverage by at most one frequency class — the
    deterministic contract both engines share (no per-word tiebreak
    inside a frequency class is ever needed)."""
    cov = float(coverage)
    if not 0.0 < cov <= 1.0:
        raise ValueError(f"coverage must be in (0, 1], got {coverage}")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = (
        df.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )
    return _coverage_cut(words, cov, checkpoint=not df.isStreaming)


def _coverage_cut(words: DataFrame, cov: float, checkpoint: bool = True) -> DataFrame:
    """The coverage-cutoff tail shared by vocab_coverage and
    vocab_coverage_from_state: given a (word, count) frame, keep the
    most-frequent words whose summed share reaches ``cov`` (threshold
    derived from the count-of-counts histogram fold — see
    vocab_coverage's scale-shape contract)."""
    if checkpoint:
        words = eager_checkpoint(words)
    # histogram rows sorted by frequency DESC (nc = -count ascending);
    # tok = tokens contributed by that frequency class
    hist_item = F.struct(
        (-F.col("count")).alias("nc"),
        (F.col("count") * F.col("__n_words")).alias("tok"),
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("run"),
        F.lit(None).cast("long").alias("thr"),
    )

    def _fold(a, x):
        run = a["run"] + x["tok"]
        return F.struct(
            run.alias("run"),
            F.coalesce(
                a["thr"],
                F.when(
                    run.cast("double")
                    >= F.col("__total").cast("double") * F.lit(cov),
                    -x["nc"],
                ),
            ).alias("thr"),
        )

    stats = (
        words.groupBy("count")
        .agg(F.count("*").alias("__n_words"))
        .agg(F.array_sort(F.collect_list(hist_item)).alias("__h"))
        .withColumn(
            "__total",
            F.aggregate("__h", F.lit(0).cast("long"), lambda s, x: s + x["tok"]),
        )
        .withColumn("__thr", F.aggregate("__h", acc0, _fold, lambda a: a["thr"]))
        .select("__total", "__thr")
    )
    return (
        words.crossJoin(F.broadcast(stats))
        .filter(F.col("__thr").isNotNull() & (F.col("count") >= F.col("__thr")))
        .select(
            "word",
            "count",
            F.round(
                F.col("count").cast("double") / F.col("__total").cast("double"), 6
            ).alias("share"),
        )
    )


def group_top_terms(
    df: DataFrame, text_col: str, by_col: str, k: int = 10,
    weight: str = "tf", prior_strength: float = 100.0,
) -> DataFrame:
    """Top-k terms per GROUP — the cluster/source labeling step after
    SemDeDup / k-means / mixture assembly: join any (id -> group)
    assignment onto the corpus (or point ``by_col`` at an existing
    source/language column) and read each group's labels. Null groups
    form their own group (a null source is a real slice worth
    inspecting). Rank ties break term-asc — the deterministic contract
    the per-query ANN rank shares.

    ``weight`` picks what "top" means:

    - ``"tf"`` (default): raw per-group term frequency. Honest but on a
      real web corpus every group's top-k is the same stopwords — use
      it for quick looks, not labeling. Returns (group, term, tf, rank).
    - ``"logodds"``: Monroe, Colaresi & Quinn 2008 ("Fightin' Words")
      log-odds ratio of group vs REST OF CORPUS with an informative
      Dirichlet prior (alpha_w = prior_strength x corpus share of w),
      z-scored by the delta's estimated variance — the public standard
      for 'which terms DISTINGUISH this group'; stopwords cancel
      against the prior and the rest-corpus rate. Returns
      (group, term, tf, score, rank), rank by score desc.
    - ``"tfidf"``: tf x ln(n_groups / groups-containing-term) — the
      cheap middle ground (terms present in every group score 0).
      Same output shape as logodds.

    Scale shape (all modes): token explode -> ONE hash aggregate on
    (group, term) -> [weighted modes: one vocab-bounded term-marginal
    aggregate joined back on the term key, group marginals broadcast
    (G rows), corpus total a broadcast 1-row frame] -> the two-phase
    per-group slice (partition-local sorted top-k, then a per-group
    merge of P·k survivors — sample_domain_cap's shape): never a rank
    window over the (groups x vocabulary) table, which at web scale is
    exactly the 10^8-row global-sort hazard vocabulary's rewrite
    removed."""
    kk = int(k)
    if kk < 1:
        raise ValueError("k must be >= 1")
    if weight not in ("tf", "logodds", "tfidf"):
        raise ValueError(f"weight must be 'tf', 'logodds', or 'tfidf' — got {weight!r}")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = (
        df.select(F.col(by_col).alias("__g"), F.explode(F.split(norm, " ")).alias("__t"))
        .filter(F.col("__t") != "")
    )
    counts = toks.groupBy("__g", "__t").agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    if weight != "tf":
        # marginals: per-term over the corpus (vocab-bounded, rides a
        # term-keyed join), per-group (G rows, broadcast), corpus total
        # (1 row, broadcast crossJoin — the sanctioned stats join-back)
        if not df.isStreaming:
            counts = eager_checkpoint(counts)  # feeds marginals AND the score join
        term_m = counts.groupBy("__t").agg(
            F.sum("__tf").alias("__yw"), F.count(F.lit(1)).alias("__df")
        )
        grp_m = counts.groupBy("__g").agg(F.sum("__tf").alias("__ng"))
        tot = counts.agg(
            F.sum("__tf").alias("__n"), F.countDistinct("__g").alias("__ngroups")
        )
        scored = (
            counts.join(term_m, "__t")
            .join(F.broadcast(grp_m), "__g")
            .crossJoin(F.broadcast(tot))
        )
        if weight == "tfidf":
            score = F.col("__tf") * F.log(
                F.col("__ngroups").cast("double") / F.col("__df").cast("double")
            )
        else:
            a0 = F.lit(float(prior_strength))
            aw = a0 * F.col("__yw").cast("double") / F.col("__n").cast("double")
            ygw = F.col("__tf").cast("double")
            yrw = (F.col("__yw") - F.col("__tf")).cast("double")
            ng = F.col("__ng").cast("double")
            nr = (F.col("__n") - F.col("__ng")).cast("double")
            delta = F.log((ygw + aw) / (ng + a0 - ygw - aw)) - F.log(
                (yrw + aw) / (nr + a0 - yrw - aw)
            )
            score = delta / F.sqrt(1.0 / (ygw + aw) + 1.0 / (yrw + aw))
        counts = scored.select("__g", "__t", "__tf", F.round(score, 6).alias("__s"))
        item = F.struct(
            (-F.col("__s")).alias("ns"), F.col("__t").alias("t"), F.col("__tf").alias("tf")
        )
    else:
        item = F.struct((-F.col("__tf")).alias("ntf"), F.col("__t").alias("t"))
    part = (
        counts.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", "__g")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, kk).alias("__tk"))
    )
    top = part.groupBy("__g").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__tk"))), 1, kk).alias("__tk")
    )
    exploded = top.select("__g", F.posexplode("__tk").alias("__pos", "__it"))
    if weight == "tf":
        return exploded.select(
            F.col("__g").alias(by_col),
            F.col("__it.t").alias("term"),
            (-F.col("__it.ntf")).cast("long").alias("tf"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
        )
    return exploded.select(
        F.col("__g").alias(by_col),
        F.col("__it.t").alias("term"),
        F.col("__it.tf").cast("long").alias("tf"),
        (-F.col("__it.ns")).alias("score"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )


def vocab_update_state(
    df: DataFrame, path: str, text_col: str, batch_id: str = "",
) -> None:
    """Fold one ingestion batch's word counts into LOG-STRUCTURED
    vocabulary state: appends the batch's (word, count, batch_id)
    aggregate as plain parquet — O(batch) work, never a rescan of
    history (the report_update_state / retention_update_state posture
    applied to the vocabulary). Word counts are exactly mergeable by
    summation, so :func:`vocab_coverage_from_state` reconstructs the
    whole-corpus coverage vocabulary EXACTLY (no sketch error), and
    :func:`~wrangler_spark.datapipe.maintenance.compact_index` can
    sum-merge the accumulated rows without changing any read. All
    batches share the normalization contract
    (lower/trim/whitespace-collapse). Appends land in the CURRENT
    resolved version of the state (``_layout``), so they stay visible
    across compaction cadences.

    Idempotence: a non-empty ``batch_id`` already folded makes the
    fold a NO-OP — so a replayed micro-batch (the vocab_update_stream
    crash-recovery path) never double-counts. Word counts are not
    naturally replay-safe the way retention pairs are, so the batch id
    is the dedup key, checked against the ``_layout`` replay ledger
    (one marker file per folded id at ``<path>/_batches/``): a replay
    is a file-existence test and runs no Spark job. The ledger lives
    outside the version dirs, so it survives compaction; the rows keep
    the ids too (compaction sum-merges the data rows but PRESERVES
    every batch id as a zero-count ledger row, word NULL), which the
    ledger falls back to when a fold died between its append and its
    marker. Check + append + marker hold the ``_layout`` writer lease,
    so the fold can never interleave with a compaction either."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    counts = (
        df.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("count"))
    )
    _state.fold(df.sparkSession, path, batch_id, _state.VOCAB, counts)


def vocab_update_stream(
    stream: DataFrame, path: str, text_col: str, checkpoint: str,
    trigger: dict | None = None,
):
    """Fold a document STREAM into persisted vocabulary state — the
    stream edge of the vocab family's batch/stream/state triangle
    (batch: vocab_coverage; state: vocab_update_state /
    vocab_coverage_from_state; stream: THIS — the same shape as
    retention_update_stream). Each micro-batch appends its (word,
    count, batch_id) aggregate — O(batch), never a history rescan. The
    micro-batch id is the batch_id, and vocab_update_state no-ops on an
    id already in the state, so at-least-once foreachBatch delivery
    yields EXACTLY-ONCE state (the retention sink's contract, realized
    here through the batch-id dedup instead of pair idempotence).
    Returns the started StreamingQuery; default trigger availableNow."""
    return _layout.fold_stream(
        stream, checkpoint, trigger,
        lambda b, bid: vocab_update_state(b, path, text_col, bid))


def vocab_from_state(spark, path: str, version: int | None = None) -> DataFrame:
    """The accumulated (word, count) table from vocabulary state — one
    sum-merge aggregate over the state rows (words x batches rows, never
    the corpus). Feed to oov_rate as the vocab side, or cut it with
    vocab_coverage_from_state. ``version`` pins an older committed
    snapshot — appends land in the current version, so pinned ``v_N``
    reads the vocab as of ``v_{N+1}``'s creation (compaction cadence =
    snapshot cadence). A path never folded raises ``ValueError`` (the
    state is empty)."""
    return _state.merge(_state.rows(spark, path, _state.VOCAB, version)[0], _state.VOCAB)


def vocab_coverage_from_state(spark, path: str, coverage: float = 0.999) -> DataFrame:
    """vocab_coverage reconstructed from persisted state: EXACTLY the
    one-shot result on the union of all ingested batches (word counts
    merge by summation — no sketch error), at the cost of reading the
    state rows only. The nightly-vocab-refresh shape: per batch,
    vocab_update_state; per refresh, this + oov_rate on the new batch."""
    cov = float(coverage)
    if not 0.0 < cov <= 1.0:
        raise ValueError(f"coverage must be in (0, 1], got {coverage}")
    return _coverage_cut(vocab_from_state(spark, path), cov)


def oov_rate(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame,
    word_col: str = "word", out_col: str = "oov_rate",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document out-of-vocabulary token fraction against a vocabulary
    frame — the downstream consumer of :func:`vocab_coverage`: size the
    vocab there, then score every document by how much of it falls
    outside (a high OOV doc is noise/another language/binary junk under
    the chosen tokenization; tokenizer teams gate ingestion on exactly
    this number). Tokenization is the shared dedup contract
    (lower/trim/whitespace-collapse split). Adds ``out_col`` double;
    documents with zero tokens get NULL (no evidence, not 0 — the
    readability/langid convention).

    Scale shape: token explode -> left join the vocab's word column
    (BROADCAST by default — a coverage-sized vocab is small by
    construction (Zipf); set ``broadcast_vocab=False`` for a raw
    multi-GB vocab and let AQE pick the shuffle join) -> one per-doc
    hash aggregate -> equi-join back on the id. No windows, no Python;
    the vocab never rides the token shuffle."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = (
        df.select(F.col(id_col).alias("__id"), F.explode(F.split(norm, " ")).alias("__t"))
        .filter(F.col("__t") != "")
    )
    v = vocab.select(F.col(word_col).alias("__t")).distinct().withColumn(
        "__in", F.lit(1)
    )
    if broadcast_vocab:
        v = F.broadcast(v)
    rates = (
        toks.join(v, "__t", "left")
        .groupBy("__id")
        .agg(
            F.round(
                F.count(F.when(F.col("__in").isNull(), 1)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias(out_col)
        )
    )
    return df.join(rates, F.col(id_col) == F.col("__id"), "left").drop("__id")


def collocations(
    df: DataFrame, text_col: str, k: int = 50, min_count: int = 5,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks 1990): adjacent word pairs whose co-occurrence beats the
    independence expectation — "los angeles", "prime minister" — the
    corpus-analysis readout for phrase mining, tokenizer-merge
    candidates, and boilerplate phrase discovery. Returns (w1, w2, n,
    pmi) ordered (pmi DESC, w1, w2), pmi = log2((c12/B) / ((c1/T)·
    (c2/T))) rounded 6dp, pairs below ``min_count`` dropped (PMI's
    known low-count pathology: a 1-count pair of two hapaxes maxes the
    score — the standard mitigation is exactly this floor).

    Scale shape: the pair stream is scan-side (the bigram_logprob
    transform — no window/lag), one hash aggregate each for unigram and
    bigram counts, min_count pruning BEFORE the two count joins, totals
    as 1-row broadcasts, top-k as a distributed TakeOrdered on the
    ROUNDED score (ties broken lexicographically — the deterministic
    cross-engine contract)."""
    if k < 1 or min_count < 1:
        raise ValueError(f"k and min_count must be >= 1, got k={k} min_count={min_count}")
    staged = _with_words(df, text_col)
    base = staged.select(F.filter(F.col(_W), lambda x: x != "").alias("__wl"))
    wl = F.col("__wl")
    pairs = F.when(
        F.size(wl) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(wl)),
            lambda i: F.struct(
                F.element_at(wl, i - 1).alias("w1"), F.element_at(wl, i).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # the bigram-total scalar rides the pair checkpoint's own job
    toks, got_b = eager_checkpoint_observed(
        base.select(F.explode_outer(pairs).alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")),
        F.count(F.lit(1)).alias("n"),
    )
    b_total = got_b["n"]
    # unigram counts over the SAME token stream the pairs see: every
    # token appears as w2 except each doc's first, which appears only as
    # w1 — count token occurrences as w2 plus the per-doc first tokens,
    # i.e. simply count over the original token arrays (exact, one agg)
    uni, got_u = eager_checkpoint_observed(
        staged.select(F.explode(F.filter(F.col(_W), lambda x: x != "")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        F.coalesce(F.sum("c"), F.lit(0)).alias("t"),
    )
    t_total = got_u["t"]
    big = (
        toks.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= int(min_count))
    )
    big = eager_checkpoint(big)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
    pmi = F.round(
        F.log2(
            (F.col("n") / F.lit(float(b_total)))
            / ((F.col("__c1") / F.lit(float(t_total))) * (F.col("__c2") / F.lit(float(t_total))))
        ),
        6,
    )
    out = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "n", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(int(k))
    )
    release(toks)
    return out


def extract_links(
    df: DataFrame,
    id_col: str,
    html_col: str,
    base_col: str | None = None,
    hosts: bool = False,
) -> DataFrame:
    """(src, url) outlink edges from an HTML column — the step between
    WARC ingestion (sources.read_warc -> the raw payload) and the graph
    family (graph_pagerank over the host graph IS crawl-frontier
    ranking). Pure scan-side JVM regex extraction (regexp_extract_all
    over href attributes, single- or double-quoted), zero shuffle, no
    Python — a structural extractor like html_to_text, not a browser:
    javascript:/mailto:/fragment-only links drop, entities in URLs are
    left as written.

    ``base_col`` names a column holding the page's own URL: relative
    links then resolve against its scheme://host (path-relative
    resolution is deliberately host-grained — frontier ranking is a
    host-graph decision). Without it, relative links drop.
    ``hosts=True`` reduces edges to (src, dst_host) and drops
    self-host edges — the dedup'd host graph feeds
    :func:`~wrangler_spark.datapipe.graph.graph_pagerank` directly."""
    from wrangler_spark.datapipe.curation import _HOST_RE

    c = F.col(html_col)
    body = F.when(
        c.isNotNull(),
        # binary WARC payloads decode best-effort like html_to_text
        c.cast("string"),
    )
    hrefs = F.concat(
        F.regexp_extract_all(body, F.lit(r'(?i)href\s*=\s*"([^"]+)"'), F.lit(1)),
        F.regexp_extract_all(body, F.lit(r"(?i)href\s*=\s*'([^']+)'"), F.lit(1)),
    )
    out = (
        df.select(F.col(id_col).alias("src"),
                  (F.col(base_col) if base_col else F.lit(None).cast("string")).alias("__base"),
                  F.explode(hrefs).alias("__u"))
        .withColumn("__u", F.trim(F.col("__u")))
        # strip the fragment; drop empties and non-navigational schemes
        .withColumn("__u", F.regexp_replace(F.col("__u"), r"#.*$", ""))
        .filter(
            (F.col("__u") != "")
            & ~F.lower(F.col("__u")).rlike(r"^(javascript|mailto|tel|data):")
        )
    )
    is_abs = F.col("__u").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    base_origin = F.regexp_extract(
        F.col("__base"), r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1)
    base_scheme = F.regexp_extract(
        F.col("__base"), r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    resolved = F.when(is_abs, F.col("__u")).otherwise(
        F.when(
            # protocol-relative '//other.com/path' keeps ITS OWN host
            # (RFC 3986 network-path reference) — only the scheme comes
            # from the base; falling through to the '/'-prefix branch
            # would mis-attribute a cross-host link to the base host
            (base_scheme != "") & F.col("__u").startswith("//"),
            F.concat(base_scheme, F.lit(":"), F.col("__u")),
        ).when(
            (base_origin != "") & F.col("__u").startswith("/"),
            F.concat(base_origin, F.col("__u")),
        ).when(
            base_origin != "",
            F.concat(base_origin, F.lit("/"), F.col("__u")),
        )
    )
    out = out.withColumn("url", resolved).filter(F.col("url").isNotNull())
    if not hosts:
        return out.select("src", "url")
    dst = F.lower(F.regexp_extract(F.col("url"), _HOST_RE, 1))
    src_host = F.lower(F.regexp_extract(F.col("__base"), _HOST_RE, 1))
    return (
        out.select("src", src_host.alias("src_host"), dst.alias("dst_host"))
        .filter((F.col("dst_host") != "")
                & (F.col("dst_host") != F.col("src_host")))
        .distinct()
    )


def js_divergence(
    a: DataFrame, b: DataFrame, text_col: str = "text",
    buckets: int = 65536,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — TEXT drift (distribution_drift's PSI watches a
    numeric column; this watches the language itself: a crawl snapshot
    whose vocabulary shifted gets caught here before it pollutes a
    mixture). Tokens hash into a fixed bucket space (the md5-prefix
    convention mod ``buckets``), so the histogram is BOUNDED regardless
    of vocabulary size and the divergence is exact at bucket
    granularity (hash collisions only ever blur distributions toward
    each other — the reported JS is a lower bound that tightens as
    ``buckets`` grows). One row: (js, n_a, n_b); js in [0, 1] bits,
    0 = identical, log2-base, symmetric.

    Determinism contract: bucket counts are exact integers; p, q and
    each bucket's 0.5·p·log2(2p/(p+q)) + 0.5·q·log2(2q/(p+q)) term are
    the IDENTICAL double operation order in the DuckDB oracle; terms
    integerize to NANO-units (round(term·1e9)) before the final sum, so
    partial-agg order cannot drift — the unigram_logprob micro-unit
    contract at one more digit (JS terms are tiny: ~1e-5 per bucket).

    Scale shape: one explode + hash aggregate per side (map-side
    partials, output bounded by ``buckets``), a full-outer bucket join
    of two bounded frames, 1-row totals broadcast back, one sum. No
    windows, no driver loops."""
    if buckets < 16:
        raise ValueError(f"buckets must be >= 16, got {buckets}")

    def hist(df: DataFrame, name: str) -> DataFrame:
        staged = _with_words(df, text_col)
        tok = staged.select(F.explode(F.col(_W)).alias("token")).filter(
            F.col("token") != "")
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.col("token")), 1, 7), 16, 10)
            .cast("long"),
            F.lit(int(buckets)),
        )
        return tok.groupBy(bucket.alias("bucket")).agg(
            F.count("*").cast("long").alias(name))

    return _js_from_bucket_counts(hist(a, "ca"), hist(b, "cb"))


def _js_from_bucket_counts(ha: DataFrame, hb: DataFrame) -> DataFrame:
    """The JS tail shared by :func:`js_divergence` and
    :func:`js_from_vocab_states`: two (bucket, count) frames -> the
    one-row (js, n_a, n_b)."""
    j = ha.join(hb, "bucket", "full").select(
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    totals = j.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("n_b"),
    )
    w = j.crossJoin(F.broadcast(totals))  # 1-row stats frame
    p = F.col("ca") / F.col("n_a")
    q = F.col("cb") / F.col("n_b")
    tp = F.when(
        F.col("ca") > 0,
        F.lit(0.5) * p * F.log2(F.lit(2) * p / (p + q)),
    ).otherwise(F.lit(0.0))
    tq = F.when(
        F.col("cb") > 0,
        F.lit(0.5) * q * F.log2(F.lit(2) * q / (p + q)),
    ).otherwise(F.lit(0.0))
    nano = F.round((tp + tq) * F.lit(1e9)).cast("long")
    return (
        w.groupBy("n_a", "n_b")
        .agg(F.sum(nano).alias("__s"))
        .select(
            F.round(F.col("__s") / F.lit(1e9), 6).alias("js"),
            "n_a", "n_b",
        )
    )


def js_from_vocab_states(
    spark, path_a: str, path_b: str | None = None,
    version_a: int | None = None, version_b: int | None = None,
    buckets: int = 65536,
) -> DataFrame:
    """JS text drift straight off persisted vocabulary state — NO
    corpus scan: the accumulated (word, count) tables (vocab_from_state
    sum-merges are exact) hash into the same bucket space
    :func:`js_divergence` uses, so two nightly crawl snapshots — or two
    TIME-TRAVELED versions of ONE state (``path_b=None`` compares
    ``version_a`` against ``version_b``/latest of ``path_a``) — compare
    in O(vocab) work. The language-shift alarm a vocab-state pipeline
    gets for free."""
    if buckets < 16:
        raise ValueError(f"buckets must be >= 16, got {buckets}")

    def hist(path, version, name):
        words = vocab_from_state(spark, path, version)
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.col("word")), 1, 7), 16, 10)
            .cast("long"),
            F.lit(int(buckets)),
        )
        return words.groupBy(bucket.alias("bucket")).agg(
            F.sum("count").cast("long").alias(name))

    return _js_from_bucket_counts(
        hist(path_a, version_a, "ca"),
        hist(path_b if path_b is not None else path_a, version_b, "cb"),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    k: int = 20,
    min_count: int = 5,
    min_word_len: int = 2,
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """Corpus keywords by TextRank (Mihalcea & Tarau, EMNLP 2004, at
    corpus granularity): PageRank over the word co-occurrence graph —
    the keyword extractor that beats raw frequency because a word
    matters when it co-occurs with OTHER words that matter. Stopwords,
    empties, and words shorter than ``min_word_len`` are removed
    FIRST, then adjacency is taken over the filtered sequence (the
    standard TextRank windowing); pairs canonicalize to (least,
    greatest) with repeated-word self-pairs dropped BEFORE the
    ``min_count`` floor (co-occurrence is undirected — Mihalcea &
    Tarau §2 — so (a,b) and (b,a) sightings pool into ONE edge count,
    and a word never votes for itself via a self-loop); edges then
    symmetrize for the pagerank walk. Returns the top-k
    (word, pagerank) ordered (pagerank DESC, word ASC) — ties broken
    lexicographically, the deterministic cross-engine contract.

    A deliberate composition showcase: the pair stream is the
    collocations scan shape, the ranking is graph.graph_pagerank
    verbatim — the oracle composes the same two mirrors. Scale shape:
    one scan-side pair transform, one hash aggregate to pair counts,
    then the pagerank loop on the vocabulary-sized graph; the top-k
    sort runs on the node frame, never the corpus."""
    if k < 1 or min_count < 1:
        raise ValueError(
            f"k and min_count must be >= 1, got k={k} min_count={min_count}")
    if min_word_len < 1:
        raise ValueError(f"min_word_len must be >= 1, got {min_word_len}")
    from wrangler_spark.datapipe.graph import graph_pagerank

    staged = _with_words(df, text_col)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    wl = F.filter(
        F.col(_W),
        lambda w: (w != "") & ~F.array_contains(sw, w)
        & (F.length(w) >= min_word_len))
    base = staged.select(wl.alias("__wl")).filter(F.size("__wl") >= 2)
    pairs = base.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size("__wl") - 1),
        lambda i: F.struct(
            F.element_at(F.col("__wl"), i).alias("w1"),
            F.element_at(F.col("__wl"), i + 1).alias("w2")),
    )).alias("__p")).select("__p.w1", "__p.w2")
    # canonical TextRank windows are UNDIRECTED: canonicalize each
    # pair to (least, greatest) BEFORE the min_count floor — a
    # co-occurrence seen 3x as (a,b) and 3x as (b,a) is one edge of
    # undirected count 6, not two sub-threshold directed edges — and
    # drop repeated-word self-pairs (they would become pagerank
    # self-loops)
    # r13 (guide §1.2): checkpoint the pair counts BEFORE handing them
    # to pagerank — `edges` references cnt twice (the symmetrizing
    # union) and pagerank's normalizer materializes that union into its
    # own checkpoint, so an un-checkpointed cnt re-ran the corpus-sized
    # explode + hash aggregate once per union branch. Checkpointed, the
    # corpus pair scan runs exactly once; everything downstream reads
    # the vocabulary-sized edge list.
    from wrangler_spark.datapipe._checkpoint import eager_checkpoint, release

    cnt = eager_checkpoint(
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("w1"),
            F.greatest("w1", "w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    edges = cnt.select(
        F.col("w1").alias("s"), F.col("w2").alias("d"),
        F.col("n").cast("double").alias("w"),
    ).unionByName(cnt.select(
        F.col("w2").alias("s"), F.col("w1").alias("d"),
        F.col("n").cast("double").alias("w"),
    ))
    ranked = graph_pagerank(
        edges, "s", "d", weight_col="w", damping=damping, iters=iters)
    # pagerank's return frame reads only its final ranks checkpoint, so
    # the pair counts are out of its lineage by the time it returns
    release(cnt)
    return (
        ranked.orderBy(F.col("pagerank").desc(), F.col("node").asc())
        .limit(int(k))
        .select(F.col("node").alias("word"), "pagerank")
    )
