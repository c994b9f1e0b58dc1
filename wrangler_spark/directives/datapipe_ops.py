"""Recipe-surface wrappers for the datapipe operators, so the
training-data ops are usable as one-line directives alongside the
reference-parity set.

Each directive is one ``_forward`` entry in the table below: its
registry name, the ``"module.function"`` (under ``wrangler_spark``) it
forwards to, one slot per usage argument, and its docstring. A slot is
the ``Arg`` of the usage grammar plus the conversion its recipe value
gets: ``_col`` resolves a column name case-insensitively, ``_group``
does the same into a one-column group-by list, ``_int``/``_float``
cast a number, ``_text``/``_ident`` take the string, ``_bool`` the
flag, and ``_list`` splits a comma list; an optional slot left at
``None`` stays ``None``. The converted values go to the function
positionally, in usage order. An entry whose call has another shape
(keyword arguments, reordered or composed calls) gives ``call=``, which
receives the function, the frame and the converted values. The target
module is imported at ``apply`` time, never at registration: importing
the directive registry loads no ``wrangler_spark.datapipe`` module. A
hand-written ``Directive`` subclass is warranted only where the
directive builds plan logic of its own instead of calling a library
function; ``enforce-constraints``, which routes violating rows to the
error channel, is the one such class here."""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive

_REQUIRED = object()
_Convert = Callable[[CompileContext, DataFrame, Any], Any]


@dataclass(frozen=True)
class _Slot:
    """One usage argument and the conversion its bound value gets."""

    arg: Arg
    convert: _Convert


def _slot(type_: TokenType, convert: _Convert) -> Callable[..., _Slot]:
    """A slot constructor: ``make(name)`` is a required argument,
    ``make(name, default)`` an optional one."""

    def make(name: str, default: Any = _REQUIRED) -> _Slot:
        if default is _REQUIRED:
            arg = Arg(name, type_)
        else:
            arg = Arg(name, type_, optional=True, default=default)
        return _Slot(arg, lambda ctx, df, v: None if v is None else convert(ctx, df, v))

    return make


def _split(text: str) -> list[str]:
    """A comma list: items stripped, empty items dropped."""
    return [s.strip() for s in str(text).split(",") if s.strip()]


_col = _slot(TokenType.COLUMN, lambda ctx, df, v: ctx.resolve(df, v))
_group = _slot(TokenType.COLUMN, lambda ctx, df, v: [ctx.resolve(df, v)])
_int = _slot(TokenType.NUMERIC, lambda ctx, df, v: int(v))
_float = _slot(TokenType.NUMERIC, lambda ctx, df, v: float(v))
_text = _slot(TokenType.TEXT, lambda ctx, df, v: str(v))
_ident = _slot(TokenType.IDENTIFIER, lambda ctx, df, v: str(v))
_bool = _slot(TokenType.BOOL, lambda ctx, df, v: bool(v))
_list = _slot(TokenType.TEXT, lambda ctx, df, v: _split(v))


def _target(path: str) -> Callable:
    """The function at ``"module.func"`` under ``wrangler_spark``."""
    module, _, func = path.rpartition(".")
    return getattr(importlib.import_module("wrangler_spark." + module), func)


def _forward(name: str, target: str, *slots: _Slot, doc: str,
             call: Callable | None = None, cls: str | None = None) -> None:
    """Build and register the ``Directive`` class of one table entry;
    its class name is ``cls`` or the CamelCase of ``name``."""

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        fn = _target(target)
        values = [s.convert(ctx, df, self.args[s.arg.name]) for s in slots]
        return call(fn, df, *values) if call else fn(df, *values)

    directive(type(cls or "".join(w.capitalize() for w in name.split("-")), (Directive,), {
        "__doc__": doc, "__module__": __name__,
        "name": name, "usage": [s.arg for s in slots], "apply": apply,
    }))


_forward(
    "dedup-exact", "datapipe.dedup.exact_dedup", _col("id"), _col("text"),
    doc="""dedup-exact :id :text — hash-groupBy exact dedup on normalized text;
    result is (id, n_dups) per distinct content.""")

_forward(
    "dedup-minhash", "datapipe.dedup.minhash_dedup",
    _col("id"), _col("text"), _float("threshold", 0.5),
    doc="""dedup-minhash :id :text [threshold] — one-step MinHash-LSH near-dedup:
    flags every doc that near-duplicates a lower-id doc → (id, is_dup).""")

_forward(
    "langid", "datapipe.text.langid", _col("text"),
    cls="LangId",
    doc="""langid :text — stopword-density language heuristic → lang_pred.""")

_forward(
    "quality-score", "datapipe.text.quality_score", _col("text"),
    doc="""quality-score :text — composite corpus-quality score → quality.""")

_forward(
    "token-count", "datapipe.text.token_count", _col("text"),
    doc="""token-count :text — whitespace + regex-subword token counts →
    n_tokens_ws, n_tokens.""")

_forward(
    "fingerprint", "datapipe.text.fingerprint", _col("text"),
    doc="""fingerprint :text — sorted-distinct-token md5 fingerprint →
    fingerprint.""")

_forward(
    "repetition-stats", "datapipe.text.repetition_stats", _col("text"),
    doc="""repetition-stats :text — within-document repetition ratios
    (Gopher A1.1): dup_line_ratio, dup_line_char_ratio, dup_word_ratio.""")

_forward(
    "gopher-quality", "datapipe.text.gopher_quality", _col("text"),
    doc="""gopher-quality :text — Gopher/MassiveText quality-rule flags
    (g_word_count, g_mean_word_len, g_symbol_ratio, g_bullet_ratio,
    g_ellipsis_ratio, g_alpha_ratio, g_stopwords) + gopher_pass.""")

_forward(
    "pii-redact", "datapipe.curation.pii_redact", _col("text"),
    doc="""pii-redact :text — scrub emails/IPs/SSNs/credit-cards/phones in
    place (sequential regexp_replace chain) and add per-category counts
    n_pii_email/ip/ssn/cc/phone + n_pii.""")

_forward(
    "dedup-paragraphs", "datapipe.curation.paragraph_dedup", _col("id"), _col("text"),
    doc="""dedup-paragraphs :id :text — C4-style cross-document paragraph
    dedup: keep the globally-first occurrence of each normalized
    newline-separated paragraph; returns (id, text, n_paras, n_dropped).""")

_forward(
    "strip-boilerplate", "datapipe.curation.strip_boilerplate_lines",
    _col("id"), _col("text"), _int("min_docs", 2),
    doc="""strip-boilerplate :id :text [min_docs] — corpus-frequency line
    removal: a normalized line appearing in >= min_docs distinct docs is
    removed from EVERY doc (nav bars / cookie banners / footers survive
    nowhere, unlike dedup-paragraphs' keep-first contract); blank lines
    are structure and never removed. Returns (id, text, n_lines,
    n_dropped).""")

_forward(
    "source-filter", "datapipe.curation.source_filter",
    _col("col"), _list("list"), _ident("allow", "block"),
    call=lambda f, df, col, items, allow: f(df, col, items, allow=allow == "allow"),
    doc="""source-filter :col 'a,b,c' [allow] — blocklist (default) or
    allowlist filter on a source/URL column; URLs are reduced to their
    host, adds the host column.""")

_forward(
    "sample-hash", "datapipe.curation.sample_hash", _col("key"), _float("rate"), _text("salt", ""),
    call=lambda f, df, key, rate, salt: df.filter(f(df, key, rate, salt)),
    doc="""sample-hash :key rate ['salt'] — deterministic md5-gated sampling:
    keeps a stable, engine-portable ~rate fraction of rows keyed on :key.""")

_forward(
    "tokenize", "datapipe.text.tokenize", _col("text"),
    doc="""tokenize :text — materialize the regex pre-tokenization as an
    array<string> column (letter/digit/punctuation runs) → tokens.""")

_forward(
    "vocabulary", "datapipe.text.vocabulary", _col("text"), _int("k", 1000),
    doc="""vocabulary :text k — corpus top-k tokens by term frequency →
    (token, tf, df, rank). NOTE: aggregates the whole frame (corpus-level,
    not per-row).""")

_forward(
    "unigram-logprob", "datapipe.text.unigram_logprob",
    _col("id"), _col("text"), _int("vocab", 50000),
    doc="""unigram-logprob :id :text [vocab_size] — CCNet-style corpus-internal
    unigram LM score: per-doc mean token surprisal -log2 p(token), add-one
    smoothed over the top-vocab_size vocabulary → doc_lp.""")

_forward(
    "dedup-minhash-cluster", "datapipe.dedup.minhash_components",
    _col("id"), _col("text"), _float("threshold", 0.5),
    doc="""dedup-minhash-cluster :id :text [threshold] — transitive near-dedup
    clustering: MinHash pairs closed via distributed connected components →
    (id, component, is_dup) with one surviving representative per cluster.""")

_forward(
    "dedup-substring", "datapipe.curation.substring_dup_spans",
    _col("id"), _col("text"), _int("window", 20),
    doc="""dedup-substring :id :text [window] — strip token spans duplicated
    anywhere in the corpus (rolling-window exact substring dedup) →
    (id, n_tokens, n_covered, dup_ratio, text_deduped).""")

_forward(
    "pack-sequences", "datapipe.curation.pack_sequences",
    _col("id"), _col("text"), _int("seq_len", 2048),
    doc="""pack-sequences :id :text [seq_len] — concat-then-chunk pretraining
    layout: token-stream position, sequence id/offset and span per doc via
    a distributed prefix sum.""")

_forward(
    "c4-quality", "datapipe.text.c4_quality",
    _col("text"), _int("min_words", 5), _int("min_sentences", 3),
    doc="""c4-quality :text [min_words] [min_sentences] — the C4 cleaning
    rules (Raffel et al. 2020): line filter (terminal punctuation, min
    words, no 'javascript') + doc flags (lorem ipsum, brace, sentence
    count) → text_clean, n_lines, n_kept_lines, has_lorem, has_brace,
    n_sentences, c4_pass.""")

_forward(
    "lp-buckets", "datapipe.text.perplexity_buckets", _col("lp"), _col("by", None),
    doc="""lp-buckets :lp_col [:by_col] — CCNet head/middle/tail bucketing on
    an LM-score column (tertiles per :by_col group when given, else
    global) → lp_bucket. Compose after unigram-logprob.""")

_forward(
    "mixture-sample", "datapipe.curation.mixture_sample",
    _col("id"), _col("domain"), _float("temperature", 0.5),
    doc="""mixture-sample :id :domain [temperature] — temperature-scaled
    domain rebalancing (rate (n_d/n_min)^(t-1), deterministic hash gate);
    keeps rows, adds n_domain + sample_rate.""")

_forward(
    "url-canonicalize", "datapipe.curation.url_canonicalize", _col("url"),
    call=lambda f, df, col: f(df, col, out_prefix=col),
    doc="""url-canonicalize :url — canonical URL dedup key (lowercase host,
    strip www/fragment/tracking params, scheme-matched default-port
    strip, sorted query) → url_canonical, url_host.""")

_forward(
    "script-ratios", "datapipe.text.script_ratios", _col("text"),
    doc="""script-ratios :text — per-doc Unicode script composition
    (script_latin/cyrillic/greek/arabic/cjk/digit/other fractions).""")

_forward(
    "langid-multi", "datapipe.text.langid_multi", _col("text"),
    cls="LangIdMulti",
    doc="""langid-multi :text — multi-language stopword-profile LID
    (en/es/fr/de/it/pt/nl/sv/pl/id argmax) → lang_pred, lang_score.""")

_forward(
    "dedup-simhash", "datapipe.dedup.simhash", _col("id"), _col("text"), _int("bits", 32),
    doc="""dedup-simhash :id :text [bits] — per-doc SimHash signature over
    word hashes → simhash (near-dups are small hamming distances).""")

_forward(
    "dedup-ngram", "datapipe.dedup.ngram_jaccard_pairs",
    _col("id"), _col("text"), _int("n", 3), _float("threshold", 0.5), _text("unit", "word"),
    call=lambda f, df, id_, text, n, threshold, unit: f(df, id_, text, n, threshold, unit=unit),
    doc="""dedup-ngram :id :text [n] [threshold] [unit] — n-gram Jaccard
    near-dup pairs (word grams by default; prefix-filtered inverted
    index) → (id_a, id_b, jaccard).""")

_forward(
    "dedup-overlap", "datapipe.dedup.overlap_pairs",
    _col("id"), _col("text"), _int("n", 3), _float("threshold", 0.8), _text("unit", "word"),
    call=lambda f, df, id_, text, n, threshold, unit: f(df, id_, text, n, threshold, unit=unit),
    doc="""dedup-overlap :id :text [n] [threshold] [unit] — overlap-coefficient
    containment pairs (a short doc embedded in a longer one — the case
    Jaccard structurally misses) → (id_a, id_b, overlap_coef,
    containment_a, containment_b).""")

_forward(
    "bigram-logprob", "datapipe.text.bigram_logprob",
    _col("id"), _col("text"), _int("vocab", 50000),
    doc="""bigram-logprob :id :text [vocab_size] — interpolated bigram LM
    score (λ·p_bi + (1−λ)·p_uni per token, doc mean) → doc_lp2; the
    word-order-aware companion to unigram-logprob.""")

_forward(
    "chunk-docs", "datapipe.curation.chunk_documents",
    _col("id"), _col("text"), _int("chunk_words", 256), _int("overlap", 32),
    doc="""chunk-docs :id :text [chunk_words] [overlap] — overlapping word-
    window chunking (RAG indexing / context windows) → one row per chunk
    (id, chunk_id, chunk_start, chunk_text, n_chunk_words).""")

_forward(
    "winnow-fingerprints", "datapipe.text.winnow_fingerprints",
    _col("id"), _col("text"), _int("k", 3), _int("w", 4),
    doc="""winnow-fingerprints :id :text [k] [w] — SIGMOD'03 winnowing:
    (id, pos, fp) selected-fingerprint rows (~2/(w+1) density).""")

_forward(
    "domain-cap", "datapipe.curation.cap_per_group",
    _col("group"), _col("id"), _int("n"), _col("order_col", None),
    doc="""domain-cap :group :id n [order_col] — keep at most n rows per group:
    best-n by order_col (desc, ties → min id) or deterministic-random-n.""")

_forward(
    "shuffle-shards", "datapipe.curation.shuffle_shards",
    _col("id"), _int("n_shards"), _text("seed", ""),
    doc="""shuffle-shards :id n_shards ['seed'] — reproducible epoch shuffle:
    adds (shard, sort_key).""")

_forward(
    "keyword-tag", "datapipe.curation.keyword_tag", _col("id"), _col("text"), _list("keywords"),
    doc="""keyword-tag :id :text 'kw1,kw2 phrase,...' — dictionary tagging:
    (id, keyword, n_hits) for whole-word/phrase matches.""")

_forward(
    "emb-normalize", "datapipe.similarity.embedding_normalize", _col("vec"),
    doc="""emb-normalize :vec — L2-normalize an embedding column in place.""")

_forward(
    "emb-quantize", "datapipe.similarity.embedding_quantize", _col("vec"),
    doc="""emb-quantize :vec — symmetric int8 quantization → (q, q_scale).""")

_forward(
    "emb-project", "datapipe.similarity.embedding_project",
    _col("vec"), _int("dim_in"), _int("dim_out", 16),
    call=lambda f, df, vec, dim_in, dim_out: f(df, dim_in, dim_out, vec),
    doc="""emb-project :vec dim_in [dim_out] — JL ±1 random projection.""")

_forward(
    "winnow-overlap", "datapipe.text.winnow_overlap",
    _col("id"), _col("text"), _int("min_shared", 2),
    call=lambda f, df, id_, text, min_shared: f(df, id_, text, min_shared=min_shared),
    doc="""winnow-overlap :id :text [min_shared] — copied-passage pairs via
    shared winnowing fingerprints → (id_a, id_b, shared_fps).""")

_forward(
    "corpus-report", "datapipe.curation.corpus_report",
    _col("id"), _col("text"), _col("group", None),
    call=lambda f, df, id_, text, group: (
        _target("datapipe.curation.corpus_report_by")(df, group, id_, text)
        if group else f(df, id_, text)),
    doc="""corpus-report :id :text [group] — one-row (or per-group) corpus
    health snapshot: docs, nulls, chars, words, exact-dup count, dup %.""")

_forward(
    "dedup-template", "datapipe.dedup.template_dedup", _col("id"), _col("text"),
    doc="""dedup-template :id :text — template-masked exact dedup: digits and
    URLs masked before keying, templated variants collapse.""")

_forward(
    "flag-outliers", "datapipe.numeric.flag_outliers",
    _col("col"), _ident("method", "zscore"), _float("k", 3.0), _group("by", None),
    call=lambda f, df, col, method, k, by: f(df, col, method, k, by=by),
    doc="""flag-outliers :col [method] [k] [:by] — z-score (default, k=3), IQR
    (Tukey, pass k=1.5), or MAD (robust modified z-score, pass k=3.5)
    outlier flag → <col>_outlier; an optional :by column computes the
    fences within each group.""")

_forward(
    "scale-column", "datapipe.numeric.scale_column",
    _col("col"), _ident("method", "minmax"), _group("by", None),
    call=lambda f, df, col, method, by: f(df, col, method, by=by),
    doc="""scale-column :col [method] [:by] — min-max (default) or z-score
    feature scaling → <col>_scaled; an optional :by column scales within
    each group (per-source normalization) instead of globally.""")

_forward(
    "winsorize", "datapipe.numeric.winsorize_column",
    _col("col"), _float("lo", 0.01), _float("hi", 0.99), _group("by", None),
    call=lambda f, df, col, lo, hi, by: f(df, col, lo, hi, by=by),
    doc="""winsorize :col [lo] [hi] [:by] — clip to exact percentile bounds →
    <col>_wins; an optional :by column clips within each group.""")

_forward(
    "quantile-bins", "datapipe.numeric.quantile_bins",
    _col("col"), _int("n", 10), _group("by", None),
    call=lambda f, df, col, n, by: f(df, col, n, by=by),
    doc="""quantile-bins :col [n] [:by] — equi-depth quantile bucket 1..n
    (deciles by default) → <col>_bin; an optional :by column bins within
    each group (per-language deciles).""")

_forward(
    "char-entropy", "datapipe.text.char_entropy", _col("id"), _col("text"),
    doc="""char-entropy :id :text — Shannon entropy (bits/char) of each
    document's character distribution → char_entropy.""")

_forward(
    "top-ngrams", "datapipe.text.top_ngrams",
    _col("id"), _col("text"), _int("n", 3), _int("k", 20),
    doc="""top-ngrams :id :text [n] [k] — corpus heavy hitters: the k most
    frequent word n-grams with occurrence + document counts (boilerplate
    discovery).""")

_forward(
    "readability", "datapipe.text.readability", _col("text"),
    doc="""readability :text — Flesch reading-ease + FK grade columns.""")

_forward(
    "unicode-normalize", "datapipe.text.unicode_normalize", _col("col"), _ident("form", "NFC"),
    doc="""unicode-normalize :col [form] — NFC (default) / NFKC / NFD / NFKD
    canonicalization in place (the pre-dedup byte-canonical step).""")

_forward(
    "keep-top-frac", "datapipe.curation.keep_top_frac",
    _col("score"), _float("frac"), _group("by", None),
    call=lambda f, df, score, frac, by: f(df, score, frac, by=by),
    doc="""keep-top-frac :score frac [:by] — keep the top ``frac`` of rows
    by score (classifier-threshold pruning; ties at the boundary all
    kept); an optional :by column applies the fraction within each
    group (top X% per language/source).""")

_forward(
    "vocab-coverage", "datapipe.text.vocab_coverage", _col("text"), _float("coverage", 0.999),
    doc="""vocab-coverage :text [coverage] — corpus word table cut at the
    cumulative-coverage frequency class (vocab sizing for LM/tokenizer
    baselines) → (word, count, share).""")


def _cluster_topics(cluster_topics, df, id_col, text_col, k, label_k, vec_col):
    if vec_col:
        # user-supplied vectors: dim is UNKNOWN at plan time — pass
        # dim=None so k-means takes the dim-agnostic exploded
        # recentering (a hard-coded 64 here built 64-wide centroids
        # for any other dimension, and the zip_with cosine over
        # mismatched arrays nulled out: every doc tied to the lowest
        # centroid id — silently garbage assignments)
        embs = df.select(id_col, vec_col)
        dim = None
    else:
        vec_col = "__hemb"
        embs = _target("datapipe.text.hash_embedding")(
            df, id_col, text_col, dim=64, out_col=vec_col
        ).select(id_col, vec_col)
        dim = 64
    return cluster_topics(
        df, embs, k, label_k,
        doc_id_col=id_col, text_col=text_col,
        vec_id_col=id_col, vec_col=vec_col, dim=dim,
    )


_forward(
    "cluster-topics", "datapipe.curation.cluster_topics",
    _col("id"), _col("text"), _int("k", 8), _int("label_k", 5), _col("vec", None),
    call=_cluster_topics,
    doc="""cluster-topics :id :text [k] [label_k] [vec] — corpus
    cartography: k-means clusters in embedding space + log-odds
    (Fightin' Words) labels per cluster → (cluster_id, term, tf, score,
    rank). With no vec column the doc's own lexical hash embedding is
    used (self-contained recipe form); point vec at a real embedding
    column when one exists.""")

_forward(
    "sample-token-budget", "datapipe.curation.sample_token_budget",
    _col("id"), _col("text"), _int("budget"), _col("by", None), _text("seed", ""),
    doc="""sample-token-budget :id :text budget [by] ['seed'] — keep
    documents in deterministic seeded-hash order until the running
    TOKEN total reaches the budget (per group with by) — mixture
    assembly in tokens, not documents; the straddling doc is kept.
    Adds n_tokens.""")

_forward(
    "ngram-repetition", "datapipe.text.ngram_repetition_stats", _col("id"), _col("text"),
    doc="""ngram-repetition :id :text — Gopher n-gram repetition fractions
    (top_{2,3,4}gram_char_frac + dup_{5..10}gram_char_frac) appended per
    document; filter on them with the published caps downstream.""")

_forward(
    "top-terms", "datapipe.text.group_top_terms",
    _col("text"), _col("by"), _int("k", 10), _text("weight", "tf"),
    cls="GroupTopTerms",
    doc="""top-terms :text :by [k] [weight] — top-k terms per group
    (cluster/source labeling) → (by, term, tf, rank). weight 'tf'
    (default, raw frequency), 'logodds' (Monroe et al. log-odds vs rest
    of corpus — distinguishing terms, stopword-proof), or 'tfidf';
    weighted modes add a score column and rank by it.""")

_forward(
    "repetition-filter", "datapipe.text.repetition_filter", _col("id"), _col("text"),
    doc="""repetition-filter :id :text — the Gopher repetitious-text caps
    applied to both signal families (line ratios + n-gram char
    fractions) → repetition_pass boolean (true = keep).""")

_forward(
    "oov-rate", "datapipe.text.oov_rate", _col("id"), _col("text"), _float("coverage", 0.999),
    call=lambda f, df, id_, text, coverage: f(
        df, id_, text, _target("datapipe.text.vocab_coverage")(df, text, coverage)),
    doc="""oov-rate :id :text [coverage] — per-document out-of-vocabulary
    token fraction against the corpus's own vocab-coverage vocabulary at
    ``coverage`` (zero-token docs NULL).""")

_forward(
    "html-to-text", "datapipe.text.html_to_text", _col("col"), _ident("out", "text"),
    doc="""html-to-text :col [out] — strip HTML to visible text (drops
    script/style subtrees, decodes entities, keeps block-level line
    breaks); accepts string or binary (WARC payload) columns. Writes
    ``out`` (default ``text``).""")

_forward(
    "compression-ratio", "datapipe.text.compression_ratio", _col("col"),
    doc="""compression-ratio :col — zlib compressed/raw byte ratio →
    compress_ratio (low = repetitive boilerplate, ~1 = gibberish).""")

_forward(
    "hash-embedding", "datapipe.text.hash_embedding", _col("id"), _col("text"), _int("dim", 64),
    doc="""hash-embedding :id :text [dim] — model-free dense text embedding
    (sign-hash feature hashing, L2-normalized) → embedding column; feeds
    the whole vector stack (ANN, SemDeDup, outlier flags) from raw
    text.""")

_forward(
    "emb-outliers", "datapipe.similarity.embedding_outliers",
    _col("id"), _col("vec"), _int("n_clusters", 8), _float("q", 0.05),
    call=lambda f, df, id_, vec, n, q: f(df, n, q, id_col=id_, vec_col=vec),
    doc="""emb-outliers :id :vec [n_clusters] [q] — per-cluster
    distance-to-centroid outlier flag (off-manifold noise) →
    (vec_id, centroid_id, cos, is_outlier).""")

_forward(
    "funnel", "datapipe.events.funnel_steps",
    _col("user"), _col("ts"), _col("type"), _list("steps"), _float("within_minutes", None),
    _text("anchor", "first"),
    doc="""funnel :user :ts :type 'step1,step2,...' [within_minutes]
    ['first'|'any'] — ordered event funnel: per-step users reached +
    conversion from step 1 (anchor='any' = exact windowed count).""")

_forward(
    "retention-cohorts", "datapipe.events.retention_cohorts",
    _col("user"), _col("ts"), _int("period_days", 7), _int("max_periods", 8),
    doc="""retention-cohorts :user :ts [period_days] [max_periods] — cohort
    retention grid: (cohort_start, period_offset, active_users, retention).""")

_forward(
    "active-users", "datapipe.events.active_users", _col("user"), _col("ts"),
    doc="""active-users :user :ts — rolling DAU/WAU/MAU: one row per calendar
    day with au_1d / au_7d / au_30d distinct-user counts (dense grid,
    zeros included).""")

_forward(
    "event-transitions", "datapipe.events.event_transitions",
    _col("user"), _col("ts"), _col("type"), _col("tie", None),
    doc="""event-transitions :user :ts :type [:tie] — first-order Markov
    matrix: (from_type, to_type, n, prob) over per-user event streams.""")

_forward(
    "event-paths", "datapipe.events.event_paths_topk",
    _col("user"), _col("ts"), _col("type"), _int("k", 10), _int("max_len", 5), _col("tie", None),
    doc="""event-paths :user :ts :type [k] [max_len] [:tie] — top-k most
    common user journeys (first max_len event types per user).""")

_forward(
    "funnel-latency", "datapipe.events.funnel_latencies",
    _col("user"), _col("ts"), _col("type"), _list("steps"), _float("within_minutes", None),
    doc="""funnel-latency :user :ts :type 'step1,step2,...' [within_minutes]
    — per-step conversion timing: (step, event_type, users, avg_sec,
    p50_sec) for steps 2..k of the greedy funnel.""")

_forward(
    "page-rank", "datapipe.graph.graph_pagerank",
    _col("src"), _col("dst"), _col("weight", None), _float("damping", 0.85), _int("iters", 5),
    doc="""page-rank :src :dst [weight] [damping] [iters] — rank nodes of the
    edge list held in the current frame (crawl-frontier prioritization:
    rank domains/URLs by random-surfer visit probability, then feed the
    ranking into crawl budgets and mixture weights). Yields one row per
    node: (node, pagerank), pagerank rounded to 6dp.""")

_forward(
    "label-propagation", "datapipe.graph.graph_label_propagation",
    _col("src"), _col("dst"), _col("weight", None), _int("iters", 5),
    doc="""label-propagation :src :dst [weight] [iters] — community detection
    over the edge list held in the current frame (deterministic
    synchronous LPA, undirected): label near-dup pair lists or
    co-occurrence graphs into communities. Yields one row per node:
    (node, community).""")

_forward(
    "quantiles-sketched", "datapipe.numeric.quantiles_sketched",
    _col("col"), _list("probs", "0.5,0.9,0.99"), _float("rel_err", 0.05),
    call=lambda f, df, col, probs, rel_err: f(df, col, tuple(map(float, probs)), rel_err),
    doc="""quantiles-sketched :col [probs] [rel_err] — mergeable log-bin
    quantile sketch over a non-negative numeric column: (prob, value)
    rows within rel_err of the exact nearest-rank quantiles,
    deterministic across partitionings. probs is a comma list, default
    '0.5,0.9,0.99'.""")

_forward(
    "key-skew", "datapipe.curation.key_skew", _col("col"), _int("k", 20),
    doc="""key-skew :col [k] — top-k hottest keys with corpus share: the
    pre-flight for every join/groupBy key (a 5% key is a 5 TB reducer
    partition at 100 TB — salt it or bump the AQE skew threshold).""")


def _parse_dq_rules(spec: str, who: str) -> list[dict]:
    """The compact rule DSL shared by check-constraints and
    enforce-constraints: semicolon-separated ``not_null:col`` ·
    ``unique:col`` · ``range:col:min:max`` (either bound may be empty) ·
    ``matches:col:regex`` (regex may contain colons) ·
    ``in_set:col:a|b|c`` · ``min_rows:n``."""
    rules: list[dict] = []
    for part in str(spec).split(";"):
        part = part.strip()
        if not part:
            continue
        kind, _, rest = part.partition(":")
        kind = kind.strip()
        if kind == "min_rows":
            rules.append({"rule": kind, "n": int(rest)})
        elif kind in ("not_null", "unique"):
            rules.append({"rule": kind, "col": rest.strip()})
        elif kind == "range":
            col, lo, hi = (rest.split(":") + ["", ""])[:3]
            rules.append({
                "rule": kind, "col": col.strip(),
                "min": float(lo) if lo.strip() else None,
                "max": float(hi) if hi.strip() else None,
            })
        elif kind == "matches":
            col, _, pat = rest.partition(":")
            rules.append({"rule": kind, "col": col.strip(), "pattern": pat})
        elif kind == "in_set":
            col, _, vals = rest.partition(":")
            rules.append({
                "rule": kind, "col": col.strip(),
                "values": [v for v in vals.split("|") if v != ""],
            })
        else:
            raise ValueError(f"{who}: unknown rule {kind!r} in {part!r}")
    return rules


_forward(
    "check-constraints", "datapipe.curation.check_constraints", _text("rules"),
    call=lambda f, df, rules: f(df, _parse_dq_rules(rules, "check-constraints")),
    doc="""check-constraints 'rules' — Deequ-posture declarative quality
    gate: grade a semicolon-separated rule list in ONE aggregation pass
    and return the (rule, column, metric, value, threshold, passed)
    report. Rule forms: ``not_null:col`` · ``unique:col`` ·
    ``range:col:min:max`` (either bound may be empty) ·
    ``matches:col:regex`` (regex may contain colons) ·
    ``in_set:col:a|b|c`` · ``min_rows:n``. Thresholds default to 0.0
    violations; per-rule thresholds use the library call
    (curation.check_constraints).""")


@directive
class EnforceConstraints(Directive):
    """enforce-constraints 'rules' — the ROW-level edge of the
    data-quality family: rows violating any rule leave the clean flow
    for the error channel (result.errors()), tagged with the rule that
    caught them — check-constraints grades the table, this one
    quarantines the rows. Same DSL; only the row-expressible rules
    apply (not_null / range / matches / in_set — unique and min_rows
    are table-level facts a row can't violate alone, and raise here).
    Pure scan-side plan splits, one per rule (the send-to-error
    mechanism), no aggregation at all."""

    name = "enforce-constraints"
    is_filter = True
    usage = [Arg("rules", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        rules = _parse_dq_rules(self.args["rules"], self.name)
        if not rules:
            raise ValueError("enforce-constraints: empty rule list")
        for r in rules:
            if r["rule"] in ("unique", "min_rows"):
                raise ValueError(
                    f"enforce-constraints: {r['rule']} is table-level — "
                    "grade it with check-constraints instead")
            c = F.col(r["col"])
            if r["rule"] == "not_null":
                viol = c.isNull()
            elif r["rule"] == "range":
                viol = F.lit(False)
                if r["min"] is not None:
                    viol = viol | (c < F.lit(r["min"]))
                if r["max"] is not None:
                    viol = viol | (c > F.lit(r["max"]))
            elif r["rule"] == "matches":
                viol = c.isNotNull() & ~c.cast("string").rlike(
                    "^(?:" + r["pattern"] + ")$")
            else:  # in_set
                viol = c.isNotNull() & ~c.cast("string").isin(
                    [str(v) for v in r["values"]])
            df = ctx.route_errors(
                df, viol, self.name, f"{r['rule']}:{r['col']}")
        return df


_forward(
    "resample", "datapipe.events.resample",
    _col("key"), _col("ts"), _col("value", None), _int("every", 60), _text("agg", "count"),
    _text("fill", "zero"),
    doc="""resample :key :ts [value] [every_minutes] [agg] [fill] — per-key
    time-series resampling with gap-fill: dense (key, bucket, bucket_ts,
    value) grid at a fixed grain; agg = count|sum|min|max|avg, fill =
    zero|none|ffill. The grid a moving average or anomaly rule is
    silently wrong without.""")

_forward(
    "rolling-stats", "datapipe.events.rolling_stats",
    _col("key"), _col("bucket"), _col("value"), _int("window", 7),
    doc="""rolling-stats :key :bucket :value [window] — trailing-window
    mean/std + anomaly z-score over a per-key bucketed series (feed it
    the resample grid): the volume monitor that flags a bucket leaving
    its key's own recent band. Exact integer micro-unit window sums —
    deterministic across partitionings and engines.""")

_forward(
    "extract-links", "datapipe.text.extract_links",
    _col("id"), _col("html"), _col("base", None), _bool("hosts", False),
    doc="""extract-links :id :html [base] [hosts] — (src, url) outlink
    edges from an HTML column (scan-side JVM regex over href
    attributes); base names the page-URL column for relative-link
    resolution, hosts=true reduces to the deduped cross-host edge list
    graph_pagerank consumes (crawl-frontier ranking).""")

_forward(
    "profile", "datapipe.curation.profile_table", _list("cols", ""), _bool("exact", False),
    cls="ProfileTable",
    doc="""profile [cols] [exact] — per-column profile in one aggregation
    pass (column, dtype, n_rows, n_null, null_frac, n_distinct, min,
    max): the Deequ discovery step that feeds suggest_constraints ->
    check-constraints. cols is a comma list (default: all); exact=true
    swaps HLL distincts for true count_distinct.""")


def _impute(impute_column, df, col, strategy, by):
    try:
        strategy = float(strategy)  # a numeric strategy is the fill constant
    except ValueError:
        pass
    return impute_column(df, col, strategy, by=by or None)


_forward(
    "impute", "datapipe.numeric.impute_column",
    _col("col"), _text("strategy", "mean"), _list("by", ""),
    cls="ImputeColumn",
    call=_impute,
    doc="""impute :col [strategy] [by] — fill a numeric column's NULLs from
    the data: mean | median | mode | a numeric constant, optionally per
    group (comma list). Mean uses the micro-unit integer contract;
    median has the exact/approx knob in the library call; mode breaks
    ties deterministically (count desc, value asc).""")

_forward(
    "cusum", "datapipe.events.cusum",
    _col("key"), _col("bucket"), _col("value"), _float("k", 0.5), _float("h", 5.0),
    doc="""cusum :key :bucket :value [k] [h] — two-sided CUSUM change-point
    detection over a per-key bucketed series (feed the resample grid):
    the small-persistent-shift alarm a 3-sigma band never trips. k =
    half the shift worth detecting (sigmas), h = decision interval
    (published defaults 0.5 / 5).""")

_forward(
    "survival", "datapipe.events.survival",
    _col("user"), _col("ts"), _int("period_days", 7), _int("horizon", 1), _col("by", None),
    call=lambda f, df, user, ts, period_days, horizon, by: (
        _target("datapipe.events.survival_by")(df, user, ts, by, period_days, horizon)
        if by else f(df, user, ts, period_days, horizon)),
    doc="""survival :user :ts [period_days] [horizon_periods] [by] —
    Kaplan-Meier churn curve over user lifetimes with right-censoring
    near the observation end; by groups curves by the user's FIRST
    event value (entry-channel attribution).""")

_forward(
    "seasonality", "datapipe.events.seasonality", _col("key"), _col("ts"),
    doc="""seasonality :key :ts — hour-of-week load profile per key
    (key, dow, hour, n, share): the capacity/anomaly baseline, pure
    integer epoch arithmetic.""")

_forward(
    "funnel-by", "datapipe.events.funnel_steps_by",
    _col("user"), _col("ts"), _col("type"), _list("steps"), _col("arm"),
    _float("within_minutes", None),
    doc="""funnel-by :user :ts :type 'step1,step2,...' :arm [within_minutes]
    — per-arm funnel: the greedy chain with users attributed to their
    anchor event's arm value; conversion against each arm's own step-1
    count (the A/B comparison readout).""")

_forward(
    "funnel-ab", "datapipe.events.funnel_steps_by",
    _col("user"), _col("ts"), _col("type"), _list("steps"), _col("arm"), _text("a"), _text("b"),
    _float("within_minutes", None),
    call=lambda f, df, user, ts, type_, steps, arm, a, b, within: _target(
        "datapipe.events.funnel_ab_test")(f(df, user, ts, type_, steps, arm, within), arm, a, b),
    doc="""funnel-ab :user :ts :type 'step1,step2,...' :arm 'a' 'b'
    [within_minutes] — the per-step conversion A/B readout: grouped
    funnel then two-proportion z + Wilson/Newcombe intervals between
    arms a and b.""")

_forward(
    "retention-ab", "datapipe.events.retention_cohorts_by",
    _col("user"), _col("ts"), _col("arm"), _text("a"), _text("b"), _int("period_days", 7),
    _int("max_periods", 8),
    call=lambda f, df, user, ts, arm, a, b, days, periods: _target(
        "datapipe.events.retention_ab_test")(f(df, user, ts, arm, days, periods), arm, a, b),
    doc="""retention-ab :user :ts :arm 'a' 'b' [period_days] [max_periods]
    — the per-offset stickiness A/B readout: grouped retention grid
    then two-proportion z + Wilson/Newcombe intervals between arms.""")

_forward(
    "retention-by", "datapipe.events.retention_cohorts_by",
    _col("user"), _col("ts"), _col("arm"), _int("period_days", 7), _int("max_periods", 8),
    doc="""retention-by :user :ts :arm [period_days] [max_periods] —
    per-arm cohort retention grid (first-event arm attribution).""")

_forward(
    "session-stats", "streaming.sessions.session_stats",
    _col("user"), _col("ts"), _float("gap", 30.0),
    doc="""session-stats :user :ts [gap_minutes] — one-row engagement
    scorecard (sessions, users, avg events, avg/median duration,
    bounce rate).""")

_forward(
    "distinct-sketch", "datapipe.curation.distinct_sketch",
    _col("col"), _col("arm", None), _int("lgk", 12),
    call=lambda f, df, col, arm, lgk: f(df, [col], arm, lgk).drop("sketch"),
    doc="""distinct-sketch :col [arm] [lgk] — mergeable HLL distinct-count
    estimate per column (grouped when arm given); the bounded-state
    count_distinct for key universes that don't fit anywhere.""")

_forward(
    "session-stats-by", "streaming.sessions.session_stats_by",
    _col("user"), _col("ts"), _col("arm"), _float("gap", 30.0),
    doc="""session-stats-by :user :ts :arm [gap_minutes] — per-group
    engagement scorecard (the A/B family's engagement leg; users
    attributed to the arm on their first event).""")

_forward(
    "graph-triangles", "datapipe.graph.graph_triangles", _col("src"), _col("dst"),
    doc="""graph-triangles :src :dst — per-node degree, triangle count, and
    local clustering coefficient over the undirected simple graph.""")

_forward(
    "graph-khop", "datapipe.graph.graph_khop",
    _col("src"), _col("dst"), _list("seeds"), _int("k", 3), _bool("directed", False),
    doc="""graph-khop :src :dst 'seed1,seed2' [k] [directed] — nodes within
    k hops of the seed set with min hop distance (quarantine list /
    crawl whitelist).""")

_forward(
    "calibration-bins", "datapipe.numeric.calibration_bins",
    _col("score"), _col("label"), _int("bins", 10),
    doc="""calibration-bins :score :label [bins] — reliability-diagram bins
    for a probabilistic classifier (per-bin n / mean_score / frac_pos).""")

_forward(
    "ewma-chart", "datapipe.events.ewma",
    _col("key"), _col("bucket"), _col("value"), _float("alpha", 0.3), _float("L", 3.0),
    doc="""ewma-chart :key :bucket :value [alpha] [L] — EWMA control chart
    over a per-key bucketed series (feed the resample grid): the
    medium-drift alarm between rolling-stats' spike band and cusum's
    persistent-shift walk.""")

_forward(
    "code-signals", "datapipe.text.code_signals", _col("text"),
    doc="""code-signals :text — code-vs-prose routing signals + is_code
    verdict (indent/terminator/keyword/symbol thresholds, scan-side).""")

_forward(
    "graph-hits", "datapipe.graph.graph_hits",
    _col("src"), _col("dst"), _col("weight", None), _int("iters", 5),
    doc="""graph-hits :src :dst [weight] [iters] — HITS hubs/authorities
    over a directed edge list (Kleinberg 1999; L1-normalized).""")

_forward(
    "graph-summary", "datapipe.graph.graph_summary", _col("src"), _col("dst"),
    doc="""graph-summary :src :dst — one-row structural scorecard of a
    directed edge list (nodes/edges/self-loops/degree/density/
    reciprocity) — the pre-flight before anything iterative.""")


def _srm_ratios(spec: str) -> dict[str, float]:
    """'arm:w,arm:w' → {arm: w}; unlike a comma list (``_split``), an
    empty item is an error, not skipped."""
    ratios = {}
    for part in spec.split(","):
        k, _, w = part.strip().rpartition(":")
        ratios[k.strip()] = float(w)
    return ratios


_forward(
    "srm-check", "datapipe.events.srm_check",
    _col("unit"), _col("arm"), _text("ratios", None), _text("alpha", "0.001"),
    call=lambda f, df, unit, arm, ratios, alpha: f(
        df, unit, arm, _srm_ratios(ratios) if ratios else None, alpha),
    doc="""srm-check :unit :arm ['arm:w,arm:w'] [alpha] — sample-ratio-
    mismatch gate (Pearson chi-square on distinct units per arm vs the
    planned split; default equal). The experiment-health check every
    A/B readout presumes.""")

_forward(
    "cuped-ab", "datapipe.events.cuped_ab_test",
    _col("arm"), _col("metric"), _col("covariate"), _text("a"), _text("b"),
    doc="""cuped-ab :arm :metric :covariate 'a' 'b' — CUPED variance-
    reduced two-arm z-test on a per-unit frame (Deng et al., WSDM
    2013): theta fit pooled, both raw and adjusted readouts.""")

_forward(
    "chi2-independence", "datapipe.numeric.chi_square_independence", _col("a"), _col("b"),
    doc="""chi2-independence :a :b — Pearson chi-square test of
    independence + Cramér's V between two categorical columns (the
    feature-selection / leakage screen).""")

_forward(
    "cohens-kappa", "datapipe.numeric.cohens_kappa", _col("a"), _col("b"),
    doc="""cohens-kappa :a :b — inter-rater agreement beyond chance between
    two label columns (Cohen 1960), with the Landis-Koch band.""")

_forward(
    "acf", "datapipe.events.acf", _col("key"), _col("bucket"), _col("value"), _int("max_lag", 24),
    cls="AcfChart",
    doc="""acf :key :bucket :value [max_lag] — sample autocorrelation per
    key over a bucketed series (feed the resample grid): the memory/
    period detector that picks rolling windows and seasonal periods.""")

_forward(
    "holt-forecast", "datapipe.events.holt_forecast",
    _col("key"), _col("bucket"), _col("value"), _float("alpha", 0.3), _float("beta", 0.1),
    _int("horizon", 6),
    doc="""holt-forecast :key :bucket :value [alpha] [beta] [horizon] —
    Holt linear-trend double exponential smoothing + h-step forecast
    per key (capacity planning off the resample grid).""")

_forward(
    "mann-whitney", "datapipe.numeric.mann_whitney_u",
    _col("value"), _col("group"), _text("a"), _text("b"),
    doc="""mann-whitney :value :group 'a' 'b' — exact tie-corrected
    Mann-Whitney U rank-sum test between two groups, computed off the
    value histogram (never a corpus rank window).""")

_forward(
    "benford-check", "datapipe.numeric.benford_deviation", _col("col"),
    doc="""benford-check :col — first-significant-digit Benford screen
    with chi-square, Nigrini MAD, and conformity band.""")

_forward(
    "graph-sssp", "datapipe.graph.graph_sssp",
    _col("src"), _col("dst"), _list("seeds"), _col("weight", None), _int("max_rounds", 10),
    doc="""graph-sssp :src :dst 'seed1,seed2' [weight] [max_rounds] —
    weighted multi-seed shortest paths (bounded Bellman-Ford, exact
    micro-integer distances) over a directed edge list.""")

_forward(
    "welch-t", "datapipe.numeric.welch_t_test",
    _col("value"), _col("group"), _text("a"), _text("b"),
    cls="WelchTTest",
    doc="""welch-t :value :group 'a' 'b' — Welch unequal-variance t-test
    between two groups (means, variances, Welch-Satterthwaite df,
    Cohen's d).""")

_forward(
    "kruskal-wallis", "datapipe.numeric.kruskal_wallis",
    _col("value"), _col("group"), _list("groups"),
    doc="""kruskal-wallis :value :group 'a,b,c' — tie-corrected k-group
    rank test (does ANY group differ), off the value histogram.""")

_forward(
    "ratio-ab", "datapipe.events.ratio_ab_test",
    _col("arm"), _col("num"), _col("den"), _text("a"), _text("b"),
    doc="""ratio-ab :arm :num :den 'a' 'b' — delta-method A/B test for a
    ratio metric on a per-unit frame (Deng, Knoblich & Lu, KDD 2018).""")

_forward(
    "msprt-ab", "datapipe.events.msprt_ab_test",
    _col("arm"), _col("metric"), _text("a"), _text("b"), _float("tau", 1.0),
    doc="""msprt-ab :arm :metric 'a' 'b' [tau] — always-valid sequential
    A/B p-value (mixture SPRT; safe under continuous monitoring).""")

_forward(
    "textrank", "datapipe.text.textrank_keywords",
    _col("text"), _int("k", 20), _int("min_count", 5),
    cls="TextrankKeywords",
    doc="""textrank :text [k] [min_count] — corpus keywords by PageRank
    over the word co-occurrence graph (TextRank at corpus scale).""")

_forward(
    "spearman", "datapipe.numeric.spearman_corr", _col("a"), _col("b"),
    cls="SpearmanCorr",
    doc="""spearman :a :b — Spearman rank correlation (Pearson over exact
    midranks; outlier-immune monotonic association).""")
