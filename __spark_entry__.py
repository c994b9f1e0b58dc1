"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship cleansing recipe (the reference's published
benchmark shape, wrangler-docs/performance.md:24-38) on sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL for each query (same column names;
omitted only for ops whose semantics aren't SQL-expressible, e.g.
mask-shuffle's seeded java.util.Random walk).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrangler_spark import Pipeline
from wrangler_spark.datapipe._local import local_table


_TS_UNIT_CACHE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts physical type has varied across testdata generations:
        # TIMESTAMP(NANOS) (Spark rejects unless nanosAsLong reads it as
        # int64) vs plain TIMESTAMP micros (reads as timestamp/timestamp_ntz
        # directly). Branch on the dtype actually read — convert only the
        # long-nanos case; never rewrite a column that is already a timestamp.
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # A LongType ts is *usually* TIMESTAMP(NANOS) surfaced via
            # nanosAsLong — but a plain INT64 of millis/micros would also
            # land here, so pick the divisor from the magnitude of one
            # sampled value instead of assuming nanos (epoch-2020 is ~1.6e18
            # ns, ~1.6e15 us, ~1.6e12 ms; the bands below are centuries
            # wide). Cached per sf_dir so the 1-row sample job runs once.
            unit = _TS_UNIT_CACHE.get(sf_dir)
            if unit is None:
                row = df.select("ts").filter(F.col("ts").isNotNull()).first()
                v = abs(row[0]) if row is not None else 10**18
                unit = "ns" if v >= 10**16 else ("us" if v >= 10**13 else "ms")
                _TS_UNIT_CACHE[sf_dir] = unit
            if unit == "ns":
                # integer division — double division would round the micros
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif unit == "us":
                df = df.withColumn("ts", F.timestamp_micros(F.col("ts")))
            else:
                df = df.withColumn("ts", F.timestamp_millis(F.col("ts")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # session tz is UTC, so NTZ -> TIMESTAMP is a pure relabel of the
            # same micros value; needed because unix_millis/unix_micros (and
            # the epoch-based directives) require the LTZ type
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _lineitem_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: deliberately NOT repartitioned before the parse. Measured at
    # sf0.1 (local[32]): the fused scan→concat→from_csv single pass beats
    # both round-robin (+12%: sortBeforeRepartition + shuffle) and hash
    # repartition (−10%, within run noise) because local-mode from_csv is
    # allocation/GC-bound, not CPU-bound — extra threads don't help. On a
    # real cluster the multi-file scan parallelizes the parse for free.
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.concat_ws(",", *[F.col(c).cast("string") for c in li.columns]).alias("body")
    )


# The reference's benchmark recipe shape: parse-as-csv + drops + fills +
# uppercase + mask-number + filter-row (performance.md:24-38), adapted to the
# lineitem column set. mask patterns use only '#'/'x' so the oracle can
# mirror them with substr arithmetic.
_CLEANSE_RECIPE = """
parse-as-csv :body ',' false
drop :body
set-headers :l_orderkey,:l_partkey,:l_suppkey,:l_linenumber,:l_quantity,:l_extendedprice,:l_discount,:l_tax,:l_returnflag,:l_linestatus,:l_shipdate
set-type :l_suppkey long
set-type :l_linenumber int
set-type :l_quantity double
set-type :l_extendedprice double
set-type :l_discount double
set-type :l_tax double
fill-null-or-empty :l_returnflag 'U'
fill-null-or-empty :l_linestatus 'U'
uppercase :l_returnflag
lowercase :l_linestatus
mask-number :l_orderkey 'xx######'
mask-number :l_partkey '##xxxx'
filter-row exp:{ l_quantity > 45.0 } true
set-column :revenue exp:{ l_extendedprice * (1.0 - l_discount) }
"""

_CLEANSE_ORACLE = """
SELECT 'xx' || substr(CAST(l_orderkey AS VARCHAR), 3, 6) AS l_orderkey,
       substr(CAST(l_partkey AS VARCHAR), 1, 2) || 'xxxx' AS l_partkey,
       l_suppkey,
       l_linenumber,
       l_quantity,
       l_extendedprice,
       l_discount,
       l_tax,
       upper(l_returnflag) AS l_returnflag,
       lower(l_linestatus) AS l_linestatus,
       CAST(l_shipdate AS VARCHAR) AS l_shipdate,
       l_extendedprice * (1.0 - l_discount) AS revenue
FROM lineitem
WHERE NOT (l_quantity > 45.0)
"""


def _q_cleanse(spark, sf_dir):
    return Pipeline.compile(_CLEANSE_RECIPE).apply(_lineitem_body(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_cleanse(spark, "/root/testdata/sf0.001")


def _recipe_q(table: str, recipe: str):
    def fn(spark, sf_dir):
        return Pipeline.compile(recipe).apply(_t(spark, sf_dir, table))

    return fn


def _q_table_lookup(spark, sf_dir):
    from wrangler_spark.directives.lookups import register_lookup

    register_lookup("nation_lk", _t(spark, sf_dir, "nation"))
    recipe = "table-lookup :c_nationkey 'nation_lk'"
    return Pipeline.compile(recipe).apply(_t(spark, sf_dir, "customer"))


def _q_catalog_lookup(spark, sf_dir):
    from wrangler_spark.directives.lookups import register_lookup

    register_lookup(
        "segments",
        {"AUTOMOBILE": "auto", "BUILDING": "bldg", "FURNITURE": "furn", "MACHINERY": "mach", "HOUSEHOLD": "home"},
    )
    return Pipeline.compile("catalog-lookup segments :c_mktsegment").apply(_t(spark, sf_dir, "customer"))


_ICD_CODES = ["4019", "25000", "4280", "42731", "41401", "486", "5990", "2724", "311", "53081"]


def _q_catalog_lookup_icd(spark, sf_dir):
    """Out-of-the-box bundled catalog: no register_lookup() call — the
    directive resolves ICD-9 from the packaged public-domain subset."""
    df = _t(spark, sf_dir, "customer").withColumn(
        "code",
        F.element_at(
            F.array(*[F.lit(c) for c in _ICD_CODES]),
            (F.col("c_custkey") % 10 + 1).cast("int"),
        ),
    )
    return Pipeline.compile("catalog-lookup ICD-9 :code").apply(df)


def _icd_oracle_sql() -> str:
    from wrangler_spark.directives.lookups import load_bundled_catalog

    m = load_bundled_catalog("icd-9")
    arr = "[" + ", ".join(f"'{c}'" for c in _ICD_CODES) + "]"
    case = " ".join(
        "WHEN '" + c + "' THEN '" + m[c].replace("'", "''") + "'" for c in _ICD_CODES
    )
    return (
        f"WITH b AS (SELECT *, ({arr})[CAST(c_custkey % 10 AS INT) + 1] AS code FROM customer) "
        f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, code, "
        f'CASE code {case} END AS "code_icd-9_description" FROM b'
    )


def _q_send_to_error(spark, sf_dir):
    recipe = "send-to-error exp:{ c_acctbal < 0.0 } 'negative balance'"
    return Pipeline.compile(recipe).apply(_t(spark, sf_dir, "customer"))


_BM25_QUERIES = [
    (1, "spark shuffle partitions"),
    (2, "the quick brown fox"),
    (3, "customer order lineitem revenue"),
]

_TAG_KEYWORDS = ["spark", "hash join", "table scan", "quantum"]


def _datapipe_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from wrangler_spark.datapipe import (
        bpe, curation, dedup, events, graph, numeric, similarity, text,
    )

    def docs(spark, sf_dir):
        return _t(spark, sf_dir, "documents")

    def embs(spark, sf_dir):
        return _t(spark, sf_dir, "embeddings")

    def _q_vocab_state(spark, sf_dir):
        # vocabulary state built from 3 batch folds into a fresh temp
        # state, read back through the coverage cut — the driver grades
        # it against the ONE-SHOT coverage SQL (exact sum-merge: state
        # reconstruction must equal the single-pass computation)
        import tempfile

        d = docs(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="wrspark_vocab_state_") + "/st"
        for i in range(3):
            text.vocab_update_state(
                d.filter(F.col("doc_id") % 3 == i), path, "text", str(i)
            )
        return text.vocab_coverage_from_state(spark, path, 0.9)

    def _q_dedup_pagerank(spark, sf_dir):
        # centrality-based canonical selection: PageRank over the
        # SYMMETRIZED near-dup pair graph (weights = jaccard) — the
        # highest-ranked cluster member is its most-connected
        # representative (vs the min-id convention)
        from wrangler_spark.datapipe import dedup as _dd, graph as _g

        p = _dd.minhash_lsh_pairs(docs(spark, sf_dir), "doc_id", "text", 0.5)
        edges = p.select(
            F.col("id_a").alias("s"), F.col("id_b").alias("d"),
            F.col("jaccard").alias("w"),
        ).union(
            p.select(F.col("id_b"), F.col("id_a"), F.col("jaccard"))
        )
        return _g.graph_pagerank(edges, "s", "d", weight_col="w")

    def _q_quantiles_state(spark, sf_dir):
        # quantile state built from 3 batch folds into a fresh temp
        # state, read back through the nearest-rank selection — graded
        # against the ONE-SHOT sketch SQL (bin counts merge exactly by
        # summation: state reconstruction must equal the single pass)
        import tempfile

        li = _t(spark, sf_dir, "lineitem")
        path = tempfile.mkdtemp(prefix="wrspark_quant_state_") + "/st"
        for i in range(3):
            numeric.hist_update_state(
                li.filter(F.col("l_orderkey") % 3 == i),
                path, "l_extendedprice", batch_id=str(i),
            )
        return numeric.quantiles_from_state(spark, path)

    def _q_dq_state(spark, sf_dir):
        # constraints state built from 3 batch folds into a fresh temp
        # state, merged back through constraints_from_state — graded
        # against the one-shot report SQL (fractions re-derive from
        # summed viol/n integers; unique is per-batch only and excluded)
        import tempfile

        od = _t(spark, sf_dir, "orders")
        rules = [
            {"rule": "not_null", "col": "o_custkey"},
            {"rule": "range", "col": "o_totalprice", "min": 0,
             "max": 600000},
            {"rule": "in_set", "col": "o_orderstatus",
             "values": ["O", "F", "P"]},
            {"rule": "min_rows", "n": 1000},
        ]
        path = tempfile.mkdtemp(prefix="wrspark_dq_state_") + "/st"
        for i in range(3):
            curation.constraints_update_state(
                od.filter(F.col("o_orderkey") % 3 == i), path, rules,
                batch_id=str(i),
            )
        return curation.constraints_from_state(spark, path)

    def _q_funnel_state(spark, sf_dir):
        # funnel state built from 3 EVENT-TIME-ORDERED folds (the fold's
        # exactness contract) into a fresh temp state, read back through
        # funnel_from_state — graded against the ONE-SHOT funnel SQL:
        # state reconstruction must equal the batch computation, exactly
        # as text_vocab_state is graded against one-shot coverage
        import tempfile

        ev = _t(spark, sf_dir, "events")
        path = tempfile.mkdtemp(prefix="wrspark_funnel_state_") + "/st"
        events.funnel_init_state(
            spark, path, ["view", "click", "purchase"], within_minutes=1440
        )
        cuts = ["2024-01-11", "2024-01-21"]
        parts = [
            ev.filter(F.col("ts") < cuts[0]),
            ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
            ev.filter(F.col("ts") >= cuts[1]),
        ]
        for i, b in enumerate(parts):
            events.funnel_update_state(b, path, "user_id", "ts", "event_type", f"b{i}")
        return events.funnel_from_state(spark, path)

    def _q_retention_forget(spark, sf_dir):
        # retention state built once, a deterministic user subset
        # tombstoned (forget_ids), grid read back — graded against the
        # one-shot retention SQL over the RETAINED users only
        import tempfile

        from wrangler_spark.datapipe.maintenance import forget_ids

        ev = _t(spark, sf_dir, "events")
        path = tempfile.mkdtemp(prefix="wrspark_ret_forget_") + "/st"
        events.retention_write_state(ev, path, "user_id", "ts", period_days=1)
        forget_ids(
            spark, path,
            ev.filter(F.col("user_id") % 17 == 3).select("user_id").distinct(),
            "__u",
        )
        return events.retention_grid_from_state(spark, path, 8).withColumn(
            "cohort_start", F.col("cohort_start").cast("string")
        )

    def _boiler_docs(spark, sf_dir):
        # fixture docs are single-line; append one corpus-wide boilerplate
        # line, a blank line, and a per-doc unique line (mirrored in the
        # oracle's doc_cte) so strip_boilerplate has real work at every SF
        return docs(spark, sf_dir).select(
            "doc_id",
            F.concat_ws(
                "\n", F.col("text"), F.lit(""), F.lit("Subscribe to our newsletter!"),
                F.concat(F.lit("ref: doc "), F.col("doc_id").cast("string")),
            ).alias("text"),
        )

    return {
        "dedup_exact": lambda s, d: dedup.exact_dedup(docs(s, d), "doc_id", "text"),
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_pairs(docs(s, d), "doc_id", "text", 0.5),
        # the recall-tilted LSH operating point (16 bands x 2 rows) — the
        # banding knob tuned via pair_eval before a full-scale run
        "dedup_minhash_b16r2": lambda s, d: dedup.minhash_lsh_pairs(
            docs(s, d), "doc_id", "text", 0.3, bands=16, rows_per_band=2
        ),
        "dedup_minhash_flag": lambda s, d: Pipeline.compile(
            "dedup-minhash :doc_id :text 0.5"
        ).apply(docs(s, d)),
        "dedup_minhash_cc": lambda s, d: dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5),
        # soft dedup: keep every cluster member, weight 1/cluster_size
        "dedup_cluster_weights": lambda s, d: dedup.cluster_weights(
            dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5),
            id_col="doc_id",
        ),
        # ...and CONSUME the weights: weight-proportional deterministic
        # sampling (a 40x cluster keeps ~rate docs total)
        "sample_soft_dedup": lambda s, d: curation.sample_weighted(
            dedup.cluster_weights(
                dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5),
                id_col="doc_id",
            ),
            "id", "weight", rate=0.9,
        ).select(F.col("id").alias("doc_id"), "weight"),
        "dedup_survivors": lambda s, d: dedup.cluster_survivors(
            dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5),
            docs(s, d), "doc_id", "component", "n_chars",
        ),
        "text_winnow": lambda s, d: text.winnow_fingerprints(docs(s, d), "doc_id", "text"),
        "text_winnow_overlap": lambda s, d: text.winnow_overlap(docs(s, d), "doc_id", "text"),
        # r13: the fingerprint-sample pre-score budget (candidates on
        # the fp % 2 subset, exact verify of survivors only)
        "text_winnow_budget": lambda s, d: text.winnow_overlap(
            docs(s, d), "doc_id", "text", fp_sample_mod=2),
        "split_by_cluster": lambda s, d: curation.split_by_cluster(
            dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5), 0.1, salt="sp"
        ),
        "text_sentences": lambda s, d: curation.sentence_split(docs(s, d), "doc_id", "text"),
        "dedup_sentences": lambda s, d: curation.sentence_dedup(docs(s, d), "doc_id", "text"),
        "corpus_report": lambda s, d: curation.corpus_report(
            docs(s, d), "doc_id", "text", "lang"
        ),
        "corpus_report_by": lambda s, d: curation.corpus_report_by(docs(s, d), "source"),
        "shuffle_shards": lambda s, d: curation.shuffle_shards(
            docs(s, d), "doc_id", 8, "ep0"
        ).select("doc_id", "shard", "sort_key"),
        "text_bpe_count": lambda s, d: (
            lambda m: bpe.bpe_token_count(docs(s, d), "text", m).select(
                "doc_id", "n_bpe_tokens"
            )
        )(bpe.train_bpe(docs(s, d), "text", 100)),
        "keyword_tag": lambda s, d: curation.keyword_tag(
            docs(s, d), "doc_id", "text", _TAG_KEYWORDS
        ),
        "corpus_diff": lambda s, d: curation.corpus_diff(
            docs(s, d).filter(F.col("doc_id") % 11 != 0),
            docs(s, d).filter(F.col("doc_id") % 7 != 0).withColumn(
                "text",
                F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
                .otherwise(F.col("text")),
            ),
            "doc_id", "text",
        ),
        "sample_domain_cap": lambda s, d: curation.cap_per_group(
            docs(s, d), "source", "doc_id", 20, order_col="n_chars"
        ),
        "dedup_template": lambda s, d: dedup.template_dedup(docs(s, d), "doc_id", "text"),
        "dedup_cluster_hist": lambda s, d: dedup.cluster_histogram(
            dedup.minhash_components(docs(s, d), "doc_id", "text", 0.5)
        ),
        "num_winsorize": lambda s, d: numeric.winsorize_column(
            _t(s, d, "customer"), "c_acctbal", 0.05, 0.95
        ).select("c_custkey", "c_acctbal_wins"),
        "text_readability": lambda s, d: text.readability(docs(s, d), "text").select(
            "doc_id", "n_sentences", "n_words_fk", "n_syllables", "flesch_ease", "fk_grade"
        ),
        "num_outliers": lambda s, d: numeric.flag_outliers(
            _t(s, d, "customer"), "c_acctbal", "zscore", 2.0
        ).select("c_custkey", "c_acctbal_outlier"),
        "num_mad": lambda s, d: numeric.flag_outliers(
            _t(s, d, "customer"), "c_acctbal", "mad", 3.5
        ).select("c_custkey", "c_acctbal_outlier"),
        "num_qbins": lambda s, d: numeric.quantile_bins(
            _t(s, d, "customer"), "c_acctbal", 10
        ).select("c_custkey", "c_acctbal_bin"),
        "num_mad_by": lambda s, d: numeric.flag_outliers(
            _t(s, d, "customer"), "c_acctbal", "mad", 3.5, by=["c_mktsegment"]
        ).select("c_custkey", "c_mktsegment", "c_acctbal_outlier"),
        "num_winsorize_by": lambda s, d: numeric.winsorize_column(
            _t(s, d, "customer"), "c_acctbal", 0.05, 0.95, by=["c_mktsegment"]
        ).select("c_custkey", "c_mktsegment", "c_acctbal_wins"),
        "num_qbins_by": lambda s, d: numeric.quantile_bins(
            _t(s, d, "customer"), "c_acctbal", 10, by=["c_mktsegment"]
        ).select("c_custkey", "c_mktsegment", "c_acctbal_bin"),
        "sample_top_frac_by": lambda s, d: curation.keep_top_frac(
            _t(s, d, "customer"), "c_acctbal", 0.1, by=["c_mktsegment"]
        ).select("c_custkey", "c_mktsegment", "c_acctbal"),
        "text_entropy": lambda s, d: text.char_entropy(
            docs(s, d), "doc_id", "text"
        ).select("doc_id", "char_entropy"),
        "text_vocab": lambda s, d: text.vocab_coverage(docs(s, d), "text", 0.9),
        "text_ngram_rep": lambda s, d: text.ngram_repetition_stats(
            docs(s, d), "doc_id", "text", top_ns=(2, 3, 4), dup_ns=(5, 10)
        ).select(
            "doc_id", "top_2gram_char_frac", "top_3gram_char_frac",
            "top_4gram_char_frac", "dup_5gram_char_frac", "dup_10gram_char_frac",
        ),
        "text_group_terms": lambda s, d: text.group_top_terms(
            docs(s, d), "text", "source", 10
        ),
        "text_group_terms_weighted": lambda s, d: text.group_top_terms(
            docs(s, d), "text", "source", 10, weight="logodds"
        ),
        "text_vocab_state": _q_vocab_state,
        "text_rep_filter": lambda s, d: text.repetition_filter(
            docs(s, d), "doc_id", "text"
        ).select("doc_id", "repetition_pass"),
        "text_oov": lambda s, d: text.oov_rate(
            docs(s, d), "doc_id", "text", text.vocab_coverage(docs(s, d), "text", 0.9)
        ).select("doc_id", "oov_rate"),
        "text_top_ngrams": lambda s, d: text.top_ngrams(
            docs(s, d), "doc_id", "text", 3, 20
        ),
        "corpus_drift": lambda s, d: curation.distribution_drift(
            _t(s, d, "customer").filter(F.col("c_custkey") % 3 != 0),
            _t(s, d, "customer").filter(F.col("c_custkey") % 3 == 0),
            "c_acctbal", 10,
        ),
        "num_scale": lambda s, d: numeric.scale_column(
            _t(s, d, "customer"), "c_acctbal", "minmax"
        ).select("c_custkey", "c_acctbal_scaled"),
        "num_scale_by": lambda s, d: numeric.scale_column(
            _t(s, d, "customer"), "c_acctbal", "zscore", by=["c_mktsegment"]
        ).select("c_custkey", "c_mktsegment", "c_acctbal_scaled"),
        "sample_top_frac": lambda s, d: curation.keep_top_frac(
            _t(s, d, "customer"), "c_acctbal", 0.1
        ).select("c_custkey", "c_acctbal"),
        "entity_match": lambda s, d: dedup.entity_match_pairs(
            _t(s, d, "customer"), "c_custkey",
            ["c_nationkey", "c_mktsegment"], [("c_name", 2)],
        ),
        "entity_match_against": lambda s, d: dedup.entity_match_against(
            _t(s, d, "customer").filter(F.col("c_custkey") % 3 == 0),
            _t(s, d, "customer").filter(F.col("c_custkey") % 3 != 0),
            "c_custkey", ["c_nationkey", "c_mktsegment"], [("c_name", 2)],
        ),
        "dedup_cross_exact": lambda s, d: dedup.exact_dedup_against(
            docs(s, d).filter(F.col("doc_id") % 3 != 0),
            docs(s, d).filter(F.col("doc_id") % 3 == 0),
            "doc_id", "text",
        ),
        "dedup_cross_bloom": lambda s, d: dedup.exact_dedup_against(
            docs(s, d).filter(F.col("doc_id") % 3 != 0),
            docs(s, d).filter(F.col("doc_id") % 3 == 0),
            "doc_id", "text", bloom_bits=1 << 20,
        ),
        "dedup_overlap": lambda s, d: dedup.overlap_pairs(
            docs(s, d), "doc_id", "text", 3, 0.8
        ),
        # the pair-volume governor (100 TB posture for output-bound pair
        # families): per-doc strongest-first budget, oracle-mirrored via
        # two QUALIFY stages in the same side order
        "dedup_overlap_capped": lambda s, d: dedup.overlap_pairs(
            docs(s, d), "doc_id", "text", 3, 0.5, max_pairs_per_doc=2
        ),
        # the r12 PRE-SCORE candidate budget: each doc's top-k
        # candidates by shared-prefix-gram count are the only pairs
        # that pay verification (the r11 governor capped pairs AFTER
        # full scoring); oracle mirrors the exact prefix + budget
        "dedup_overlap_budget": lambda s, d: dedup.overlap_pairs(
            docs(s, d), "doc_id", "text", 3, 0.5, max_candidates_per_doc=3
        ),
        "dedup_cross_minhash": lambda s, d: dedup.minhash_pairs_against(
            docs(s, d).filter(F.col("doc_id") % 3 != 0),
            docs(s, d).filter(F.col("doc_id") % 3 == 0),
            "doc_id", "text", 0.5,
        ),
        # 8 planes (not the default 16) so the mod-5 split still collides
        # on the fixture embeddings; oracle mirrors the same prefix
        "dedup_cross_embedding": lambda s, d: dedup.embedding_pairs_against(
            embs(s, d).filter(F.col("vec_id") % 5 == 0),
            embs(s, d).filter(F.col("vec_id") % 5 != 0),
            "vec_id", "embedding", 0.0, planes=dedup.HYPERPLANES[:8],
        ),
        "strip_boilerplate": lambda s, d: curation.strip_boilerplate_lines(
            _boiler_docs(s, d), "doc_id", "text", 2
        ),
        "dedup_lsh_eval": lambda s, d: dedup.pair_eval(
            dedup.minhash_lsh_pairs(docs(s, d), "doc_id", "text", 0.5),
            dedup.ngram_jaccard_pairs(docs(s, d), "doc_id", "text", 3, 0.5, unit="word"),
        ),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(
            docs(s, d), "doc_id", "text", 5, 0.6, unit="char"
        ),
        "dedup_ngram_word": lambda s, d: dedup.ngram_jaccard_pairs(
            docs(s, d), "doc_id", "text", 3, 0.5, unit="word"
        ),
        # r12 pre-score candidate budget on the jaccard op (see
        # dedup_overlap_budget): verify only each doc's top-k
        # most-gram-sharing candidates
        "dedup_ngram_budget": lambda s, d: dedup.ngram_jaccard_pairs(
            docs(s, d), "doc_id", "text", 3, 0.5, unit="word",
            max_candidates_per_doc=3,
        ),
        "dedup_substring": lambda s, d: curation.substring_dup_spans(docs(s, d), "doc_id", "text", 8),
        "decontam_spans": lambda s, d: curation.substring_spans_against(
            docs(s, d), docs(s, d).filter(F.col("doc_id") % 17 == 3), "doc_id", "text", 8
        ),
        "dedup_substring_keepfirst": lambda s, d: curation.substring_dup_spans(
            docs(s, d), "doc_id", "text", 8, keep_first=True
        ),
        "text_dsir": lambda s, d: curation.dsir_logratio(
            docs(s, d), docs(s, d).filter(F.col("doc_id") % 7 == 0), "doc_id", "text", 4096
        ),
        "pack_sequences": lambda s, d: curation.pack_sequences(docs(s, d), "doc_id", "text", 512),
        "sample_token_budget_by": lambda s, d: curation.sample_token_budget(
            docs(s, d), "doc_id", "text", 5000, by="source"
        ).select("doc_id", "source", "n_tokens"),
        "text_chunk": lambda s, d: curation.chunk_documents(docs(s, d), "doc_id", "text", 64, 8),
        "text_bm25_topk": lambda s, d: text.bm25_topk(
            docs(s, d),
            local_table(s, _BM25_QUERIES, "query_id long, query string"),
            "doc_id", "text", 10,
        ),
        "text_bm25": lambda s, d: text.bm25_scores(
            docs(s, d),
            local_table(s, _BM25_QUERIES, "query_id long, query string"),
            "doc_id", "text",
        ),
        "dedup_simhash": lambda s, d: dedup.simhash(docs(s, d), "doc_id", "text", 32),
        "dedup_embedding": lambda s, d: dedup.embedding_dup_pairs(embs(s, d), "vec_id", "embedding", 0.0),
        "dedup_embedding_cc": lambda s, d: dedup.embedding_components(embs(s, d), "vec_id", "embedding", 0.0),
        "emb_quantize": lambda s, d: similarity.embedding_quantize(embs(s, d)).select(
            "vec_id", "q_scale", F.posexplode("q").alias("pos", "qv")
        ),
        "ann_rrf_fuse": lambda s, d: similarity.rrf_fuse(
            [
                similarity.cosine_topk(
                    embs(s, d), embs(s, d).filter(F.col("vec_id") < 5), k=5,
                    dim=64,
                ),
                similarity.ivf_topk(
                    embs(s, d), embs(s, d).filter(F.col("vec_id") < 5), 8,
                    "vec_id", "embedding", 5, dim=64,
                ),
            ],
            k=5,
        ),
        "ann_mmr_rerank": lambda s, d: similarity.mmr_rerank(
            similarity.cosine_topk(
                embs(s, d), embs(s, d).filter(F.col("vec_id") < 5), k=20, dim=64),
            embs(s, d), k=10,
        ),
        "emb_project": lambda s, d: similarity.embedding_project(embs(s, d), 64, 16).select(
            "vec_id", F.posexplode("embedding").alias("pos", "y")
        ),
        "ann_cosine_topk": lambda s, d: similarity.cosine_topk(
            embs(s, d), embs(s, d).filter(F.col("vec_id") < 5), "vec_id", "embedding", 10,
            dim=64,
        ),
        "ann_recall": _q_ann_recall,
        "ann_pq_topk": _q_ann_pq_topk,
        "ann_pq_recall": _q_ann_pq_recall,
        "ann_ivf_pq_topk": _q_ann_ivf_pq,
        "emb_outliers": lambda s, d: similarity.embedding_outliers(embs(s, d), 8, 0.05),
        "text_nfc": lambda s, d: text.unicode_normalize(
            docs(s, d), "text", "NFC", out_col="text_nfc"
        ).select("doc_id", "text_nfc"),
        # rows-only by design: no SQL engine exposes a zlib scalar
        "text_compress_ratio": lambda s, d: text.compression_ratio(
            docs(s, d), "text"
        ).select("doc_id", "compress_ratio"),
        "corpus_overlap": lambda s, d: curation.corpus_overlap(
            docs(s, d).filter(F.col("doc_id") % 3 != 0),
            docs(s, d).filter(F.col("doc_id") % 2 == 0), "text",
        ),
        "events_funnel": lambda s, d: events.funnel_steps(
            _t(s, d, "events"), "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_minutes=1440,
        ),
        "events_funnel_state": _q_funnel_state,
        # cohort_start cast to its yyyy-MM-dd string: Spark DATE→datetime.date
        # and DuckDB DATE→datetime64 canonicalize differently in pandas
        "events_retention": lambda s, d: events.retention_cohorts(
            _t(s, d, "events"), "user_id", "ts", period_days=1, max_periods=8,
        ).withColumn("cohort_start", F.col("cohort_start").cast("string")),
        # the right-to-be-forgotten flow end to end: state build ->
        # forget_ids tombstones -> grid read (anti-joined) must equal the
        # one-shot retention over the RETAINED users
        "events_retention_forget": _q_retention_forget,
        # day cast to string for the same DATE-canonicalization reason
        "events_active_users": lambda s, d: events.active_users(
            _t(s, d, "events"), "user_id", "ts", windows=(1, 7, 30)
        ).withColumn("day", F.col("day").cast("string")),
        "events_transitions": lambda s, d: events.event_transitions(
            _t(s, d, "events"), "user_id", "ts", "event_type", tie_col="event_id",
        ),
        "events_paths": lambda s, d: events.event_paths_topk(
            _t(s, d, "events"), "user_id", "ts", "event_type",
            k=10, max_len=5, tie_col="event_id",
        ),
        # step-to-step conversion timing for the greedy funnel
        "events_funnel_latency": lambda s, d: events.funnel_latencies(
            _t(s, d, "events"), "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_minutes=1440,
        ),
        # crawl-frontier ranking primitive: PageRank over the sessionized
        # event-type transition graph (weights = transition counts)
        "events_pagerank": lambda s, d: graph.graph_pagerank(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type", weight_col="n", damping=0.85, iters=5,
        ),
        # personalized form (TrustRank shape): teleport only to the seed
        # set — scores become closeness-to-trusted
        "events_pagerank_seeded": lambda s, d: graph.graph_pagerank(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type", weight_col="n", damping=0.85, iters=5,
            seeds=["signup", "purchase"],
        ),
        # weighted shortest paths (bounded Bellman-Ford) over the same
        # transition graph with cost = 1/n: the cheapest observed route
        # from signup to every other event type — khop's weighted twin
        "events_sssp": lambda s, d: graph.graph_sssp(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ).withColumn("cost", F.lit(1.0) / F.col("n")),
            "from_type", "to_type", ["signup"],
            weight_col="cost", max_rounds=6,
        ),
        # community detection (deterministic synchronous LPA) over the
        # same transition graph — the near-dup-cluster-labeling primitive
        # join/groupBy-key skew diagnostics: the pre-flight that decides
        # salting and AQE skew thresholds before a 100 TB join ships
        "events_key_skew": lambda s, d: curation.key_skew(
            _t(s, d, "events"), "user_id", k=20
        ),
        "events_key_skew_summary": lambda s, d: curation.key_skew_summary(
            _t(s, d, "events"), "user_id"
        ),
        # per-key time-series resample: dense hourly grid with zero-fill
        # (the grid a moving average is wrong without)
        "events_resample": lambda s, d: events.resample(
            _t(s, d, "events"), "event_type", "ts", "value",
            every_minutes=60, agg="sum", fill="zero",
        ).drop("bucket_ts"),
        # two-proportion z per step between the arms: the experimenter's
        # actual readout off the grouped funnel
        "events_funnel_ab": lambda s, d: events.funnel_ab_test(
            events.funnel_steps_by(
                _t(s, d, "events").withColumn(
                    "arm", F.pmod(F.col("user_id"), 2).cast("string")),
                "user_id", "ts", "event_type",
                ["view", "click", "purchase"], "arm", within_minutes=1440,
            ),
            "arm", "0", "1",
        ),
        # per-arm retention grid: the A/B family's second leg
        # cohort_start cast to string for the canonicalizer (the
        # events_retention convention; the library returns a DATE in
        # BOTH grids since the r12 contract unification)
        "events_retention_by": lambda s, d: events.retention_cohorts_by(
            _t(s, d, "events").withColumn(
                "arm", F.pmod(F.col("user_id"), 2).cast("string")),
            "user_id", "ts", "arm", period_days=1, max_periods=8,
        ).withColumn("cohort_start", F.col("cohort_start").cast("string")),
        # retention A/B: pooled per-offset two-proportion z + Wilson/
        # Newcombe intervals between the parity arms — the stickiness
        # readout pairing funnel_ab's conversion readout
        "events_retention_ab": lambda s, d: events.retention_ab_test(
            events.retention_cohorts_by(
                _t(s, d, "events").withColumn(
                    "arm", F.pmod(F.col("user_id"), 2).cast("string")),
                "user_id", "ts", "arm", period_days=1, max_periods=8,
            ),
            "arm", "0", "1",
        ),
        # delta-method ratio-metric A/B: value-per-event per user —
        # the variance the naive mean-of-ratios gets wrong
        "events_ratio_ab": lambda s, d: events.ratio_ab_test(
            _t(s, d, "events")
            .filter(F.col("user_id").isNotNull()
                    & F.col("value").isNotNull())
            .groupBy("user_id")
            .agg(
                F.round(
                    F.sum(F.round(F.col("value") * F.lit(1e6))
                          .cast("long")) / F.lit(1e6), 6,
                ).alias("spend"),
                F.count("*").cast("double").alias("n_events"),
            )
            .withColumn("arm", F.pmod(F.col("user_id"), 2).cast("string")),
            "arm", "spend", "n_events", "0", "1",
        ),
        # sample-ratio-mismatch gate: the experiment-health chi-square
        # every A/B readout above presumes (deliberately skewed expected
        # ratios so the statistic is non-trivial on the parity arms)
        "events_srm": lambda s, d: events.srm_check(
            _t(s, d, "events").withColumn(
                "arm", F.pmod(F.col("user_id"), 3).cast("string")),
            "user_id", "arm", ratios={"0": 0.5, "1": 0.25, "2": 0.25},
        ),
        # first-/last-touch attribution: channel derived from props.k
        # (mod 5), event_id breaks equal-ts ties deterministically
        "events_attribution": lambda s, d: events.attribution(
            _t(s, d, "events"), "user_id", "ts", "event_type",
            "purchase", ["view", "click"],
            channel_col=F.concat(
                F.lit("ch"),
                F.pmod(F.get_json_object("props", "$.k").cast("long"),
                       F.lit(5)).cast("string")),
            order_col="event_id",
        ),
        # exact midrank transform — spearman's rank map as a column op
        "num_rank_transform": lambda s, d: numeric.rank_transform(
            _t(s, d, "lineitem").select(
                "l_orderkey", "l_linenumber", "l_quantity"),
            "l_quantity",
        ),
        # CUPED variance-reduced A/B: pre-period value sum as the
        # covariate, post-period as the metric, theta fit pooled
        "events_cuped": lambda s, d: events.cuped_ab_test(
            events.user_period_metrics(
                _t(s, d, "events"), "user_id", "ts", "value", "2024-01-16",
            ).withColumn("arm", F.pmod(F.col("user_id"), 2).cast("string")),
            "arm", "post", "pre", "0", "1",
        ),
        # per-arm funnel: the A/B conversion comparison (arm attributed
        # from the anchor event; here the deterministic user_id parity)
        "events_funnel_by": lambda s, d: events.funnel_steps_by(
            _t(s, d, "events").withColumn(
                "arm", F.pmod(F.col("user_id"), 2).cast("string")),
            "user_id", "ts", "event_type",
            ["view", "click", "purchase"], "arm", within_minutes=1440,
        ),
        # one-row engagement scorecard over the sessionizer (bounce rate,
        # avg/median session duration in exact integer micros)
        "events_session_stats": lambda s, d: __import__(
            "wrangler_spark.streaming.sessions", fromlist=["session_stats"]
        ).session_stats(_t(s, d, "events"), "user_id", "ts", 30.0),
        # per-arm engagement scorecard: the A/B family's third leg
        # (conversion = funnel_by, stickiness = retention_by, this =
        # engagement), anchor-event attribution like the other two
        "events_session_stats_by": lambda s, d: __import__(
            "wrangler_spark.streaming.sessions", fromlist=["session_stats_by"]
        ).session_stats_by(
            _t(s, d, "events").withColumn(
                "arm", F.pmod(F.col("user_id"), 2).cast("string")),
            "user_id", "ts", "arm", 30.0,
        ),
        # per-group KM: does churn differ by the user's entry event type
        "events_survival_by": lambda s, d: events.survival_by(
            _t(s, d, "events"), "user_id", "ts", "event_type",
            period_days=7, horizon_periods=1,
        ),
        # Kaplan-Meier churn curve: user lifetimes with right-censoring
        # at the observation end (the bias a plain lifetime CDF has)
        "events_survival": lambda s, d: events.survival(
            _t(s, d, "events"), "user_id", "ts",
            period_days=7, horizon_periods=1,
        ),
        # CUSUM change-point detection over the hourly count grid: the
        # small-persistent-shift alarm the 3-sigma band never trips
        "events_cusum": lambda s, d: events.cusum(
            events.resample(
                _t(s, d, "events"), "event_type", "ts", None,
                every_minutes=60, agg="count", fill="zero",
            ).drop("bucket_ts"),
            "event_type", "bucket", "value", k=0.5, h=5.0,
        ),
        # EWMA control chart over the same grid: the medium-drift alarm
        # between rolling's spike band and cusum's persistent-shift walk
        "events_ewma": lambda s, d: events.ewma(
            events.resample(
                _t(s, d, "events"), "event_type", "ts", None,
                every_minutes=60, agg="count", fill="zero",
            ).drop("bucket_ts"),
            "event_type", "bucket", "value", alpha=0.3, L=3.0,
        ),
        # sample ACF per key over the hourly grid: the memory/period
        # detector that picks rolling windows and Holt-Winters periods
        "events_acf": lambda s, d: events.acf(
            events.resample(
                _t(s, d, "events"), "event_type", "ts", None,
                every_minutes=60, agg="count", fill="zero",
            ).drop("bucket_ts"),
            "event_type", "bucket", "value", max_lag=24,
        ),
        # Holt linear-trend smoothing + 6-step forecast: the capacity-
        # planning readout off the same grid
        "events_holt": lambda s, d: events.holt_forecast(
            events.resample(
                _t(s, d, "events"), "event_type", "ts", None,
                every_minutes=60, agg="count", fill="zero",
            ).drop("bucket_ts"),
            "event_type", "bucket", "value",
            alpha=0.3, beta=0.1, horizon=6,
        ),
        # hour-of-week load profile: integer epoch weekday arithmetic,
        # the capacity/anomaly baseline next to the resample grid
        "events_seasonality": lambda s, d: events.seasonality(
            _t(s, d, "events"), "event_type", "ts"
        ),
        # interp fill: gaps linearly interpolated between the real cells
        "events_resample_interp": lambda s, d: events.resample(
            _t(s, d, "events"), "event_type", "ts", "value",
            every_minutes=60, agg="avg", fill="interp",
        ).drop("bucket_ts"),
        # rolling anomaly band over the resampled grid: trailing-window
        # mean/std (exact integer micro sums) + z-score — the volume
        # monitor that pages when a source leaves its own recent band
        "events_rolling": lambda s, d: events.rolling_stats(
            events.resample(
                _t(s, d, "events"), "event_type", "ts", "value",
                every_minutes=60, agg="sum", fill="zero",
            ).drop("bucket_ts"),
            "event_type", "bucket", "value", window=24,
        ),
        # count-min sketch point estimates: bounded-state key counts
        # (Cormode & Muthukrishnan 2005) — est >= true, exact-merge state
        "events_cms_counts": _q_cms_counts,
        # mergeable HLL distinct counts (Spark-native DataSketches):
        # rows-only graded — the estimate is sketch-impl-specific, so
        # the strong invariant (state merge == one-shot EXACTLY, exact
        # at low cardinality) is asserted in tests/test_cms.py instead
        "events_distinct_hll": lambda s, d: curation.distinct_sketch(
            _t(s, d, "events"), ["user_id", "event_type"], by=None
        ).select("column", "estimate"),
        # distinct-user overlap across the event-id-parity snapshot
        # split (rows-only, like the family)
        "events_distinct_overlap": lambda s, d: curation.distinct_overlap(
            _t(s, d, "events").filter(F.pmod(F.col("event_id"), 2) == 0),
            _t(s, d, "events").filter(F.pmod(F.col("event_id"), 2) == 1),
            "user_id",
        ),
        # the Deequ discovery step: per-column profile in one pass
        # (profile -> suggest_constraints -> check_constraints loop)
        "dq_profile": lambda s, d: curation.profile_table(
            _t(s, d, "orders"), exact=True
        ),
        # TextRank corpus keywords: PageRank over the word
        # co-occurrence graph — the composition showcase (collocation
        # scan shape + the graph family's ranking loop)
        "text_textrank": lambda s, d: text.textrank_keywords(
            docs(s, d), "text", k=20, min_count=5,
        ),
        # profile drift between snapshots: schema + null-rate +
        # cardinality + range changes — the Deequ loop's change detector
        "dq_profile_diff": lambda s, d: curation.profile_diff(
            _t(s, d, "orders").filter(F.pmod(F.col("o_orderkey"), 2) == 0),
            _t(s, d, "orders").filter(F.pmod(F.col("o_orderkey"), 2) == 1),
            exact=True,
        ),
        # the CLOSED Deequ loop graded end to end: profile -> suggested
        # rule list -> check report; the oracle re-derives the same
        # data-dependent rule list in SQL (suggested rules pass on
        # their own data by construction — the grade is WHICH rows
        # exist plus the min_rows arithmetic)
        "dq_suggest": lambda s, d: curation.check_constraints(
            _t(s, d, "orders"),
            curation.suggest_constraints(
                curation.profile_table(_t(s, d, "orders"), exact=True),
                df=_t(s, d, "orders"),
            ),
        ),
        # the same closed loop over customer, exercising the matches-
        # SHAPE suggestion (c_name's Customer#000000042 values land on
        # the entity_id shape; c_mktsegment lands on in_set)
        "dq_suggest_shapes": lambda s, d: curation.check_constraints(
            _t(s, d, "customer"),
            curation.suggest_constraints(
                curation.profile_table(_t(s, d, "customer"), exact=True),
                df=_t(s, d, "customer"),
            ),
        ),
        # Deequ-posture declarative data-quality gate: every metric the
        # rule list needs in ONE aggregation pass (Schelter et al. VLDB'18)
        # state reconstruction must equal the one-shot report (the
        # text_vocab_state grading pattern; unique is per-batch only)
        "dq_constraints_state": _q_dq_state,
        "dq_constraints": lambda s, d: curation.check_constraints(
            _t(s, d, "orders"),
            [
                {"rule": "not_null", "col": "o_custkey"},
                {"rule": "unique", "col": "o_orderkey"},
                {"rule": "range", "col": "o_totalprice", "min": 0,
                 "max": 600000},
                {"rule": "matches", "col": "o_orderpriority",
                 "pattern": "[1-5]-[A-Z ]+"},
                {"rule": "in_set", "col": "o_orderstatus",
                 "values": ["O", "F", "P"]},
                {"rule": "min_rows", "n": 1000},
            ],
        ),
        # mergeable log-bin quantile sketch: deterministic (unlike
        # t-digest), exactly batch-mergeable, bounded relative error
        "num_quantiles_sketch": lambda s, d: numeric.quantiles_sketched(
            _t(s, d, "lineitem"), "l_extendedprice"
        ),
        # numeric NULL imputation: per-group mean (micro-unit contract) —
        # the numeric completion of fill-null-or-empty
        "num_impute": lambda s, d: numeric.impute_column(
            _t(s, d, "events").select(
                "event_id", "event_type",
                F.when(F.col("event_id") % 7 == 0, None)
                .otherwise(F.col("value")).cast("double").alias("v"),
            ),
            "v", "mean", by=["event_type"],
        ).select("event_id", "event_type", "v"),
        # one-pass Pearson matrix: exact integer moments — the signal-
        # redundancy check across quality scores
        "num_corr_matrix": lambda s, d: numeric.corr_matrix(
            _t(s, d, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        # always-valid sequential test (mSPRT): the peeking-proof
        # p-value an experimenter can read every hour
        "num_msprt": lambda s, d: events.msprt_ab_test(
            _t(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
            "A", "N", tau=1000.0,
        ),
        # Kruskal-Wallis H: do ANY of the k arms differ — the k-group
        # extension of Mann-Whitney off the same histogram machinery
        "num_kruskal": lambda s, d: numeric.kruskal_wallis(
            _t(s, d, "lineitem"), "l_quantity", "l_returnflag",
            ["A", "N", "R"],
        ),
        # Spearman rank correlation: monotonic association immune to
        # the outliers Pearson's moments absorb
        # bounded-cardinality pair (50 x 11 distinct values at ANY
        # scale factor) — the guard-safe shape; a continuous column
        # wants binning first, and the guard enforces exactly that
        "num_spearman": lambda s, d: numeric.spearman_corr(
            _t(s, d, "lineitem"), "l_quantity", "l_discount",
        ),
        # Welch unequal-variance t-test: the parametric mean
        # comparison next to Mann-Whitney's rank test
        "num_welch": lambda s, d: numeric.welch_t_test(
            _t(s, d, "lineitem"), "l_extendedprice", "l_returnflag",
            "A", "N",
        ),
        # embedding-space drift between the vec_id-parity halves:
        # centroid cosine + norm means — the vector twin of PSI drift
        "emb_drift": lambda s, d: similarity.embedding_drift(
            embs(s, d).filter(F.pmod(F.col("vec_id"), 2) == 0),
            embs(s, d).filter(F.pmod(F.col("vec_id"), 2) == 1),
            dim=64,
        ),
        # Mann-Whitney U off the value histogram: the nonparametric
        # two-sample test for skewed metrics — never a rank window
        "num_mannwhitney": lambda s, d: numeric.mann_whitney_u(
            _t(s, d, "lineitem"), "l_quantity", "l_returnflag", "A", "N",
        ),
        # Benford first-digit screen: the fraud/DQ tripwire for
        # naturally-spread magnitudes (and an honest 'synthetic data
        # is not Benford' verdict on the fixture)
        "num_benford": lambda s, d: numeric.benford_deviation(
            _t(s, d, "lineitem"), "l_extendedprice",
        ),
        # chi-square independence + Cramér's V: the categorical
        # association screen (feature selection / leakage check) —
        # observed-cells-only closed form, sorted fold
        "num_chi2_indep": lambda s, d: numeric.chi_square_independence(
            _t(s, d, "orders"), "o_orderstatus", "o_orderpriority",
        ),
        # Cohen's kappa: does the heuristic language classifier agree
        # with gold beyond chance — the labeling-QA readout
        "text_langid_kappa": lambda s, d: numeric.cohens_kappa(
            Pipeline.compile("langid :text").apply(docs(s, d)),
            "lang", "lang_pred",
        ),
        # two-sample KS drift off the same log-bin space — the
        # nonparametric one-number companion to the PSI bins; runs on
        # histograms, so it also compares TIME-TRAVELED state snapshots
        "num_ks_drift": lambda s, d: numeric.ks_drift(
            _t(s, d, "lineitem").filter(F.col("l_orderkey") % 2 == 0),
            _t(s, d, "lineitem").filter(F.col("l_orderkey") % 2 == 1),
            "l_extendedprice",
        ),
        "num_quantiles_state": _q_quantiles_state,
        "num_quantiles_by": lambda s, d: numeric.quantiles_sketched_by(
            _t(s, d, "lineitem"), "l_extendedprice", "l_returnflag"
        ),
        # PMI collocations: phrase mining / tokenizer-merge candidates
        "text_collocations": lambda s, d: text.collocations(
            docs(s, d), "text", k=50, min_count=5
        ),
        "dedup_pagerank": _q_dedup_pagerank,
        # near-dup cluster DENSITY probe: per-doc degree / triangles /
        # local clustering over the minhash pair graph — a near-clique
        # (clustering→1) is one replicated doc, a low-clustering hub is
        # a boilerplate template chaining UNLIKE documents
        "dedup_triangles": lambda s, d: graph.graph_triangles(
            dedup.minhash_lsh_pairs(docs(s, d), "doc_id", "text", 0.5),
            "id_a", "id_b",
        ),
        # contamination quarantine list: every doc within 2 near-dup
        # hops of the seed documents (one seed deliberately absent from
        # the pair graph — it still reports hop 0: a node reaches itself)
        "dedup_khop": lambda s, d: graph.graph_khop(
            dedup.minhash_lsh_pairs(docs(s, d), "doc_id", "text", 0.5),
            "id_a", "id_b", seeds=[8, 26, 31, 999999], k=2,
        ),
        # hubs vs authorities over the same transition graph: the
        # complementary reading to PageRank's single score (the hub a
        # crawler expands vs the authority spam points AT)
        "events_hits": lambda s, d: graph.graph_hits(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type", weight_col="n", iters=5,
        ),
        # one-row structural scorecard of the transition graph — the
        # pre-flight read before anything iterative runs on it
        "events_graph_summary": lambda s, d: graph.graph_summary(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type",
        ),
        # crawl-frontier reach: event types reachable within 2 observed
        # transitions of signup, following edge direction
        "events_khop": lambda s, d: graph.graph_khop(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type", seeds=["signup"], k=2, directed=True,
        ),
        "events_communities": lambda s, d: graph.graph_label_propagation(
            events.event_transitions(
                _t(s, d, "events"), "user_id", "ts", "event_type",
                tie_col="event_id",
            ),
            "from_type", "to_type", weight_col="n", iters=5,
        ),
        # Jensen-Shannon divergence between corpus halves: TEXT drift
        # (the language itself, not a numeric column) over hashed
        # unigram distributions — bounded state at any vocabulary size
        "text_js_drift": lambda s, d: text.js_divergence(
            docs(s, d).filter(F.col("doc_id") % 2 == 0),
            docs(s, d).filter(F.col("doc_id") % 2 == 1),
            "text",
        ),
        # per-DOC TF-IDF keywords: the group-top-terms machinery at
        # document cardinality (groups = docs) — document tagging
        "text_doc_keywords": lambda s, d: text.group_top_terms(
            docs(s, d), "text", "doc_id", 5, weight="tfidf"
        ),
        # code-vs-prose routing signals: the corpus-partitioning step a
        # mixed crawl needs before mixture weights (scan-side, auditable
        # threshold rule in the C4/Gopher posture)
        "text_code_signals": lambda s, d: text.code_signals(
            docs(s, d), "text"
        ).select("doc_id", "indent_frac", "eol_code_frac", "kw_hits",
                 "sym_density", "is_code"),
        "text_hash_emb": lambda s, d: text.hash_embedding(
            docs(s, d), "doc_id", "text", 16
        ).select("doc_id", F.posexplode("embedding").alias("pos", "y")),
        "dedup_semdedup": lambda s, d: similarity.semdedup(embs(s, d), 8, 0.8, train_iters=1, dim=64),
        "emb_cluster_topics": lambda s, d: curation.cluster_topics(
            docs(s, d), embs(s, d), 8, 5, train_iters=1, dim=64
        ),
        "ann_ivf_kmeans_topk": lambda s, d: similarity.ivf_topk(
            embs(s, d), embs(s, d).filter(F.col("vec_id") < 5), 8, "vec_id", "embedding", 5,
            train_iters=2, dim=64,
        ),
        "text_langid": lambda s, d: Pipeline.compile("langid :text").apply(docs(s, d)),
        "text_langid_multi": lambda s, d: text.langid_multi(docs(s, d), "text"),
        "url_canonicalize": _q_url_canonicalize,
        "text_script_ratios": lambda s, d: text.script_ratios(docs(s, d), "text"),
        "text_unigram_lp": lambda s, d: Pipeline.compile(
            "unigram-logprob :doc_id :text 2000"
        ).apply(docs(s, d)),
        "text_bigram_lp": lambda s, d: text.bigram_logprob(docs(s, d), "doc_id", "text", 2000),
        "text_quality": lambda s, d: Pipeline.compile("quality-score :text").apply(docs(s, d)),
        "text_c4_quality": lambda s, d: text.c4_quality(docs(s, d), "text"),
        "text_lp_buckets": lambda s, d: text.perplexity_buckets(
            text.unigram_logprob(docs(s, d), "doc_id", "text", 2000), "doc_lp", by_col="lang"
        ),
        "sample_mixture": lambda s, d: curation.mixture_sample(
            docs(s, d), "doc_id", "source", 0.5
        ),
        "text_clf_score": _q_clf_score,
        # reliability diagram for the same classifier: per-bin
        # (mean_score, frac_pos) against the training label — the
        # read-before-you-threshold check, one aggregation pass
        "text_clf_calibration": _q_clf_calibration,
        # one-row scorecard: ECE + Brier off the same single scan
        "text_clf_calibration_summary": _q_clf_calibration_summary,
        "sample_budget": lambda s, d: curation.sample_to_budget(
            text.token_count(docs(s, d), "text").drop("n_tokens_ws"),
            "doc_id", "source", "n_tokens",
            {"src1": 0.5, "src2": 0.3, "src3": 0.2}, 5000,
        ),
        "text_token_count": lambda s, d: Pipeline.compile("token-count :text").apply(docs(s, d)),
        "text_fingerprint": lambda s, d: Pipeline.compile("fingerprint :text").apply(docs(s, d)),
        "text_repetition": lambda s, d: Pipeline.compile("repetition-stats :text").apply(docs(s, d)),
        "text_gopher_quality": lambda s, d: Pipeline.compile("gopher-quality :text").apply(docs(s, d)),
        "pii_redact": lambda s, d: Pipeline.compile("pii-redact :text").apply(docs(s, d)),
        # Luhn-gated cc category: checksum-failing digit runs survive
        "pii_redact_luhn": lambda s, d: curation.pii_redact(
            docs(s, d), "text", luhn_check=True
        ),
        "dedup_paragraphs": lambda s, d: Pipeline.compile("dedup-paragraphs :doc_id :text").apply(docs(s, d)),
        "decontaminate": _q_decontaminate,
        "source_filter": lambda s, d: Pipeline.compile(
            "source-filter :source 'src3,src7,src11'"
        ).apply(docs(s, d)),
        "sample_by_quality": _q_sample_by_quality,
        "multimodal_features": _q_multimodal,
    }


_SAMPLE_RATES = {"high": 1.0, "mid": 0.5, "low": 0.1}
_QUALITY_HI, _QUALITY_MID = 0.65, 0.5


def _q_cms_counts(spark, sf_dir):
    """CMS over events.user_id (4x512 grid), point-queried for keys
    '0'..'19' plus a never-seen 'ghost' (est 0 unless all 4 slots
    collide — the oracle mirrors whatever the hash says)."""
    from wrangler_spark.datapipe import curation

    ev = _t(spark, sf_dir, "events")
    sketch = curation.cms_sketch(ev, "user_id", depth=4, width=512)
    probes = spark.range(20).select(
        F.col("id").cast("string").alias("user_id")
    ).union(local_table(spark, [("ghost",)], "user_id string"))
    return curation.cms_estimate(sketch, probes, "user_id", depth=4, width=512)


def _q_decontaminate(spark, sf_dir):
    from wrangler_spark.datapipe import curation

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    return curation.decontaminate(docs, bench, "doc_id", "text", n=8, threshold=0.1)


def _q_sample_by_quality(spark, sf_dir):
    from wrangler_spark.datapipe import curation, text

    docs = _t(spark, sf_dir, "documents")
    q = text.quality_score(docs, "text")
    b = q.withColumn(
        "bucket",
        F.when(F.col("quality") >= _QUALITY_HI, "high")
        .when(F.col("quality") >= _QUALITY_MID, "mid")
        .otherwise("low"),
    )
    return curation.sample_stratified(b, "doc_id", "bucket", _SAMPLE_RATES)


def _q_multimodal(spark, sf_dir):
    from wrangler_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents")
    with_payload = multimodal.attach_binary(docs, "text")
    feats = multimodal.extract_features(with_payload, "payload", "features")
    return feats.select("doc_id", "features.n_bytes", "features.md5_prefix")


def _datapipe_oracles() -> dict[str, str]:
    from wrangler_spark.datapipe import events as _ev
    from wrangler_spark.datapipe import oracles as o

    return {
        "dedup_exact": o.dedup_exact_sql(),
        "dedup_minhash_lsh": o.minhash_lsh_sql(0.5),
        "dedup_minhash_b16r2": o.minhash_lsh_sql(0.3, bands=16, rows=2),
        "dedup_minhash_flag": o.minhash_dedup_sql(0.5),
        "dedup_minhash_cc": o.minhash_components_sql(0.5),
        "dedup_cluster_weights": o.cluster_weights_sql(0.5),
        "sample_soft_dedup": o.sample_soft_dedup_sql(0.5, 0.9),
        "dedup_substring": o.substring_dup_sql(8),
        "decontam_spans": o.substring_against_sql(8),
        "dedup_substring_keepfirst": o.substring_dup_sql(8, keep_first=True),
        "text_dsir": o.dsir_sql(4096),
        "pack_sequences": o.pack_sequences_sql(512),
        "sample_token_budget_by": o.sample_token_budget_sql(5000, by="source"),
        "text_chunk": o.chunk_documents_sql(64, 8),
        "text_bm25": o.bm25_sql(_BM25_QUERIES),
        "text_bm25_topk": o.bm25_topk_sql(_BM25_QUERIES, 10),
        "dedup_ngram_jaccard": o.ngram_jaccard_sql(5, 0.6, unit="char"),
        "dedup_ngram_word": o.ngram_jaccard_sql(3, 0.5, unit="word"),
        "dedup_ngram_budget": o.ngram_budget_sql(3, 0.5, 0.5, 3),
        "dedup_simhash": o.simhash_sql(32),
        "dedup_embedding": o.embedding_pairs_sql(0.0),
        "dedup_embedding_cc": o.embedding_components_sql(0.0),
        "emb_quantize": o.embedding_quantize_sql(),
        "emb_project": o.embedding_project_sql(64, 16),
        "dedup_survivors": o.cluster_survivors_sql(0.5),
        "dedup_lsh_eval": o.pair_eval_sql(0.5, 3, 0.5),
        "dedup_cross_exact": o.exact_dedup_against_sql(3),
        # the Bloom pre-filter is exact end-to-end (verification join
        # resolves FPs), so it shares the plain path's oracle
        "dedup_cross_bloom": o.exact_dedup_against_sql(3),
        "entity_match": o.entity_match_sql(2),
        "entity_match_against": o.entity_match_against_sql(2),
        "dedup_overlap": o.overlap_pairs_sql(3, 0.8),
        "dedup_overlap_capped": o.cap_pairs_sql(
            o.overlap_pairs_sql(3, 0.5), 2, "overlap_coef"
        ),
        "dedup_overlap_budget": o.overlap_budget_sql(3, 0.5, 0.25, 3),
        "num_outliers": o.flag_outliers_sql("c_acctbal", "zscore", 2.0),
        "num_mad": o.flag_outliers_sql("c_acctbal", "mad", 3.5),
        "num_mad_by": o.flag_outliers_by_sql("c_acctbal", "mad", 3.5, "c_mktsegment"),
        "num_winsorize_by": o.winsorize_by_sql("c_acctbal", 0.05, 0.95, "c_mktsegment"),
        "num_qbins_by": o.quantile_bins_by_sql("c_acctbal", 10, "c_mktsegment"),
        "num_qbins": o.quantile_bins_sql("c_acctbal", 10),
        "sample_top_frac_by": o.keep_top_frac_by_sql(0.1, "c_acctbal", "c_mktsegment"),
        "text_entropy": o.char_entropy_sql(),
        "text_top_ngrams": o.top_ngrams_sql(3, 20),
        "text_vocab": o.vocab_coverage_sql(0.9),
        "text_ngram_rep": o.ngram_repetition_sql((2, 3, 4), (5, 10)),
        "text_oov": o.oov_rate_sql(0.9),
        "text_group_terms": o.group_top_terms_sql("source", 10),
        "text_group_terms_weighted": o.group_top_terms_weighted_sql("source", 10),
        "text_doc_keywords": o.doc_keywords_sql(5),
        "text_code_signals": o.code_signals_sql(),
        "text_vocab_state": o.vocab_coverage_sql(0.9),
        "text_rep_filter": o.repetition_filter_sql(),
        "corpus_drift": o.distribution_drift_sql("c_acctbal", 10),
        "num_scale": o.scale_column_sql("c_acctbal", "minmax"),
        "num_scale_by": o.scale_by_sql("c_acctbal", "zscore", "c_mktsegment"),
        "sample_top_frac": o.keep_top_frac_sql(0.1),
        "num_winsorize": o.winsorize_sql("c_acctbal", 0.05, 0.95),
        "text_readability": o.readability_sql(),
        "dedup_template": o.template_dedup_sql(),
        "dedup_cluster_hist": o.cluster_histogram_sql(0.5),
        "sample_domain_cap": o.cap_per_group_sql(20),
        "text_winnow": o.winnow_sql(3, 4),
        "text_winnow_overlap": o.winnow_overlap_sql(3, 4),
        "text_winnow_budget": o.winnow_overlap_budget_sql(3, 4, fp_sample_mod=2),
        "corpus_diff": o.corpus_diff_sql(),
        "keyword_tag": o.keyword_tag_sql(_TAG_KEYWORDS),
        "shuffle_shards": o.shuffle_shards_sql(8, "ep0"),
        "corpus_report": o.corpus_report_sql(),
        "text_sentences": o.sentence_split_sql(),
        "dedup_sentences": o.sentence_dedup_sql(),
        "split_by_cluster": o.split_by_cluster_sql(0.5, 0.1, "sp"),
        "corpus_report_by": o.corpus_report_by_sql("source"),
        "dedup_cross_minhash": o.minhash_cross_sql(0.5, 3),
        "dedup_cross_embedding": o.embedding_cross_sql(0.0, 5, 8),
        "strip_boilerplate": o.strip_boilerplate_sql(
            2,
            doc_cte=(
                "SELECT doc_id, concat_ws(chr(10), text, '', "
                "'Subscribe to our newsletter!', 'ref: doc ' || doc_id) AS text "
                "FROM documents"
            ),
        ),
        "ann_cosine_topk": o.cosine_topk_sql(10, 5),
        "text_langid": o.langid_sql(),
        "text_langid_multi": o.langid_multi_sql(),
        "url_canonicalize": o.url_canonicalize_sql(),
        "text_script_ratios": o.script_ratios_sql(),
        "text_quality": o.quality_sql(),
        "text_c4_quality": o.c4_quality_sql(),
        "text_lp_buckets": o.perplexity_buckets_sql(2000, "lang"),
        "sample_mixture": o.mixture_sample_sql(0.5, "source", "doc_id"),
        "text_clf_score": o.quality_classifier_sql(512, 3),
        "text_clf_calibration": o.clf_calibration_sql(512, 3, 10),
        "text_clf_calibration_summary": o.clf_calibration_summary_sql(512, 3, 10),
        "sample_budget": o.sample_to_budget_sql(
            {"src1": 0.5, "src2": 0.3, "src3": 0.2}, 5000, "source", "doc_id"
        ),
        "text_token_count": o.token_count_sql(),
        "text_fingerprint": o.fingerprint_sql(),
        "text_repetition": o.repetition_stats_sql(),
        "text_gopher_quality": o.gopher_quality_sql(),
        "pii_redact": o.pii_redact_sql(),
        "pii_redact_luhn": o.pii_redact_luhn_sql(),
        "dedup_paragraphs": o.paragraph_dedup_sql(),
        "decontaminate": o.decontaminate_sql(8, 0.1),
        "source_filter": o.source_filter_sql(["src3", "src7", "src11"]),
        "sample_by_quality": o.sample_by_quality_sql(_SAMPLE_RATES, _QUALITY_HI, _QUALITY_MID),
        "multimodal_features": (
            "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, "
            "substr(md5(text), 1, 12) AS md5_prefix FROM documents"
        ),
        "ann_ivf_topk": _ivf_oracle_sql(),
        "ann_rrf_fuse": _rrf_oracle_sql(),
        "ann_ivf_probe_topk": _ivf_oracle_sql(nprobe=2),
        "ann_recall": _ann_recall_oracle_sql(),
        "ann_pq_topk": _pq_oracle_sql(),
        "ann_pq_recall": _pq_recall_oracle_sql(),
        "ann_ivf_pq_topk": _ivf_pq_oracle_sql(),
        "emb_outliers": _emb_outliers_oracle_sql(),
        # NFC is the only form DuckDB exposes (nfc_normalize); NFKC/NFD/
        # NFKD are covered by unit tests against unicodedata's spec
        "text_nfc": "SELECT doc_id, nfc_normalize(text) AS text_nfc FROM documents",
        "text_hash_emb": _hash_emb_oracle_sql(16),
        # the greedy MMR loop, unrolled into k_out selection-step CTEs
        # (previously rows-only; same pattern as the classifier's
        # unrolled-GD oracle)
        "ann_mmr_rerank": _mmr_oracle_sql(),
        "corpus_overlap": o.corpus_overlap_sql(),
        "events_funnel": o.funnel_steps_sql(
            ["view", "click", "purchase"], within_seconds=86400
        ),
        # state reconstruction must equal the one-shot funnel (the
        # text_vocab_state grading pattern)
        "events_funnel_state": o.funnel_steps_sql(
            ["view", "click", "purchase"], within_seconds=86400
        ),
        "events_retention": o.retention_cohorts_sql(1, 8),
        "events_retention_by": o.retention_cohorts_by_sql(1, 8),
        "events_retention_ab": o.retention_ab_sql(1, 8),
        "events_srm": o.srm_sql(
            {"0": 0.5, "1": 0.25, "2": 0.25},
            crit=_ev.chi2_critical(2, "0.001"), arm_mod=3,
        ),
        "events_attribution": o.attribution_sql(),
        "num_rank_transform": o.rank_transform_sql(),
        "events_cuped": o.cuped_ab_sql("2024-01-16 00:00:00", arm_mod=2),
        "events_ratio_ab": o.ratio_ab_sql(arm_mod=2),
        "num_msprt": o.msprt_sql(tau=1000.0),
        "events_retention_forget": o.retention_cohorts_sql(
            1, 8, table="(SELECT * FROM events WHERE user_id % 17 <> 3) ev"
        ),
        "events_active_users": o.active_users_sql((1, 7, 30)),
        "events_transitions": o.event_transitions_sql(),
        "events_paths": o.event_paths_sql(),
        "events_funnel_by": o.funnel_steps_by_sql(
            ["view", "click", "purchase"], within_seconds=86400
        ),
        "events_funnel_ab": o.funnel_ab_sql(
            ["view", "click", "purchase"], within_seconds=86400
        ),
        "events_funnel_latency": o.funnel_latency_sql(
            ["view", "click", "purchase"], within_seconds=86400
        ),
        "events_pagerank": o.events_pagerank_sql(0.85, 5),
        "events_pagerank_seeded": o.events_pagerank_sql(
            0.85, 5, seeds=["signup", "purchase"]
        ),
        "events_communities": o.events_communities_sql(5),
        "events_hits": o.events_hits_sql(5),
        "events_graph_summary": o.events_graph_summary_sql(),
        "dedup_triangles": o.dedup_triangles_sql(0.5),
        "dedup_khop": o.dedup_khop_sql([8, 26, 31, 999999], 2, 0.5),
        "events_khop": o.events_khop_sql(["signup"], 2),
        "num_quantiles_sketch": o.quantiles_sketch_sql(),
        "num_quantiles_state": o.quantiles_sketch_sql(),
        "num_quantiles_by": o.quantiles_sketch_by_sql(),
        "num_ks_drift": o.ks_drift_sql(),
        "num_impute": o.impute_sql(),
        "num_corr_matrix": o.corr_matrix_sql(),
        "num_chi2_indep": o.chi2_indep_sql(),
        "num_mannwhitney": o.mann_whitney_sql(),
        "num_welch": o.welch_sql(),
        "num_spearman": o.spearman_sql("l_quantity", "l_discount"),
        "num_kruskal": o.kruskal_sql(
            ["A", "N", "R"], crit=_ev.chi2_critical(2, "0.05")),
        "emb_drift": o.embedding_drift_sql(64),
        "num_benford": o.benford_sql(),
        "text_langid_kappa": o.kappa_langid_sql(),
        "text_js_drift": o.js_divergence_sql(),
        "events_seasonality": o.seasonality_sql(),
        "events_cusum": o.cusum_sql(0.5, 5.0, 60),
        "events_ewma": o.ewma_sql(0.3, 3.0, 60),
        "events_acf": o.acf_sql(24, 60),
        "events_sssp": o.events_sssp_sql(["signup"], rounds=6),
        "events_holt": o.holt_sql(0.3, 0.1, 6, 60),
        "events_survival": o.survival_sql(7, 1),
        "events_survival_by": o.survival_by_sql("event_type", 7, 1),
        "text_collocations": o.collocations_sql(50, 5),
        "dedup_pagerank": o.dedup_pagerank_sql(0.5),
        "events_key_skew": o.key_skew_sql("user_id", "events", 20),
        "events_key_skew_summary": o.key_skew_summary_sql("user_id", "events"),
        "dq_constraints": o.check_constraints_sql(),
        "dq_constraints_state": o.check_constraints_state_sql(),
        "dq_profile": o.profile_sql(),
        "dq_profile_diff": o.profile_diff_sql(),
        "text_textrank": o.textrank_sql(k=20, min_count=5),
        "dq_suggest": o.dq_suggest_sql(),
        "dq_suggest_shapes": o.dq_suggest_shapes_sql(),
        "events_cms_counts": o.cms_counts_sql("user_id", "events", 4, 512, 20),
        "events_resample": o.resample_sql("event_type", "ts", "value", "events", 60),
        "events_rolling": o.rolling_stats_sql(24, 60),
        "events_resample_interp": o.resample_interp_sql(
            "event_type", "ts", "value", "events", 60),
        "ann_ivf_kmeans_topk": _ivf_kmeans_oracle_sql(),
        "dedup_semdedup": _semdedup_oracle_sql(8, 0.8, 1),
        "emb_cluster_topics": _cluster_topics_oracle_sql(8, 5, 1, 64),
        "text_vocabulary": o.vocabulary_sql(200),
        "text_unigram_lp": o.unigram_logprob_sql(2000),
        "text_bigram_lp": o.bigram_logprob_sql(2000),
        "text_tokenize": (
            # posexplode shape: parallel unnest of the token list and a
            # 0-based position range (DuckDB zips equal-length unnests)
            "WITH tk AS (SELECT doc_id, "
            "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS tokens "
            "FROM documents) "
            "SELECT doc_id, CAST(unnest(range(0, len(tokens))) AS INT) AS pos, "
            "unnest(tokens) AS token FROM tk"
        ),
    }


def _rrf_oracle_sql(k: int = 5, kconst: int = 60) -> str:
    """Mirror of similarity.rrf_fuse over the exact and IVF(nprobe=1)
    top-5 lists: Σ 1/(kconst+rank) per (query, doc), re-ranked by score
    desc then vec_id (the _topk_reduce tie order)."""
    from wrangler_spark.datapipe import oracles as o

    return f"""
WITH a AS ({o.cosine_topk_sql(5, 5)}),
b AS ({_ivf_oracle_sql(8, 5, 5, 1)}),
u AS (SELECT query_id, vec_id, rank FROM a
      UNION ALL SELECT query_id, vec_id, rank FROM b),
s AS (SELECT query_id, vec_id,
             round(sum(1.0 / ({kconst} + rank)), 6) AS rrf_score
      FROM u GROUP BY query_id, vec_id),
r AS (SELECT query_id, vec_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, vec_id) AS INT) AS rank
      FROM s)
SELECT query_id, vec_id, rrf_score, rank FROM r WHERE rank <= {k}
"""


def _ivf_oracle_sql(
    n_centroids: int = 8, k: int = 5, n_queries: int = 5, nprobe: int = 1
) -> str:
    """Mirror of similarity.ivf_topk: centroids = first n vectors by id,
    nearest-centroid assignment (cosine, ties by centroid id); each query
    probes its ``nprobe`` nearest centroid buckets (corpus vectors always
    live in exactly one)."""
    dot = "list_sum([{a}[i] * {b}[i] FOR i IN range(1, 65)])"
    def cos(a, b):
        d = dot.format(a=a, b=b)
        na = f"sqrt(list_sum([x * x FOR x IN {a}]))"
        nb = f"sqrt(list_sum([x * x FOR x IN {b}]))"
        return f"round(({d}) / ({na} * {nb}), 6)"
    return f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS zv FROM c ORDER BY vec_id LIMIT {n_centroids}),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos("c.v", "cent.zv")} DESC, cent.centroid_id ASC) AS rn
    FROM c CROSS JOIN cent) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, qv, centroid_id FROM (
    SELECT c.vec_id, c.v AS qv, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos("c.v", "cent.zv")} DESC, cent.centroid_id ASC) AS rn
    FROM c CROSS JOIN cent WHERE c.vec_id < {n_queries}) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.query_id, c.vec_id, {cos("q.qv", "c.v")} AS cosine
  FROM c JOIN assign a ON c.vec_id = a.vec_id JOIN q ON a.centroid_id = q.centroid_id
  WHERE c.vec_id != q.query_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    d = f"list_sum([{a}[i] * {b}[i] FOR i IN range(1, {dim + 1})])"
    na = f"sqrt(list_sum([x * x FOR x IN {a}]))"
    nb = f"sqrt(list_sum([x * x FOR x IN {b}]))"
    return f"round(({d}) / ({na} * {nb}), 6)"


def _kmeans_assign_ctes(n_centroids: int, iters: int, dim: int) -> list[str]:
    """Shared unrolled-k-means CTE chain ending in `assign(vec_id,
    centroid_id)` — the same determinism contract as
    similarity.kmeans_centroids (first-k init, 6dp cosine, ties to lower
    centroid id, 6dp recentered means)."""
    cos = lambda a, b: _cos_sql(a, b, dim)  # noqa: E731
    mean_list = ", ".join(f"round(avg(c.v[{i}]), 6)" for i in range(1, dim + 1))
    ctes = [
        "c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS centroid_id, v AS zv FROM c ORDER BY vec_id LIMIT {n_centroids})",
    ]
    for it in range(iters):
        ctes.append(
            f"a{it} AS (SELECT vec_id, centroid_id FROM ("
            f"SELECT c.vec_id, cent{it}.centroid_id, "
            f"row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos('c.v', f'cent{it}.zv')} DESC, cent{it}.centroid_id ASC) AS rn "
            f"FROM c CROSS JOIN cent{it}) WHERE rn = 1)"
        )
        ctes.append(
            f"cent{it + 1} AS (SELECT a{it}.centroid_id, [{mean_list}] AS zv "
            f"FROM c JOIN a{it} USING (vec_id) GROUP BY a{it}.centroid_id)"
        )
    final = f"cent{iters}"
    ctes.append(
        f"assign AS (SELECT vec_id, centroid_id FROM ("
        f"SELECT c.vec_id, {final}.centroid_id, "
        f"row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos('c.v', f'{final}.zv')} DESC, {final}.centroid_id ASC) AS rn "
        f"FROM c CROSS JOIN {final}) WHERE rn = 1)"
    )
    return ctes


def _ivf_kmeans_oracle_sql(
    n_centroids: int = 8, k: int = 5, n_queries: int = 5, iters: int = 2, dim: int = 64
) -> str:
    """Mirror of similarity.ivf_topk(train_iters=iters): spherical k-means
    unrolled to `iters` assign/recenter CTE pairs."""
    cos = lambda a, b: _cos_sql(a, b, dim)  # noqa: E731
    ctes = _kmeans_assign_ctes(n_centroids, iters, dim)
    ctes.append(
        f"q AS (SELECT c.vec_id AS query_id, c.v AS qv, a.centroid_id "
        f"FROM c JOIN assign a ON c.vec_id = a.vec_id WHERE c.vec_id < {n_queries})"
    )
    ctes.append(
        f"scored AS (SELECT q.query_id, c.vec_id, {cos('q.qv', 'c.v')} AS cosine "
        f"FROM c JOIN assign a ON c.vec_id = a.vec_id JOIN q ON a.centroid_id = q.centroid_id "
        f"WHERE c.vec_id != q.query_id)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def _semdedup_oracle_sql(
    n_clusters: int = 8, threshold: float = 0.9, iters: int = 1, dim: int = 64
) -> str:
    """Mirror of similarity.semdedup: unrolled k-means assignment, then
    within-cluster pairwise cosine; is_dup when a lower-id cluster member
    is >= threshold similar."""
    cos = lambda a, b: _cos_sql(a, b, dim)  # noqa: E731
    ctes = _kmeans_assign_ctes(n_clusters, iters, dim)
    ctes.append(
        "m AS (SELECT c.vec_id, c.v, a.centroid_id FROM c JOIN assign a ON c.vec_id = a.vec_id)"
    )
    ctes.append(
        f"dropped AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r "
        f"ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id "
        f"WHERE {cos('l.v', 'r.v')} >= {threshold})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT m.vec_id, m.centroid_id, (d.vec_id IS NOT NULL) AS is_dup "
        "FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id"
    )


def _cluster_topics_oracle_sql(
    n_clusters: int = 8, label_k: int = 5, iters: int = 1, dim: int = 64,
    prior: float = 100.0,
) -> str:
    """Mirror of curation.cluster_topics: unrolled k-means assignment
    (the shared CTE chain) + the Monroe log-odds labeling of
    group_top_terms_weighted_sql, with g = the assigned cluster."""
    from wrangler_spark.datapipe.oracles import _NORM

    a0 = float(prior)
    ctes = _kmeans_assign_ctes(n_clusters, iters, dim)
    ctes.append(
        f"lab AS (SELECT a.centroid_id AS g, unnest(string_split({_NORM}, ' ')) AS term "
        "FROM documents d JOIN assign a ON d.doc_id = a.vec_id)"
    )
    ctes.append("cw AS (SELECT g, term, count(*) AS tf FROM lab WHERE term <> '' GROUP BY g, term)")
    ctes.append("tmw AS (SELECT term, sum(tf) AS yw FROM cw GROUP BY term)")
    ctes.append("gmw AS (SELECT g, sum(tf) AS ng FROM cw GROUP BY g)")
    ctes.append("totw AS (SELECT sum(tf) AS n FROM cw)")
    ctes.append(
        f"""sw AS (
  SELECT cw.g, cw.term, cw.tf,
         round(
           (ln((cw.tf + {a0} * tmw.yw / totw.n)
               / (gmw.ng + {a0} - cw.tf - {a0} * tmw.yw / totw.n))
            - ln((tmw.yw - cw.tf + {a0} * tmw.yw / totw.n)
                 / (totw.n - gmw.ng + {a0} - (tmw.yw - cw.tf) - {a0} * tmw.yw / totw.n)))
           / sqrt(1.0 / (cw.tf + {a0} * tmw.yw / totw.n)
                  + 1.0 / (tmw.yw - cw.tf + {a0} * tmw.yw / totw.n)),
           6) AS score
  FROM cw JOIN tmw USING (term) JOIN gmw USING (g) CROSS JOIN totw
)"""
    )
    ctes.append(
        "rw AS (SELECT g, term, tf, score, "
        "row_number() OVER (PARTITION BY g ORDER BY score DESC, term ASC) AS rank FROM sw)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT g AS cluster_id, term, CAST(tf AS BIGINT) AS tf, score, "
        f"CAST(rank AS INT) AS rank FROM rw WHERE rank <= {int(label_k)}"
    )


# --- r13: binary-format parser gates -----------------------------------
# The five §2.1 parsers the driver had never graded (VERDICT r12 "Next
# round" #1/#2). Payloads are synthesized DETERMINISTICALLY from the
# test tables with the repo's own write-side codecs (formats/avro_ocf
# encode_datum/write_ocf, protobuf_wire encode_message, xlsx
# write_xlsx — each unit-tested as the exact inverse of its reader,
# plus cross-checked against reference fixtures in
# tests/test_avro_proto.py), then decoded by the directive under test;
# the DuckDB oracle produces the same frame straight from the source
# columns, so any encoder/decoder defect breaks the hash match.

_AVRO_CUST_SCHEMA = (
    '{"type":"record","name":"Cust","fields":['
    '{"name":"c_custkey","type":"long"},'
    '{"name":"c_name","type":["null","string"]},'
    '{"name":"c_acctbal","type":"double"},'
    '{"name":"c_mktsegment","type":"string"}]}'
)

_CUST_IDENTITY_ORACLE = (
    "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer"
)


def _q_parse_avro_binary(spark, sf_dir):
    """parse-as-avro (binary) round-trip gate: every customer row
    zigzag/varint-encoded per the Avro spec (incl. a null|string union
    branch), decoded by the directive, hash-matched against the
    identity oracle (ref: parser/ParseAvro.java:110,
    codec/BinaryAvroDecoder.java:59-86)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from wrangler_spark.formats.avro_ocf import encode_datum, parse_schema
    from wrangler_spark.schemas import register_schema

    register_schema("cust_avro_r13", _AVRO_CUST_SCHEMA)
    sch, names = parse_schema(_AVRO_CUST_SCHEMA)

    # NOTE: module-level `from __future__ import annotations` stringifies
    # hints, which pandas_udf's signature inference rejects — attach the
    # real type objects explicitly
    def _enc(k, n, b, m):
        return pd.Series([
            encode_datum(
                {"c_custkey": int(kk), "c_name": nn,
                 "c_acctbal": float(bb), "c_mktsegment": mm},
                sch, names)
            for kk, nn, bb, mm in zip(k, n, b, m)
        ])

    _enc.__annotations__ = {c: pd.Series for c in ("k", "n", "b", "m", "return")}
    enc = pandas_udf(_enc, BinaryType())

    payload = _t(spark, sf_dir, "customer").select(
        enc("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .alias("payload"))
    return Pipeline.compile(
        "parse-as-avro :payload cust_avro_r13 binary").apply(payload)


def _q_parse_avro_json(spark, sf_dir):
    """parse-as-avro (json) gate: lineitem rows JSON-encoded JVM-side
    with to_json (for non-union primitives the Avro JSON encoding IS
    plain JSON), decoded by the directive's JsonAvroDecoder mirror
    (ref: codec/JsonAvroDecoder.java)."""
    from wrangler_spark.schemas import register_schema

    register_schema(
        "li_avro_json_r13",
        '{"type":"record","name":"Line","fields":['
        '{"name":"l_orderkey","type":"long"},'
        '{"name":"l_linenumber","type":"int"},'
        '{"name":"l_returnflag","type":"string"},'
        '{"name":"l_quantity","type":"double"}]}')
    payload = _t(spark, sf_dir, "lineitem").select(
        F.to_json(F.struct(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
        )).alias("payload"))
    return Pipeline.compile(
        "parse-as-avro :payload li_avro_json_r13 json").apply(payload)


def _q_parse_avro_file(spark, sf_dir):
    """parse-as-avro-file gate: customer rows grouped into 16 OCF
    container payloads (write_ocf: magic + schema metadata + sync
    framing), exploded back to rows by the directive
    (ref: parser/ParseAvroFile.java:79-151)."""
    import json as _json

    import pandas as pd

    from wrangler_spark.formats.avro_ocf import write_ocf

    schema = _json.loads(_AVRO_CUST_SCHEMA)

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("c_custkey")
        recs = [
            {"c_custkey": int(r.c_custkey), "c_name": r.c_name,
             "c_acctbal": float(r.c_acctbal),
             "c_mktsegment": r.c_mktsegment}
            for r in pdf.itertuples()
        ]
        return pd.DataFrame({"payload": [write_ocf(schema, recs)]})

    payload = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.pmod(F.col("c_custkey"), F.lit(16)).alias("__g"))
        .applyInPandas(make, "payload binary")
    )
    return Pipeline.compile("parse-as-avro-file :payload").apply(payload)


def _q_parse_protobuf(spark, sf_dir):
    """parse-as-protobuf gate: a FileDescriptorSet synthesized with the
    repo's descriptor builder (varint/string/double/zigzag-sint32
    fields), every customer row wire-encoded, decoded by the directive
    (ref: parser/ParseProtobuf.java:106,
    codec/ProtobufDecoderUsingDescriptor.java)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from wrangler_spark.formats import protobuf_wire as pw
    from wrangler_spark.schemas import register_schema

    ds = pw.build_descriptor_set("demo", {"Cust": [
        ("c_custkey", 1, pw.T_INT64),
        ("c_name", 2, pw.T_STRING),
        ("c_acctbal", 3, pw.T_DOUBLE),
        ("c_mktsegment", 4, pw.T_STRING),
        ("c_nationkey", 5, pw.T_SINT32),
    ]})
    register_schema("cust_pb_r13", ds)
    idx = pw.parse_descriptor_set(ds)
    msg = pw.find_message(idx, "Cust")

    def _enc(k, n, b, m, nk):
        return pd.Series([
            pw.encode_message(
                {"c_custkey": int(kk), "c_name": nn,
                 "c_acctbal": float(bb), "c_mktsegment": mm,
                 "c_nationkey": int(kn)},
                msg, idx)
            for kk, nn, bb, mm, kn in zip(k, n, b, m, nk)
        ])

    _enc.__annotations__ = {
        c: pd.Series for c in ("k", "n", "b", "m", "nk", "return")}
    enc = pandas_udf(_enc, BinaryType())

    payload = _t(spark, sf_dir, "customer").select(
        enc("c_custkey", "c_name", "c_acctbal", "c_mktsegment",
            "c_nationkey").alias("payload"))
    return Pipeline.compile(
        "parse-as-protobuf :payload cust_pb_r13 Cust").apply(payload)


def _q_parse_hl7(spark, sf_dir):
    """parse-as-hl7 gate: an ER7 MSH+PID message built per customer by
    SQL concat (HL7 v2 is pipe-delimited text), parsed to the segment
    JSON, scalar fields pulled back out with json-path — the decoded
    values must equal the source columns
    (ref: parser/HL7Parser.java:111)."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("string")
    msh = F.concat(
        F.lit("MSH|^~\\&|WRANGLER|SPARK|||20240115103000||ADT|"),
        ck, F.lit("|P|2.6"))
    pid = F.concat(
        F.lit("PID|1||"), ck, F.lit("||"), F.col("c_name"),
        F.lit("|||"), F.col("c_mktsegment"))
    base = cust.select(F.concat_ws("\r", msh, pid).alias("msg"))
    return Pipeline.compile(
        "parse-as-hl7 :msg\n"
        "json-path :msg_hl7 :ctrl_id \"$['MSH'][0]['10']\"\n"
        "json-path :msg_hl7 :pid_id \"$['PID'][0]['3']\"\n"
        "json-path :msg_hl7 :pid_name \"$['PID'][0]['5']\"\n"
        "json-path :msg_hl7 :pid_seg \"$['PID'][0]['8']\"\n"
        "keep :ctrl_id,:pid_id,:pid_name,:pid_seg").apply(base)


def _q_parse_excel(spark, sf_dir):
    """parse-as-excel gate: customer rows grouped into 8 single-sheet
    XLSX payloads (write_xlsx: deterministic zip, inline-string
    cells), parsed back to fwd/bkd row counters + A/B/C cell columns
    (ref: parser/ParseExcel.java:100-260; ParseExcelTest asserts the
    fwd=0/bkd=n-1 counter pair)."""
    import pandas as pd

    from wrangler_spark.formats.xlsx import write_xlsx

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("c_custkey")
        rows = [[str(int(r.c_custkey)), r.c_name, r.c_mktsegment]
                for r in pdf.itertuples()]
        return pd.DataFrame({"payload": [write_xlsx(rows)]})

    payload = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.pmod(F.col("c_custkey"), F.lit(8)).alias("__g"))
        .applyInPandas(make, "payload binary")
    )
    return Pipeline.compile("parse-as-excel :payload 0 false").apply(payload)


def _q_parse_natural_date(spark, sf_dir):
    """parse-as-date gate over the deterministic fixed-format subset:
    order dates rendered in three rotating verbose formats
    ('January 2, 1996' / '01/02/1996' / '02 Jan 1996'), recovered by
    the directive's format-coalesce chain (the natural-language
    fallback compiles on the same path but is never consulted for
    these absolute shapes, so the output is anchor-independent)
    (ref: parser/ParseDate.java:91)."""
    od = F.col("o_orderdate")
    ds = (
        F.when(F.pmod(F.col("o_orderkey"), F.lit(3)) == 0,
               F.date_format(od, "MMMM d, yyyy"))
        .when(F.pmod(F.col("o_orderkey"), F.lit(3)) == 1,
              F.date_format(od, "MM/dd/yyyy"))
        .otherwise(F.date_format(od, "dd MMM yyyy"))
    )
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", ds.alias("ds"))
    out = Pipeline.compile("parse-as-date :ds 'UTC'").apply(base)
    return out.select("o_orderkey", F.col("ds_1").alias("parsed"))


def _q_transient_variables(spark, sf_dir):
    """set-variable + increment-variable read-at-end gate: the final
    counter values surface through df.observe per the SURVEY §7.8
    contract (zero extra pass — the one count() below IS the batch
    action the reference's per-batch TransientStore implies), returned
    as a 1-row frame the identity-aggregate oracle mirrors
    (ref: aggregates/SetTransientVariable.java:82,
    IncrementTransientVariable.java:79)."""
    res = Pipeline.compile(
        "set-variable big exp:{ o_totalprice > 100000.0 }\n"
        "increment-variable n_big 1 exp:{ big }\n"
        "increment-variable n_rows 1 exp:{ o_totalprice >= 0.0 }"
    ).transform(_t(spark, sf_dir, "orders"))
    res.df.count()  # the read-at-end action (Observation semantics)
    return local_table(
        spark,
        [(int(res.variable("n_big")), int(res.variable("n_rows")))],
        "n_big long, n_rows long")


def _q_fail_precondition(spark, sf_dir):
    """precondition + non-firing fail gate composed into a real recipe:
    the precondition SKIPS matching records before the recipe
    (wrangler-transform Precondition.java:48) and check() evaluates
    the fail directive's condition over the output — proving the
    plumbing at zero oracle cost because the condition never matches
    (ref: row/Fail.java:81)."""
    p = Pipeline.compile(
        "set-column :margin exp:{ o_totalprice * 0.1 }",
        precondition="o_orderstatus == 'F'")
    res = p.transform(_t(spark, sf_dir, "orders"))
    fail_res = Pipeline.compile(
        "fail exp:{ o_totalprice < 0.0 } 'negative price'"
    ).transform(res.df)
    fail_res.check()  # bounded limit(1) probe; raises iff a row matches
    return fail_res.df


# The driver oracle-grades the FIRST 50 queries() entries. Rounds 7 and
# 8 were 50/50 green. Round 9's window, by the established zero-sum
# audit (every name in _all_queries() must be in some past CORRECTNESS
# file or in this window): the standing sentinels; every query whose
# CODE PATH changed this round (text_vocab — the single-scan lazy
# rewrite; text_vocabulary — the distributed-TakeOrdered rewrite;
# dedup_minhash_lsh/dedup_minhash_b16r2 — _sig_bands grew geometry
# validation on their call path); the new r9 grouped-fence queries
# (num_mad_by, sample_top_frac_by — every oracled query CREATED this
# round is in the window); and the r8 entries retained because their
# grades were first earned last round. Rotated out for the r9
# additions: num_winsorize and num_qbins (r8-green, unchanged; the
# numeric-fence family stays graded through num_mad + num_mad_by) and
# corpus_report (r8 back-fill, green r1-r8; the corpus-summary family
# stays graded through corpus_overlap + corpus_drift).
#
# Prior r8 rationale (kept for the audit trail): the THREE r7
# parity-only queries got first grades; the checkpoint-lifecycle
# conversion re-entered the minhash/ngram/cc/classifier/lp-buckets/
# bigram plans; rotated out then: dedup_ngram_jaccard, ann_cosine_topk,
# text_readability, corpus_diff, pack_sequences + text_dsir (all
# r6/r7-green; their only r8 change was the
# eager_checkpoint conversion, a single shared mechanism still
# represented by ~10 remaining window entries) for transitions/paths.
# Everything rotated out stays green in tools/oracle_parity.py.
_R13_WINDOW = [
    # sentinels (flagship + historically fragile + broadcast join)
    "cleanse_recipe",
    "dedup_minhash_lsh",
    "dedup_semdedup",
    "sessionize",
    "json_parse",
    "table_lookup",
    # r13 NEW: the binary-format parser gates (every CREATED-that-round
    # oracled query entered the window); parse_hl7 and parse_excel stay
    # for their per-value UDF change below
    "parse_hl7",
    "parse_excel",
    # r13: the never-driver-graded backlog (VERDICT r12 "Next round"
    # #3); these three stay because their code path changed again
    # below (the connected-components fingerprint and the classifier
    # loop)
    "dedup_cluster_weights",
    "sample_soft_dedup",
    "text_clf_calibration_summary",
    # the state-family table (datapipe/_state.py) changed the fold, read
    # and compaction path of every persisted state, so the state queries
    # re-enter (audit rule). Vacated for them: dq_profile_diff,
    # num_chi2_indep, dedup_triangles and dedup_khop (green r12-r14,
    # unchanged; all four stay green in tools/oracle_parity.py)
    "dq_constraints_state",
    "text_vocab_state",
    "num_quantiles_state",
    "events_funnel_state",
    "events_retention_forget",
    # resample's sum and avg now sum micro-units in decimal(38,0)
    # (datapipe/_moments.py) instead of long, so both resample queries
    # on that path re-enter (audit rule; events_rolling below and
    # events_cuped, whose user_period_metrics input moved the same way,
    # are already in; the state queries above cover the new
    # _layout.build / _layout.append write forms). Vacated for them:
    # events_attribution and num_rank_transform (created r13, green
    # r13-r14, code paths unchanged; both stay green in
    # tools/oracle_parity.py)
    "events_resample",
    "events_resample_interp",
    # mask-shuffle's draw-table UDF and the catalog-/table-lookup dict
    # sides (now LocalRelations) changed their code paths, so their
    # queries re-enter (audit rule; cleanse_recipe and table_lookup are
    # sentinels above). Vacated for them: text_collocations,
    # dedup_pagerank and events_graph_summary (green r13-r14, unchanged;
    # all three stay green in tools/oracle_parity.py)
    "mask_shuffle",
    "catalog_lookup",
    "catalog_lookup_icd",
    # every per-value Python map now goes through wrangler_spark.udfs
    # (one null-safe, per-distinct helper), so the queries that run one
    # re-enter (audit rule; mask_shuffle above, parse_hl7 and parse_excel
    # are already in). Vacated for them: events_srm, num_welch,
    # num_kruskal, events_ratio_ab, events_cuped, num_msprt, num_spearman
    # and text_textrank (r13's ADVICE-fix entries, green r12-r14, code
    # paths unchanged then)
    "text_nfc",
    "text_compress_ratio",
    "text_bpe_count",
    "stemming",
    "parse_xml_to_json",
    "validate_standard",
    "json_path",
    "multimodal_features",
    # the statistics ops moved onto one integer-exact moments helper
    # (datapipe/_moments.py): five decimal-sum ops keep their plans,
    # spearman's rank sums, the four series ops and impute's mean now
    # sum in decimal(38,0) instead of long, and the rank tests share one
    # t^3 - t term; the
    # classifier's two gradient-descent loops became one, the
    # connected-components and SSSP rounds read their scalars through
    # eager_checkpoint_observed, and minhash/embedding components share
    # one join-back — so every query on those paths re-enters (audit
    # rule). dedup_embedding and dedup_cross_embedding stay out: dedup
    # now calls similarity's _cosine, the same body its own copy had,
    # and their plans and rows are unchanged. Vacated for them, all green r13-r14 (dq_suggest r12-r14,
    # events_funnel_ab r11-r14) with code paths unchanged: the r13
    # parser gates parse_avro_binary, parse_avro_json, parse_avro_file,
    # parse_protobuf, parse_natural_date, transient_variables and
    # fail_precondition; the r13 backlog events_funnel_latency,
    # events_pagerank_seeded, events_retention_ab, events_survival_by,
    # num_quantiles_by, pii_redact_luhn and ext_salted_join; and the
    # r12/r13 holdovers dq_suggest, text_winnow_budget,
    # dedup_overlap_budget, dedup_ngram_budget, events_funnel_ab,
    # text_langid_kappa and emb_drift — every one stays green in
    # tools/oracle_parity.py
    "num_welch",
    "num_msprt",
    "events_ratio_ab",
    "events_cuped",
    "num_corr_matrix",
    "num_spearman",
    "num_mannwhitney",
    "num_kruskal",
    "num_impute",
    "events_rolling",
    "events_cusum",
    "events_ewma",
    "events_acf",
    "text_clf_score",
    "text_clf_calibration",
    "dedup_minhash_cc",
    "dedup_embedding_cc",
    "dedup_cluster_hist",
    "dedup_survivors",
    "split_by_cluster",
    "events_sssp",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q = _all_queries()
    assert len(_R13_WINDOW) == 50 and all(n in all_q for n in _R13_WINDOW)
    ordered = {name: all_q[name] for name in _R13_WINDOW}
    ordered.update({k: v for k, v in all_q.items() if k not in ordered})
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        **_datapipe_queries(),
        "cleanse_recipe": _q_cleanse,
        "lowercase_trim": _recipe_q("customer", "lowercase :c_mktsegment\ntrim :c_name"),
        "merge_copy_swap": _recipe_q(
            "customer", "merge :c_name :c_mktsegment :tag '|'\ncopy :c_custkey :ck2\nswap :c_name :c_mktsegment"
        ),
        "set_type": _recipe_q("orders", "set-type :o_orderkey string\nset-type :o_totalprice string"),
        "filter_row_expr": _recipe_q(
            "orders", "filter-row exp:{ o_totalprice < 150000.0 || o_orderstatus == 'F' } true"
        ),
        "filter_empty_or_null": _recipe_q("documents", "filter-empty-or-null :text"),
        "quantize": _recipe_q(
            "customer", "quantize :c_acctbal :bal_bucket -10000.0:0.0=NEG,0.001:5000.0=LOW,5000.001:100000.0=HIGH"
        ),
        "mask_number": _recipe_q("part", "mask-number :p_partkey '##xxx'"),
        "find_and_replace": _recipe_q("customer", "find-and-replace :c_mktsegment 's/BUILDING/BLD/g'"),
        "fill_null_or_empty": _recipe_q(
            "events", "set-column :v2 exp:{ value > 500.0 ? null : value }\nfill-null-or-empty :v2 '0'\ndrop :ts"
        ),
        "split_url": _recipe_q(
            "part",
            "set-column :url exp:{ 'https://shop.example.com:8080/parts/' + p_partkey + '?size=' + p_size }\nsplit-url :url",
        ),
        "split_to_rows": _recipe_q("part", "split-to-rows :p_name ' '"),
        "split_to_columns": _recipe_q("part", "split-to-columns :p_name ' '"),
        "flatten": _recipe_q("part", "set-column :words exp:{ string:split(p_name, ' ') }\nflatten :words"),
        "hash_sha256": _recipe_q("customer", "hash :c_name SHA-256"),
        "json_parse": _recipe_q("events", "parse-as-json :props 1\ndrop :ts"),
        "json_path": _recipe_q("events", "json-path :props :k_val 'k'\ndrop :ts"),
        "parse_simple_date": _recipe_q(
            "events",
            "copy :ts :ds\nformat-date :ds 'yyyy-MM-dd HH:mm:ss'\nparse-as-simple-date :ds 'yyyy-MM-dd HH:mm:ss'\ndrop :ts",
        ),
        "parse_timestamp": _recipe_q(
            "events", "set-column :ems exp:{ date:UNIXTIMESTAMP_MILLIS(ts) }\nparse-timestamp :ems 'ms'\ndrop :ts"
        ),
        "diff_date": _recipe_q(
            "events",
            "set-column :base exp:{ '2020-01-01 00:00:00' }\nparse-as-simple-date :base 'yyyy-MM-dd HH:mm:ss'\ndiff-date :ts :base :diff_ms\ndrop :base,:ts",
        ),
        "expression_el": _recipe_q(
            "customer",
            "set-column :bal2 exp:{ math:abs(c_acctbal) + (c_custkey % 7) }\n"
            "set-column :seg3 exp:{ string:substring(c_mktsegment, 0, 3) }\n"
            "set-column :is_big exp:{ c_acctbal > 5000.0 ? 'big' : 'small' }",
        ),
        "dq_checks": _recipe_q(
            "customer",
            "set-column :good_seg exp:{ dq:inrange(c_acctbal, 0.0, 10000.0) }\n"
            "set-column :seglen exp:{ dq:strlen(c_mktsegment) }",
        ),
        "send_to_error": _q_send_to_error,
        "table_lookup": _q_table_lookup,
        # r13: binary-format parser gates + the no-query §2 tail
        "parse_avro_binary": _q_parse_avro_binary,
        "parse_avro_json": _q_parse_avro_json,
        "parse_avro_file": _q_parse_avro_file,
        "parse_protobuf": _q_parse_protobuf,
        "parse_hl7": _q_parse_hl7,
        "parse_excel": _q_parse_excel,
        "parse_natural_date": _q_parse_natural_date,
        "transient_variables": _q_transient_variables,
        "fail_precondition": _q_fail_precondition,
        # rows-only by design: current_timestamp is nondeterministic
        # (ref: datetime/CurrentDateTime.java:82)
        "current_datetime": _recipe_q("nation", "current-datetime :now"),
        "catalog_lookup": _q_catalog_lookup,
        "catalog_lookup_icd": _q_catalog_lookup_icd,
        "text_distance_lev": _recipe_q(
            "customer", "text-distance levenshtein :c_name :c_mktsegment :dist"
        ),
        # (ordering here is irrelevant — queries() reorders via _R13_WINDOW)
        "parse_as_log": _recipe_q(
            "customer",
            "keep :c_custkey\n"
            "set-column :line exp:{ '10.0.0.' + (c_custkey % 250) + ' - u' + c_custkey"
            " + ' [10/Oct/2020:13:55:36 +0000] \"GET /c/' + c_custkey"
            " + ' HTTP/1.1\" 200 ' + (c_custkey % 1000) }\n"
            "parse-as-log :line 'common'\ndrop :line",
        ),
        "ext_groupby_agg": _recipe_q(
            "lineitem",
            "aggregate-by :l_returnflag,:l_linestatus prop:{"
            "sum_qty='cast(sum(cast(l_quantity as decimal(20,2))) as double)', "
            "sum_price='cast(sum(cast(l_extendedprice as decimal(20,2))) as double)', "
            "n='count(*)'}",
        ),
        "ext_join": _q_ext_join,
        "sessionize": _q_sessionize,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_probe_topk": _q_ann_ivf_probe,
        "text_tokenize": _q_text_tokenize,
        "text_vocabulary": _recipe_q("documents", "vocabulary :text 200"),
        "mask_shuffle": _recipe_q("part", "mask-number :p_size 'x#'\nmask-shuffle :p_name"),
        "uppercase": _recipe_q("customer", "uppercase :c_name"),
        "filter_by_regex": _recipe_q("customer", "filter-by-regex if-matched :c_mktsegment 'BUI.*'"),
        "cut_character": _recipe_q("part", "cut-character :p_type :p_type_cut '1-3,5'"),
        "extract_regex_groups": _recipe_q("part", "extract-regex-groups :p_name '(\\w+) (\\w+)'"),
        "split_email": _recipe_q(
            "customer", "set-column :email exp:{ concat(c_name, '@example.com') }\nsplit-email :email"
        ),
        "encode_base64": _recipe_q("part", "encode base64 :p_name"),
        "format_date": _recipe_q("orders", "copy :o_orderdate :om\nformat-date :om 'yyyy-MM'"),
        "write_json_object": _recipe_q("customer", "write-as-json-object :j :c_custkey,:c_name"),
        "titlecase": _recipe_q("part", "titlecase :p_name"),
        "text_metric_jaccard": _recipe_q(
            "part", "text-metric jaccard :p_name :p_type :sim"
        ),
        "decode_base64": _recipe_q(
            "part", "encode base64 :p_name\ndecode base64 :p_name_encode_base64"
        ),
        "hash_md5": _recipe_q("customer", "hash :c_name MD5"),
        "rename": _recipe_q("region", "rename :r_name :region_name"),
        "write_as_csv": _recipe_q("region", "write-as-csv :csv_line"),
        "write_as_json_map": _recipe_q("region", "write-as-json-map :j"),
        "parse_as_currency": _recipe_q(
            "part",
            "set-column :cur exp:{ '$' + p_size + '.99' }\nparse-as-currency :cur :cur_val",
        ),
        "index_split": _recipe_q("part", "index-split :p_type 0 4 :p_type_head"),
        "set_record_delim": _recipe_q("part", "set-record-delim :p_name ' '"),
        "trim_family": _recipe_q(
            "customer",
            "set-column :padded exp:{ '  ' + c_mktsegment + '  ' }\n"
            "copy :padded :l\nltrim :l\ncopy :padded :r\nrtrim :r\ncopy :padded :t\ntrim :t",
        ),
        "url_encode": _recipe_q("part", "copy :p_name :pn\nurl-encode :pn"),
        "url_decode": _recipe_q("part", "copy :p_name :pn\nurl-encode :pn\nurl-decode :pn"),
        "encode_hex": _recipe_q("part", "encode hex :p_name"),
        "stemming": _recipe_q("documents", "stemming :text\ndrop :text"),
        "generate_uuid": _recipe_q("region", "generate-uuid :uid"),
        "parse_fixed_length": _recipe_q(
            "part",
            "set-column :fw exp:{ concat(padAtEnd(p_brand, 10, ' '), padAtEnd(p_type, 22, ' ')) }\n"
            "parse-as-fixed-length :fw 10,22 ' '",
        ),
        "parse_as_datetime": _recipe_q(
            "events",
            "copy :ts :ds\nformat-date :ds 'yyyy-MM-dd HH:mm:ss'\n"
            "parse-as-datetime :ds 'yyyy-MM-dd HH:mm:ss'\ndrop :ts",
        ),
        "set_charset": _recipe_q(
            "customer", "copy :c_name :cn\nset-type :cn bytes\nset-charset :cn 'utf-8'"
        ),
        "columns_replace": _recipe_q("customer", "columns-replace 's/^c_/cust_/'"),
        "change_column_case": _recipe_q("region", "change-column-case upper"),
        "cleanse_column_names": _recipe_q(
            "region", "copy :r_name :R_Name_X\ncleanse-column-names"
        ),
        "split_first_rest": _recipe_q("part", "split :p_type ' ' :head :tail"),
        "format_as_currency": _recipe_q(
            "customer",
            "set-column :v exp:{ (c_custkey % 2 == 0 ? 0.0 - 1.0 : 1.0) * ((c_custkey % 99900) / 100.0) }\n"
            "format-as-currency :v :v_fmt",
        ),
        "text_distance_dice": _recipe_q("part", "text-distance dice :p_brand :p_type :dist"),
        "send_to_error_continue": _recipe_q(
            "customer", "send-to-error-and-continue exp:{ c_acctbal < 0.0 } 'neg'"
        ),
        "precondition_filter": _q_precondition,
        "timestamp_to_datetime": _recipe_q(
            "events",
            "copy :ts :dt\ntimestamp-to-datetime :dt\n"
            "format-datetime :dt 'yyyy-MM-dd HH:mm:ss'\ndrop :ts",
        ),
        "datetime_to_timestamp": _recipe_q(
            "events",
            "copy :ts :dt\ntimestamp-to-datetime :dt\n"
            "datetime-to-timestamp :dt 'Asia/Kolkata'\n"
            "format-date :dt 'yyyy-MM-dd HH:mm:ss'\ndrop :ts",
        ),
        # --- Spark-native extensions (no reference equivalent, SURVEY §2.12)
        "ext_sort_limit": _recipe_q("orders", "sort-by :o_totalprice,:o_orderkey desc\nlimit-rows 50"),
        "ext_distinct": _recipe_q("customer", "keep :c_mktsegment\ndistinct-rows"),
        "ext_window_rank": _recipe_q(
            "orders",
            "window-rank :o_custkey :o_totalprice :rk true\nfilter-row exp:{ rk > 2 } true",
        ),
        "ext_pivot": _recipe_q(
            "lineitem",
            "keep :l_returnflag,:l_linestatus,:l_quantity\n"
            "pivot-by :l_returnflag :l_linestatus :l_quantity sum 'O,F'",
        ),
        "ext_unpivot": _recipe_q(
            "lineitem",
            "keep :l_orderkey,:l_linenumber,:l_quantity,:l_discount\n"
            "unpivot :l_orderkey,:l_linenumber :l_quantity,:l_discount :measure :val",
        ),
        "ext_rollup": _recipe_q(
            "lineitem",
            "rollup-by :l_returnflag,:l_linestatus prop:{"
            "sum_qty='cast(sum(cast(l_quantity as decimal(20,2))) as double)', "
            "n='count(*)'}",
        ),
        "ext_cube": _recipe_q(
            "lineitem",
            "cube-by :l_returnflag,:l_linestatus prop:{"
            "sum_qty='cast(sum(cast(l_quantity as decimal(20,2))) as double)', "
            "n='count(*)'}",
        ),
        "ext_asof_join": _q_ext_asof,
        "ext_range_join": _q_ext_range,
        # salted equi-join must equal the plain join: graded through an
        # aggregate over the joined fact (quantities are integral in
        # this data, so the double sum is exact)
        "ext_salted_join": _q_ext_salted,
        "ext_union": _q_ext_union,
        "flatten_zip": _recipe_q(
            "part",
            "set-column :w1 exp:{ string:split(p_name, ' ') }\n"
            "set-column :w2 exp:{ string:split(p_type, ' ') }\n"
            "flatten :w1,:w2\nkeep :p_partkey,:w1,:w2",
        ),
        "parse_xml_to_json": _recipe_q(
            "part",
            "keep :p_partkey\n"
            "set-column :x exp:{ '<r><brand>' + 'B' + p_partkey + '</brand><name>N</name></r>' }\n"
            "parse-xml-to-json :x 2",
        ),
        "data_model_map": _recipe_q(
            "orders",
            "data-model-map-column :o_orderstatus 'order_status'\n"
            "data-model-map-column :o_totalprice 'total_amount' string",
        ),
        "validate_standard": _q_validate_standard,
    }


def _q_clf_score(spark, sf_dir):
    """Hashed logistic-regression quality classifier: train pos =
    doc_id % 7 == 0 vs the rest (deterministic labels), score every doc.
    The discriminative counterpart to text_dsir, same feature space.
    r13: the fused train_and_score path — the label is a column of the
    scored frame, so the corpus is feature-hashed ONCE instead of three
    times (pos build + neg build + score build); byte-identical output
    (the fused op replays the same integer GD over the same rows)."""
    from wrangler_spark.datapipe import curation

    d = _t(spark, sf_dir, "documents").withColumn(
        "__lab", (F.col("doc_id") % 7 == 0).cast("int")
    )
    return curation.train_and_score_quality_classifier(
        d, "doc_id", "text", "__lab", 512, 3
    ).select("doc_id", "clf_score")


def _q_clf_scored_labeled(spark, sf_dir):
    """(clf_score, y) for the demo classifier — shared staging for the
    calibration readouts (same pipeline as _q_clf_score, joined back to
    its own training label doc_id % 7 == 0)."""
    from wrangler_spark.datapipe import curation

    d = _t(spark, sf_dir, "documents").withColumn(
        "__lab", (F.col("doc_id") % 7 == 0).cast("int")
    )
    return curation.train_and_score_quality_classifier(
        d, "doc_id", "text", "__lab", 512, 3
    ).select("clf_score", F.col("__lab").alias("y"))


def _q_clf_calibration(spark, sf_dir):
    """Reliability-diagram bins for the demo classifier: a calibrated
    score has frac_pos ~ mean_score per bin — the check you read before
    trusting its threshold to cut a corpus."""
    from wrangler_spark.datapipe import numeric

    return numeric.calibration_bins(
        _q_clf_scored_labeled(spark, sf_dir), "clf_score", "y", 10
    )


def _q_clf_calibration_summary(spark, sf_dir):
    """One-row ECE + Brier scorecard off the same scored frame."""
    from wrangler_spark.datapipe import numeric

    return numeric.calibration_summary(
        _q_clf_scored_labeled(spark, sf_dir), "clf_score", "y", 10
    )


def _q_text_tokenize(spark, sf_dir):
    """The tokenize directive materializes `tokens array<string>` — which
    the driver's pandas canonicalizer cannot hash (lists are unhashable;
    the r6 red row). The GRADED projection is the canonicalization-
    friendly posexplode to (doc_id, pos, token) rows — same information,
    hashable shape; the array-returning directive stays the user
    surface."""
    out = Pipeline.compile("tokenize :text").apply(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", F.posexplode("tokens").alias("pos", "token"))


def _q_validate_standard(spark, sf_dir):
    """JSON-schema validation; failing rows route to the error channel so
    the clean side is the schema-conforming subset."""
    from wrangler_spark.directives.advanced import register_standard

    register_standard(
        "k_small",
        {"type": "object", "properties": {"k": {"type": "number", "maximum": 50}}, "required": ["k"]},
    )
    return Pipeline.compile("validate-standard :props k_small\ndrop :ts").apply(
        _t(spark, sf_dir, "events")
    )


def _q_sessionize(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap) over the events table —
    the window-function form of the streaming applyInPandasWithState op."""
    from wrangler_spark.streaming.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), "user_id", "ts", 30.0)


def _q_precondition(spark, sf_dir):
    """Plugin-level precondition (Wrangler.java:369-375): record skipped
    when the JEXL expression is true, before the recipe runs."""
    return Pipeline.compile("uppercase :c_mktsegment", precondition="c_acctbal < 0.0").apply(
        _t(spark, sf_dir, "customer")
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF with the untrained first-k-centroid baseline (the trained
    k-means variant is graded in-window as ann_ivf_kmeans_topk)."""
    from wrangler_spark.datapipe.similarity import ivf_topk

    embs = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        embs, embs.filter(F.col("vec_id") < 5), 8, "vec_id", "embedding", 5, dim=64)


def _q_url_canonicalize(spark, sf_dir):
    """URL canonicalization over URLs synthesized deterministically from
    doc_id (the fixture's source column holds bare labels; both engines
    build byte-identical inputs, see oracles.url_canonicalize_sql)."""
    from wrangler_spark.datapipe import curation

    d = _t(spark, sf_dir, "documents")
    url = F.expr(
        "CASE doc_id % 6 "
        "WHEN 0 THEN 'https://WWW.Site' || (doc_id % 7) || '.com:443/p' || (doc_id % 3) || '/?b=2&utm_source=x&a=1#f' "
        "WHEN 1 THEN 'http://Example' || (doc_id % 5) || '.org:80/a/b?z=9&fbclid=abc&y=8' "
        "WHEN 2 THEN 'https://cdn.host' || (doc_id % 2) || '.net/static/img.png' "
        "WHEN 3 THEN 'https://odd.port' || (doc_id % 3) || '.io:80/x?fbclid&a=1' "
        "WHEN 4 THEN 'http://alt' || (doc_id % 4) || '.example:8080/q/?utm_campaign' "
        "ELSE 'src' || (doc_id % 20) END"
    )
    return curation.url_canonicalize(
        d.select("doc_id", url.alias("url")), "url"
    )


def _q_ann_recall(spark, sf_dir):
    """recall@5 of untrained IVF (8 buckets, nprobe=1) against the exact
    scan over the same 5 queries — the driver-verified form of the
    similarity.ann_recall tuning metric (deterministic set intersection,
    fully SQL-expressible)."""
    from wrangler_spark.datapipe import similarity

    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(embs, q, "vec_id", "embedding", 5)
    approx = similarity.ivf_topk(embs, q, 8, "vec_id", "embedding", 5)
    return similarity.ann_recall(exact, approx)


def _ann_recall_oracle_sql(
    k: int = 5, n_queries: int = 5, n_centroids: int = 8, nprobe: int = 1
) -> str:
    """Mirror of _q_ann_recall: exact top-k CTE ∩ IVF top-k CTE per query."""
    from wrangler_spark.datapipe import oracles as o

    ex = o.cosine_topk_sql(k, n_queries)
    ap = _ivf_oracle_sql(n_centroids, k, n_queries, nprobe)
    hit = "len(list_intersect(e.ids, coalesce(a.ids, CAST([] AS BIGINT[]))))"
    return f"""
WITH ex AS ({ex}), ap AS ({ap}),
e AS (SELECT query_id, list(vec_id) AS ids FROM ex GROUP BY query_id),
a AS (SELECT query_id, list(vec_id) AS ids FROM ap GROUP BY query_id)
SELECT e.query_id,
       len(e.ids)::BIGINT AS n_exact,
       {hit}::BIGINT AS n_hit,
       round({hit}::DOUBLE / greatest(len(e.ids), 1)::DOUBLE, 6) AS recall
FROM e LEFT JOIN a ON e.query_id = a.query_id
"""


def _q_ann_pq_topk(spark, sf_dir):
    """PQ/ADC top-5 with an untrained codebook (iters=0: per-subspace
    codewords = the first-16 vectors' subvectors, densely reindexed by
    init id) — the SQL-expressible form, same convention as the
    untrained-IVF oracle. The trained path (Lloyd's per subspace) is
    covered by the MSE-monotonicity property test."""
    from wrangler_spark.datapipe import similarity

    embs = _t(spark, sf_dir, "embeddings")
    cb = similarity.pq_train(embs, dim=64, m=8, k=16, iters=0)
    codes = similarity.pq_encode(embs, cb, dim=64, m=8, codes_only=True)
    return similarity.pq_topk(
        codes, embs.filter(F.col("vec_id") < 5), cb, dim=64, m=8, k=5
    )


def _pq_oracle_sql(m: int = 8, kcb: int = 16, k: int = 5, n_queries: int = 5, dim: int = 64) -> str:
    """Mirror of _q_ann_pq_topk: untrained codebook (first-kcb
    subvectors, dense cid = rank of init id), nearest-codeword encode
    (6dp L2, ties to lower cid), per-query ADC lookup tables (6dp dots),
    score = 6dp sum of per-subspace table entries."""
    sub = dim // m
    sq = f"list_sum([(s.sv[i]-cb.zv[i])*(s.sv[i]-cb.zv[i]) FOR i IN range(1,{sub + 1})])"
    dot = f"list_sum([s.sv[i]*cb.zv[i] FOR i IN range(1,{sub + 1})])"
    return f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
subs AS (SELECT vec_id, j, list_slice(v, j*{sub}+1, (j+1)*{sub}) AS sv
         FROM c, (SELECT unnest(range(0, {m})) AS j) js),
fk AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
       FROM (SELECT vec_id FROM c ORDER BY vec_id LIMIT {kcb})),
cb AS (SELECT s.j AS m, fk.cid, s.sv AS zv FROM subs s JOIN fk ON s.vec_id = fk.vec_id),
enc AS (SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, cb.cid,
           row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY round({sq}, 6) ASC, cb.cid ASC) AS rn
    FROM subs s JOIN cb ON s.j = cb.m) WHERE rn = 1),
lut AS (SELECT s.vec_id AS query_id, s.j, cb.cid, round({dot}, 6) AS d
        FROM subs s JOIN cb ON s.j = cb.m WHERE s.vec_id < {n_queries}),
scored AS (SELECT l.query_id, e.vec_id, round(sum(l.d), 6) AS cosine
           FROM enc e JOIN lut l ON e.j = l.j AND e.cid = l.cid
           WHERE e.vec_id != l.query_id
           GROUP BY l.query_id, e.vec_id)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def _q_ann_pq_recall(spark, sf_dir):
    """recall@5 of untrained PQ/ADC against the exact cosine scan over
    the same 5 queries — the PQ analog of ann_recall, measuring pure
    quantization loss (64 floats -> 8 codes is a 64x compression; the
    recall column is the price)."""
    from wrangler_spark.datapipe import similarity

    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(embs, q, "vec_id", "embedding", 5)
    cb = similarity.pq_train(embs, dim=64, m=8, k=16, iters=0)
    codes = similarity.pq_encode(embs, cb, dim=64, m=8, codes_only=True)
    approx = similarity.pq_topk(codes, q, cb, dim=64, m=8, k=5)
    return similarity.ann_recall(exact, approx)


def _pq_recall_oracle_sql(k: int = 5, n_queries: int = 5) -> str:
    """Mirror of _q_ann_pq_recall: exact top-k CTE ∩ PQ/ADC top-k CTE."""
    from wrangler_spark.datapipe import oracles as o

    ex = o.cosine_topk_sql(k, n_queries)
    ap = _pq_oracle_sql(k=k, n_queries=n_queries)
    hit = "len(list_intersect(e.ids, coalesce(a.ids, CAST([] AS BIGINT[]))))"
    return f"""
WITH ex AS ({ex}), ap AS ({ap}),
e AS (SELECT query_id, list(vec_id) AS ids FROM ex GROUP BY query_id),
a AS (SELECT query_id, list(vec_id) AS ids FROM ap GROUP BY query_id)
SELECT e.query_id,
       len(e.ids)::BIGINT AS n_exact,
       {hit}::BIGINT AS n_hit,
       round({hit}::DOUBLE / greatest(len(e.ids), 1)::DOUBLE, 6) AS recall
FROM e LEFT JOIN a ON e.query_id = a.query_id
"""


def _q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ ADC top-5, untrained everywhere (first-8 coarse centroids,
    first-16 residual codewords) — the fully SQL-expressible form of the
    billion-vector index layout; trained paths are covered by the
    degeneracy/monotonicity property tests."""
    from wrangler_spark.datapipe import similarity

    embs = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        embs, embs.filter(F.col("vec_id") < 5), 64,
        n_centroids=8, m=8, k_cb=16, k=5, nprobe=1,
    )


def _ivf_pq_oracle_sql(
    n_centroids: int = 8, m: int = 8, kcb: int = 16, k: int = 5,
    n_queries: int = 5, dim: int = 64, nprobe: int = 1,
) -> str:
    """Mirror of _q_ann_ivf_pq: coarse cosine assignment (6dp, ties to
    lower centroid id), residuals v - centroid, untrained residual
    codebook (first-kcb residual subvectors, dense cid), nearest-codeword
    encode (6dp L2, ties lower cid), score = 6dp( qc_dot + Σ_j 6dp LUT )
    with qc_dot the 6dp raw dot(query, probed centroid)."""
    sub = dim // m
    cos = _cos_sql("c.v", "cent.zv", dim)
    qcos = _cos_sql("c.v", "cent.zv", dim)
    sq = f"list_sum([(s.sv[i]-cb.zv[i])*(s.sv[i]-cb.zv[i]) FOR i IN range(1,{sub + 1})])"
    ldot = f"list_sum([s.sv[i]*cb.zv[i] FOR i IN range(1,{sub + 1})])"
    qcdot = f"list_sum([q.qv[i]*ct.zv[i] FOR i IN range(1,{dim + 1})])"
    return f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS zv FROM c ORDER BY vec_id LIMIT {n_centroids}),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos} DESC, cent.centroid_id ASC) AS rn
    FROM c CROSS JOIN cent) WHERE rn = 1),
resid AS (
  SELECT c.vec_id, a.centroid_id, [c.v[i] - ct.zv[i] FOR i IN range(1, {dim + 1})] AS rv
  FROM c JOIN assign a ON c.vec_id = a.vec_id JOIN cent ct ON a.centroid_id = ct.centroid_id),
js AS (SELECT unnest(range(0, {m})) AS j),
rsubs AS (SELECT vec_id, centroid_id, j, list_slice(rv, j*{sub}+1, (j+1)*{sub}) AS sv FROM resid, js),
fk AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
       FROM (SELECT vec_id FROM resid ORDER BY vec_id LIMIT {kcb})),
cb AS (SELECT s.j AS m, fk.cid, s.sv AS zv FROM rsubs s JOIN fk ON s.vec_id = fk.vec_id),
enc AS (SELECT vec_id, centroid_id, j, cid FROM (
    SELECT s.vec_id, s.centroid_id, s.j, cb.cid,
           row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY round({sq}, 6) ASC, cb.cid ASC) AS rn
    FROM rsubs s JOIN cb ON s.j = cb.m) WHERE rn = 1),
probe AS (
  SELECT query_id, centroid_id FROM (
    SELECT c.vec_id AS query_id, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {qcos} DESC, cent.centroid_id ASC) AS rn
    FROM c CROSS JOIN cent WHERE c.vec_id < {n_queries}) WHERE rn <= {nprobe}),
qv AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {n_queries}),
qc AS (SELECT p.query_id, p.centroid_id, round({qcdot}, 6) AS qcd
       FROM probe p JOIN qv q ON p.query_id = q.query_id
            JOIN cent ct ON p.centroid_id = ct.centroid_id),
qsubs AS (SELECT query_id, j, list_slice(qv, j*{sub}+1, (j+1)*{sub}) AS sv FROM qv, js),
lut AS (SELECT s.query_id, s.j, cb.cid, round({ldot}, 6) AS d
        FROM qsubs s JOIN cb ON s.j = cb.m),
scored AS (
  SELECT qc.query_id, e.vec_id, round(qc.qcd + sum(l.d), 6) AS cosine
  FROM enc e
  JOIN qc ON e.centroid_id = qc.centroid_id
  JOIN lut l ON l.query_id = qc.query_id AND l.j = e.j AND l.cid = e.cid
  WHERE e.vec_id != qc.query_id
  GROUP BY qc.query_id, e.vec_id, qc.qcd)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def _mmr_oracle_sql(
    k_in: int = 20, k_out: int = 10, n_queries: int = 5,
    lam: float = 0.7, dim: int = 64,
) -> str:
    """Mirror of similarity.mmr_rerank over the cosine_topk(k_in) input:
    the greedy loop unrolled into k_out selection steps (the classifier
    unrolled-GD oracle pattern). Per step: every unselected candidate's
    penalty is max pairwise sim (unit-normalized raw vectors) to the
    selected set, mmr = λ·rel − (1−λ)·pen (step 1: rel itself), argmax
    with ties to the lower input rank — np.argmax over the rank-sorted
    frame. Scores round 6dp at output only, like the Spark op."""
    from wrangler_spark.datapipe import oracles as o

    dot = f"list_sum([a.u[i] * b.u[i] FOR i IN range(1, {dim + 1})])"
    ctes = [
        f"tk AS MATERIALIZED ({o.cosine_topk_sql(k_in, n_queries)})",
        "v AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw FROM embeddings)",
        # unit-normalize candidate vectors (zero-norm guarded like np);
        # cand/sims MATERIALIZED — inlined CTEs would re-open the
        # parquet once per unrolled step (fd exhaustion)
        """cand AS MATERIALIZED (
  SELECT tk.query_id, tk.vec_id, tk.cosine AS rel, tk.rank,
         list_transform(v.raw, x -> x / (CASE WHEN sqrt(list_sum([y*y FOR y IN v.raw])) = 0
                                         THEN 1.0 ELSE sqrt(list_sum([y*y FOR y IN v.raw])) END)) AS u
  FROM tk JOIN v ON tk.vec_id = v.vec_id)""",
        f"""sims AS MATERIALIZED (
  SELECT a.query_id, a.rank AS ra, b.rank AS rb, {dot} AS s
  FROM cand a JOIN cand b ON a.query_id = b.query_id)""",
        f"""sel1 AS MATERIALIZED (
  SELECT query_id, rank, 1 AS step, rel AS score FROM (
    SELECT query_id, rank, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank ASC) AS rn
    FROM cand) WHERE rn = 1)""",
    ]
    for i in range(2, k_out + 1):
        prev = f"sel{i - 1}"
        ctes.append(f"""pen{i} AS MATERIALIZED (
  SELECT c.query_id, c.rank, max(sm.s) AS pen
  FROM cand c
  JOIN {prev} s ON c.query_id = s.query_id
  JOIN sims sm ON sm.query_id = c.query_id AND sm.ra = c.rank AND sm.rb = s.rank
  WHERE NOT EXISTS (SELECT 1 FROM {prev} x WHERE x.query_id = c.query_id AND x.rank = c.rank)
  GROUP BY c.query_id, c.rank)""")
        ctes.append(f"""sel{i} AS MATERIALIZED (
  SELECT query_id, rank, step, score FROM {prev}
  UNION ALL
  SELECT query_id, rank, {i} AS step, mmr AS score FROM (
    SELECT p.query_id, p.rank, {lam} * c.rel - {round(1 - lam, 10)} * p.pen AS mmr,
           row_number() OVER (PARTITION BY p.query_id
               ORDER BY ({lam} * c.rel - {round(1 - lam, 10)} * p.pen) DESC, p.rank ASC) AS rn
    FROM pen{i} p JOIN cand c ON p.query_id = c.query_id AND p.rank = c.rank)
  WHERE rn = 1)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT s.query_id, c.vec_id, c.rel AS cosine,
       CAST(s.step AS INT) AS mmr_rank, round(s.score, 6) AS mmr_score
FROM sel{k_out} s JOIN cand c ON s.query_id = c.query_id AND s.rank = c.rank
"""


def _hash_emb_oracle_sql(dim: int = 16) -> str:
    """Mirror of text.hash_embedding: ±1 sign-hash per (token, d) in the
    shared 28-bit md5 space, integer sums (order-exact), IEEE sqrt,
    6dp-rounded normalized components; zero-token docs dropped by the
    nrm > 0 gate on both engines."""
    sign = "((('0x' || substr(md5(tok || '#' || d), 1, 7))::BIGINT % 2) * 2 - 1)::DOUBLE"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(list_distinct(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')), x -> x <> '') AS ts
  FROM documents),
comp AS (
  SELECT doc_id, d,
         coalesce(list_sum(list_transform(ts, tok -> {sign})), 0.0) AS v
  FROM t, (SELECT unnest(range(0, {dim})) AS d) ds),
n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY doc_id)
SELECT c.doc_id, CAST(c.d AS INT) AS pos, round(c.v / n.nrm, 6) AS y
FROM comp c JOIN n USING (doc_id) WHERE n.nrm > 0
"""


def _emb_outliers_oracle_sql(n_clusters: int = 8, q: float = 0.05, dim: int = 64) -> str:
    """Mirror of similarity.embedding_outliers (untrained): per-cluster
    type-7 quantile threshold over the 6dp assignment cosines, strict
    below-threshold flag."""
    cos = _cos_sql("c.v", "cent.zv", dim)
    return f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS zv FROM c ORDER BY vec_id LIMIT {n_clusters}),
a AS (SELECT vec_id, centroid_id, cos FROM (
    SELECT c.vec_id, cent.centroid_id, {cos} AS cos,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {cos} DESC, cent.centroid_id ASC) AS rn
    FROM c CROSS JOIN cent) WHERE rn = 1),
t AS (SELECT centroid_id, round(quantile_cont(cos, {float(q)}), 6) AS thr FROM a GROUP BY centroid_id)
SELECT a.vec_id, a.centroid_id, a.cos, (a.cos < t.thr) AS is_outlier
FROM a JOIN t USING (centroid_id)
"""


def _q_ann_ivf_probe(spark, sf_dir):
    """IVF with nprobe=2: each query probes its two nearest centroid
    buckets — the multi-probe recall knob over the same bucket join."""
    from wrangler_spark.datapipe.similarity import ivf_topk

    embs = _t(spark, sf_dir, "embeddings")
    return ivf_topk(embs, embs.filter(F.col("vec_id") < 5), 8, "vec_id", "embedding", 5, nprobe=2)


def _q_ext_union(spark, sf_dir):
    from wrangler_spark.directives.lookups import register_lookup

    register_lookup("nation_extra", _t(spark, sf_dir, "nation"))
    return Pipeline.compile("union-with 'nation_extra'").apply(_t(spark, sf_dir, "nation"))


def _q_ext_range(spark, sf_dir):
    """Each event's value lands in its [lo, hi) band from a small interval
    table (derived from region keys) — binned equi-join, no nested loop."""
    from wrangler_spark.directives.extensions import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = (
        _t(spark, sf_dir, "region")
        .select(
            F.col("r_regionkey").alias("band_id"),
            (F.col("r_regionkey") * 200.0).alias("lo"),
            (F.col("r_regionkey") * 200.0 + 200.0).alias("hi"),
        )
    )
    return range_join(ev, bands, "value", "lo", "hi", bin_width=100.0)


def _q_ext_asof(spark, sf_dir):
    """Each event picks up the latest high-value 'mark' event at or before
    its timestamp for the same user (backward-inclusive as-of join)."""
    from wrangler_spark.directives.extensions import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    marks = (
        ev.filter(F.col("value") > 900)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("mark_val"))
    )
    return asof_join(ev, marks, "user_id", "ts")


def _q_ext_salted(spark, sf_dir):
    from wrangler_spark.directives.extensions import salted_join

    return (
        salted_join(
            _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity"),
            _t(spark, sf_dir, "part").select(
                F.col("p_partkey").alias("l_partkey"), "p_name"
            ),
            "l_partkey", how="inner", salt=8,
        )
        .groupBy("p_name")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.count("*").cast("long").alias("n"),
        )
    )


def _q_ext_join(spark, sf_dir):
    from wrangler_spark.directives.lookups import register_lookup

    register_lookup("customer_dim", _t(spark, sf_dir, "customer"))
    return Pipeline.compile("join-with 'customer_dim' :o_custkey :c_custkey inner").apply(
        _t(spark, sf_dir, "orders")
    )


def oracle_sql() -> dict[str, str]:
    return {
        **_datapipe_oracles(),
        "cleanse_recipe": _CLEANSE_ORACLE,
        # r13 binary-format parser gates: the oracle derives the SAME
        # frame straight from the source columns, so the whole
        # encode->decode round trip must be value-exact to hash-match
        "parse_avro_binary": _CUST_IDENTITY_ORACLE,
        "parse_avro_json": (
            "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity "
            "FROM lineitem"
        ),
        "parse_avro_file": _CUST_IDENTITY_ORACLE,
        "parse_protobuf": (
            "SELECT c_custkey, c_name, c_acctbal, c_mktsegment, "
            "c_nationkey FROM customer"
        ),
        "parse_hl7": (
            "SELECT CAST(c_custkey AS VARCHAR) AS ctrl_id, "
            "CAST(c_custkey AS VARCHAR) AS pid_id, "
            "c_name AS pid_name, c_mktsegment AS pid_seg FROM customer"
        ),
        "parse_excel": (
            "WITH g AS (SELECT c_custkey % 8 AS grp, "
            "CAST(c_custkey AS VARCHAR) AS A, c_name AS B, "
            "c_mktsegment AS C, "
            "row_number() OVER (PARTITION BY c_custkey % 8 "
            "ORDER BY c_custkey) AS rn, "
            "count(*) OVER (PARTITION BY c_custkey % 8) AS cnt "
            "FROM customer) "
            "SELECT CAST(rn - 1 AS BIGINT) AS fwd, "
            "CAST(cnt - rn AS BIGINT) AS bkd, A, B, C FROM g"
        ),
        "parse_natural_date": (
            "SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) "
            "AS TIMESTAMP) AS parsed FROM orders"
        ),
        "transient_variables": (
            "SELECT CAST(sum(CASE WHEN o_totalprice > 100000.0 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_big, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM orders"
        ),
        "fail_precondition": (
            "SELECT *, o_totalprice * 0.1 AS margin FROM orders "
            "WHERE NOT (o_orderstatus = 'F')"
        ),
        "uppercase": "SELECT c_custkey, upper(c_name) AS c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
        "lowercase_trim": "SELECT c_custkey, trim(c_name) AS c_name, c_nationkey, c_acctbal, lower(c_mktsegment) AS c_mktsegment FROM customer",
        "titlecase": (
            "SELECT p_partkey, array_to_string(list_transform(string_split(p_name, ' '), "
            "x -> upper(substr(x,1,1)) || lower(substr(x,2))), ' ') AS p_name, "
            "p_brand, p_type, p_size, p_retailprice FROM part"
        ),
        "merge_copy_swap": (
            "SELECT c_custkey, c_mktsegment AS c_name, c_nationkey, c_acctbal, c_name AS c_mktsegment, "
            "c_name || '|' || c_mktsegment AS tag, c_custkey AS ck2 FROM customer"
        ),
        "set_type": (
            "SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_custkey, o_orderstatus, "
            "CAST(o_totalprice AS VARCHAR) AS o_totalprice, o_orderdate, o_orderpriority FROM orders"
        ),
        "filter_row_expr": (
            "SELECT * FROM orders WHERE NOT (o_totalprice < 150000.0 OR o_orderstatus = 'F')"
        ),
        "filter_by_regex": "SELECT * FROM customer WHERE NOT regexp_full_match(c_mktsegment, 'BUI.*')",
        "filter_empty_or_null": "SELECT * FROM documents WHERE NOT (text IS NULL OR trim(text) = '')",
        "quantize": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "CASE WHEN c_acctbal BETWEEN -10000.0 AND 0.0 THEN 'NEG' "
            "WHEN c_acctbal BETWEEN 0.001 AND 5000.0 THEN 'LOW' "
            "WHEN c_acctbal BETWEEN 5000.001 AND 100000.0 THEN 'HIGH' END AS bal_bucket FROM customer"
        ),
        "mask_number": (
            "SELECT substr(CAST(p_partkey AS VARCHAR), 1, 2) || 'xxx' AS p_partkey, "
            "p_name, p_brand, p_type, p_size, p_retailprice FROM part"
        ),
        "cut_character": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "substr(p_type, 1, 3) || substr(p_type, 5, 1) AS p_type_cut FROM part"
        ),
        "extract_regex_groups": (
            r"SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            r"CASE WHEN regexp_matches(p_name, '(\w+) (\w+)') THEN regexp_extract(p_name, '(\w+) (\w+)', 1) END AS p_name_1, "
            r"CASE WHEN regexp_matches(p_name, '(\w+) (\w+)') THEN regexp_extract(p_name, '(\w+) (\w+)', 2) END AS p_name_2 "
            r"FROM part"
        ),
        "find_and_replace": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
            "regexp_replace(c_mktsegment, 'BUILDING', 'BLD', 'g') AS c_mktsegment FROM customer"
        ),
        "fill_null_or_empty": (
            "SELECT event_id, user_id, event_type, value, props, "
            "CASE WHEN value > 500.0 THEN 0.0 ELSE value END AS v2 FROM events"
        ),
        "split_email": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "c_name || '@example.com' AS email, c_name AS email_account, 'example.com' AS email_domain FROM customer"
        ),
        "split_url": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "'https://shop.example.com:8080/parts/' || p_partkey || '?size=' || p_size AS url, "
            "'https' AS url_protocol, 'shop.example.com:8080' AS url_authority, "
            "'shop.example.com' AS url_host, 8080 AS url_port, "
            "'/parts/' || p_partkey AS url_path, 'size=' || p_size AS url_query, "
            "'/parts/' || p_partkey || '?size=' || p_size AS url_filename FROM part"
        ),
        "split_to_rows": (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS p_name, "
            "p_brand, p_type, p_size, p_retailprice FROM part"
        ),
        "split_to_columns": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "string_split(p_name, ' ')[1] AS p_name_1, string_split(p_name, ' ')[2] AS p_name_2 FROM part"
        ),
        "flatten": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "unnest(string_split(p_name, ' ')) AS words FROM part"
        ),
        "hash_sha256": (
            "SELECT c_custkey, sha256(c_name) AS c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
        ),
        "encode_base64": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "to_base64(encode(p_name)) AS p_name_encode_base64 FROM part"
        ),
        "json_parse": (
            "SELECT event_id, user_id, event_type, value, "
            "CAST(json_extract(props, '$.k') AS BIGINT) AS props_k FROM events"
        ),
        "json_path": (
            "SELECT event_id, user_id, event_type, value, props, "
            "json_extract_string(props, '$.k') AS k_val FROM events"
        ),
        "write_json_object": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "to_json(struct_pack(c_custkey := c_custkey, c_name := c_name)) AS j FROM customer"
        ),
        "parse_simple_date": (
            "SELECT event_id, user_id, event_type, value, props, date_trunc('second', ts) AS ds FROM events"
        ),
        "parse_timestamp": (
            "SELECT event_id, user_id, event_type, value, props, "
            "make_timestamp(epoch_ms(ts) * 1000) AS ems FROM events"
        ),
        "diff_date": (
            "SELECT event_id, user_id, event_type, value, props, "
            "epoch_ms(ts) - epoch_ms(TIMESTAMP '2020-01-01 00:00:00') AS diff_ms FROM events"
        ),
        "format_date": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, "
            "strftime(o_orderdate, '%Y-%m') AS om FROM orders"
        ),
        "expression_el": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "abs(c_acctbal) + (c_custkey % 7) AS bal2, "
            "substr(c_mktsegment, 1, 3) AS seg3, "
            "CASE WHEN c_acctbal > 5000.0 THEN 'big' ELSE 'small' END AS is_big FROM customer"
        ),
        "dq_checks": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "c_acctbal BETWEEN 0.0 AND 10000.0 AS good_seg, length(c_mktsegment) AS seglen FROM customer"
        ),
        "send_to_error": "SELECT * FROM customer WHERE NOT (c_acctbal < 0.0)",
        "table_lookup": (
            "SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment, "
            "n.n_name AS c_nationkey_n_name, n.n_regionkey AS c_nationkey_n_regionkey "
            "FROM customer c LEFT JOIN nation n ON CAST(c.c_nationkey AS VARCHAR) = CAST(n.n_nationkey AS VARCHAR)"
        ),
        "catalog_lookup": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'auto' WHEN 'BUILDING' THEN 'bldg' "
            "WHEN 'FURNITURE' THEN 'furn' WHEN 'MACHINERY' THEN 'mach' WHEN 'HOUSEHOLD' THEN 'home' END "
            "AS c_mktsegment_segments_description FROM customer"
        ),
        "catalog_lookup_icd": _icd_oracle_sql(),
        "text_distance_lev": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "CAST(levenshtein(c_name, c_mktsegment) AS REAL) AS dist FROM customer"
        ),
        "text_metric_jaccard": (
            "WITH g AS (SELECT *, "
            "  CASE WHEN length(lower(p_name)) >= 2 THEN list_distinct([substr(lower(p_name), i, 2) FOR i IN range(1, length(p_name))]) ELSE [lower(p_name)] END AS ga, "
            "  CASE WHEN length(lower(p_type)) >= 2 THEN list_distinct([substr(lower(p_type), i, 2) FOR i IN range(1, length(p_type))]) ELSE [lower(p_type)] END AS gb "
            "FROM part) "
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "CAST(CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 1.0 "
            "ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(list_concat(ga, gb)))::DOUBLE END AS REAL) AS sim FROM g"
        ),
        "decode_base64": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "to_base64(encode(p_name)) AS p_name_encode_base64, "
            "p_name AS p_name_encode_base64_decode_base64 FROM part"
        ),
        "hash_md5": (
            "SELECT c_custkey, md5(c_name) AS c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
        ),
        "rename": "SELECT r_regionkey, r_name AS region_name FROM region",
        "write_as_csv": (
            "SELECT r_regionkey, r_name, r_regionkey || ',' || r_name AS csv_line FROM region"
        ),
        "write_as_json_map": (
            "SELECT r_regionkey, r_name, "
            "to_json(struct_pack(r_regionkey := r_regionkey, r_name := r_name)) AS j FROM region"
        ),
        "parse_as_currency": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "'$' || p_size || '.99' AS cur, p_size + 0.99 AS cur_val FROM part"
        ),
        "index_split": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "substr(p_type, 1, 4) AS p_type_head FROM part"
        ),
        "set_record_delim": (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS p_name, "
            "p_brand, p_type, p_size, p_retailprice FROM part"
        ),
        "trim_family": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "'  ' || c_mktsegment || '  ' AS padded, "
            "ltrim('  ' || c_mktsegment || '  ') AS l, "
            "rtrim('  ' || c_mktsegment || '  ') AS r, "
            "trim('  ' || c_mktsegment || '  ') AS t FROM customer"
        ),
        "url_encode": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "replace(p_name, ' ', '+') AS pn FROM part"
        ),
        "url_decode": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "p_name AS pn FROM part"
        ),
        "encode_hex": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "lower(hex(p_name)) AS p_name_encode_hex FROM part"
        ),
        "parse_fixed_length": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "rpad(p_brand, 10, ' ') || rpad(p_type, 22, ' ') AS fw, "
            "trim(rpad(p_brand, 10, ' '), ' ') AS fw_1, "
            "trim(rpad(p_type, 22, ' '), ' ') AS fw_2 FROM part"
        ),
        "parse_as_datetime": (
            "SELECT event_id, user_id, event_type, value, props, "
            "date_trunc('second', ts) AS ds FROM events"
        ),
        "parse_as_log": (
            "SELECT c_custkey, "
            "'10.0.0.' || (c_custkey % 250) AS ip_connection_client_host, "
            "'u' || c_custkey AS string_connection_client_user, "
            "TIMESTAMP '2020-10-10 13:55:36' AS time_stamp_request_receive_time, "
            "'GET' AS http_method_request_receive_method, "
            "'/c/' || c_custkey AS http_uri_request_firstline_uri, "
            "'HTTP/1.1' AS http_protocol_request_firstline_protocol, "
            "CAST(200 AS BIGINT) AS string_request_status_last, "
            "CAST(c_custkey % 1000 AS BIGINT) AS bytes_response_body_bytes FROM customer"
        ),
        "set_charset": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "c_name AS cn FROM customer"
        ),
        "columns_replace": (
            "SELECT c_custkey AS cust_custkey, c_name AS cust_name, c_nationkey AS cust_nationkey, "
            "c_acctbal AS cust_acctbal, c_mktsegment AS cust_mktsegment FROM customer"
        ),
        "change_column_case": (
            'SELECT r_regionkey AS "R_REGIONKEY", r_name AS "R_NAME" FROM region'
        ),
        "cleanse_column_names": (
            "SELECT r_regionkey, r_name, r_name AS r_name_x FROM region"
        ),
        "split_first_rest": (
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "CASE WHEN strpos(p_type, ' ') > 0 THEN substr(p_type, 1, strpos(p_type, ' ') - 1) "
            "ELSE p_type END AS head, "
            "CASE WHEN strpos(p_type, ' ') > 0 THEN substr(p_type, strpos(p_type, ' ') + 1) "
            "END AS tail FROM part"
        ),
        "format_as_currency": (
            "WITH v AS (SELECT *, (CASE WHEN c_custkey % 2 = 0 THEN -1.0 ELSE 1.0 END) "
            "* ((c_custkey % 99900) / 100.0) AS v FROM customer) "
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, v, "
            "(CASE WHEN v < 0 THEN '-' ELSE '' END) || '$' || printf('%.2f', abs(v) + 0.0) AS v_fmt FROM v"
        ),
        "text_distance_dice": (
            "WITH b AS (SELECT *, "
            "CASE WHEN length(p_brand) >= 2 THEN list_distinct(list_transform(range(1, length(p_brand)), "
            "i -> substr(lower(p_brand), i, 2))) ELSE [lower(p_brand)] END AS ba, "
            "CASE WHEN length(p_type) >= 2 THEN list_distinct(list_transform(range(1, length(p_type)), "
            "i -> substr(lower(p_type), i, 2))) ELSE [lower(p_type)] END AS bb FROM part) "
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, "
            "CAST(1.0 - CASE WHEN len(ba) + len(bb) = 0 THEN 1.0 "
            "ELSE 2.0 * len(list_intersect(ba, bb)) / (len(ba) + len(bb)) END AS REAL) AS dist FROM b"
        ),
        "send_to_error_continue": "SELECT * FROM customer",
        "precondition_filter": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, upper(c_mktsegment) AS c_mktsegment "
            "FROM customer WHERE NOT (c_acctbal < 0.0)"
        ),
        "timestamp_to_datetime": (
            "SELECT event_id, user_id, event_type, value, props, "
            "strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt FROM events"
        ),
        "datetime_to_timestamp": (
            "SELECT event_id, user_id, event_type, value, props, "
            "strftime(timezone('UTC', timezone('Asia/Kolkata', ts)), '%Y-%m-%d %H:%M:%S') AS dt FROM events"
        ),
        "ext_groupby_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price, "
            "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "ext_pivot": (
            'SELECT l_returnflag, sum(CASE WHEN l_linestatus = \'O\' THEN l_quantity END) AS "O", '
            "sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS \"F\" "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "ext_unpivot": (
            "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem "
            "UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS val FROM lineitem"
        ),
        "ext_rollup": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty, "
            "count(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "ext_cube": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty, "
            "count(*) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        "ext_union": (
            "SELECT * FROM nation UNION ALL SELECT * FROM nation"
        ),
        "ext_salted_join": (
            "SELECT p.p_name, round(sum(l.l_quantity), 6) AS sum_qty, "
            "count(*) AS n FROM lineitem l JOIN part p "
            "ON l.l_partkey = p.p_partkey GROUP BY p.p_name"
        ),
        "ext_range_join": (
            "SELECT e.event_id, e.value, b.band_id, b.lo, b.hi "
            "FROM (SELECT event_id, value FROM events) e "
            "JOIN (SELECT r_regionkey AS band_id, r_regionkey * 200.0 AS lo, "
            "r_regionkey * 200.0 + 200.0 AS hi FROM region) b "
            "ON e.value >= b.lo AND e.value < b.hi"
        ),
        "ext_asof_join": (
            "WITH ev AS (SELECT event_id, ts, user_id, value FROM events), "
            "marks AS (SELECT user_id, ts, max(value) AS mark_val FROM events "
            "WHERE value > 900 GROUP BY user_id, ts) "
            "SELECT ev.event_id, ev.ts, ev.user_id, ev.value, m.mark_val "
            "FROM ev ASOF LEFT JOIN marks m ON ev.user_id = m.user_id AND ev.ts >= m.ts"
        ),
        "ext_sort_limit": (
            "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 50"
        ),
        "ext_distinct": "SELECT DISTINCT c_mktsegment FROM customer",
        "ext_window_rank": (
            "SELECT * FROM (SELECT *, CAST(row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INT) AS rk FROM orders) "
            "WHERE NOT (rk > 2)"
        ),
        "ext_join": (
            "SELECT o.*, c.* FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        ),
        "sessionize": (
            "WITH numbered AS (SELECT user_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "s AS (SELECT user_id, ts, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM numbered) "
            "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, "
            "min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events "
            "FROM s GROUP BY user_id, session_id"
        ),
        "events_session_stats": (
            "WITH numbered AS (SELECT user_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "s AS (SELECT user_id, ts, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM numbered), "
            "g AS (SELECT user_id, session_id, count(*) AS ev, "
            "epoch_us(max(ts)) - epoch_us(min(ts)) AS dur FROM s GROUP BY user_id, session_id) "
            "SELECT CAST(count(*) AS BIGINT) AS n_sessions, "
            "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
            "round(CAST(sum(ev) AS DOUBLE) / count(*), 6) AS avg_events, "
            "round(CAST(sum(dur) AS DOUBLE) / (count(*) * 1000000.0), 6) AS avg_duration_sec, "
            "round(quantile_cont(dur, 0.5) / 1000000.0, 6) AS p50_duration_sec, "
            "round(CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bounce_rate "
            "FROM g"
        ),
        "events_session_stats_by": (
            "WITH numbered AS (SELECT user_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "s AS (SELECT user_id, ts, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM numbered), "
            "g AS (SELECT user_id, session_id, count(*) AS ev, "
            "epoch_us(max(ts)) - epoch_us(min(ts)) AS dur FROM s GROUP BY user_id, session_id), "
            "attr AS (SELECT user_id, "
            "(min({'t': epoch_us(ts), 'g': CAST(user_id % 2 AS VARCHAR)})).g AS arm "
            "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY user_id) "
            "SELECT attr.arm, CAST(count(*) AS BIGINT) AS n_sessions, "
            "CAST(count(DISTINCT g.user_id) AS BIGINT) AS n_users, "
            "round(CAST(sum(ev) AS DOUBLE) / count(*), 6) AS avg_events, "
            "round(CAST(sum(dur) AS DOUBLE) / (count(*) * 1000000.0), 6) AS avg_duration_sec, "
            "round(quantile_cont(dur, 0.5) / 1000000.0, 6) AS p50_duration_sec, "
            "round(CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bounce_rate "
            "FROM g JOIN attr USING (user_id) GROUP BY attr.arm"
        ),
        "data_model_map": (
            "SELECT o_orderkey, o_custkey, o_orderstatus AS order_status, "
            "CAST(o_totalprice AS VARCHAR) AS total_amount, o_orderdate, o_orderpriority FROM orders"
        ),
        "validate_standard": (
            "SELECT event_id, user_id, event_type, value, props FROM events "
            "WHERE CAST(json_extract(props, '$.k') AS DOUBLE) <= 50"
        ),
        "flatten_zip": (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w1, "
            "unnest(string_split(p_type, ' ')) AS w2 FROM part"
        ),
        "parse_xml_to_json": (
            "SELECT p_partkey, 'B' || p_partkey AS x_r_brand, 'N' AS x_r_name FROM part"
        ),
        # mask_shuffle, stemming, generate_uuid, ann_ivf_topk,
        # multimodal_features: rows-only (not SQL-expressible / nondeterministic)
    }
