"""Benchmark: headline recipes at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "rows_per_sec": ...}

The headline load is the reference's published 13-directive cleansing
recipe shape (BASELINE.md: ~63K records/s single-core on 18-column CSV);
`cleanse_recipe` here is the same shape over lineitem-as-CSV, plus the
fully-UDF-free variants and representative operator families.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "cleanse_recipe",      # the reference's published benchmark shape
    "mask_shuffle",        # pandas-UDF path
    "expression_el",
    "split_to_rows",
    "json_parse",
    "table_lookup",        # broadcast join
    "parse_simple_date",
    "dedup_exact",         # hash-aggregate shuffle
    "dedup_minhash_lsh",   # signature + band join + verify
    "text_quality",        # codegen-heavy text sweep
    "ann_cosine_topk",     # broadcast NN + window top-k
]

# Added round 3 — timed separately ("queries_extra") so the headline
# total stays comparable across rounds.
EXTRA_QUERIES = [
    "pii_redact",          # regexp_replace chain, scan-side
    "dedup_paragraphs",    # paragraph-hash window + doc reassembly
    "decontaminate",       # gram explode + broadcast join
    "sample_by_quality",   # quality score + hash-gated sampling
    "text_gopher_quality", # HOF-heavy native text rules
    # Added round 6
    "dedup_minhash_cc",    # MinHash pairs -> connected-components closure
    "dedup_substring",     # rolling-window inverted-index span dedup
    "text_dsir",           # hashed-ngram importance weights, broadcast scoring
    "dedup_ngram_word",    # prefix-filtered word-gram Jaccard (scale-true unit)
    "pack_sequences",      # distributed prefix-sum sequence packing
    "text_bm25",           # Okapi BM25 retrieval scoring
    # Added round 7
    "text_lp_buckets",     # unigram-LM score + per-lang tertile broadcast
    "sample_mixture",      # domain counts + broadcast rate gate
    "text_clf_score",      # hashed logistic regression train + score
    "text_bigram_lp",      # interpolated bigram LM (pair explode + bigram join)
    "text_winnow",         # winnowing fingerprints, scan-side lambda chain
    "text_winnow_overlap", # fingerprint inverted-index overlap pairs
    "dedup_cross_minhash", # asymmetric new-vs-old MinHash band join
    "emb_project",         # JL sign projection over the embedding table
    "entity_match",        # blocked record linkage on the customer table
    # Added round 8
    "entity_match_against",  # cross-corpus record linkage (asymmetric blocks)
    "dedup_overlap",       # overlap-coefficient containment dedup
    "corpus_drift",        # PSI distribution drift between corpus snapshots
    "text_top_ngrams",     # corpus n-gram heavy hitters (two-phase top-k)
    "ann_pq_topk",         # product-quantization ADC top-k (64x compression)
    "events_funnel",       # ordered funnel: co-partitioned user-key joins
    "events_retention",    # cohort grid: distinct + first-bucket join
    "events_transitions",  # Markov matrix: lead window + broadcast normalizer
    "events_paths",        # top-k journeys: max_len trim + TakeOrdered
    "dedup_cross_embedding",  # cross-corpus semantic near-dedup (LSH buckets)
    "strip_boilerplate",   # corpus-frequency line removal + reassembly
    "decontam_spans",      # benchmark-contamination span detection
    "dedup_minhash_b16r2", # recall-tilted LSH banding operating point
    # Added round 9
    "text_ngram_rep",      # Gopher n-gram repetition (r10: scan-side fold, zero exchange)
    "text_oov",            # OOV rate vs the corpus's own coverage vocab
    "events_active_users", # rolling DAU/WAU/MAU (pair explode + pivot)
    "text_vocab",          # coverage vocab (single-scan checkpoint rewrite)
    "text_group_terms",    # per-group top-k terms (two-phase slice)
    "text_rep_filter",     # Gopher repetition caps (line+para+gram, scan-side)
    # Added round 10
    "text_group_terms_weighted",  # Fightin' Words log-odds labeling
    "sample_token_budget_by",     # grouped distributed prefix scan
    "emb_cluster_topics",         # kmeans clusters + log-odds labels (capstone)
    # Added round 11
    "events_pagerank",            # iterative join+agg power iteration (graph family)
    "events_communities",         # synchronous LPA community detection
    # Added round 11, session 2
    "dq_constraints",             # one-pass declarative quality gate (Deequ posture)
    "events_resample",            # dense time grid: scan-side fold fill
    "events_rolling",             # trailing-window anomaly band over the grid
    "events_cms_counts",          # count-min sketch point estimates
    "events_cusum",               # change-point recursions over the grid
    "events_survival",            # Kaplan-Meier churn curve
    "text_js_drift",              # JS text drift over hashed unigrams
    "events_session_stats",       # sessionize + engagement scorecard
    "events_funnel_by",           # per-arm funnel (A/B conversion)
    "num_corr_matrix",            # one-pass Pearson matrix (integer moments)
    # Added round 12
    "dedup_overlap_budget",       # pre-score candidate budget (verify top-k only)
    "dedup_ngram_budget",         # same budget on the jaccard op
    "dq_suggest",                 # closed Deequ loop: profile -> rules -> check
    # Added round 12, session 2
    "dedup_triangles",            # degree-ordered wedge join over the pair graph
    "dedup_khop",                 # k-hop BFS quarantine over the pair graph
    "text_clf_calibration",       # classifier reliability bins (single scan)
    "events_ewma",                # EWMA control chart over the resample grid
    "events_hits",                # HITS hubs/authorities (two joins per round)
    "text_code_signals",          # code-vs-prose routing (scan-side regexes)
    # Added round 12, session 3
    "events_srm",                 # sample-ratio-mismatch chi-square gate
    "events_cuped",               # CUPED variance-reduced A/B (one scan)
    "num_chi2_indep",             # categorical association screen
    "text_langid_kappa",          # labeling-QA agreement (langid vs gold)
    "events_acf",                 # per-key autocorrelation off the grid
    "events_holt",                # Holt trend smoothing + forecast
    "num_mannwhitney",            # rank-sum test off the value histogram
    "num_benford",                # first-digit DQ screen
    "events_sssp",                # weighted shortest paths (Bellman-Ford)
    "num_welch",                  # Welch t-test (one conditional scan)
    "emb_drift",                  # embedding centroid drift monitor
    "num_kruskal",                # k-group rank test (histogram fold)
    "dq_profile_diff",            # snapshot profile drift detector
    "events_ratio_ab",            # delta-method ratio-metric A/B
    "num_msprt",                  # always-valid sequential p-value
    "text_textrank",              # co-occurrence PageRank keywords
    "num_spearman",               # rank correlation (midrank maps)
    # Added round 13
    "text_winnow_budget",         # fp-sample candidates + exact verify
    "parse_avro_binary",          # avro wire round-trip (encode+decode UDFs)
    "parse_protobuf",             # protobuf wire round-trip
    "parse_excel",                # xlsx container round-trip (grouped payloads)
]


def main() -> None:
    import __spark_entry__ as entry_mod
    from wrangler_spark import get_spark

    spark = get_spark("wrangler_spark_bench")
    qs = entry_mod.queries()

    # warm the JVM/session so q1 isn't charged for one-time startup: a
    # trivial job, the parquet datasource path, and a from_csv codegen
    # compile (first-job costs, not per-query work)
    spark.range(1).count()
    from pyspark.sql import functions as F

    warm = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(64)
    warm.select(
        F.from_csv(F.lit("a,1"), "c0 string, c1 int").alias("s"), *warm.columns
    ).count()

    errors: dict[str, str] = {}

    def run(names: list[str], label: str) -> tuple[dict[str, float], dict[str, int]]:
        # per-query fault isolation: one failing query must not abort the
        # benchmark — record its error (keyed by pass, so a cold-only or
        # warm-only failure is unambiguous), keep timing the healthy ones,
        # and always emit the final JSON line
        # each query runs inside a checkpoint_scope: its count() fully
        # materializes the result, so every localCheckpoint the operator
        # pinned is released before the next query times — without this
        # the session accumulates dead blocks and late queries measure
        # the leak, not the operator (BENCH_r07's 3x warm-extras
        # inflation)
        from wrangler_spark.datapipe import checkpoint_scope

        per: dict[str, float] = {}
        rows: dict[str, int] = {}
        for name in names:
            t0 = time.perf_counter()
            try:
                with checkpoint_scope():
                    n = qs[name](spark, SF_DIR).count()
            except Exception as exc:  # noqa: BLE001
                errors[f"{label}:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            per[name] = round(time.perf_counter() - t0, 3)
            rows[name] = n
        return per, rows

    # r13: median-of-3 per query. This box has ~48% documented cold-run
    # spread (BENCH_SCALING.md) and the r12 official single-cold sample
    # landed 2-5x high on EVERY query simultaneously — pure box weather
    # that cost a round of perf signal. Three passes (pass 0 cold,
    # passes 1-2 steady-state) and a per-query MEDIAN make the official
    # number robust to one bad window while still exposing the raw cold
    # pass for cross-round continuity.
    def median3(samples: dict[str, list[float]]) -> dict[str, float]:
        return {
            n: round(sorted(v)[len(v) // 2], 3)
            for n, v in samples.items() if v
        }

    def run3(names: list[str], label: str):
        samples: dict[str, list[float]] = {n: [] for n in names}
        rows: dict[str, int] = {}
        walls: list[float] = []
        for i in range(3):
            t0 = time.perf_counter()
            per, r = run(names, f"{label}{i}")
            walls.append(round(time.perf_counter() - t0, 3))
            for n, v in per.items():
                samples[n].append(v)
            if i == 0:
                rows = r
        first = {n: v[0] for n, v in samples.items() if v}
        return samples, median3(samples), first, rows, walls

    q_samples, per_query, per_cold, rows_out, q_walls = run3(
        BENCH_QUERIES, "p")
    total = q_walls[0]  # cold-pass wall, comparable with r1-r12 "value"
    total_rows = sum(rows_out.values())
    x_samples, per_extra, per_extra_cold, rows_extra, x_walls = run3(
        EXTRA_QUERIES, "x")
    extra_total = x_walls[0]
    # baseline comparison: the reference's published number for this recipe
    # shape is ~63K records/s single-core (BASELINE.md); ours is wall-clock
    # including compile-time sampling and scan — judged at the median
    cleanse_rps = round(
        rows_out.get("cleanse_recipe", 0) / max(per_query.get("cleanse_recipe", 1e-9), 1e-9)
    )

    sf = 0.1
    if "sf" in SF_DIR:
        try:
            sf = float(SF_DIR.rstrip("/").split("sf")[-1])
        except ValueError:
            pass
    payload = {
                "metric": "total_wall_sec",
                "value": total,
                "unit": "sec",
                # official per-query numbers: MEDIAN of 3 passes
                "queries": per_query,
                "queries_cold": per_cold,
                "queries_samples": {n: v for n, v in q_samples.items() if v},
                "queries_extra": per_extra,
                "queries_extra_cold": per_extra_cold,
                "queries_extra_samples": {
                    n: v for n, v in x_samples.items() if v},
                "pass_walls": {"headline": q_walls, "extra": x_walls},
                "queries_def": "v3: per-query median of 3 passes "
                               "(pass 0 cold); *_cold = pass-0 raw",
                "extra_wall_sec": extra_total,
                "rows_out_extra": sum(rows_extra.values()),
                "sf": sf,
                # the parallelism the run really had, read from the session
                "parallelism": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "rows_out_total": total_rows,
                # throughput over time actually spent in successful queries —
                # a failed query's partial wall time must not deflate it
                # (sum can round to 0.0 on trivially small inputs: guard it)
                "rows_per_sec": (
                    round(total_rows / sum(per_query.values()))
                    if sum(per_query.values()) > 0
                    else None
                ),
                # definition history: v2 (r5) = sum of successful COLD
                # per-query sec; v3 (r13) = sum of per-query MEDIANS of 3
                # passes — versioned so cross-round deltas aren't misread
                "rows_per_sec_def": "v3: rows_out_total / sum(per-query median-of-3 sec)",
                "cleanse_recipe_rows_per_sec": cleanse_rps,
                "baseline_ref_rows_per_sec": 63000,
                "errors": errors or None,
            }
    print(json.dumps(payload))
    # persist the run + regenerate the cross-round median/MAD table so
    # regressions are judged against medians, not single cold samples
    # (this box's ~48% cold spread) — file writes only, stdout stays the
    # one JSON line
    try:
        from tools import bench_history

        bench_history.append_local_run(payload)
        bench_history.regenerate()
    except Exception:  # noqa: BLE001 — history is best-effort, never fails the bench
        pass


if __name__ == "__main__":
    main()
