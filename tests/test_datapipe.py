"""Dedup / similarity / text-analysis / multimodal operator tests."""

import pytest

from pyspark.sql import functions as F

from wrangler_spark.datapipe import dedup, multimodal, similarity, text
from wrangler_spark.datapipe._layout import resolve as _ixroot


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
            (3, "completely different content about spark engines"),
            (4, "THE  QUICK   brown fox jumps over the lazy dog"),  # exact dup of 1 after normalize
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert ids == [1, 2, 3]
    assert {r["doc_id"]: r["n_dups"] for r in out}[1] == 2  # doc 4 collapsed into 1


def test_minhash_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in pairset or (1, 4) in pairset  # near/exact dups surface
    for r in pairs:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.5).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in pairset  # normalized-identical pair has jaccard 1.0


def test_minhash_hot_bucket_star_links(spark):
    """1k identical docs: the clique would be ~500k candidate pairs; the
    bucket-size cap star-links them to the min-id representative, so the
    join emits exactly n-1 pairs and completes in seconds."""
    n = 1000
    hot = spark.createDataFrame(
        [(i, "the exact same document body repeated everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_lsh_pairs(hot, "doc_id", "text", threshold=0.9,
                                    max_bucket_size=10)
    rows = pairs.collect()
    assert len(rows) == n - 1                      # star, not clique
    assert all(r["id_a"] == 0 for r in rows)       # min-id representative
    assert all(r["jaccard"] == 1.0 for r in rows)


def test_minhash_bucket_cap_preserves_small_cliques(docs):
    """Buckets at/below the cap keep full-clique semantics — same pairs as
    the uncapped run on a normal corpus."""
    capped = {(r["id_a"], r["id_b"]) for r in
              dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.3, max_bucket_size=100).collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in
                dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.3, max_bucket_size=10**9).collect()}
    assert capped == uncapped


def test_ngram_stop_gram_pruning(spark):
    """A gram shared by every doc is pruned by the df cap; docs that only
    overlap through stop-grams stop pairing, true near-dups survive."""
    rows = [(1, "alpha COMMONBLOCK first"), (2, "alpha COMMONBLOCK second"),
            (3, "zzzz COMMONBLOCK qqqq"), (4, "alpha COMMONBLOCK first")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    strict = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=5, threshold=0.9,
                                       max_gram_df=3, unit="char")
    pairset = {(r["id_a"], r["id_b"]) for r in strict.collect()}
    assert (1, 4) in pairset           # identical docs still pair at 1.0
    assert (1, 3) not in pairset and (2, 3) not in pairset


def test_simhash_close_for_near_dups(docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    ham_12 = bin(out[1] ^ out[2]).count("1")
    ham_13 = bin(out[1] ^ out[3]).count("1")
    assert out[1] == out[4]  # identical after normalization
    assert ham_12 < ham_13  # near-dup closer than unrelated


def test_cosine_topk(spark):
    rows = [(i, [float(i == j) for j in range(4)], 0) for i in range(4)]
    rows.append((4, [1.0, 0.01, 0.0, 0.0], 0))  # nearly parallel to vec 0
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=1).collect()
    assert out[0]["vec_id"] == 4 and out[0]["rank"] == 1


def test_topk_reduce_partition_invariant(spark):
    """The two-phase top-k must be independent of the input partitioning
    (phase 1 is per-partition) and must keep the old window ordering
    contract: cosine desc, ties broken by vec_id asc; rank is dense
    1..k; fewer than k candidates -> all returned."""
    rows = []
    for q in ("q1", "q2"):
        # 30 candidates per query incl. deliberate cosine ties
        rows += [(q, f"v{i:02d}", round(1.0 - (i % 10) * 0.1, 6)) for i in range(30)]
    rows.append(("q3", "only", 0.5))  # fewer than k
    scored = spark.createDataFrame(rows, ["query_id", "vec_id", "cosine"])

    expected = None
    for nparts in (1, 3, 17):
        got = sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
            for r in similarity._topk_reduce(scored.repartition(nparts), 5).collect()
        )
        if expected is None:
            expected = got
        assert got == expected, f"result changed at {nparts} partitions"

    by_q = {}
    for q, rank, vid, cos in expected:
        by_q.setdefault(q, []).append((rank, vid, cos))
    # ties at cosine=1.0 resolve by vec_id asc: i%10==0 -> v00, v10, v20
    assert [x[1] for x in by_q["q1"][:3]] == ["v00", "v10", "v20"]
    assert [x[0] for x in by_q["q1"]] == [1, 2, 3, 4, 5]
    assert by_q["q3"] == [(1, "only", 0.5)]


def test_topk_reduce_matches_reference_on_random_input(spark):
    """Seeded randomized equivalence: the two-phase top-k must reproduce a
    plain-Python sort over (nulls-last, cosine desc, vec_id asc) on messy
    input — duplicate vec_ids, cosine ties, nulls, empty queries."""
    import random
    from collections import defaultdict

    rng = random.Random(1234)
    rows = []
    for q in range(20):
        for _ in range(rng.randint(0, 40)):
            cos = None if rng.random() < 0.05 else round(rng.uniform(-1, 1), 6)
            rows.append((f"q{q}", f"v{rng.randint(0, 30):03d}", cos))
    scored = spark.createDataFrame(rows, "query_id string, vec_id string, cosine double")
    k = 7
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in similarity._topk_reduce(scored.repartition(5), k).collect()
    }
    by_q = defaultdict(list)
    for q, v, c in rows:
        by_q[q].append((v, c))
    expect = {}
    for q, items in by_q.items():
        items.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        for rank, (v, c) in enumerate(items[:k], 1):
            expect[(q, rank)] = (v, c)
    assert got == expect


def test_topk_null_cosine_never_evicts_real_neighbor(spark):
    """A broken vector (null element -> null cosine) must rank LAST, as
    under the old window's desc NULLS LAST — not first, as a naive
    struct-min would order it."""
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [None, 1.0]), (3, [0.8, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 3]


def test_assignment_ignores_null_cosine_centroid(spark):
    """A centroid that yields a null cosine (broken/mismatched vector)
    must lose to every real score in nearest-centroid assignment."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(10, [None, 1.0]), (11, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(corpus, cents).collect()}
    assert got == {1: 11, 2: 11}


def test_minhash_dedup_flags(docs):
    """One-step near-dedup: min-id member of each near-dup group survives,
    every row of the input keeps exactly one output row."""
    out = {r["doc_id"]: r["is_dup"] for r in dedup.minhash_dedup(docs, "doc_id", "text", 0.3).collect()}
    assert len(out) == docs.count()
    dup_ids = {i for i, d in out.items() if d}
    # the fixture's near-dup pair: the higher id is flagged, the lower kept
    assert dup_ids and min(out) not in dup_ids


def test_minhash_duplicate_ids_no_self_pairs(spark):
    """A duplicated input id lands twice in a bucket; the pair expansion
    must not emit a bogus (a, a) self-pair (old self-join was l.id < r.id)."""
    txt = "the quick brown fox jumps over the lazy dog again and again for good measure"
    df = spark.createDataFrame([(1, txt), (1, txt), (2, txt)], ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.5).collect()
    assert pairs and all(p["id_a"] != p["id_b"] for p in pairs)
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2)}


def test_text_ops(docs):
    out = text.token_count(text.quality_score(text.langid(docs, "text"), "text"), "text")
    r = {x["doc_id"]: x for x in out.collect()}
    assert r[1]["lang_pred"] == "en"
    assert 0.0 <= r[1]["quality"] <= 1.0
    assert r[1]["n_tokens_ws"] == 9
    fp = {x["doc_id"]: x["fingerprint"] for x in text.fingerprint(docs, "text").collect()}
    assert fp[1] == fp[4]  # order/dup-insensitive identical token sets


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c\na b c\nd e f"),          # 1 of 3 lines duplicated
            (2, "one two three four"),            # no repetition
            (3, "spam spam spam spam"),           # all-dup words
        ],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in text.repetition_stats(df, "text").collect()}
    assert r[1]["dup_line_ratio"] == pytest.approx(1 / 3, abs=1e-6)
    assert r[2]["dup_line_ratio"] == 0.0 and r[2]["dup_word_ratio"] == 0.0
    assert r[3]["dup_word_ratio"] == pytest.approx(3 / 4, abs=1e-6)


def test_gopher_quality(spark):
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with real grace and it runs"] * 5
    )
    df = spark.createDataFrame(
        [(1, good), (2, "short text"), (3, "#### " * 60)],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in text.gopher_quality(df, "text").collect()}
    assert r[1]["gopher_pass"] is True
    assert r[2]["g_word_count"] is False and r[2]["gopher_pass"] is False
    assert r[3]["g_symbol_ratio"] is False or r[3]["g_alpha_ratio"] is False


def test_multimodal_plumbing(docs):
    with_payload = multimodal.attach_binary(docs, "text")
    feats = multimodal.extract_features(with_payload).select("doc_id", "features.*").collect()
    r = {x["doc_id"]: x for x in feats}
    assert r[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert len(r[1]["md5_prefix"]) == 12
    # text payloads are not images: the stdlib decoder yields null structs
    imgs = multimodal.decode_image(with_payload).select("doc_id", "image").collect()
    assert all(x["image"] is None for x in imgs)


def test_dedup_directives(spark, docs):
    from wrangler_spark import Pipeline

    out = Pipeline.compile("token-count :text\nfingerprint :text\nlangid :text").apply(docs)
    assert {"n_tokens", "n_tokens_ws", "fingerprint", "lang_pred"} <= set(out.columns)
    dd = Pipeline.compile("dedup-exact :doc_id :text").apply(docs)
    assert dd.count() == 3


def test_kmeans_centroids_separates_blobs(spark):
    """Two well-separated direction blobs -> 2 trained centroids, one per
    blob, each the (rounded) mean of its members; assignment groups the
    blobs correctly through ivf_topk(train_iters=...)."""
    rows = [(i, [10.0 + (i % 3) * 0.1, 1.0]) for i in range(6)]          # east-ish
    rows += [(10 + i, [1.0, 10.0 + (i % 3) * 0.1]) for i in range(6)]    # north-ish
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = similarity.kmeans_centroids(df, k=2, iters=2, dim=2).collect()
    assert len(cent) == 2
    dirs = sorted((round(c["zv"][0] / c["zv"][1], 1) for c in cent))
    assert dirs[0] < 0.2 and dirs[1] > 5.0  # one centroid per direction blob

    topk = similarity.ivf_topk(df, df.filter(F.col("vec_id") == 0), 2, k=5, train_iters=2)
    got = {r["vec_id"] for r in topk.collect()}
    assert got == {1, 2, 3, 4, 5}  # neighbors all from the east blob


def test_kmeans_high_dim_plan_bounded(spark):
    """At dim=256 the exploded-mean path must (a) produce exactly the same
    centroids as the unrolled per-dimension path and (b) keep the plan size
    independent of dim — the unrolled aggregate grows ~linearly with dim
    and would blow up codegen at 768+."""
    import random

    rng = random.Random(7)
    dim = 256
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    unrolled = similarity.kmeans_centroids(df, k=4, iters=2, dim=dim, explode_means=False)
    exploded = similarity.kmeans_centroids(df, k=4, iters=2, dim=dim, explode_means=True)
    a = {r["centroid_id"]: r["zv"] for r in unrolled.collect()}
    b = {r["centroid_id"]: r["zv"] for r in exploded.collect()}
    assert a == b  # identical ids AND identical rounded means

    # r14: the centroid state is a driver literal — the RETURNED frame
    # must be a LocalRelation for every path (jobless broadcasts
    # downstream, constant-size plan at any dim); the per-dimension
    # expression growth the old assertion bounded now lives only inside
    # each round's one-shot collect plan and never escapes to consumers
    auto = similarity.kmeans_centroids(df, k=4, iters=2, dim=dim)
    for frame in (unrolled, exploded, auto):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan.splitlines()[0]


def test_pii_redact(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com or call (555) 123-4567 now"),
            (2, "ssn 123-45-6789 ip 10.0.0.1 card 4111 1111 1111 1111"),
            (3, "clean text with no identifiers at all"),
        ],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in curation.pii_redact(df, "text").collect()}
    assert r[1]["text"] == "mail <EMAIL> or call <PHONE> now"
    assert r[1]["n_pii_email"] == 1 and r[1]["n_pii_phone"] == 1 and r[1]["n_pii"] == 2
    assert r[2]["text"] == "ssn <SSN> ip <IP> card <CC>"
    assert r[2]["n_pii_ssn"] == 1 and r[2]["n_pii_ip"] == 1 and r[2]["n_pii_cc"] == 1
    assert r[3]["text"] == "clean text with no identifiers at all" and r[3]["n_pii"] == 0


def test_paragraph_dedup(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [
            (1, "alpha beta\ncommon boilerplate\nunique one"),
            (2, "common boilerplate\nunique two"),
            (3, "COMMON   boilerplate"),  # normalization collapses into doc 1's
        ],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in curation.paragraph_dedup(df, "doc_id", "text").collect()}
    assert r[1]["text"] == "alpha beta\ncommon boilerplate\nunique one"
    assert r[1]["n_dropped"] == 0
    assert r[2]["text"] == "unique two" and r[2]["n_dropped"] == 1
    assert r[3]["text"] == "" and r[3]["n_dropped"] == 1 and r[3]["n_paras"] == 1


def test_decontaminate(spark):
    from wrangler_spark.datapipe import curation

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different set of training words here now"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    r = {
        x["doc_id"]: x
        for x in curation.decontaminate(train, bench, "doc_id", "text", n=5, threshold=0.2).collect()
    }
    assert r[1]["contaminated"] is True and r[1]["n_matched"] > 0
    assert r[2]["contaminated"] is False and r[2]["n_matched"] == 0


def test_source_filter_and_sample(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [
            (1, "https://spam.example.com/page?x=1"),
            (2, "https://good.example.org/a"),
            (3, "curated-books"),
        ],
        ["doc_id", "source"],
    )
    kept = curation.source_filter(df, "source", ["spam.example.com"]).collect()
    assert {r["doc_id"] for r in kept} == {2, 3}
    assert {r["host"] for r in kept} == {"good.example.org", "curated-books"}

    big = spark.range(0, 2000).withColumnRenamed("id", "k")
    n = big.filter(curation.sample_hash(big, "k", 0.25, "s1")).count()
    assert 400 < n < 600  # ~25% of 2000, deterministic for the fixed salt
    n2 = big.filter(curation.sample_hash(big, "k", 0.25, "s1")).count()
    assert n == n2


def test_semdedup_drops_near_identical(spark):
    from wrangler_spark.datapipe.similarity import semdedup

    # two tight direction blobs; within each, members are near-identical
    rows = [(i, [10.0 + i * 0.001, 1.0]) for i in range(3)]
    rows += [(10 + i, [1.0, 10.0 + i * 0.001]) for i in range(3)]
    rows.append((99, [-5.0, 1.0]))  # its own direction, no dup
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["is_dup"] for r in
           semdedup(df, n_clusters=3, threshold=0.999, train_iters=1).collect()}
    assert out[0] is False and out[1] is True and out[2] is True   # min-id survives
    assert out[10] is False and out[11] is True and out[12] is True
    assert out[99] is False


def test_pii_redact_cross_engine_on_pii_laden_rows(spark):
    """The sf corpus has no PII, so driver parity never exercises the
    patterns on MATCHING text — this pins Java-regex ≡ RE2 behavior on
    rows where every pattern fires (incl. adjacent/overlapping spans)."""
    import duckdb
    import pandas as pd

    from wrangler_spark.datapipe import curation, oracles

    texts = [
        "a@b.co c@d.org 1.2.3.4 999-99-9999",
        "4111 1111 1111 1111 and 4111111111111111",
        "(555) 123-4567 555.123.4567 555 123 4567",
        "edge 123-45-678 12.34.56 1234567890123456789",
        "mixed bob@x.io at 10.0.0.255 card 5500 0000 0000 0004 call 555-000-1234",
        "",
    ]
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    got = (
        curation.pii_redact(df, "text")
        .orderBy("doc_id")
        .select("doc_id", "text", "n_pii_email", "n_pii_ip", "n_pii_ssn", "n_pii_cc", "n_pii_phone")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]))
    want = con.sql(
        f"SELECT doc_id, text, n_pii_email, n_pii_ip, n_pii_ssn, n_pii_cc, n_pii_phone "
        f"FROM ({oracles.pii_redact_sql()}) ORDER BY doc_id"
    ).df()
    for col in got.columns:
        assert list(got[col]) == list(want[col]), f"column {col} diverges"


def test_tokenize(spark):
    df = spark.createDataFrame([(1, "don't split2 me!!")], ["doc_id", "text"])
    out = text.tokenize(df, "text").collect()[0]["tokens"]
    assert out == ["don", "'", "t", "split", "2", "me", "!!"]


def test_unigram_logprob(spark):
    """Common-word docs score lower surprisal than rare-word docs; OOV
    tokens take the floor probability; token-less docs get null."""
    common = "the cat sat on the mat " * 5
    df = spark.createDataFrame(
        [
            (1, common),
            (2, common),
            (3, "zyzzyva qwyjibo flibbertigibbet"),  # all singletons/OOV
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["doc_lp"] for r in text.unigram_logprob(df, "doc_id", "text", vocab_size=5).collect()}
    assert out[1] == out[2]  # identical docs, identical score
    assert out[1] < out[3]  # stereotypical text is less surprising
    assert out[4] is None  # no tokens -> null, row kept
    # vocab cap: only 5 tokens kept, the rare doc is fully OOV — its
    # per-token surprisal is the floor -log2(1/(N+V+1)), far above the
    # trivial-entropy bound of the tiny vocabulary
    import math

    assert out[3] > math.log2(5)


def test_vocabulary_topk(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "banana apple")],
        ["doc_id", "text"],
    )
    rows = text.vocabulary(df, "text", k=2).collect()
    assert [(r["token"], r["tf"], r["df"], r["rank"]) for r in rows] == [
        ("apple", 4, 3, 1),
        ("banana", 2, 2, 2),
    ]


def test_cosine_topk_query_batching_matches_unbatched(spark):
    """query_batch smaller than Q forces the chunked path (multiple
    broadcast passes + union); results must be identical to one pass."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 13)

    one = similarity.cosine_topk(df, q, k=4, query_batch=4096)
    batched = similarity.cosine_topk(df, q, k=4, query_batch=5)  # 13 queries -> 3 passes
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, batched.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, one.collect()), key=lambda t: (t[0], t[3])
    )

    # ivf path too (untrained): same contract
    one_ivf = similarity.ivf_topk(df, q, 4, k=3, query_batch=4096)
    bat_ivf = similarity.ivf_topk(df, q, 4, k=3, query_batch=5)
    assert sorted(map(tuple, bat_ivf.collect())) == sorted(map(tuple, one_ivf.collect()))


def test_embedding_dup_broadcast_planes_matches_inline(spark):
    """The broadcast-planes signature path must produce bit-identical
    pairs to the inline-literal path, and its plan must stay bounded in
    dim (the inline plan holds N_PLANES x dim literals)."""
    import random

    rng = random.Random(3)
    dim, n_planes = 256, 12
    planes = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)]
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, base), (1, [x * 1.0001 for x in base])]  # near-dup pair
    rows += [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(2, 30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    inline = dedup.embedding_dup_pairs(
        df, "vec_id", "embedding", 0.5, planes=planes, broadcast_planes=False
    )
    bcast = dedup.embedding_dup_pairs(
        df, "vec_id", "embedding", 0.5, planes=planes, broadcast_planes=True
    )
    got_i = sorted(map(tuple, inline.collect()))
    got_b = sorted(map(tuple, bcast.collect()))
    assert got_i == got_b
    assert (0, 1) in {(a, b) for a, b, _ in got_b}

    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    try:
        # auto mode switches to broadcast planes above dim 128
        auto = dedup.embedding_dup_pairs(df, "vec_id", "embedding", 0.5, planes=planes)
        plan_auto = auto._jdf.queryExecution().optimizedPlan().toString()
        plan_inline = inline._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan_auto) < len(plan_inline) / 2
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")


def test_ngram_jaccard_corpus_relative_cap(spark):
    """Float max_gram_df scales with the corpus: a gram present in (almost)
    every doc is pruned under the default 0.5·N cap, so two docs whose only
    overlap is that stop-gram are NOT paired; an absolute int cap above N
    keeps it and pairs them."""
    stop = "abcde"  # one shared 5-gram across all docs
    mk = lambda tag: f"{stop} {tag}{tag}{tag}"  # noqa: E731
    rows = [(i, mk(chr(ord("k") + i))) for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    rel = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=5, threshold=0.01, unit="char")
    # the stop-gram is in all 8 docs > cap(=4): pruned, docs share nothing
    assert rel.count() == 0
    absolute = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=5, threshold=0.01, max_gram_df=100, unit="char"
    )
    assert absolute.count() == 8 * 7 / 2  # every pair shares the stop-gram


def _make_png(width: int, height: int, color_type: int = 2) -> bytes:
    """Minimal valid PNG built with stdlib only (zlib CRCs + raw IDAT)."""
    import struct as st
    import zlib as zl

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            st.pack(">I", len(data)) + typ + data
            + st.pack(">I", zl.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = st.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    px_per_row = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type] * width
    raw = b"".join(b"\x00" + b"\x7f" * px_per_row for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zl.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(channels: int, rate: int, n_frames: int) -> bytes:
    import io as iomod
    import wave as wv

    buf = iomod.BytesIO()
    with wv.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x01" * channels * n_frames)
    return buf.getvalue()


def test_decode_image_stdlib_png_gif(spark):
    """Golden: the stdlib default decoder reads PNG IHDR and GIF logical
    screen dims; JPEG-ish/garbage payloads yield a null struct."""
    import struct as st

    gif = b"GIF89a" + st.pack("<HH", 320, 200) + b"\x00" * 20
    rows = [
        (1, _make_png(17, 9, 2)),       # RGB
        (2, _make_png(4, 4, 6)),        # RGBA
        (3, _make_png(5, 2, 0)),        # grayscale
        (4, gif),
        (5, b"\xff\xd8\xff\xe0 not decodable here"),  # JPEG magic, corrupt segments
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, payload BINARY")
    got = {r["doc_id"]: r["image"] for r in multimodal.decode_image(df).collect()}
    assert tuple(got[1]) == (17, 9, "RGB")
    assert tuple(got[2]) == (4, 4, "RGBA")
    assert tuple(got[3]) == (5, 2, "L")
    assert tuple(got[4]) == (320, 200, "P")
    assert got[5] is None and got[6] is None

    # PIL-style metadata agrees with the raw-byte parse helpers directly
    assert multimodal.png_meta(_make_png(1, 1, 3)) == (1, 1, "P")
    assert multimodal.png_meta(b"\x89PNG\r\n\x1a\nshort") is None


def _filter_png_rows(rows_px: list[bytes], nch: int, filters: list[int]) -> bytes:
    """Forward-filter raw scanlines per PNG spec §9 (the encoder side,
    so the decoder's unfilter paths are exercised against known pixels)."""
    out = bytearray()
    prev = bytes(len(rows_px[0]))
    for row, ft in zip(rows_px, filters):
        out.append(ft)
        line = bytearray(row)
        if ft == 1:      # Sub
            for i in range(len(line) - 1, nch - 1, -1):
                line[i] = (line[i] - row[i - nch]) & 0xFF
        elif ft == 2:    # Up
            for i in range(len(line)):
                line[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:    # Average
            for i in range(len(line)):
                a = row[i - nch] if i >= nch else 0
                line[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:    # Paeth
            for i in range(len(line)):
                a = row[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (prev[i] if pb <= pc else c)
                line[i] = (line[i] - pr) & 0xFF
        out += line
        prev = row
    return bytes(out)


def _make_png_with_pixels(width, height, color_type, rows_px, filters) -> bytes:
    import struct as st
    import zlib as zl

    def chunk(typ, data):
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zl.crc32(typ + data) & 0xFFFFFFFF))

    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    ihdr = st.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = _filter_png_rows(rows_px, nch, filters)
    idat = zl.compress(raw, 9)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat[: len(idat) // 2])
            + chunk(b"IDAT", idat[len(idat) // 2:])  # multi-IDAT concat
            + chunk(b"IEND", b""))


def test_png_pixels_real_decode_all_filters():
    """The stdlib PNG pixel decoder inflates and unfilters REAL pixel
    data: for every filter type the decoded raster equals the known
    source pixels exactly (not just header dims)."""
    rows = [bytes([10, 20, 30, 40, 50, 60]),   # 2x2 RGB: (10,20,30)(40,50,60)
            bytes([70, 80, 90, 200, 210, 220])]
    for filters in ([0, 0], [1, 2], [3, 4], [4, 1]):
        b = _make_png_with_pixels(2, 2, 2, rows, filters)
        got = multimodal.png_pixels(b)
        assert got is not None, filters
        w, h, mode, raw = got
        assert (w, h, mode) == (2, 2, "RGB")
        assert raw == b"".join(rows), filters
    # grayscale-alpha and rgba channel layouts
    ga = [bytes([5, 250, 7, 9]), bytes([11, 13, 17, 19])]
    w, h, mode, raw = multimodal.png_pixels(
        _make_png_with_pixels(2, 2, 4, ga, [2, 4]))
    assert (w, h, mode) == (2, 2, "LA") and raw == b"".join(ga)
    # unsupported profiles fall back to None (palette, garbage)
    assert multimodal.png_pixels(_make_png(2, 2, 3)) is None
    assert multimodal.png_pixels(b"not a png at all") is None


def test_decode_image_pixels_means(spark):
    """decode_image_pixels carries exact per-channel means computed from
    the decoded raster through the mapInPandas path; a registered
    'image_pixels' decoder overrides the default (the PIL plug point)."""
    rows = [bytes([10, 20, 30, 40, 50, 60]),
            bytes([70, 80, 90, 200, 210, 220])]
    png = _make_png_with_pixels(2, 2, 2, rows, [1, 3])
    df = spark.createDataFrame(
        [(1, png), (2, b"garbage"), (3, None)],
        "doc_id INT, payload BINARY")
    got = {r["doc_id"]: r["pixels"]
           for r in multimodal.decode_image_pixels(df).collect()}
    px = got[1]
    assert (px["width"], px["height"], px["mode"], px["n_pixels"]) == (2, 2, "RGB", 4)
    assert px["channel_means"] == [
        (10 + 40 + 70 + 200) / 4, (20 + 50 + 80 + 210) / 4,
        (30 + 60 + 90 + 220) / 4]
    assert got[2] is None and got[3] is None
    # plug-point: a registered decoder takes over (and is restored)
    multimodal.register_decoder(
        "image_pixels", lambda b: (1, 1, "L", bytes([42])))
    try:
        one = multimodal.decode_image_pixels(df).filter("doc_id = 2").collect()[0]
        assert one["pixels"]["channel_means"] == [42.0]
    finally:
        multimodal._DECODERS.pop("image_pixels", None)
    # the documented PIL override raises a CLEAR error when PIL is absent
    import pytest as _pt

    with _pt.raises(ImportError, match="Pillow"):
        multimodal.pil_pixel_decoder(png)


def _make_jpeg(w, h, ncomp, sof=0xC0, fill=False):
    """Minimal JPEG header stream: SOI, APP0(JFIF), DQT, then a SOF
    frame header carrying the dimensions (ITU T.81 B.2.2)."""
    import struct as st

    out = b"\xff\xd8"
    out += b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    out += b"\xff\xdb" + st.pack(">H", 67) + b"\x00" * 65
    if fill:
        out += b"\xff"  # fill byte before the next marker (T.81 B.1.1.2)
    out += (
        bytes([0xFF, sof]) + st.pack(">H", 8 + 3 * ncomp) + b"\x08"
        + st.pack(">HH", h, w) + bytes([ncomp]) + b"\x00" * (3 * ncomp)
    )
    return out


def test_jpeg_meta_sof_scan():
    """Golden: the stdlib JPEG SOF scan walks marker segments to the
    first frame header — baseline, progressive, fill bytes, grayscale,
    CMYK; truncated or SOF-less streams yield None."""
    assert multimodal.jpeg_meta(_make_jpeg(17, 9, 3)) == (17, 9, "RGB")
    assert multimodal.jpeg_meta(_make_jpeg(640, 480, 1)) == (640, 480, "L")
    assert multimodal.jpeg_meta(_make_jpeg(8, 8, 4)) == (8, 8, "CMYK")
    assert multimodal.jpeg_meta(_make_jpeg(5, 7, 3, sof=0xC2)) == (5, 7, "RGB")  # progressive
    assert multimodal.jpeg_meta(_make_jpeg(5, 7, 3, fill=True)) == (5, 7, "RGB")
    full = _make_jpeg(17, 9, 3)
    assert multimodal.jpeg_meta(full[: len(full) - 12]) is None   # truncated before SOF payload
    assert multimodal.jpeg_meta(full[:2]) is None                  # bare SOI
    assert multimodal.jpeg_meta(b"\xff\xd8\xff\xd9") is None       # SOI then EOI, no frame
    assert multimodal.jpeg_meta(b"not a jpeg") is None
    # DHT (C4) must not be mistaken for a SOF
    import struct as st
    dht_first = b"\xff\xd8" + b"\xff\xc4" + st.pack(">H", 4) + b"\x00\x00"
    assert multimodal.jpeg_meta(dht_first) is None
    # the default decoder routes JPEG payloads through the scan
    assert multimodal.default_image_decoder(_make_jpeg(3, 2, 3)) == (3, 2, "RGB")


def test_decode_audio_stdlib_wav(spark):
    """Golden: the stdlib WAV decoder reads channels/rate/frames through
    the wave module; non-WAV payloads yield a null struct."""
    rows = [
        (1, _make_wav(1, 16000, 1600)),
        (2, _make_wav(2, 44100, 441)),
        (3, b"RIFFgarbage"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, payload BINARY")
    got = {r["doc_id"]: r["audio"] for r in multimodal.decode_audio(df).collect()}
    assert tuple(got[1]) == (1, 16000, 1600, 2, 0.1)
    assert tuple(got[2]) == (2, 44100, 441, 2, 0.01)
    assert got[3] is None and got[4] is None

    # registry override still wins over the stdlib default
    multimodal.register_decoder("audio", lambda b: (9, 8000, 80, 1))
    try:
        got2 = {r["doc_id"]: r["audio"] for r in multimodal.decode_audio(df).collect()}
        assert tuple(got2[3]) == (9, 8000, 80, 1, 0.01)
    finally:
        multimodal._DECODERS.pop("audio", None)


def test_ivf_multiprobe_recall_and_degeneracy(spark):
    """nprobe is the IVF recall knob: nprobe=1 stays the old single-bucket
    behavior, larger nprobe can only add candidates (recall monotone in
    nprobe), and nprobe = n_centroids probes everything — at that point
    the result must EQUAL the exact brute-force cosine_topk."""
    import random

    rng = random.Random(19)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 6)

    exact = sorted(map(tuple, similarity.cosine_topk(df, q, k=4).collect()))
    full_probe = sorted(map(tuple, similarity.ivf_topk(df, q, 4, k=4, nprobe=4).collect()))
    assert full_probe == exact

    def best_cos(res):
        out = {}
        for r in res.collect():
            if r["rank"] == 1:
                out[r["query_id"]] = r["cosine"]
        return out

    one = best_cos(similarity.ivf_topk(df, q, 4, k=4, nprobe=1))
    two = best_cos(similarity.ivf_topk(df, q, 4, k=4, nprobe=2))
    for qid, c1 in one.items():
        assert two[qid] >= c1  # more probed buckets never worsen the best hit

    # trained path honors nprobe too (full probe == exact over trained buckets)
    trained_full = sorted(
        map(tuple, similarity.ivf_topk(df, q, 4, k=4, train_iters=1, nprobe=4, dim=8).collect())
    )
    assert trained_full == exact


def test_bm25_against_serial_reference(spark):
    import math

    docs_rows = [
        (1, "spark shuffle partitions and spark executors"),
        (2, "the cat sat on the mat"),
        (3, "shuffle the deck of cards"),
        (4, "unrelated text entirely here"),
    ]
    q_rows = [(10, "spark shuffle")]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    qs = spark.createDataFrame(q_rows, "query_id long, query string")
    out = {(r["query_id"], r["doc_id"]): r["bm25"] for r in
           text.bm25_scores(docs, qs, "doc_id", "text").collect()}

    # serial reference
    k1, b = 1.2, 0.75
    toks = {i: t.lower().split() for i, t in docs_rows}
    N = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / N
    terms = ["spark", "shuffle"]
    df_ = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    want = {}
    for i, w in toks.items():
        s = 0
        for t in terms:
            tf = w.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - df_[t] + 0.5) / (df_[t] + 0.5))
            s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl)) * 1e6)
        if s:
            want[(10, i)] = round(s / 1e6, 6)
    assert out == want
    # doc 1 (two query terms, one twice) outranks doc 3 (one term)
    assert out[(10, 1)] > out[(10, 3)]
    assert (10, 4) not in out  # no matching term -> no row


def test_bm25_multiple_queries_independent(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "alpha"), (2, "gamma")], "query_id long, query string"
    )
    out = text.bm25_scores(docs, qs, "doc_id", "text").collect()
    got = {(r["query_id"], r["doc_id"]) for r in out}
    assert got == {(1, 1), (2, 2), (2, 3)}


def test_langid_multi_separates_languages(spark):
    rows = [
        (1, "the cat is on the table and it was a good day for the dog"),
        (2, "el gato es un animal y la casa es grande por lo que al fin"),
        (3, "le chat est dans la maison et il est pour une bonne journée"),
        (4, "der hund ist in dem haus und das ist ein gutes tier für mich"),
        (5, "zzz qqq xxx yyy www vvv"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["lang_pred"], r["lang_score"]) for r in
           text.langid_multi(df, "text").collect()}
    assert out[1][0] == "en"
    assert out[2][0] == "es"
    assert out[3][0] == "fr"
    assert out[4][0] == "de"
    assert out[5][0] == "unknown" and out[5][1] < 0.05
    for d in (1, 2, 3, 4):
        assert out[d][1] >= 0.05


def test_ann_recall_full_probe_is_one(spark):
    import random

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(df, q, k=4)
    full = similarity.ivf_topk(df, q, 4, k=4, nprobe=4)
    one = similarity.ivf_topk(df, q, 4, k=4, nprobe=1)
    r_full = {r["query_id"]: r["recall"] for r in similarity.ann_recall(exact, full).collect()}
    r_one = {r["query_id"]: r["recall"] for r in similarity.ann_recall(exact, one).collect()}
    assert all(v == 1.0 for v in r_full.values())
    assert set(r_one) == set(r_full)
    assert all(0.0 <= r_one[qid] <= 1.0 for qid in r_one)
    # an empty approx result scores 0, not an error
    empty = exact.filter(F.lit(False))
    r0 = {r["query_id"]: r["recall"] for r in similarity.ann_recall(exact, empty).collect()}
    assert all(v == 0.0 for v in r0.values())


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct as _s

    return _s.pack(">I", 8 + len(payload)) + btype + payload


def _make_mp4(timescale=1000, duration=12500, tracks=2, version=0) -> bytes:
    import struct as _s

    if version == 0:
        mvhd = bytes([0, 0, 0, 0]) + _s.pack(">II", 0, 0) + _s.pack(
            ">II", timescale, duration
        ) + b"\x00" * 80
    else:
        mvhd = bytes([1, 0, 0, 0]) + _s.pack(">QQ", 0, 0) + _s.pack(
            ">I", timescale
        ) + _s.pack(">Q", duration) + b"\x00" * 80
    moov = _mp4_box(b"mvhd", mvhd) + b"".join(
        _mp4_box(b"trak", b"\x00" * 16) for _ in range(tracks)
    )
    return _mp4_box(b"ftyp", b"isom" + b"\x00" * 8) + _mp4_box(b"moov", moov)


def test_mp4_meta_and_decode_video(spark):
    assert multimodal.mp4_meta(_make_mp4()) == (12.5, 2, "isom")
    assert multimodal.mp4_meta(_make_mp4(90000, 90000 * 3, 1, version=1)) == (3.0, 1, "isom")
    assert multimodal.mp4_meta(b"not a video at all") is None
    assert multimodal.mp4_meta(_mp4_box(b"ftyp", b"isom")) is None  # no moov

    rows = [(1, _make_mp4()), (2, b"garbage"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["video"] for r in multimodal.decode_video(df).collect()}
    assert got[1]["duration_sec"] == 12.5 and got[1]["n_tracks"] == 2 and got[1]["brand"] == "isom"
    assert got[2] is None and got[3] is None


def test_mp4_meta_malformed_boxes(spark):
    import struct as _s

    # zero-payload mvhd (size==8) as the LAST box of moov: no version
    # byte to read — must be a null result, never an IndexError
    moov = _mp4_box(b"mvhd", b"")
    bad = _mp4_box(b"ftyp", b"isom" + b"\x00" * 8) + _mp4_box(b"moov", moov)
    assert multimodal.mp4_meta(bad) is None
    # and through the mapInPandas task (the documented contract:
    # undecodable payloads -> null struct, task survives)
    df = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    got = multimodal.decode_video(df).collect()[0]["video"]
    assert got is None
    # size==0 = box-extends-to-EOF (legal for the last top-level box):
    # a moov written that way still parses
    full = _make_mp4()
    moov_payload = full[full.index(b"moov") + 4:]
    eof_moov = _s.pack(">I", 0) + b"moov" + moov_payload
    ok = _mp4_box(b"ftyp", b"isom" + b"\x00" * 8) + eof_moov
    assert multimodal.mp4_meta(ok) == (12.5, 2, "isom")


def test_ngram_replica_mode_matches_exact_below_cap(spark):
    # below the star-link cap the replica-mode candidate generator must
    # produce the identical pair set as the exact self-join path
    rows = [(i, f"shared words that repeat in every doc plus marker {i % 4} "
                f"and some more text to gram over nicely")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.5, unit="word").collect()))
    capped = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.5, unit="word", max_gram_group=100).collect()))
    assert exact == capped and len(exact) > 0
    # star-linking (tiny cap) keeps every pair that still shares a
    # below-cap gram — on this corpus the marker grams are rare, so the
    # within-marker-group pairs must survive
    starred = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.5, unit="word", max_gram_group=5).collect()))
    assert set(starred) <= set(exact)


def test_script_ratios_multiscript(spark):
    rows = [
        (1, "hello world"),
        (2, "Привет мир"),
        (3, "漢字とカタカナ"),
        (4, "mixed Привет hello 123"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.script_ratios(df, "text").collect()}
    assert out[1]["script_latin"] == 1.0 and out[1]["script_cyrillic"] == 0.0
    assert out[2]["script_cyrillic"] == 1.0
    assert out[3]["script_cjk"] == 1.0
    m = out[4]
    assert 0 < m["script_latin"] < 1 and 0 < m["script_cyrillic"] < 1 and m["script_digit"] > 0
    total = sum(m[f"script_{s}"] for s in ("latin", "cyrillic", "greek", "arabic", "cjk", "digit"))
    assert abs(total + m["script_other"] - 1.0) < 1e-4
    assert out[5]["script_latin"] == 0.0 and out[5]["script_other"] == 0.0


def test_resize_image_stub_and_registered(spark):
    rows = [(1, _make_png(640, 480)), (2, _make_png(100, 200)), (3, b"junk"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["resized"] for r in
           multimodal.resize_image(df, 128, 128).collect()}
    # aspect-preserving fit into the 128x128 box
    assert got[1]["orig_width"] == 640 and (got[1]["width"], got[1]["height"]) == (128, 96)
    assert (got[2]["width"], got[2]["height"]) == (64, 128)
    assert got[1]["data"] is None          # stub: geometry real, no fake pixels
    assert got[3] is None and got[4] is None
    # a registered resizer receives (payload, w, h) and supplies the bytes
    multimodal.register_decoder("image_resize", lambda b, w, h: (b"RESIZED%d" % (w * h), "RGB"))
    try:
        got = {r["doc_id"]: r["resized"] for r in
               multimodal.resize_image(df, 128, 128).collect()}
        assert got[1]["data"] == b"RESIZED%d" % (128 * 96)
    finally:
        multimodal._DECODERS.pop("image_resize", None)


def test_sample_frames_duration_true(spark):
    # 12.5 s video, 5 s period -> frames at 0, 5, 10
    rows = [(1, _make_mp4(1000, 12500, 2)), (2, b"not video"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = multimodal.sample_frames(df, period_sec=5.0).collect()
    times = sorted(r["frame_time_sec"] for r in out)
    assert [r["doc_id"] for r in out] == [1, 1, 1] and times == [0.0, 5.0, 10.0]
    assert all(r["frame"] is None for r in out)  # stub: timeline real, no fake pixels
    multimodal.register_decoder("video_frame", lambda b, t: b"F@%.1f" % t)
    try:
        out = multimodal.sample_frames(df, period_sec=5.0).collect()
        assert sorted(r["frame"] for r in out) == [b"F@0.0", b"F@10.0", b"F@5.0"]
    finally:
        multimodal._DECODERS.pop("video_frame", None)


def test_bigram_logprob_detects_word_order(spark):
    """The interpolated bigram score must separate fluent text from the
    SAME words shuffled — the signal a unigram model cannot see."""
    fluent = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat the rug cat the and on sat the"
    filler = [(100 + i, fluent) for i in range(6)]  # give bigrams support
    df = spark.createDataFrame(
        [(1, fluent), (2, shuffled)] + filler, "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           text.bigram_logprob(df, "doc_id", "text", vocab_size=100).collect()}
    assert out[2]["doc_lp2"] > out[1]["doc_lp2"]
    # unigram cannot: identical token multiset -> identical unigram score
    uni = {r["doc_id"]: r["doc_lp"] for r in
           text.unigram_logprob(df, "doc_id", "text", 100).collect()}
    assert uni[1] == uni[2]


def test_bigram_logprob_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "some words here for scoring now"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["doc_lp2"] for r in
           text.bigram_logprob(df, "doc_id", "text", 50).collect()}
    assert out[1] is not None and out[2] is None and out[3] is None


def test_ivf_index_persist_and_pruned_query(spark, tmp_path_factory):
    """The persisted IVF index must return byte-identical results to the
    in-memory ivf_topk AND prove partition pruning: the vectors scan
    reads only the probed centroid_id directories."""
    import io
    from contextlib import redirect_stdout

    path = str(tmp_path_factory.mktemp("ivf_idx"))
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    similarity.ivf_write_index(embs, path, n_centroids=8)
    got = sorted(map(tuple, similarity.ivf_query_index(
        spark, path, q, k=5, nprobe=1).collect()))
    want = sorted(map(tuple, similarity.ivf_topk(
        embs, q, 8, "vec_id", "embedding", 5).collect()))
    assert got == want and len(got) == 25
    # multi-probe parity too
    got2 = sorted(map(tuple, similarity.ivf_query_index(
        spark, path, q, k=5, nprobe=2).collect()))
    want2 = sorted(map(tuple, similarity.ivf_topk(
        embs, q, 8, "vec_id", "embedding", 5, nprobe=2).collect()))
    assert got2 == want2
    # pruning evidence: the scan plan carries a centroid_id partition
    # filter (pruned file index, not a full-directory read)
    df = similarity.ivf_query_index(spark, path, q, k=5, nprobe=1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan


def test_embedding_normalize_and_quantize(spark):
    rows = [
        (0, [3.0, 4.0]),          # norm 5 -> (0.6, 0.8)
        (1, [0.0, 0.0]),          # zero vector -> null
        (2, None),                # null vector -> null
        (3, [-1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nz = {r["vec_id"]: r["embedding"] for r in similarity.embedding_normalize(df).collect()}
    assert nz[0] == [0.6, 0.8] and nz[1] is None and nz[2] is None
    assert abs(sum(x * x for x in nz[3]) - 1.0) < 1e-5
    qz = {r["vec_id"]: (r["q"], r["q_scale"]) for r in similarity.embedding_quantize(df).collect()}
    assert qz[0][0] == [95, 127]                 # round(127*3/4), 127
    assert qz[1] == (None, None) and qz[2] == (None, None)
    # dequantization reconstructs within half a quant step per element
    q, s = qz[3]
    assert all(abs(qi * s - xi) <= s / 2 + 1e-9 for qi, xi in zip(q, [-1.0, 2.0]))
    # recall of ANN over dequantized vectors vs float (real embeddings):
    # int8 keeps top-5 recall high — the storage cut is measurable, the
    # quality loss is quantified by the existing ann_recall metric
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    deq = similarity.embedding_quantize(embs).select(
        "vec_id",
        F.expr("transform(q, x -> x * q_scale)").alias("embedding"),
    )
    queries = embs.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(embs, queries, k=5)
    approx = similarity.cosine_topk(deq, queries, k=5)
    rec = similarity.ann_recall(exact, approx).agg(F.avg("recall")).collect()[0][0]
    assert rec >= 0.9, f"int8 recall collapsed: {rec}"


def test_cluster_survivors(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], "doc_id long, component long"
    )
    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7), (5, 3)], "doc_id long, quality long"
    )
    out = {r["doc_id"]: r["keep"] for r in
           dedup.cluster_survivors(comp, df, "doc_id", "component", "quality").collect()}
    # cluster {1,2,3}: max quality 99 tied between 2 and 3 -> min id 2 survives
    assert out == {1: False, 2: True, 3: False, 4: True, 5: True}
    # no quality column: representative (min id) survives
    out2 = {r["doc_id"]: r["keep"] for r in
            dedup.cluster_survivors(comp, df, "doc_id", "component").collect()}
    assert out2 == {1: True, 2: False, 3: False, 4: True, 5: True}


def test_pair_eval(spark):
    approx = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6)], "id_a long, id_b long"  # (2,1) dup of (1,2)
    )
    exact = spark.createDataFrame([(1, 2), (3, 4), (7, 8)], "id_a long, id_b long")
    r = dedup.pair_eval(approx, exact).collect()[0]
    assert (r["approx_pairs"], r["exact_pairs"], r["hits"]) == (3, 3, 2)
    assert abs(r["precision"] - 2 / 3) < 1e-6 and abs(r["recall"] - 2 / 3) < 1e-6


def test_embedding_project(spark):
    from wrangler_spark.datapipe.constants import jl_signs

    rows = [(0, [1.0] * 8), (1, [0.5, -0.5] * 4), (2, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["embedding"] for r in
           similarity.embedding_project(df, 8, 4, seed=7).collect()}
    signs = jl_signs(4, 8, 7)
    import math
    for vid, vec in rows[:2]:
        exp = [round(sum(x * s for x, s in zip(vec, row)) / math.sqrt(4.0), 6)
               for row in signs]
        assert got[vid] == exp, (vid, got[vid], exp)
    assert got[2] is None
    # broadcast-matrix path computes the identical projection
    got_b = {r["vec_id"]: r["embedding"] for r in
             similarity.embedding_project(df, 8, 4, seed=7, broadcast_signs=True).collect()}
    assert got_b == got
    # JL sanity on real embeddings: 64->32 projection keeps top-5 recall
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    proj = similarity.embedding_project(embs, 64, 32)
    queries = embs.filter(F.col("vec_id") < 5)
    pq = similarity.embedding_project(queries, 64, 32)
    exact = similarity.cosine_topk(embs, queries, k=5)
    approx = similarity.cosine_topk(proj, pq, k=5)
    rec = similarity.ann_recall(exact, approx).agg(F.avg("recall")).collect()[0][0]
    # These synthetic embeddings are near-uniform (pairwise cosine std
    # ~0.125 < the 1/sqrt(32)~0.18 JL distortion at dim_out=32), so exact
    # top-5 recall is structurally low (numpy cross-check: 0.16 on a 500-
    # vector slice). The honest bound is "far above chance": random top-5
    # among 8000 vectors recalls 5/8000 ~ 0.0006; require two orders of
    # magnitude better. On real (clustered) embeddings recall is high —
    # that property belongs to the data, not the operator.
    assert rec >= 0.02, f"JL projection no better than chance: {rec}"


def test_exact_dedup_against(spark):
    old = spark.createDataFrame(
        [(10, "the quick brown fox"), (11, "existing corpus text")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "THE  quick   Brown fox"),   # normalizes to an old text
         (2, "genuinely fresh content"),
         (3, "existing corpus text")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["is_dup"] for r in
           dedup.exact_dedup_against(new, old, "doc_id", "text").collect()}
    assert out == {1: True, 2: False, 3: True}


def test_minhash_pairs_against(spark):
    old = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "completely unrelated existing document about engines")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 100
         (2, "the quick brown fox jumps over the lazy rat"),   # near-dup of 100 AND of new doc 1
         (3, "fresh text with no counterpart anywhere at all")],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_pairs_against(new, old, "doc_id", "text", 0.3).collect()
    got = {(r["id_new"], r["id_old"]) for r in pairs}
    assert (1, 100) in got and (2, 100) in got
    # asymmetric contract: no new-new, no old-old pairs
    assert all(o in (100, 101) and n in (1, 2, 3) for n, o in got)
    for r in pairs:
        assert 0.0 < r["jaccard"] <= 1.0


def test_minhash_pairs_against_hot_old_bucket(spark):
    """A hot OLD bucket is capped: a colliding new doc checks against at
    most max_bucket_size representatives, not the whole bucket."""
    body = "the exact same document body repeated everywhere in the corpus"
    old = spark.createDataFrame([(i, body) for i in range(100, 400)], ["doc_id", "text"])
    new = spark.createDataFrame([(1, body)], ["doc_id", "text"])
    pairs = dedup.minhash_pairs_against(new, old, "doc_id", "text", 0.9,
                                        max_bucket_size=10).collect()
    olds = sorted(r["id_old"] for r in pairs)
    assert 1 <= len(olds) <= 10          # capped, never the full 300
    assert olds[0] == 100                # sorted slice keeps the min ids
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_cap_per_group(spark):
    from wrangler_spark.datapipe import curation

    rows = [(i, "big" if i < 8 else "small", float(100 - i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    # quality-ordered: keep the 3 highest-quality per group (= lowest ids here)
    kept = {(r["source"], r["doc_id"]) for r in
            curation.cap_per_group(df, "source", "doc_id", 3, order_col="quality").collect()}
    assert kept == {("big", 0), ("big", 1), ("big", 2), ("small", 8), ("small", 9)}
    # deterministic-random mode: stable across partitionings, exactly 3 per hot group
    a = {(r["source"], r["doc_id"]) for r in
         curation.cap_per_group(df.repartition(1), "source", "doc_id", 3).collect()}
    b = {(r["source"], r["doc_id"]) for r in
         curation.cap_per_group(df.repartition(7), "source", "doc_id", 3).collect()}
    assert a == b
    assert sum(1 for s, _ in a if s == "big") == 3
    # order ties resolve to the smaller id
    tie = spark.createDataFrame(
        [(5, "g", 1.0), (2, "g", 1.0), (9, "g", 1.0)], "doc_id long, source string, quality double"
    )
    got = sorted(r["doc_id"] for r in
                 curation.cap_per_group(tie, "source", "doc_id", 2, order_col="quality").collect())
    assert got == [2, 5]


def test_winnow_fingerprints(spark):
    """Winnowing guarantees (Schleimer et al. 2003): shared runs of at
    least w+k-1 words share a fingerprint; density ~ 2/(w+1); rightmost
    minimum wins ties."""
    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words > w+k-1=6
    df = spark.createDataFrame(
        [(1, f"one two {shared} three four five"),
         (2, f"nine eight seven {shared} six"),
         (3, "totally unrelated words in this other document body here")],
        ["doc_id", "text"],
    )
    fps = text.winnow_fingerprints(df, "doc_id", "text", k, w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 8-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # density: ~2/(w+1) of gram hashes selected on a long random-ish doc
    long = spark.createDataFrame(
        [(9, " ".join(f"w{(i * 131) % 997}" for i in range(2000)))], ["doc_id", "text"]
    )
    n_sel = text.winnow_fingerprints(long, "doc_id", "text", k, w).count()
    n_grams = 2000 - (k - 1)
    assert 0.25 <= n_sel / n_grams <= 0.55, n_sel / n_grams
    # short docs (< w+k-1 words) emit nothing rather than erroring
    short = spark.createDataFrame([(5, "just four tiny words")], ["doc_id", "text"])
    assert text.winnow_fingerprints(short, "doc_id", "text", k, w).count() == 0


def test_winnow_overlap(spark):
    """A copied passage inside otherwise-distinct documents pairs them;
    whole-doc near-dup is not required."""
    passage = "the copied paragraph travels verbatim between these two documents today"
    df = spark.createDataFrame(
        [(1, f"intro about databases {passage} outro on storage engines"),
         (2, f"weather report morning {passage} evening summary follows here"),
         (3, "entirely original material with no borrowed passages anywhere at all"),
         (4, "more original writing that shares nothing with the others either")],
        ["doc_id", "text"],
    )
    pairs = text.winnow_overlap(df, "doc_id", "text", min_shared=2).collect()
    got = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert all(p == (1, 2) for p in got)
    # a ubiquitous fingerprint (in > max_fp_df docs) stops generating pairs
    boiler = [(i, f"unique{i} filler {passage} trailing unique{i} words") for i in range(10)]
    bf = spark.createDataFrame(boiler, ["doc_id", "text"])
    capped = text.winnow_overlap(bf, "doc_id", "text", min_shared=1, max_fp_df=5).count()
    uncapped = text.winnow_overlap(bf, "doc_id", "text", min_shared=1, max_fp_df=None).count()
    assert capped < uncapped


def test_winnow_overlap_fp_sample_budget(spark):
    """The fp_sample_mod budget finds heavy-overlap pairs on the 1/mod
    fingerprint subset and reports their EXACT shared count (phase-2
    verification against the full frame); every budget pair must exist
    in the exact output with an identical shared_fps."""
    import pytest as _pt

    passage = (
        "the copied paragraph travels verbatim between these two "
        "documents today and keeps going with many more shared words "
        "so the overlap carries plenty of fingerprints in both")
    df = spark.createDataFrame(
        [(1, f"intro about databases {passage} outro on storage engines"),
         (2, f"weather report morning {passage} evening summary follows"),
         (3, "entirely original material with no borrowed passages here"),
         (4, "more original writing that shares nothing with the others")],
        ["doc_id", "text"],
    )
    exact = {(r["id_a"], r["id_b"]): r["shared_fps"]
             for r in text.winnow_overlap(df, "doc_id", "text",
                                          min_shared=2).collect()}
    budget = {(r["id_a"], r["id_b"]): r["shared_fps"]
              for r in text.winnow_overlap(
                  df, "doc_id", "text", min_shared=2,
                  fp_sample_mod=2).collect()}
    assert budget  # the long shared passage survives the 1/2 sample
    for p, s in budget.items():
        assert exact[p] == s  # exact verification, not the sampled count
    with _pt.raises(ValueError, match="fp_sample_mod"):
        text.winnow_overlap(df, "doc_id", "text", fp_sample_mod=1)


def test_corpus_diff(spark):
    from wrangler_spark.datapipe import curation

    old = spark.createDataFrame(
        [(1, "stays the same"), (2, "will change"), (3, "will be removed")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "STAYS  the   same"),   # same after normalization
         (2, "has changed now"),
         (4, "brand new doc")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"] for r in
           curation.corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_ivf_index_quantized(spark, tmp_path_factory):
    """quantize=True stores int8 columns, shrinks the index on disk, and
    keeps probe recall high after on-the-fly dequantization."""
    import os

    base = str(tmp_path_factory.mktemp("ivf_q"))
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 5)

    similarity.ivf_write_index(embs, f"{base}/f", n_centroids=8)
    similarity.ivf_write_index(embs, f"{base}/q", n_centroids=8, quantize=True)

    def du(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs)

    assert du(_ixroot(spark, f"{base}/q") + "/vectors") < 0.6 * du(_ixroot(spark, f"{base}/f") + "/vectors"), "int8 index not smaller"
    qcols = spark.read.parquet(_ixroot(spark, f"{base}/q") + "/vectors").columns
    assert "q" in qcols and "q_scale" in qcols and "embedding" not in qcols

    exact = similarity.ivf_query_index(spark, f"{base}/f", queries, k=5, nprobe=8)
    approx = similarity.ivf_query_index(spark, f"{base}/q", queries, k=5, nprobe=8)
    rec = similarity.ann_recall(exact, approx).agg(F.avg("recall")).collect()[0][0]
    assert rec >= 0.9, f"quantized index recall collapsed: {rec}"


def test_keyword_tag(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [(1, "The HASH  JOIN beat the sort merge join; hash join won"),
         (2, "nothing relevant here"),
         (3, "spark runs the table scan then a hash aggregate"),
         (4, "hashjoin is one word and must not match")],
        ["doc_id", "text"],
    )
    out = curation.keyword_tag(df, "doc_id", "text",
                               ["spark", "hash join", "table scan", "absent phrase"])
    got = {(r["doc_id"], r["keyword"]): r["n_hits"] for r in out.collect()}
    assert got == {(1, "hash join"): 2, (3, "spark"): 1, (3, "table scan"): 1}
    # DataFrame-dictionary form matches the list form
    kw_df = spark.createDataFrame([("Hash  Join",), ("spark",)], "kw string")
    got2 = {(r["doc_id"], r["keyword"]): r["n_hits"]
            for r in curation.keyword_tag(df, "doc_id", "text", kw_df).collect()}
    assert got2 == {(1, "hash join"): 2, (3, "spark"): 1}


def test_bpe_train_and_apply(spark):
    from wrangler_spark.datapipe import bpe

    # the classic Sennrich example family: 'low'-prefixed vocabulary
    corpus = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower newest newest"),
         (3, "newest newest newest newest widest widest")],
        ["doc_id", "text"],
    )
    merges = bpe.train_bpe(corpus, "text", n_merges=10)
    assert merges, "no merges learned"
    # determinism: retraining on the same frame yields the same table
    assert merges == bpe.train_bpe(corpus, "text", n_merges=10)
    # span guard: sample_rows bounds rows, max_sample_chars bounds MASS —
    # an over-wide sample is refused before the driver collect
    import pytest as _pt

    with _pt.raises(ValueError, match="max_sample_chars"):
        bpe.train_bpe(corpus, "text", n_merges=2, max_sample_chars=10)
    # the most frequent pair in this corpus involves the 'est</w>' family
    # (newest x6 + widest x2) or 'lo' (low x5 + lower x2); both exist in
    # the first few merges
    flat = ["".join(p) for p in merges]
    assert any("es" in m or "lo" in m for m in flat[:3])

    out = {r["doc_id"]: r["bpe_tokens"] for r in
           bpe.apply_bpe(corpus, "text", merges).collect()}
    # every doc tokenizes; tokens reassemble to the original words
    for did, toks in out.items():
        text = corpus.filter(F.col("doc_id") == did).collect()[0]["text"]
        rejoined = "".join(toks).replace("</w>", " ").strip()
        assert rejoined == text.lower()
    # trained words compress below character count
    n = {r["doc_id"]: r["n_bpe_tokens"] for r in
         bpe.bpe_token_count(corpus, "text", merges).collect()}
    assert n[1] < len("low low low low low".replace(" ", "")) + 5
    # unseen words still tokenize (fall back toward characters)
    unseen = spark.createDataFrame([(9, "zzz qqq")], ["doc_id", "text"])
    toks = bpe.apply_bpe(unseen, "text", merges).collect()[0]["bpe_tokens"]
    assert "".join(toks).replace("</w>", " ").strip() == "zzz qqq"
    # null/empty safe
    nulls = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_tokens"] for r in
           bpe.apply_bpe(nulls, "text", merges).collect()}
    assert got == {1: [], 2: []}


def test_shuffle_shards(spark):
    from wrangler_spark.datapipe import curation

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = curation.shuffle_shards(df, "doc_id", 8, "ep0").collect()
    # deterministic replay
    b = curation.shuffle_shards(df, "doc_id", 8, "ep0").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    shards = [r["shard"] for r in a]
    assert set(shards) == set(range(8))
    # balanced within ~3x of even (hash balance on 2000 keys)
    from collections import Counter
    c = Counter(shards)
    assert max(c.values()) < 3 * (2000 / 8)
    # a different seed produces a different permutation
    c2 = {r["doc_id"]: r["sort_key"] for r in
          curation.shuffle_shards(df, "doc_id", 8, "ep1").collect()}
    c1 = {r["doc_id"]: r["sort_key"] for r in a}
    assert sum(1 for k in c1 if c1[k] != c2[k]) > 1900


def test_new_datapipe_directives_compile_and_run(spark):
    """Recipe-surface wrappers for the round-7 second-batch ops."""
    from wrangler_spark import Pipeline

    docs = spark.createDataFrame(
        [(1, "the hash join plan", "a"), (2, "spark table scan", "a"), (3, "other", "b")],
        ["doc_id", "text", "source"],
    )
    assert Pipeline.compile("winnow-fingerprints :doc_id :text 1 2").apply(docs).columns \
        == ["doc_id", "pos", "fp"]
    assert Pipeline.compile("domain-cap :source :doc_id 1").apply(docs).count() == 2
    sh = Pipeline.compile("shuffle-shards :doc_id 2 'e'").apply(docs)
    assert {"shard", "sort_key"} <= set(sh.columns)
    tags = Pipeline.compile("keyword-tag :doc_id :text 'spark,hash join'").apply(docs)
    got = {(r["doc_id"], r["keyword"]) for r in tags.collect()}
    assert got == {(1, "hash join"), (2, "spark")}
    embs = spark.createDataFrame([(1, [3.0, 4.0])], "vec_id long, embedding array<double>")
    assert Pipeline.compile("emb-normalize :embedding").apply(embs).first()["embedding"] == [0.6, 0.8]
    q = Pipeline.compile("emb-quantize :embedding").apply(embs).first()
    assert q["q"] == [95, 127]
    p = Pipeline.compile("emb-project :embedding 2 4").apply(embs).first()["embedding"]
    assert len(p) == 4


def test_corpus_report(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "A  B C", "en"), (3, None, "de"), (4, "unique", "fr")],
        "doc_id long, text string, lang string",
    )
    r = curation.corpus_report(df, "doc_id", "text", "lang").collect()[0]
    assert r["n_docs"] == 4 and r["n_null_text"] == 1
    assert r["n_exact_dup_docs"] == 1        # doc 2 normalizes onto doc 1
    assert r["distinct_langs"] == 3
    assert abs(r["pct_dup"] - 0.25) < 1e-9
    assert r["n_words"] == 3 + 3 + 1
    # the 100 TB path: HLL sketch distinct counts — exact at these
    # cardinalities (HLL++ is exact under its sparse threshold)
    a = curation.corpus_report(df, "doc_id", "text", "lang", exact=False).collect()[0]
    assert a["n_exact_dup_docs"] == 1 and a["distinct_langs"] == 3
    assert a["n_docs"] == 4 and a["n_words"] == r["n_words"]


def test_split_by_cluster_no_leakage(spark):
    from wrangler_spark.datapipe import curation

    comp = spark.createDataFrame(
        [(i, i // 3 * 3) for i in range(300)], "doc_id long, component long"
    )
    out = curation.split_by_cluster(comp, 0.2, salt="x").collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    # every cluster lands wholly on one side
    assert all(len(s) == 1 for s in by_comp.values())
    frac = sum(1 for r in out if r["split"] == "test") / len(out)
    assert 0.1 < frac < 0.3
    # deterministic; different salt re-splits
    again = curation.split_by_cluster(comp, 0.2, salt="x").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mmr_rerank_diversifies(spark):
    """Two near-identical top hits: plain ranking keeps both up top; MMR
    demotes the redundant twin below the diverse third candidate."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.04, 0.0]),   # twin of 1
         (3, [0.4, 0.9, 0.0]), (0, [0.9, 0.3, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    top = similarity.cosine_topk(corpus, queries, k=3)
    plain = [r["vec_id"] for r in sorted(top.collect(), key=lambda r: r["rank"])]
    assert set(plain[:2]) == {1, 2}  # the twins dominate plain relevance
    rer = similarity.mmr_rerank(top, corpus, k=3, lam=0.5)
    order = [r["vec_id"] for r in sorted(rer.collect(), key=lambda r: r["mmr_rank"])]
    # first pick = plain winner; the diverse candidate 3 jumps its twin
    assert order[0] == plain[0] and order[1] == 3 and order[2] == plain[1]
    # lam=1.0 degenerates to relevance order
    rel = similarity.mmr_rerank(top, corpus, lam=1.0)
    order1 = [r["vec_id"] for r in sorted(rel.collect(), key=lambda r: r["mmr_rank"])]
    assert order1 == plain


def test_corpus_report_by(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "A  b", "s1"), (3, "c", "s2")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: (r["n_docs"], r["n_exact_dup_docs"]) for r in
           curation.corpus_report_by(df, "source").collect()}
    assert got == {"s1": (2, 1), "s2": (1, 0)}


def test_new_directive_arg_errors(spark):
    """Bad arguments to the new directives raise the engine's own typed
    errors, never uncontrolled exceptions."""
    import pytest as _pt

    from wrangler_spark import Pipeline
    from wrangler_spark.errors import WranglerError

    docs = spark.createDataFrame([(1, "t", "s")], ["doc_id", "text", "source"])
    for recipe in [
        "domain-cap :source :doc_id",          # missing required n
        "winnow-fingerprints :doc_id",         # missing text col
        "keyword-tag :doc_id :text",           # missing dictionary
        "shuffle-shards :doc_id",              # missing n_shards
        "domain-cap :nope :doc_id 3",          # unknown column
    ]:
        with _pt.raises(WranglerError):
            Pipeline.compile(recipe).apply(docs).collect()


def test_rrf_fuse(spark):
    """A doc ranked well by BOTH systems beats a doc ranked first by only
    one; singles still score (missing rank just contributes nothing)."""
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id long, vec_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)], "query_id long, vec_id long, rank int"
    )
    out = sorted(similarity.rrf_fuse([a, b], kconst=60, k=4).collect(),
                 key=lambda r: r["rank"])
    order = [r["vec_id"] for r in out]
    # 11: 1/62+1/61; 10: 1/61+1/63; 12: 1/63; 13: 1/62
    assert order == [11, 10, 13, 12]
    import math
    assert math.isclose(out[0]["rrf_score"],
                        round(1 / 62 + 1 / 61, 6), abs_tol=1e-9)


def test_bm25_topk_and_hybrid_fusion(spark):
    docs = spark.createDataFrame(
        [(1, "spark shuffle partitions tuning"), (2, "shuffle service"),
         (3, "unrelated cooking recipe"), (4, "spark spark spark")],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame([(1, "spark shuffle")], "query_id long, query string")
    top = text.bm25_topk(docs, qs, "doc_id", "text", k=3)
    rows = sorted(top.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert {r["vec_id"] for r in rows} <= {1, 2, 4}      # cooking never ranks
    assert rows[0]["bm25"] >= rows[1]["bm25"] >= rows[2]["bm25"]
    # fuses directly with another ranked list
    other = spark.createDataFrame(
        [(1, 3, 1), (1, 1, 2)], "query_id long, vec_id long, rank int"
    )
    fused = similarity.rrf_fuse([top, other], k=4)
    assert fused.count() == 4


def test_ivf_append_index(spark, tmp_path_factory):
    """Appending a batch extends the index in place: appended vectors are
    findable, pre-existing data is untouched, quantization mode is
    inherited, and probes still partition-prune."""
    base = str(tmp_path_factory.mktemp("ivf_app"))
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = embs.filter(F.col("vec_id") < 400)
    new = embs.filter(F.col("vec_id") >= 400)

    similarity.ivf_write_index(old, f"{base}/ix", n_centroids=8)
    before = spark.read.parquet(_ixroot(spark, f"{base}/ix") + "/vectors").count()
    similarity.ivf_append_index(new, f"{base}/ix")
    after = spark.read.parquet(_ixroot(spark, f"{base}/ix") + "/vectors")
    assert after.count() == embs.count() and before == old.count()

    # an appended vector is its own nearest neighbor via the index
    q = embs.filter(F.col("vec_id") == 450)
    got = similarity.ivf_query_index(
        spark, f"{base}/ix", q.withColumn("vec_id", F.lit(999999)), k=1, nprobe=2
    ).collect()
    assert got and got[0]["vec_id"] == 450 and got[0]["cosine"] == 1.0

    # quantized index stays quantized on append
    similarity.ivf_write_index(old, f"{base}/qx", n_centroids=8, quantize=True)
    similarity.ivf_append_index(new, f"{base}/qx")
    cols = spark.read.parquet(_ixroot(spark, f"{base}/qx") + "/vectors").columns
    assert "q" in cols and "embedding" not in cols
    assert spark.read.parquet(_ixroot(spark, f"{base}/qx") + "/vectors").count() == embs.count()


def test_langid_multi_cjk_branch(spark):
    """CJK text has no whitespace-stopword signal; the script branch
    classifies it as zh where the profile argmax saw only noise."""
    df = spark.createDataFrame(
        [(1, "这是一个中文文档的例子 包含汉字"),
         (2, "the quick brown fox and the lazy dog in the yard"),
         (3, "el perro y el gato en la casa de la abuela")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_pred"] for r in
           text.langid_multi(df, "text").collect()}
    assert got[1] == "zh" and got[2] == "en" and got[3] == "es"
    # the other non-Latin script branches
    more = spark.createDataFrame(
        [(4, "это русский текст про базы данных и таблицы"),
         (5, "αυτό είναι ένα ελληνικό κείμενο για δοκιμή"),
         (6, "هذا نص عربي عن قواعد البيانات")],
        ["doc_id", "text"],
    )
    got2 = {r["doc_id"]: r["lang_pred"] for r in
            text.langid_multi(more, "text").collect()}
    assert got2 == {4: "ru", 5: "el", 6: "ar"}


def test_new_op_edge_cases(spark):
    """Null quality never wins survivor/cap selection; empty keyword
    dict returns the empty contract; test_frac >= 1 sends everything to
    test (the lpad-truncation overflow guard); bad dims raise."""
    import pytest as _pt

    from wrangler_spark.datapipe import curation

    comp = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, component long")
    q = spark.createDataFrame([(1, None), (2, 5)], "doc_id long, quality int")
    out = {r["doc_id"]: r["keep"] for r in
           dedup.cluster_survivors(comp, q, "doc_id", "component", "quality").collect()}
    assert out == {1: False, 2: True}       # scored member beats null
    capdf = spark.createDataFrame(
        [(1, "g", None), (2, "g", 1.0)], "doc_id long, source string, quality double"
    )
    kept = {r["doc_id"] for r in
            curation.cap_per_group(capdf, "source", "doc_id", 1, "quality").collect()}
    assert kept == {2}
    empty = curation.keyword_tag(
        spark.createDataFrame([(1, "x")], ["doc_id", "text"]), "doc_id", "text", []
    )
    assert empty.count() == 0 and empty.columns == ["doc_id", "keyword", "n_hits"]
    allt = curation.split_by_cluster(comp, 1.0).select("split").distinct().collect()
    assert [r["split"] for r in allt] == ["test"]
    with _pt.raises(ValueError):
        similarity.rrf_fuse([])
    with _pt.raises(ValueError):
        similarity.embedding_project(q, 0, 4)


def test_winnow_overlap_and_report_directives(spark):
    from wrangler_spark import Pipeline

    passage = "shared passage words travel verbatim between documents here today"
    docs = spark.createDataFrame(
        [(1, f"alpha {passage} omega", "s1"), (2, f"beta {passage} gamma", "s1"),
         (3, "nothing in common with anyone", "s2")],
        ["doc_id", "text", "source"],
    )
    pairs = Pipeline.compile("winnow-overlap :doc_id :text 1").apply(docs)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}
    rep = Pipeline.compile("corpus-report :doc_id :text").apply(docs).collect()[0]
    assert rep["n_docs"] == 3
    by = Pipeline.compile("corpus-report :doc_id :text :source").apply(docs)
    assert by.count() == 2


def test_entity_match_pairs(spark):
    rows = [
        (1, "Acme Corp",  "NY", "A"),
        (2, "Acme Corp.", "NY", "A"),   # 1 edit away, same block
        (3, "Acme Corp",  "CA", "A"),   # identical name, DIFFERENT block
        (4, "Zenith Ltd", "NY", "A"),   # same block, far name
        (5, "Acme Corpse", "NY", "A"),  # 2 edits from 1
    ]
    df = spark.createDataFrame(rows, ["cid", "name", "state", "seg"])
    pairs = dedup.entity_match_pairs(df, "cid", ["state", "seg"], [("name", 2)])
    got = {(r["id_a"], r["id_b"]): r["name_dist"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1
    assert (1, 5) in got and got[(1, 5)] == 2
    assert all(3 not in p and 4 not in p for p in got)  # blocked out / too far
    # block cap bounds the expansion
    hot = spark.createDataFrame(
        [(i, f"n{i}", "X", "A") for i in range(50)], ["cid", "name", "state", "seg"]
    )
    capped = dedup.entity_match_pairs(hot, "cid", ["state"], [("name", 99)],
                                      max_block_size=10)
    assert capped.count() == 10 * 9 / 2


def test_entity_match_null_and_separator_keys(spark):
    """Blocking keys are per-column strict equality: NULL keys match
    nothing (SQL-join semantics, what the DuckDB oracle computes), and
    values containing the old concat separator '|' cannot conflate
    distinct blocks (('a|b','c') vs ('a','b|c'))."""
    rows = [
        (1, "Acme", None, "A"),     # NULL key: pairs with nothing,
        (2, "Acme", None, "A"),     # not even another NULL
        (3, "Acme", "a|b", "c"),    # separator collision candidates:
        (4, "Acme", "a", "b|c"),    # distinct blocks, must NOT pair
        (5, "Acme", "a|b", "c"),    # true same-block partner of 3
    ]
    df = spark.createDataFrame(rows, ["cid", "name", "state", "seg"])
    pairs = dedup.entity_match_pairs(df, "cid", ["state", "seg"], [("name", 2)])
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(3, 5)}


def test_entity_match_against(spark):
    """Cross-corpus linkage: asymmetric new-old pairs only, same
    blocking/verify contract as entity_match_pairs; NULL keys match
    nothing; block cap bounds the old-side expansion."""
    old = spark.createDataFrame(
        [
            (10, "Acme Corp", "NY", "A"),
            (11, "Acme Corpse", "NY", "A"),   # 2 edits from new #1
            (12, "Acme Corp", "CA", "A"),     # different block
            (13, "Zenith Ltd", "NY", "A"),    # same block, far name
            (14, "Acme Corp", None, "A"),     # NULL key: never matches
        ],
        ["cid", "name", "state", "seg"],
    )
    new = spark.createDataFrame(
        [
            (1, "Acme Corp.", "NY", "A"),     # matches 10 (1 edit), 11 (3 edits -> out)
            (2, "Acme Corp", None, "A"),      # NULL key: no candidates
            (3, "Acme Corp", "TX", "A"),      # empty block
        ],
        ["cid", "name", "state", "seg"],
    )
    pairs = dedup.entity_match_against(new, old, "cid", ["state", "seg"], [("name", 2)])
    got = {(r["id_new"], r["id_old"]): r["name_dist"] for r in pairs.collect()}
    assert got == {(1, 10): 1, (1, 11): 2}
    # block cap: 1 new record against 50 same-block olds, capped at 10
    hot_old = spark.createDataFrame(
        [(i, f"n{i}", "X") for i in range(50)], ["cid", "name", "state"]
    )
    one_new = spark.createDataFrame([(99, "n0", "X")], ["cid", "name", "state"])
    capped = dedup.entity_match_against(
        one_new, hot_old, "cid", ["state"], [("name", 99)], max_block_size=10
    )
    assert capped.count() == 10


def test_entity_match_phonetic_blocking(spark):
    """Column-expression blocking keys: soundex groups 'Smith'/'Smyth'
    into one block, so the one-edit pair surfaces without a quadratic
    scan over unrelated names."""
    rows = [(1, "Smith"), (2, "Smyth"), (3, "Jones"), (4, "Smithe")]
    df = spark.createDataFrame(rows, ["cid", "name"])
    pairs = dedup.entity_match_pairs(df, "cid", [F.soundex("name")], [("name", 2)])
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got
    assert all(3 not in p for p in got)


def test_template_dedup(spark):
    rows = [
        (1, "Your order 12345 ships on 2024-01-02 via http://a.example/x"),
        (2, "Your order 99 ships on 2025-12-31 via http://b.example/yyy"),
        (3, "completely different content"),
        (4, "Your order 7 ships on 1999-09-09 via ftp://c.example/z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["n_dups"] for r in
           dedup.template_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 3, 3: 1}       # templated variants collapse onto min id
    # exact dedup sees all four as unique
    assert dedup.exact_dedup(df, "doc_id", "text").count() == 4
    # numbers-only masking keeps URL differences distinct
    out2 = dedup.template_dedup(df, "doc_id", "text", mask_urls=False).count()
    assert out2 == 4


def test_cluster_histogram(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 6)],
        "doc_id long, component long",
    )
    got = {r["cluster_size"]: (r["n_clusters"], r["n_docs"]) for r in
           dedup.cluster_histogram(comp).collect()}
    assert got == {3: (1, 3), 2: (1, 2), 1: (2, 2)}


def test_numeric_outliers_and_scaling(spark):
    from wrangler_spark.datapipe import numeric

    # enough inliers that the outlier CAN exceed 2 sigma: in an n-point
    # sample max |z| is (n-1)/sqrt(n), so tiny samples mask outliers
    rows = [(i, 10.0 + (i % 5) * 0.5) for i in range(1, 11)] + [(50, 1000.0), (60, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    z = {r["id"]: r["v_outlier"] for r in numeric.flag_outliers(df, "v", "zscore", 2.0).collect()}
    assert z[50] is True and z[60] is False and not any(z[i] for i in range(1, 11))
    i = {r["id"]: r["v_outlier"] for r in numeric.flag_outliers(df, "v", "iqr", 1.5).collect()}
    assert i[50] is True and i[60] is False
    mm = {r["id"]: r["v_scaled"] for r in numeric.scale_column(df, "v", "minmax").collect()}
    assert mm[5] == 0.0 and mm[50] == 1.0 and mm[60] is None  # i%5==0 -> 10.0 = min
    # constant column scales to 0, never divides by zero
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, v double")
    cs = {r["id"]: r["v_scaled"] for r in numeric.scale_column(const, "v").collect()}
    assert cs == {1: 0.0, 2: 0.0}
    zs = {r["id"]: r["v_scaled"] for r in numeric.scale_column(df, "v", "zscore").collect()}
    import statistics
    vals = [10.0 + (i % 5) * 0.5 for i in range(1, 11)] + [1000.0]
    m, s = statistics.mean(vals), statistics.pstdev(vals)
    assert abs(zs[50] - round((1000.0 - m) / s, 6)) < 1e-6
    import pytest as _pt
    with _pt.raises(ValueError):
        numeric.flag_outliers(df, "v", "nope")


def test_numeric_mad_outliers(spark):
    from wrangler_spark.datapipe import numeric

    # zscore's weakness is MAD's point: ONE huge outlier inflates the
    # stddev; the median/MAD threshold doesn't move
    rows = [(i, 10.0 + (i % 5) * 0.5) for i in range(1, 21)] + [(50, 1000.0), (60, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    m = {r["id"]: r["v_outlier"] for r in numeric.flag_outliers(df, "v", "mad", 3.5).collect()}
    assert m[50] is True and m[60] is False and not any(m[i] for i in range(1, 21))
    # constant column: MAD = 0 -> nothing flags (never divides/overflows)
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, v double")
    c = {r["id"]: r["v_outlier"] for r in numeric.flag_outliers(const, "v", "mad").collect()}
    assert c == {1: False, 2: False}
    # approx path agrees on this tiny frame
    a = {r["id"]: r["v_outlier"] for r in
         numeric.flag_outliers(df, "v", "mad", 3.5, exact=False).collect()}
    assert a == m


def test_quantile_bins(spark):
    from wrangler_spark.datapipe import numeric

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)], "id long, v double"
    )
    b = {r["id"]: r["v_bin"] for r in numeric.quantile_bins(df, "v", 4).collect()}
    assert b[1] == 1 and b[100] == 4 and b[999] is None
    assert b[25] == 1 and b[26] == 2      # on-boundary value -> LOWER bin
    assert b[50] == 2 and b[51] == 3 and b[75] == 3 and b[76] == 4
    # every bin index 1..4 occupied, quartiles balanced
    from collections import Counter
    sizes = Counter(v for k, v in b.items() if v is not None)
    assert set(sizes) == {1, 2, 3, 4} and max(sizes.values()) - min(sizes.values()) <= 1
    # constant column: all boundaries equal -> everything in bin 1
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, v double")
    cb = {r["id"]: r["v_bin"] for r in numeric.quantile_bins(const, "v", 4).collect()}
    assert cb == {1: 1, 2: 1}
    import pytest as _pt
    with _pt.raises(ValueError):
        numeric.quantile_bins(df, "v", 1)


def test_char_entropy(spark):
    from wrangler_spark.datapipe import text as t

    df = spark.createDataFrame(
        [
            (1, "aaaa"),            # one symbol -> 0 bits
            (2, "abab"),            # two equiprobable -> 1 bit
            (3, "abcd"),            # four equiprobable -> 2 bits
            (4, ""),                # no distribution -> null
            (5, None),
        ],
        "doc_id long, text string",
    )
    e = {r["doc_id"]: r["char_entropy"] for r in
         t.char_entropy(df, "doc_id", "text").collect()}
    assert e[1] == 0.0 and e[2] == 1.0 and e[3] == 2.0
    assert e[4] is None and e[5] is None


def test_overlap_pairs_containment(spark):
    """The case Jaccard structurally misses: a short doc fully embedded
    in a much longer one has Jaccard ~ |A|/|B| but overlap_coef 1.0."""
    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, quote),                       # short doc
            (2, f"{filler} {quote}"),         # long doc CONTAINING it
            (3, "completely unrelated words about something else entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]): r for r in
           dedup.overlap_pairs(df, "doc_id", "text", n=3, threshold=0.8,
                               max_gram_df=None).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["overlap_coef"] == 1.0 and r["containment_a"] == 1.0
    assert r["containment_b"] < 0.5           # asymmetry visible
    assert all(3 not in p for p in out)
    # the same pair is far below any useful Jaccard threshold
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5,
                                    max_gram_df=None).collect()
    assert not any({p["id_a"], p["id_b"]} == {1, 2} for p in jac)
    # directive round-trip
    from wrangler_spark import Pipeline

    d = Pipeline.compile("dedup-overlap :doc_id :text 3 0.8").apply(df)
    assert d.count() >= 1


def test_top_ngrams(spark):
    from wrangler_spark.datapipe import text as t

    boiler = "subscribe to our newsletter"
    df = spark.createDataFrame(
        [(1, f"Real prose one. {boiler}."),
         (2, f"{boiler} today"),
         (3, f"{boiler} now and {boiler} again"),
         (4, "completely different text"),
         (5, "")],
        ["doc_id", "text"],
    )
    out = t.top_ngrams(df, "doc_id", "text", n=3, k=5).collect()
    top = out[0]
    # "subscribe to our" / "to our newsletter": 4 occurrences in 3 docs;
    # ties order by gram asc
    assert top["ngram"] == "subscribe to our"
    assert top["n_occurrences"] == 4 and top["n_docs"] == 3
    assert out[1]["ngram"] == "to our newsletter"
    assert len(out) == 5
    # directive round-trip
    from wrangler_spark import Pipeline

    d = Pipeline.compile("top-ngrams :doc_id :text 3 2").apply(df)
    assert d.count() == 2


def test_distribution_drift(spark):
    from wrangler_spark.datapipe import curation

    ref = spark.createDataFrame([(i, float(i % 100)) for i in range(1000)], "id long, v double")
    same = spark.createDataFrame([(i, float(i % 100)) for i in range(500)], "id long, v double")
    out = curation.distribution_drift(ref, same, "v", 10).collect()
    assert len(out) == 10 and {r["bin"] for r in out} == set(range(1, 11))
    psi_same = sum(r["psi_term"] for r in out)
    assert abs(psi_same) < 0.01                       # identical distribution -> ~0
    # shifted distribution: everything lands in the top bins
    shifted = spark.createDataFrame([(i, 95.0 + (i % 5)) for i in range(500)], "id long, v double")
    out2 = curation.distribution_drift(ref, shifted, "v", 10).collect()
    psi_shift = sum(r["psi_term"] for r in out2)
    assert psi_shift > 0.25                           # the published "drifted" bar
    empty_bins = [r for r in out2 if r["cur_count"] == 0]
    assert len(empty_bins) >= 8                        # occupancy collapsed to the edge
    # nulls excluded, never counted
    withnull = spark.createDataFrame([(1, None), (2, 50.0)], "id long, v double")
    out3 = curation.distribution_drift(ref, withnull, "v", 10).collect()
    assert sum(r["cur_count"] for r in out3) == 1


def test_quantile_bins_char_entropy_directives(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(i, float(i), "abab") for i in range(1, 9)], ["id", "v", "text"]
    )
    out = Pipeline.compile("quantile-bins :v 2\nchar-entropy :id :text").apply(df)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["v_bin"] == 1 and rows[8]["v_bin"] == 2
    assert rows[1]["char_entropy"] == 1.0


def test_numeric_directives(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)] + [(99, 1000.0)], ["id", "v"]
    )
    out = Pipeline.compile("flag-outliers :v zscore 2.0\nscale-column :v").apply(df)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[99]["v_outlier"] is True and rows[1]["v_outlier"] is False
    assert rows[99]["v_scaled"] == 1.0 and rows[1]["v_scaled"] == 0.0


def test_winsorize_and_readability(spark):
    from wrangler_spark.datapipe import numeric

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)], "id long, v double"
    )
    w = {r["id"]: r["v_wins"] for r in
         numeric.winsorize_column(df, "v", 0.10, 0.90).collect()}
    assert w[1] == w[2] == w[5]          # low tail clipped to p10
    assert w[100] == w[95]               # high tail clipped to p90
    assert w[50] == 50.0 and w[999] is None

    txt = spark.createDataFrame(
        [(1, "The cat sat. The dog ran! A bird flew?"),
         (2, "Antidisestablishmentarianism notwithstanding, comprehensive "
             "considerations necessitate exhaustive deliberation."),
         (3, None)],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in text.readability(txt, "text").collect()}
    assert r[1]["n_sentences"] == 3 and r[1]["n_words_fk"] == 9
    # simple prose reads easier and at a lower grade than sesquipedalia
    assert r[1]["flesch_ease"] > r[2]["flesch_ease"]
    assert r[1]["fk_grade"] < r[2]["fk_grade"]
    assert r[3]["flesch_ease"] is None


def test_winsorize_readability_directives(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(i, float(i), "Simple words sit here. More follow!") for i in range(1, 51)],
        ["id", "v", "text"],
    )
    out = Pipeline.compile("winsorize :v 0.1 0.9\nreadability :text").apply(df)
    r = out.filter("id = 50").collect()[0]
    assert r["v_wins"] < 50.0 and r["n_sentences"] == 2


def test_sentence_split(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [(1, "First one. Second!  Third? "), (2, "no terminal punctuation"), (3, "")],
        ["doc_id", "text"],
    )
    got = [(r["doc_id"], r["sent_idx"], r["sentence"]) for r in
           curation.sentence_split(df, "doc_id", "text").collect()]
    assert (1, 1, "First one") in got and (1, 2, "Second") in got and (1, 3, "Third") in got
    assert (2, 1, "no terminal punctuation") in got
    assert all(d != 3 for d, _, _ in got)      # empty doc yields nothing


def test_sentence_split_abbrev_safe(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [
            (1, "Dr. Smith went home. He slept."),
            (2, "Pi is 3.14 exactly. Next sentence!"),
            (3, "We saw J. R. Tolkien. Then left."),
            (4, "See e.g. the appendix. Done."),
        ],
        ["doc_id", "text"],
    )
    got = [(r["doc_id"], r["sentence"]) for r in
           curation.sentence_split(df, "doc_id", "text", abbrev_safe=True).collect()]
    assert (1, "Dr. Smith went home") in got and (1, "He slept") in got
    assert (2, "Pi is 3.14 exactly") in got
    assert (3, "We saw J. R. Tolkien") in got
    assert (4, "See e.g. the appendix") in got
    # property: the two modes agree wherever no abbreviation/initial/
    # decimal is in play (the opt-in only ADDS suppressed boundaries)
    plain = spark.createDataFrame(
        [(1, "One here. Two there! Three? And four."), (2, "no punctuation"), (3, "")],
        ["doc_id", "text"],
    )
    a = sorted((r["doc_id"], r["sent_idx"], r["sentence"]) for r in
               curation.sentence_split(plain, "doc_id", "text").collect())
    b = sorted((r["doc_id"], r["sent_idx"], r["sentence"]) for r in
               curation.sentence_split(plain, "doc_id", "text", abbrev_safe=True).collect())
    assert a == b


def test_sentence_dedup(spark):
    from wrangler_spark.datapipe import curation

    boiler = "Subscribe to our newsletter"
    df = spark.createDataFrame(
        [(1, f"Real content one. {boiler}. More real text!"),
         (2, f"{boiler}. Different real content here?"),
         (3, f"{boiler}."),
         (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           curation.sentence_dedup(df, "doc_id", "text").collect()}
    assert boiler in out[1]["text"] and boiler not in out[2]["text"]
    assert "Different real content here" in out[2]["text"]
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 1
    assert out[4]["text"] == "" and out[4]["n_sentences"] == 0
    # globally: every normalized sentence appears exactly once
    all_sents = []
    for r in out.values():
        all_sents += [s.strip().lower() for s in r["text"].split(".") if s.strip()]
    assert len(all_sents) == len(set(all_sents))


# ---------------------------------------------------------------------------
# Product quantization (pq_train / pq_encode / pq_topk)
# ---------------------------------------------------------------------------


def _unit_rows(n, dim, seed):
    import math
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [x / nrm for x in v]))
    return rows


def test_pq_codebook_dense_and_codes_in_range(spark):
    df = spark.createDataFrame(_unit_rows(40, 16, 7), ["vec_id", "embedding"])
    cb = similarity.pq_train(df, dim=16, m=4, k=8, iters=1)
    rows = cb.collect()
    # dense 0..k-1 cid per subspace, subvector length dim/m
    by_m = {}
    for r in rows:
        by_m.setdefault(r["m"], []).append(r["cid"])
        assert len(r["zv"]) == 4
    assert set(by_m) == {0, 1, 2, 3}
    for cids in by_m.values():
        assert sorted(cids) == list(range(8))
    codes = similarity.pq_encode(df, cb, dim=16, m=4).collect()
    assert len(codes) == 40
    for r in codes:
        assert len(r["pq_code"]) == 4 and all(0 <= c < 8 for c in r["pq_code"])


def test_pq_full_codebook_recall_is_one(spark):
    """With k >= n_vectors and iters=0 every vector is its own codeword,
    so ADC scoring is the exact dot product (= cosine on unit vectors)
    and PQ top-k recovers the exact neighbors."""
    df = spark.createDataFrame(_unit_rows(24, 16, 11), ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    cb = similarity.pq_train(df, dim=16, m=4, k=24, iters=0)
    codes = similarity.pq_encode(df, cb, dim=16, m=4)
    approx = similarity.pq_topk(codes, q, cb, dim=16, m=4, k=3)
    exact = similarity.cosine_topk(df, q, k=3)
    rec = similarity.ann_recall(exact, approx).collect()
    assert len(rec) == 4 and all(r["recall"] == 1.0 for r in rec)


def test_pq_training_reduces_quantization_error(spark):
    """Lloyd's guarantee: reconstruction MSE is non-increasing in
    training iterations (up to the 6dp determinism rounding)."""
    df = spark.createDataFrame(_unit_rows(120, 16, 3), ["vec_id", "embedding"])

    def mse(iters):
        cb = similarity.pq_train(df, dim=16, m=4, k=8, iters=iters)
        codes = similarity.pq_encode(df, cb, dim=16, m=4)
        sub = (
            codes.select("vec_id", "pq_code", F.posexplode(
                F.array(*[F.slice(F.col("embedding").cast("array<double>"), j * 4 + 1, 4)
                          for j in range(4)])).alias("j", "sv"))
        )
        err = (
            sub.join(cb, (F.col("j") == F.col("m"))
                     & (F.element_at("pq_code", F.col("j") + 1) == F.col("cid")))
            .select(F.aggregate(F.zip_with("sv", "zv", lambda x, y: (x - y) * (x - y)),
                                F.lit(0.0), lambda s, x: s + x).alias("e"))
        )
        return err.agg(F.avg("e")).collect()[0][0]

    m0, m1, m2 = mse(0), mse(1), mse(2)
    assert m1 <= m0 + 1e-4 and m2 <= m1 + 1e-4
    assert m1 < m0  # training from raw-vector init must actually help


def test_pq_partitioning_invariant(spark):
    df = spark.createDataFrame(_unit_rows(60, 16, 23), ["vec_id", "embedding"])
    outs = []
    for parts in (1, 7):
        d = df.repartition(parts)
        cb = similarity.pq_train(d, dim=16, m=4, k=8, iters=2)
        codes = similarity.pq_encode(d, cb, dim=16, m=4)
        outs.append({r["vec_id"]: tuple(r["pq_code"]) for r in codes.collect()})
    assert outs[0] == outs[1]


def test_pq_checkpoints_released(spark):
    from wrangler_spark.datapipe._checkpoint import checkpoint_scope, persistent_rdd_ids

    df = spark.createDataFrame(_unit_rows(30, 16, 5), ["vec_id", "embedding"])
    base = persistent_rdd_ids(spark)
    with checkpoint_scope():
        cb = similarity.pq_train(df, dim=16, m=4, k=8, iters=2)
        codes = similarity.pq_encode(df, cb, dim=16, m=4)
        assert codes.count() == 30
    import time

    for _ in range(50):  # unpersist is async
        if persistent_rdd_ids(spark) <= base:
            break
        time.sleep(0.1)
    assert persistent_rdd_ids(spark) <= base


# ---------------------------------------------------------------------------
# Bloom-prefiltered cross-corpus exact dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def _cross_corpora(spark):
    rows = [
        (i, f"document body number {i % 37}" if i < 120 else f"unique tail {i}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return df.filter(F.col("doc_id") % 3 != 0), df.filter(F.col("doc_id") % 3 == 0)


def test_bloom_dedup_bit_identical_to_plain(_cross_corpora):
    new, old = _cross_corpora
    plain = {tuple(r) for r in dedup.exact_dedup_against(new, old, "doc_id", "text").collect()}
    assert any(d for _, d in plain) and any(not d for _, d in plain)  # non-trivial fixture
    # well-sized, under-sized (all-maybe), and tiny-FP-heavy configs all
    # verify back to the exact answer — Bloom has no false negatives and
    # the verification join kills the false positives
    for bits, k in [(1 << 20, 5), (64, 3), (512, 7)]:
        b = {tuple(r) for r in dedup.exact_dedup_against(
            new, old, "doc_id", "text", bloom_bits=bits, bloom_hashes=k).collect()}
        assert b == plain, (bits, k)


def test_bloom_probe_plan_is_jvm_broadcast_only(_cross_corpora):
    import io
    from contextlib import redirect_stdout

    new, old = _cross_corpora
    out = dedup.exact_dedup_against(new, old, "doc_id", "text", bloom_bits=1 << 16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan          # probe is pure JVM
    assert "BroadcastHashJoin" in plan       # word-index probe joins
    # at most ONE shuffle join: the verification equi-join over the
    # bloom-positive candidates; the probe itself never sort-merges
    # (formatted plans print each operator twice: tree + details)
    assert plan.count("SortMergeJoin") <= 2


def test_bloom_words_sparse_and_bounded(spark):
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], ["k"])
    rows = dedup.bloom_words(keys, "k", 1 << 14, 5).collect()
    assert len(rows) <= min((1 << 14) // 64, 5 * 50)
    assert all(r["__bits"] != 0 for r in rows)          # sparse: no empty words
    assert all(0 <= r["__w"] < (1 << 14) // 64 for r in rows)


# ---------------------------------------------------------------------------
# IVF-PQ (coarse IVF + residual product quantization)
# ---------------------------------------------------------------------------


def test_ivf_pq_full_probe_full_codebook_is_exact(spark):
    """Degeneracy: probing every bucket with a codebook big enough that
    every residual is its own codeword makes ADC scoring the exact dot
    product — the result must equal brute-force cosine_topk on unit
    vectors (dot == cosine)."""
    df = spark.createDataFrame(_unit_rows(24, 16, 31), ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    out = similarity.ivf_pq_topk(
        df, q, 16, n_centroids=4, m=4, k_cb=24, k=3, nprobe=4
    )
    exact = similarity.cosine_topk(df, q, k=3)
    rec = similarity.ann_recall(exact, out).collect()
    assert len(rec) == 4 and all(r["recall"] == 1.0 for r in rec)
    # scores agree with the exact cosine to quantization-free rounding
    ex = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    for r in out.collect():
        assert abs(ex[(r["query_id"], r["vec_id"])] - r["cosine"]) < 5e-6


def test_ivf_pq_nprobe_monotone_and_bucket_restriction(spark):
    df = spark.createDataFrame(_unit_rows(80, 16, 13), ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 6)
    exact = similarity.cosine_topk(df, q, k=4)

    def avg_recall(nprobe):
        out = similarity.ivf_pq_topk(df, q, 16, n_centroids=8, m=4, k_cb=16, k=4, nprobe=nprobe)
        return similarity.ann_recall(exact, out).agg(F.avg("recall")).collect()[0][0]

    r1, r8 = avg_recall(1), avg_recall(8)
    assert r1 <= r8 + 1e-9  # more probes never lose ADC-reachable neighbors
    # nprobe=1 must only return vectors from the query's own probed bucket
    out1 = similarity.ivf_pq_topk(df, q, 16, n_centroids=8, m=4, k_cb=16, k=4, nprobe=1)
    c = df.select(F.col("vec_id"), F.col("embedding"))
    cent = c.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("zv"))
    assign = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(c, cent.select(
        F.col("centroid_id").alias("vec_id"), F.col("zv").alias("embedding"))).collect()}
    probe = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(
        q, cent.select(F.col("centroid_id").alias("vec_id"), F.col("zv").alias("embedding"))).collect()}
    for r in out1.collect():
        assert assign[r["vec_id"]] == probe[r["query_id"]]


def test_ivf_pq_checkpoints_released(spark):
    from wrangler_spark.datapipe._checkpoint import checkpoint_scope, persistent_rdd_ids

    df = spark.createDataFrame(_unit_rows(40, 16, 17), ["vec_id", "embedding"])
    base = persistent_rdd_ids(spark)
    with checkpoint_scope():
        out = similarity.ivf_pq_topk(df, df.filter(F.col("vec_id") < 3), 16,
                                     n_centroids=4, m=4, k_cb=8, k=3, pq_iters=1)
        assert out.count() == 9
    import time

    for _ in range(50):
        if persistent_rdd_ids(spark) <= base:
            break
        time.sleep(0.1)
    assert persistent_rdd_ids(spark) <= base


def test_ivf_pq_index_persist_matches_in_memory(spark, tmp_path_factory):
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(_unit_rows(60, 16, 41), ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    path = str(tmp_path_factory.mktemp("ivfpq")) + "/ix"
    similarity.ivf_write_index(df, path, n_centroids=6, dim=16, pq_m=4, pq_k=8, pq_iters=1)
    out = similarity.ivf_query_index(spark, path, q, k=3, nprobe=2)
    mem = similarity.ivf_pq_topk(df, q, 16, n_centroids=6, m=4, k_cb=8, k=3,
                                 nprobe=2, pq_iters=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))
    # probes are partition-pruned scans over the code files
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:150]
    # layout: quantize and pq are mutually exclusive, pq needs dim
    with pytest.raises(ValueError):
        similarity.ivf_write_index(df, path, quantize=True, pq_m=4, dim=16)
    with pytest.raises(ValueError):
        similarity.ivf_write_index(df, path, pq_m=4)


def test_bloom_dedup_adversarial_values(spark):
    """Null text, empty strings, separator characters, unicode, and long
    values: the bloom path must agree with the plain path row-for-row
    (nulls flagged not-dup, every new row present exactly once)."""
    new = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a|b"), (4, "ünïcødé 文"), (5, "x" * 5000), (6, "only new")],
        ["doc_id", "text"],
    )
    old = spark.createDataFrame(
        [(10, None), (11, ""), (12, "A|B"), (13, "ünïcødé 文"), (14, "x" * 5000)],
        ["doc_id", "text"],
    )
    plain = sorted(tuple(r) for r in dedup.exact_dedup_against(new, old, "doc_id", "text").collect())
    b = sorted(tuple(r) for r in dedup.exact_dedup_against(
        new, old, "doc_id", "text", bloom_bits=1 << 12).collect())
    assert b == plain
    assert len(b) == 6 and dict(b)[1] is False  # null text present, not dup


def test_ivf_pq_index_append(spark, tmp_path_factory):
    """Appending into a PQ index encodes the new batch's residuals
    against the STORED codebook: the appended vector is findable via
    ADC, prior results are untouched, and codes stay the only payload."""
    df = spark.createDataFrame(_unit_rows(50, 16, 53), ["vec_id", "embedding"])
    path = str(tmp_path_factory.mktemp("ivfpq_app")) + "/ix"
    similarity.ivf_write_index(df, path, n_centroids=5, dim=16, pq_m=4, pq_k=8)
    before = spark.read.parquet(_ixroot(spark, path) + "/vectors").count()
    newbie = spark.createDataFrame(
        [(r[0] + 1000, r[1]) for r in _unit_rows(4, 16, 99)], ["vec_id", "embedding"]
    )
    similarity.ivf_append_index(newbie, path)
    raw = spark.read.parquet(_ixroot(spark, path) + "/vectors")
    assert raw.count() == before + 4
    assert set(raw.columns) == {"vec_id", "pq_code", "centroid_id"}
    # an appended vector queried against the index finds itself excluded
    # (self-match filter) but its code reconstructs: query with a copy id
    probe = newbie.withColumn("vec_id", F.col("vec_id") + 5000)
    out = similarity.ivf_query_index(spark, path, probe, k=3, nprobe=5)
    found = {r["vec_id"] for r in out.collect()}
    assert any(v >= 1000 for v in found)  # appended rows participate


def test_embedding_outliers_per_cluster_thresholds(spark):
    """A far-from-everything vector is flagged; per-cluster quantiles
    mean a tight cluster's members survive even when a diffuse cluster's
    tail is cut; exact and approx paths agree on a clear-cut fixture."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    # two tight clusters around orthogonal axes + one far-out noise vector
    for i in range(30):
        base = [1.0, 0, 0, 0] if i % 2 == 0 else [0, 1.0, 0, 0]
        v = [b + rng.uniform(-0.05, 0.05) for b in base]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    rows.append((99, [0.0, 0.0, -1.0, 0.0]))  # noise: anti-aligned
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           similarity.embedding_outliers(df, n_clusters=2, q=0.10).collect()}
    assert out[99]["is_outlier"] is True
    flagged = [v for v, r in out.items() if r["is_outlier"]]
    assert len(flagged) <= 5  # ~10% of 31, not a mass cull
    approx = {r["vec_id"]: r["is_outlier"] for r in
              similarity.embedding_outliers(df, n_clusters=2, q=0.10, exact=False).collect()}
    assert approx[99] is True


def test_minhash_index_persist_matches_in_memory(spark, tmp_path_factory):
    """The persisted LSH index returns the SAME pairs as the in-memory
    cross-corpus op, and querying it never recomputes old signatures
    (the old side appears in the plan as parquet scans of the index)."""
    import io
    from contextlib import redirect_stdout

    rows = [(i, f"the quick brown fox number {i % 11} jumps over the lazy dog") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    new = df.filter(F.col("doc_id") % 3 != 0)
    old = df.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path_factory.mktemp("mh_ix")) + "/ix"
    dedup.minhash_write_index(old, path, "doc_id", "text")
    got = sorted(tuple(r) for r in
                 dedup.minhash_pairs_against_index(new, path, "doc_id", "text", 0.5).collect())
    want = sorted(tuple(r) for r in
                  dedup.minhash_pairs_against(new, old, "doc_id", "text", 0.5).collect())
    assert got == want and len(got) > 0
    out = dedup.minhash_pairs_against_index(new, path, "doc_id", "text", 0.5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # old side = parquet scans of the committed index version
    assert "/buckets" in plan and "/shingles" in plan


def test_unicode_normalize_forms_and_dedup_effect(spark):
    """Decomposed é and composed é hash apart before NFC and together
    after — the exact failure mode this op exists to close; NFKC folds
    compatibility forms; bad form rejected; nulls pass through."""
    df = spark.createDataFrame(
        [(1, "café"), (2, "café"), (3, "Ｈｅｌｌｏ"),
         (4, "ﬁle"), (5, None)],
        ["doc_id", "t"],
    )
    nfc = {r["doc_id"]: r["t"] for r in text.unicode_normalize(df, "t", "NFC").collect()}
    assert nfc[1] == nfc[2] == "café" and nfc[5] is None
    assert nfc[3] == "Ｈｅｌｌｏ"  # NFC keeps compatibility forms
    nfkc = {r["doc_id"]: r["t"] for r in text.unicode_normalize(df, "t", "NFKC").collect()}
    assert nfkc[3] == "Hello" and nfkc[4] == "file"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.unicode_normalize(df, "t", "NFX")
    # the dedup motivation, end to end: exact dedup collapses 1 and 2
    # only after normalization
    before = dedup.exact_dedup(df.filter(F.col("t").isNotNull()), "doc_id", "t").count()
    after = dedup.exact_dedup(
        text.unicode_normalize(df.filter(F.col("t").isNotNull()), "t", "NFC"), "doc_id", "t"
    ).count()
    assert after == before - 1


def test_compression_ratio_separates_repetition_from_noise(spark):
    import random
    import string

    rng = random.Random(3)
    noise = "".join(rng.choice(string.ascii_letters + string.digits) for _ in range(2000))
    df = spark.createDataFrame(
        [(1, "spam ham " * 250), (2, noise),
         (3, "The quiet brown fox discussed philosophy with a passing turtle. " * 30),
         (4, None), (5, "")],
        ["doc_id", "t"],
    )
    out = {r["doc_id"]: r["compress_ratio"] for r in
           text.compression_ratio(df, "t").collect()}
    assert out[1] < 0.05              # pure repetition collapses
    assert out[2] > 0.7               # random noise barely compresses
    assert out[1] < out[3] < out[2]   # prose sits between
    assert out[4] is None and out[5] == 1.0
    # directive surface
    from wrangler_spark import Pipeline

    d = {r["doc_id"]: r["compress_ratio"] for r in
         Pipeline.compile("compression-ratio :t").apply(df).collect()}
    assert d == out


def test_bloom_index_log_structured_append(spark, tmp_path_factory):
    """Persisted Bloom index: no false negatives ever (including after a
    plain-parquet append — duplicate word rows OR-merge at load), FP
    rate small on a well-sized filter, geometry mismatch rejected."""
    path = str(tmp_path_factory.mktemp("bloom_ix")) + "/ix"
    gen = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"historical document body {i}") for i in range(lo, hi)], ["doc_id", "text"])
    dedup.bloom_write_index(gen(0, 300), path, "text", bits=1 << 14, num_hashes=5)
    # batch 1: half dups of the index, half fresh
    batch = spark.createDataFrame(
        [(i, f"historical document body {i % 600}") for i in range(1000, 1400)],
        ["doc_id", "text"])
    got = {r["doc_id"]: r["is_dup_maybe"] for r in
           dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()}
    misses = [i for i in range(1000, 1400) if i % 600 < 300 and not got[i]]
    assert misses == []                      # no false negatives
    fps = [i for i in range(1000, 1400) if i % 600 >= 300 and got[i]]
    assert len(fps) <= 8                     # ~2% of 200 at this sizing
    # append the fresh half, re-probe: everything is now a member
    dedup.bloom_write_index(batch, path, "text", bits=1 << 14, num_hashes=5, append=True)
    got2 = {r["doc_id"]: r["is_dup_maybe"] for r in
            dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()}
    assert all(got2.values())
    with pytest.raises(ValueError):
        dedup.bloom_write_index(batch, path, "text", bits=1 << 12, append=True)


def test_compact_index_probe_identical(spark, tmp_path_factory):
    """compact_index rewrites a log-structured index to O(partitions)
    files with BIT-IDENTICAL probe results — the maintenance loop the
    append-only write path needs after thousands of batches. Covers the
    three layout families: Bloom word rows (row-merge + rewrite),
    partitioned IVF vectors (partition dirs preserved), retention state
    (partitioned pairs + untouched meta)."""
    from wrangler_spark.datapipe.events import (
        retention_grid_from_state, retention_update_state, retention_write_state,
    )
    from wrangler_spark.datapipe.maintenance import compact_index

    # --- Bloom: 1 build + 4 appends = 5 file generations of word rows
    path = str(tmp_path_factory.mktemp("bloom_cpt")) + "/ix"
    gen = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"historical document body {i}") for i in range(lo, hi)], ["doc_id", "text"])
    dedup.bloom_write_index(gen(0, 100), path, "text", bits=1 << 14, num_hashes=5)
    for b in range(4):
        dedup.bloom_write_index(
            gen(100 + b * 50, 150 + b * 50), path, "text",
            bits=1 << 14, num_hashes=5, append=True)
    batch = spark.createDataFrame(
        [(i, f"historical document body {i % 600}") for i in range(1000, 1400)],
        ["doc_id", "text"])
    before = sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()))
    st = compact_index(spark, path)
    after = sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()))
    assert after == before                                    # bit-identical probes
    assert [i for (i, dup) in after if i % 600 < 300 and not dup] == []  # still no FNs
    assert st["words"]["files_after"] < st["words"]["files_before"]
    # row-merge: duplicate word rows collapsed back to <= bits/64
    words = spark.read.parquet(_ixroot(spark, path) + "/words")
    assert words.count() == words.select("__w").distinct().count() <= (1 << 14) // 64
    meta = spark.read.parquet(_ixroot(spark, path) + "/meta").collect()[0]    # meta untouched
    assert (int(meta["bits"]), int(meta["num_hashes"])) == (1 << 14, 5)

    # --- IVF: write + append, then compact; probes identical, layout kept
    ivf = str(tmp_path_factory.mktemp("ivf_cpt")) + "/ix"
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.ivf_write_index(embs.filter(F.col("vec_id") < 400), ivf, n_centroids=8)
    similarity.ivf_append_index(embs.filter(F.col("vec_id") >= 400), ivf)
    q = embs.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 9))  # noqa: E731
    before = sorted(map(key, similarity.ivf_query_index(spark, ivf, q, k=3, nprobe=2).collect()))
    st = compact_index(spark, ivf)
    assert st["vectors"]["files_after"] < st["vectors"]["files_before"]
    after_df = spark.read.parquet(_ixroot(spark, ivf) + "/vectors")
    assert "centroid_id" in after_df.columns                  # partitioning preserved
    after = sorted(map(key, similarity.ivf_query_index(spark, ivf, q, k=3, nprobe=2).collect()))
    assert after == before

    # --- retention state: seed + 2 update batches, compact, grid identical
    rst = str(tmp_path_factory.mktemp("ret_cpt")) + "/st"
    ev = lambda rows: spark.createDataFrame(  # noqa: E731
        [(u, f"2026-01-{d:02d} 00:00:00", "a") for u, d in rows],
        ["user_id", "ts", "event_type"]).withColumn("ts", F.to_timestamp("ts"))
    retention_write_state(ev([(1, 1), (2, 2)]), rst, "user_id", "ts", period_days=7)
    retention_update_state(ev([(1, 8), (3, 9)]), rst, "user_id", "ts")
    retention_update_state(ev([(2, 16), (3, 2)]), rst, "user_id", "ts")
    gkey = lambda r: (str(r["cohort_start"]), r["period_offset"],  # noqa: E731
                      r["active_users"], r["retention"])
    before = sorted(map(gkey, retention_grid_from_state(spark, rst).collect()))
    st = compact_index(spark, rst)
    assert st["pairs"]["files_after"] < st["pairs"]["files_before"]
    assert sorted(map(gkey, retention_grid_from_state(spark, rst).collect())) == before


def test_pq_broken_vectors_never_evict_real_neighbors(spark):
    """A null or length-mismatched vector must get NULL codes and a null
    ADC score (ranked last), not a real-looking cid-0 code — the same
    'null cosine never evicts a real neighbor' contract as the exact
    path."""
    rows = _unit_rows(20, 16, 61) + [(100, None), (101, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = similarity.pq_train(df.filter(F.col("vec_id") < 100), dim=16, m=4, k=8, iters=0)
    codes = {r["vec_id"]: r["pq_code"] for r in
             similarity.pq_encode(df, cb, dim=16, m=4).collect()}
    assert codes[100] is None or all(c is None for c in codes[100])
    assert all(c is None for c in codes[101])
    q = df.filter(F.col("vec_id") < 3)
    enc = similarity.pq_encode(df, cb, dim=16, m=4)
    top = similarity.pq_topk(enc, q, cb, dim=16, m=4, k=19)
    got = {r["vec_id"] for r in top.collect()}
    assert 100 not in got and 101 not in got  # broken rows never rank


def test_hash_embedding_lexical_similarity(spark):
    """Near-dup texts land close in cosine, unrelated texts far; empty
    and whitespace-only docs get NULL embeddings; output feeds the
    vector stack end to end (cosine_topk ranks the near-dup first)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different content about spark engines and clusters"),
         (4, ""), (5, "   ")],
        ["doc_id", "text"],
    )
    e = text.hash_embedding(df, "doc_id", "text", dim=64)
    rows = {r["doc_id"]: r["embedding"] for r in e.collect()}
    assert rows[4] is None and rows[5] is None
    import math

    for v in (rows[1], rows[2], rows[3]):
        # unit norm up to the 6dp component rounding (error ~ dim * 1e-6)
        assert abs(math.fsum(x * x for x in v) - 1.0) < 1e-4
    top = similarity.cosine_topk(e, e.filter(F.col("doc_id") == 1), "doc_id", "embedding", 2)
    got = [(r["vec_id"], r["cosine"]) for r in top.orderBy("rank").collect()]
    assert got[0][0] == 2 and got[0][1] > 0.7       # near-dup first, high
    assert got[1][1] < 0.3                           # unrelated far


def test_bloom_index_scheme_version_guard(spark, tmp_path_factory):
    """An index whose meta carries a different position scheme (or a
    pre-versioning meta with none) is rejected — probing across schemes
    would silently produce false negatives."""
    path = str(tmp_path_factory.mktemp("bloom_v")) + "/ix"
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    dedup.bloom_write_index(df, path, "text", bits=1 << 10)
    # current scheme round-trips
    assert dedup.bloom_probe_index(df, path, "doc_id", "text").count() == 1
    # forge a v1 meta (no scheme column — the pre-versioning layout)
    spark.createDataFrame([(1 << 10, 5)], "bits long, num_hashes int") \
        .write.mode("overwrite").parquet(_ixroot(spark, path) + "/meta")
    with pytest.raises(ValueError, match="scheme"):
        dedup.bloom_probe_index(df, path, "doc_id", "text")
    with pytest.raises(ValueError, match="scheme"):
        dedup.bloom_write_index(df, path, "text", bits=1 << 10, append=True)


def test_corpus_overlap_exact_and_sketched(spark):
    from wrangler_spark.datapipe import curation

    a = spark.createDataFrame([(i, f"doc {i}") for i in range(100)], ["doc_id", "text"])
    b = spark.createDataFrame([(i, f"doc {i}") for i in range(60, 160)], ["doc_id", "text"])
    r = curation.corpus_overlap(a, b, "text").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_union"], r["n_intersect"]) == (100, 100, 160, 40)
    assert abs(r["jaccard"] - 0.25) < 1e-6
    s = curation.corpus_overlap(a, b, "text", exact=False).collect()[0]
    assert abs(s["n_intersect"] - 40) <= 12  # HLL ~2% rsd per count, 3 counts
    # disjoint corpora: zero intersection in both modes, never negative
    c = spark.createDataFrame([(i, f"other {i}") for i in range(50)], ["doc_id", "text"])
    for mode in (True, False):
        z = curation.corpus_overlap(a, c, "text", exact=mode).collect()[0]
        assert z["n_intersect"] >= 0 and z["jaccard"] >= 0.0


def test_hash_embedding_and_outlier_directives_chain(spark):
    """Recipe surface: raw text -> hash-embedding -> emb-outliers in one
    compiled chain; the unrelated doc is the flagged one."""
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta"), (3, "unrelated words entirely")],
        ["doc_id", "text"],
    )
    out = {r["vec_id"]: r["is_outlier"] for r in Pipeline.compile("""
hash-embedding :doc_id :text 32
emb-outliers :doc_id :embedding 2 0.3
""").apply(df).collect()}
    assert out[3] is True and out[1] is False and out[2] is False


def test_strip_boilerplate_lines(spark):
    from wrangler_spark.datapipe import curation

    rows = [
        (1, "unique alpha\nSubscribe Now\n\nbody one"),
        (2, "Subscribe   now\nbody two"),  # whitespace/case-normalized match
        (3, "body three"),
        (4, ""),  # empty doc preserved
        (5, "Subscribe Now"),  # doc reduced to nothing
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in curation.strip_boilerplate_lines(df, "doc_id", "text", 2).collect()
    }
    assert len(out) == 5  # every doc survives as a row
    # boilerplate removed from EVERY doc (not keep-first), blank line kept
    assert out[1]["text"] == "unique alpha\n\nbody one" and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "body two" and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "body three" and out[3]["n_dropped"] == 0
    assert out[4]["text"] == "" and out[4]["n_dropped"] == 0
    assert out[5]["text"] == "" and out[5]["n_dropped"] == 1
    # threshold not met -> nothing dropped, text round-trips
    out4 = {
        r["doc_id"]: r
        for r in curation.strip_boilerplate_lines(df, "doc_id", "text", 4).collect()
    }
    assert all(out4[i]["n_dropped"] == 0 for i in out4)
    assert out4[1]["text"] == rows[0][1]


def test_embedding_pairs_against_matches_self_join_cross_slice(spark):
    """The asymmetric op's pairs == the self-join op's pairs restricted to
    (new, old) memberships, under the same planes — and it never emits
    new-new or old-old pairs."""
    import random

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(i, [x * (1 + 0.001 * i) for x in base]) for i in range(6)]  # one tight cluster
    rows += [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(6, 40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    new = df.filter(F.col("vec_id") % 3 == 0)
    old = df.filter(F.col("vec_id") % 3 != 0)
    planes = dedup.HYPERPLANES[:6]

    got = dedup.embedding_pairs_against(new, old, "vec_id", "embedding", 0.9, planes=planes)
    got_rows = got.collect()
    new_ids = {r["vec_id"] for r in new.collect()}
    old_ids = {r["vec_id"] for r in old.collect()}
    assert all(r["id_new"] in new_ids and r["id_old"] in old_ids for r in got_rows)

    both = dedup.embedding_dup_pairs(df, "vec_id", "embedding", 0.9, planes=planes)
    want = {
        (min(a, b), max(a, b), c)
        for a, b, c in map(tuple, both.collect())
        if (a in new_ids) != (b in new_ids)
    }
    assert {
        (min(r["id_new"], r["id_old"]), max(r["id_new"], r["id_old"]), r["cosine"])
        for r in got_rows
    } == want
    assert len(got_rows) > 0  # the cluster straddles the mod-3 split


def test_embedding_index_persist_matches_in_memory(spark, tmp_path_factory):
    """embedding_write_index + embedding_pairs_against_index == the
    in-memory op (planes pinned in the index meta, cap + verify shared)."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(i, [x * (1 + 0.002 * i) for x in base]) for i in range(8)]
    rows += [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(8, 50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    new = df.filter(F.col("vec_id") % 4 == 0)
    old = df.filter(F.col("vec_id") % 4 != 0)
    planes = dedup.HYPERPLANES[:8]

    path = str(tmp_path_factory.mktemp("emb_idx")) + "/ix"
    dedup.embedding_write_index(old, path, "vec_id", "embedding", planes=planes)
    via_index = dedup.embedding_pairs_against_index(new, path, "vec_id", "embedding", 0.8)
    in_memory = dedup.embedding_pairs_against(
        new, old, "vec_id", "embedding", 0.8, planes=planes
    )
    got = sorted(map(tuple, via_index.collect()))
    want = sorted(map(tuple, in_memory.collect()))
    assert got == want and len(got) > 0


def test_strip_boilerplate_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(1, "keep me\nshared footer"), (2, "other\nshared footer")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in Pipeline.compile("strip-boilerplate :doc_id :text 2").apply(df).collect()
    }
    assert out == {1: "keep me", 2: "other"}


def test_substring_spans_against(spark):
    from wrangler_spark.datapipe import curation

    bench = spark.createDataFrame(
        [(100, "alpha bravo charlie delta echo foxtrot golf hotel")],
        ["doc_id", "text"],
    )
    docs_df = spark.createDataFrame(
        [
            (1, "intro words alpha bravo charlie delta echo foxtrot golf hotel outro stuff"),
            (2, "completely unrelated words that never match anything at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in curation.substring_spans_against(docs_df, bench, "doc_id", "text", 8).collect()
    }
    assert out[1]["n_covered"] == 8 and out[1]["n_tokens"] == 12
    assert out[1]["text_clean"] == "intro words outro stuff"
    assert out[1]["contam_ratio"] == round(8 / 12, 6)
    assert out[2]["n_covered"] == 0 and out[2]["contam_ratio"] == 0.0
    assert out[2]["text_clean"] == docs_df.collect()[1]["text"]


def test_minhash_banding_operating_points(spark, docs):
    """16x2 banding moves the LSH S-curve left: every pair the 8x4
    default finds at a given threshold is found by 16x2 too (prefix
    permutations -> band 2b's key is a refinement of band b's), and the
    low-similarity near-dup (docs 1 vs 2) collides at 16x2 even when the
    verify threshold is dropped below the 8x4 sweet spot."""
    lo = dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.2, bands=16, rows_per_band=2)
    hi = dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.2)
    got_lo = {(r["id_a"], r["id_b"]) for r in lo.collect()}
    got_hi = {(r["id_a"], r["id_b"]) for r in hi.collect()}
    assert got_hi <= got_lo  # recall is monotone in the banding tilt
    assert (1, 2) in got_lo  # the near-dup pair collides at 16x2
    # geometry over the bundled permutation budget is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bundled"):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.5, bands=17, rows_per_band=2).collect()
    # zero/negative geometry must be loud too — it would otherwise build
    # an empty band array and return zero pairs with no error
    for b, r in ((0, 4), (8, 0), (-1, 4), (8, -2)):
        with _pytest.raises(ValueError, match=">= 1"):
            dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.5, bands=b, rows_per_band=r)


def test_langid_multi_new_languages(spark):
    """The four round-8 profiles (nl/sv/pl/id) classify natural sentences
    correctly and don't perturb the original six."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away", "en"),
        (2, "ik denk dat het een mooie dag is en we gaan met de fiets naar het strand", "nl"),
        (3, "jag tror att det är en vacker dag och vi ska åka till stranden med bilen", "sv"),
        (4, "nie wiem czy to jest dobry pomysł ale być może tak trzeba zrobić", "pl"),
        (5, "saya pikir ini adalah hari yang indah dan kami akan pergi ke pantai dengan mereka", "id"),
        (6, "el perro corre por la calle y no quiere volver a la casa con los niños", "es"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], ["id", "text"])
    got = {r["id"]: r["lang_pred"] for r in text.langid_multi(df, "text").collect()}
    want = {i: lang for i, _, lang in rows}
    assert got == want


def test_scale_column_grouped(spark):
    from wrangler_spark import Pipeline
    from wrangler_spark.datapipe import numeric

    rows = [
        (1, "a", 0.0), (2, "a", 10.0),          # group a: range 0..10
        (3, "b", 100.0), (4, "b", 300.0),       # group b: range 100..300
        (5, None, 5.0), (6, None, 15.0),        # NULL group must keep its rows
        (7, "c", 42.0),                          # constant group -> 0.0
        (8, "a", None),                          # null value stays null
    ]
    df = spark.createDataFrame(rows, ["id", "grp", "x"])
    out = {r["id"]: r["x_scaled"] for r in numeric.scale_column(df, "x", "minmax", by=["grp"]).collect()}
    assert out[1] == 0.0 and out[2] == 1.0
    assert out[3] == 0.0 and out[4] == 1.0
    assert out[5] == 0.0 and out[6] == 1.0  # null group scaled within itself
    assert out[7] == 0.0                     # constant group contract
    assert out[8] is None
    assert len(out) == 8                     # no rows lost to the stats join

    # recipe surface
    d2 = Pipeline.compile("scale-column :x minmax :grp").apply(df)
    got2 = {r["id"]: r["x_scaled"] for r in d2.collect()}
    assert got2 == out


def test_keep_top_frac(spark):
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)], ["id", "score"])
    kept = curation.keep_top_frac(df, "score", 0.1)
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == list(range(91, 101))  # type-7 90th pct of 1..100 = 90.1 -> top 10

    # boundary ties are ALL kept
    tied = spark.createDataFrame([(i, 1.0 if i <= 50 else 2.0) for i in range(1, 101)], ["id", "score"])
    n = curation.keep_top_frac(tied, "score", 0.25).count()
    assert n == 50  # the tie mass at 2.0 all passes

    # null scores never pass; frac domain enforced
    withnull = spark.createDataFrame([(1, None), (2, 5.0)], "id long, score double")
    assert [r["id"] for r in curation.keep_top_frac(withnull, "score", 1.0).collect()] == [2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="frac"):
        curation.keep_top_frac(df, "score", 0.0)
    # approx mode: same plan shape, near-identical result on this data
    approx_ids = sorted(r["id"] for r in curation.keep_top_frac(df, "score", 0.1, exact=False).collect())
    assert set(approx_ids) >= set(range(92, 101))


def test_flag_outliers_grouped(spark):
    from wrangler_spark.datapipe import numeric

    # group a is tight around 10 with one wild point; group b is tight
    # around 1000 with one wild point; a GLOBAL fence would flag all of
    # group b instead
    rows = [(i, "a", 10.0 + (i % 3) * 0.1) for i in range(20)] + [(98, "a", 500.0)]
    rows += [(100 + i, "b", 1000.0 + (i % 3) * 0.1) for i in range(20)] + [(199, "b", 5.0)]
    rows += [(300, None, 1.0), (301, None, 1.1), (302, None, 99.0)]  # null group
    df = spark.createDataFrame(rows, ["id", "grp", "x"])
    for method, k in (("zscore", 3.0), ("iqr", 1.5), ("mad", 3.5)):
        out = {r["id"]: r["x_outlier"] for r in
               numeric.flag_outliers(df, "x", method, k, by=["grp"]).collect()}
        assert len(out) == len(rows), method          # no rows lost (incl. null group)
        assert out[98] is True and out[199] is True, method
        assert sum(out[i] for i in range(20)) == 0, method
        assert sum(out[100 + i] for i in range(20)) == 0, method
        assert out[300] is False and out[301] is False, method  # null grp kept + flagged
    # only the robust rule can flag inside a 3-point group (3-sigma/Tukey
    # fences of n=3 always cover all 3 points)
    mout = {r["id"]: r["x_outlier"] for r in
            numeric.flag_outliers(df, "x", "mad", 3.5, by=["grp"]).collect()}
    assert mout[302] is True                          # null group gets its own fence


def test_winsorize_and_qbins_grouped(spark):
    """Per-group winsorize clips within each group's own percentile
    bounds; per-group bins assign each group its own boundary grid; null
    groups keep their rows and use their own stats (join_group_stats)."""
    from wrangler_spark.datapipe import numeric

    rows = (
        [(i, "a", float(i)) for i in range(1, 11)]           # a: 1..10
        + [(100 + i, "b", float(100 + i)) for i in range(1, 11)]  # b: 101..110
        + [(200, None, 5.0), (201, None, 500.0), (202, "a", None)]
    )
    df = spark.createDataFrame(rows, ["id", "grp", "x"])
    w = {r["id"]: r["x_wins"] for r in
         numeric.winsorize_column(df, "x", 0.1, 0.9, by=["grp"]).collect()}
    assert len(w) == len(rows)
    # group a: type-7 p10 of 1..10 = 1.9, p90 = 9.1
    assert w[1] == 1.9 and w[10] == 9.1 and w[5] == 5.0
    # group b clips in ITS range, unaffected by a
    assert w[101] == 101.9 and w[110] == 109.1
    assert w[200] == round(5.0 + 0.1 * 495.0, 6)   # null group: own bounds
    assert w[202] is None                          # null value stays null

    b = {r["id"]: r["x_bin"] for r in
         numeric.quantile_bins(df, "x", 5, by=["grp"]).collect()}
    assert b[1] == 1 and b[10] == 5               # each group spans all bins
    assert b[101] == 1 and b[110] == 5
    assert b[202] is None
    # a global binning would have put ALL of group a in bin 1 — per-group
    # must not: group a's values reach bin 5
    assert max(b[i] for i in range(1, 11)) == 5


def test_minhash_index_pins_banding_geometry(spark, tmp_path_factory, docs):
    """An index built at 16x2 is probed at 16x2 (geometry read from the
    index meta, never a probe argument) and matches the in-memory
    cross op at the same geometry."""
    new = docs.filter(F.col("doc_id") % 2 == 0)
    old = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("mh_idx_g")) + "/ix"
    dedup.minhash_write_index(old, path, "doc_id", "text", bands=16, rows_per_band=2)
    via_index = sorted(map(tuple, dedup.minhash_pairs_against_index(
        new, path, "doc_id", "text", 0.2).collect()))
    in_memory = sorted(map(tuple, dedup.minhash_pairs_against(
        new, old, "doc_id", "text", 0.2, bands=16, rows_per_band=2).collect()))
    assert via_index == in_memory and len(via_index) > 0

    # a legacy FLAT index with meta but no buckets (e.g. a pre-versioning
    # build that died mid-way) fails LOUDLY at probe (missing buckets
    # scan) — never a silent default-geometry probe of tuned buckets.
    # (Versioned builds can't produce this state at all: nothing is
    # visible before the commit marker.)
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    partial = str(tmp_path_factory.mktemp("mh_idx_partial")) + "/ix"
    spark.createDataFrame([(16, 2)], "bands int, rows_per_band int") \
        .write.parquet(f"{partial}/meta")
    with _pytest.raises(AnalysisException):
        dedup.minhash_pairs_against_index(new, partial, "doc_id", "text", 0.2).collect()


def test_minhash_index_auto_geometry(spark, tmp_path_factory, docs):
    """geometry='auto' sweeps on a sample, pins the winning banding in
    meta, persists the audit sweep table, and probes identically to an
    in-memory run at the pinned geometry."""
    path = str(tmp_path_factory.mktemp("mh_auto")) + "/ix"
    dedup.minhash_write_index(
        docs, path, "doc_id", "text", geometry="auto", threshold=0.3,
    )
    meta = spark.read.parquet(_ixroot(spark, path) + "/meta").collect()[0]
    pinned = (int(meta["bands"]), int(meta["rows_per_band"]))
    sweep = {(r["bands"], r["rows_per_band"]): r
             for r in spark.read.parquet(_ixroot(spark, path) + "/sweep").collect()}
    assert pinned in sweep and len(sweep) == 3        # audit table persisted
    # winner rule: leftmost geometry clearing the recall bar, else max recall
    ordered = sorted(sweep)                            # by bands asc
    clearing = [g for g in ordered if sweep[g]["recall"] >= 0.9]
    assert pinned == (clearing[0] if clearing else ordered[-1])
    # probe matches the in-memory op at the pinned geometry
    new = docs.filter(F.col("doc_id") % 2 == 0)
    via_index = sorted(map(tuple, dedup.minhash_pairs_against_index(
        new, path, "doc_id", "text", 0.3).collect()))
    in_memory = sorted(map(tuple, dedup.minhash_pairs_against(
        new, docs, "doc_id", "text", 0.3,
        bands=pinned[0], rows_per_band=pinned[1]).collect()))
    assert via_index == in_memory
    import pytest as _pytest

    with _pytest.raises(ValueError, match="auto"):
        dedup.minhash_write_index(docs, path, "doc_id", "text", geometry="best")


def test_embedding_sweep_and_auto_planes(spark, tmp_path_factory):
    """Plane matrices are prefix-consistent (make_planes(k) is the first
    k rows of make_planes(k')), so sweep recall is monotone
    NON-INCREASING in the plane count; planes='auto' pins the largest
    count clearing the recall bar and probes identically to a hand-built
    index at the pinned matrix."""
    from wrangler_spark.datapipe.constants import EMB_DIM, HYPERPLANES, N_PLANES, make_planes

    assert make_planes(N_PLANES, EMB_DIM) == HYPERPLANES
    assert make_planes(8, EMB_DIM) == HYPERPLANES[:8]   # prefix property
    assert make_planes(24, EMB_DIM)[:N_PLANES] == HYPERPLANES

    # the docs fixture is near-dup-heavy by construction; its hash
    # embeddings give a real high-cosine pair population (the random
    # embeddings table has none above 0.5 at sf0.001)
    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = text.hash_embedding(docs_df, "doc_id", "text", dim=EMB_DIM).filter(
        F.col("embedding").isNotNull()
    )
    sweep = {r["n_planes"]: r for r in dedup.embedding_sweep(
        embs, "doc_id", "embedding", threshold=0.9,
        n_planes_list=(4, 8, 16)).collect()}
    recalls = [sweep[n]["recall"] for n in (4, 8, 16)]
    assert recalls == sorted(recalls, reverse=True)      # fewer planes -> recall >=
    assert sweep[4]["exact_pairs"] > 0                   # real ground truth
    assert sweep[4]["recall"] > sweep[16]["recall"] > 0  # a real S-curve, not zeros
    for r in sweep.values():
        assert r["hits"] <= min(r["approx_pairs"], r["exact_pairs"])
        assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    # exact_pairs (ground truth size) is n-independent
    assert len({r["exact_pairs"] for r in sweep.values()}) == 1

    path = str(tmp_path_factory.mktemp("emb_auto")) + "/ix"
    dedup.embedding_write_index(
        embs.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "embedding",
        planes="auto", threshold=0.9,
    )
    meta_planes = spark.read.parquet(_ixroot(spark, path) + "/meta").collect()[0]["planes"]
    assert len(meta_planes) in (4, 8, 12, 16)            # a swept count won
    assert spark.read.parquet(_ixroot(spark, path) + "/sweep").count() == 4
    new = embs.filter(F.col("doc_id") % 2 == 0)
    via_index = sorted(map(tuple, dedup.embedding_pairs_against_index(
        new, path, "doc_id", "embedding", 0.9).collect()))
    in_memory = sorted(map(tuple, dedup.embedding_pairs_against(
        new, embs.filter(F.col("doc_id") % 2 == 1), "doc_id", "embedding", 0.9,
        planes=[[float(x) for x in p] for p in meta_planes]).collect()))
    assert via_index == in_memory and len(via_index) > 0
    with pytest.raises(ValueError, match="auto"):
        dedup.embedding_write_index(embs, path + "2", "doc_id", "embedding", planes="best")


def test_lsh_sweep(spark, docs):
    """The tuning harness orders geometries by the S-curve: recall is
    monotone non-decreasing as bands go up (rows per band down), and
    every metric row is internally consistent."""
    truth = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3, unit="word")
    sweep = dedup.lsh_sweep(
        docs, "doc_id", "text", truth,
        geometries=[(4, 8), (8, 4), (16, 2)], threshold=0.3,
    ).orderBy("bands").collect()
    assert [r["bands"] for r in sweep] == [4, 8, 16]
    recalls = [r["recall"] for r in sweep]
    assert recalls == sorted(recalls)  # more bands -> recall never drops
    for r in sweep:
        assert r["hits"] <= min(r["approx_pairs"], r["exact_pairs"])
        assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    assert sweep[-1]["recall"] > 0  # 16x2 finds the fixture near-dups


def test_report_state_incremental_equals_one_pass(spark, tmp_path_factory):
    """Folding batches into the report state reproduces corpus_report:
    sums match EXACTLY; the merged distinct estimate sits inside the
    HLL accuracy bound of the true distinct count."""
    from pyspark.sql import functions as F

    from wrangler_spark.datapipe import curation

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("rep_state")) + "/st"
    for k in range(3):  # three ingestion batches
        curation.report_update_state(
            docs_df.filter(F.col("doc_id") % 3 == k), path,
            lang_col="lang", batch_id=f"b{k}",
        )
    got = curation.report_from_state(spark, path).collect()[0]

    exact = curation.corpus_report(docs_df, lang_col="lang").collect()[0]
    for c in ("n_docs", "n_null_text", "n_chars", "n_words"):
        assert got[c] == exact[c], c
    # merged estimate within the sketch bound of the TRUE distinct count
    from wrangler_spark.datapipe.dedup import normalize_text

    key = F.md5(normalize_text(F.col("text")))
    true_distinct = docs_df.agg(F.countDistinct(key)).collect()[0][0]
    n_with_text = docs_df.filter(F.col("text").isNotNull()).count()
    merged_distinct = n_with_text - got["n_exact_dup_docs"]
    assert abs(merged_distinct - true_distinct) <= max(3, 0.05 * true_distinct)
    assert got["distinct_langs"] == docs_df.agg(F.countDistinct("lang")).collect()[0][0]
    # a FOURTH batch folds in O(batch): state grows by one row
    curation.report_update_state(docs_df.limit(10), path, lang_col="lang", batch_id="b3")
    assert spark.read.parquet(f"{path}/rows").count() == 4
    assert curation.report_from_state(spark, path).collect()[0]["n_docs"] == exact["n_docs"] + 10


def test_vocab_coverage(spark):
    # zipfy corpus: 'a' x10, 'b' x5, 'c' x3, 'd' 'e' x1 -> total 20 tokens
    df = spark.createDataFrame(
        [(1, " ".join(["a"] * 10 + ["b"] * 5)), (2, " ".join(["c"] * 3 + ["d", "e"]))],
        ["id", "text"],
    )
    got = {r["word"]: (r["count"], r["share"]) for r in
           text.vocab_coverage(df, "text", 0.75).collect()}
    # cumulative: a=10 (.5), b=15 (.75) -> threshold class = 5, keep a+b
    assert got == {"a": (10, 0.5), "b": (5, 0.25)}
    # coverage 0.76 needs the count=3 class too
    got2 = set(r["word"] for r in text.vocab_coverage(df, "text", 0.76).collect())
    assert got2 == {"a", "b", "c"}
    # full coverage keeps everything; overshoot-by-class contract: 0.95
    # lands inside the count=1 class so BOTH singletons stay
    assert text.vocab_coverage(df, "text", 1.0).count() == 5
    assert text.vocab_coverage(df, "text", 0.95).count() == 5
    # empty corpus -> empty frame with the right schema
    empty = spark.createDataFrame([], "id long, text string")
    out = text.vocab_coverage(empty, "text", 0.9)
    assert out.count() == 0 and out.columns == ["word", "count", "share"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="coverage"):
        text.vocab_coverage(df, "text", 0.0)


def test_vocab_coverage_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame([(1, "x x x y")], ["id", "text"])
    out = {r["word"]: r["count"] for r in
           Pipeline.compile("vocab-coverage :text 0.75").apply(df).collect()}
    assert out == {"x": 3}


def test_ngram_repetition_stats_hand_computed(spark):
    """'a b a b a b c' (13 chars): top bigram 'a b' occurs 3x ('a b' = 3
    chars) -> 9/13; duplicated bigrams 'a b'(3) + 'b a'(2) -> 15/13
    capped at 1.0. Short/empty/null docs score 0.0 everywhere."""
    df = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "x y"), (3, ""), (4, None),
         (5, "one two three four five")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.ngram_repetition_stats(
        df, "doc_id", "text", top_ns=(2, 3), dup_ns=(2,)).collect()}
    assert out[1]["top_2gram_char_frac"] == round(9 / 13, 6)
    assert out[1]["top_3gram_char_frac"] == round(10 / 13, 6)  # 'a b a' 2x
    assert out[1]["dup_2gram_char_frac"] == 1.0                # 15/13 capped
    assert out[2]["top_2gram_char_frac"] == 0.0  # 'x y' occurs ONCE: not repetition
    assert out[2]["dup_2gram_char_frac"] == 0.0                # nothing repeats
    assert out[2]["top_3gram_char_frac"] == 0.0                # < 3 words
    for d in (3, 4):                                           # no grams at all
        assert all(out[d][c] == 0.0 for c in out[d].asDict() if c != "doc_id" and c != "text")
    assert out[5]["dup_2gram_char_frac"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 2"):
        text.ngram_repetition_stats(df, "doc_id", "text", top_ns=(1,))


def test_group_top_terms_hand_computed(spark):
    """Per-group term counts with the shared normalization; rank is
    dense 1..k per group with term-asc tiebreak; null group is a real
    group; k caps each group independently."""
    df = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "a", "x z"), (3, "b", "q q q w"),
         (4, None, "n n m")],
        ["doc_id", "src", "text"],
    )
    out = {(r["src"], r["rank"]): (r["term"], r["tf"]) for r in
           text.group_top_terms(df, "text", "src", k=2).collect()}
    assert out[("a", 1)] == ("x", 3) and out[("a", 2)] == ("y", 1)  # y<z tie
    assert out[("b", 1)] == ("q", 3) and out[("b", 2)] == ("w", 1)
    assert out[(None, 1)] == ("n", 2) and out[(None, 2)] == ("m", 1)
    assert len(out) == 6                                 # k=2 per group
    with pytest.raises(ValueError, match=">= 1"):
        text.group_top_terms(df, "text", "src", k=0)
    # directive surface
    from wrangler_spark import Pipeline

    rows = Pipeline.compile("top-terms :text :src 1").apply(df).collect()
    assert {(r["src"], r["term"]) for r in rows} == {("a", "x"), ("b", "q"), (None, "n")}


def test_repetition_filter_hand_computed(spark):
    """The published caps: a heavily-repeated doc fails (its top bigram
    covers most characters), normal prose passes, null/empty docs pass
    (no repetition evidence), a duplicate-line doc fails the line cap,
    and per-cap overrides work."""
    rows = [
        (1, "a b a b a b a b a b a b"),                  # top-2gram frac ~1 -> fail
        (2, "the quick brown fox jumps over one lazy dog near the river bank today"),
        (3, None),
        (4, ""),
        (5, "keep this line\nkeep this line\nkeep this line\nunique one"),  # dup lines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["repetition_pass"] for r in
           text.repetition_filter(df, "doc_id", "text").collect()}
    assert out[1] is False and out[2] is True
    assert out[3] is True and out[4] is True
    assert out[5] is False                               # dup_line_ratio 0.5 > 0.3
    # override: loosening EVERY cap to 1.0 passes everything (the dup
    # fractions are capped at 1.0 by construction)
    loose = {r["doc_id"]: r["repetition_pass"] for r in text.repetition_filter(
        df, "doc_id", "text",
        caps={k: 1.0 for k in text.GOPHER_REP_CAPS}).collect()}
    assert all(loose.values())
    with pytest.raises(ValueError, match="unknown"):
        text.repetition_filter(df, "doc_id", "text", caps={"nope": 0.1})
    # signal columns are dropped; only the verdict is appended
    cols = set(text.repetition_filter(df, "doc_id", "text").columns)
    assert cols == {"doc_id", "text", "repetition_pass"}
    # directive surface
    from wrangler_spark import Pipeline

    got = Pipeline.compile("repetition-filter :doc_id :text").apply(df)
    assert {r["doc_id"]: r["repetition_pass"] for r in got.collect()} == out


def test_oov_rate_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran fast"), (3, ""), (4, None)],
        ["doc_id", "text"],
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("dog",)], ["word"])
    out = {r["doc_id"]: r["oov_rate"] for r in
           text.oov_rate(df, "doc_id", "text", vocab).collect()}
    assert out[1] == round(1 / 3, 6)     # sat is OOV
    assert out[2] == 0.5                 # ran, fast OOV
    assert out[3] is None and out[4] is None  # zero tokens -> NULL

    # composes with vocab_coverage end to end, and the directive surface
    from wrangler_spark import Pipeline

    docs_df = spark.createDataFrame(
        [(i, "common words here" if i % 2 else "rare unique %d" % i)
         for i in range(10)], ["doc_id", "text"])
    via_dir = Pipeline.compile("oov-rate :doc_id :text 0.5").apply(docs_df)
    direct = text.oov_rate(
        docs_df, "doc_id", "text", text.vocab_coverage(docs_df, "text", 0.5))
    assert sorted(map(tuple, via_dir.select("doc_id", "oov_rate").collect())) == \
           sorted(map(tuple, direct.select("doc_id", "oov_rate").collect()))


def test_ngram_repetition_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame([(1, "a b a b a b c")], ["doc_id", "text"])
    row = Pipeline.compile("ngram-repetition :doc_id :text").apply(df).collect()[0]
    assert row["top_2gram_char_frac"] == round(9 / 13, 6)
    assert row["dup_5gram_char_frac"] == 0.0   # all 5-grams unique
    assert "dup_10gram_char_frac" in row.asDict()


def test_vocab_state_incremental_equals_batch(spark, tmp_path_factory):
    """Vocabulary state folded per batch reconstructs the one-shot
    coverage vocabulary EXACTLY (counts merge by summation), feeds
    oov_rate unchanged, and compaction sum-merges the rows without
    changing any read."""
    from wrangler_spark.datapipe.maintenance import compact_index

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("vocab_state")) + "/st"
    for k in range(3):
        text.vocab_update_state(
            docs_df.filter(F.col("doc_id") % 3 == k), path, "text", batch_id=f"b{k}")
    key = lambda r: (r["word"], r["count"], r["share"])  # noqa: E731
    inc = sorted(map(key, text.vocab_coverage_from_state(spark, path, 0.9).collect()))
    one = sorted(map(key, text.vocab_coverage(docs_df, "text", 0.9).collect()))
    assert inc == one and len(inc) > 0

    # oov_rate over the state vocabulary == over the one-shot vocabulary
    batch = docs_df.limit(50)
    via_state = sorted(map(tuple, text.oov_rate(
        batch, "doc_id", "text",
        text.vocab_coverage_from_state(spark, path, 0.9)
    ).select("doc_id", "oov_rate").collect()))
    via_batch = sorted(map(tuple, text.oov_rate(
        batch, "doc_id", "text", text.vocab_coverage(docs_df, "text", 0.9)
    ).select("doc_id", "oov_rate").collect()))
    assert via_state == via_batch

    # compaction: rows sum-merge (3 batches -> 1 row per word + one
    # zero-count batch-id ledger row per original batch), reads identical
    n_rows_before = spark.read.parquet(_ixroot(spark, path) + "/rows").count()
    st = compact_index(spark, path)
    assert st["rows"]["rows"] < n_rows_before          # duplicate words merged
    rows = spark.read.parquet(_ixroot(spark, path) + "/rows")
    data = rows.filter(F.col("word").isNotNull())
    assert data.count() == data.select("word").distinct().count()
    ledger = rows.filter(F.col("word").isNull())
    assert sorted(r["batch_id"] for r in ledger.collect()) == ["b0", "b1", "b2"]
    assert ledger.filter(F.col("count") != 0).count() == 0
    assert sorted(map(key, text.vocab_coverage_from_state(spark, path, 0.9).collect())) == one

    # the ADVICE crash-window scenario: a micro-batch REPLAYED after a
    # compaction ran (crash before checkpoint commit, maintenance before
    # the sink restarts) is still a NO-OP -- the ledger preserves the id
    text.vocab_update_state(
        docs_df.filter(F.col("doc_id") % 3 == 1), path, "text", batch_id="b1")
    assert sorted(map(key, text.vocab_coverage_from_state(spark, path, 0.9).collect())) == one

    # a SECOND compaction carries the ledger forward, never drops it
    compact_index(spark, path)
    rows2 = spark.read.parquet(_ixroot(spark, path) + "/rows")
    assert sorted(r["batch_id"] for r in rows2.filter(F.col("word").isNull()).collect()) \
        == ["b0", "b1", "b2"]
    assert sorted(map(key, text.vocab_coverage_from_state(spark, path, 0.9).collect())) == one


def test_vocab_state_updates_from_stream(spark, tmp_path_factory):
    """The vocab-state lifecycle wired to a stream (the retention-state
    pattern): foreachBatch folds each micro-batch with vocab_update_state
    and the state-reconstructed coverage vocabulary equals the batch
    computation over everything the stream delivered."""
    import shutil as _sh

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path_factory.mktemp("vocab_stream_src"))
    state = str(tmp_path_factory.mktemp("vocab_stream_state") / "st")
    docs_df.select("doc_id", "text").write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = text.vocab_update_stream(stream, state, "text", src + "_chk")
    q.awaitTermination(120)
    key = lambda r: (r["word"], r["count"], r["share"])  # noqa: E731
    inc = sorted(map(key, text.vocab_coverage_from_state(spark, state, 0.9).collect()))
    one = sorted(map(key, text.vocab_coverage(docs_df, "text", 0.9).collect()))
    assert inc == one and len(inc) > 0
    _sh.rmtree(src, ignore_errors=True)


def test_report_state_grouped(spark, tmp_path_factory):
    """Grouped state keeps one row per source per batch; the grid read
    returns one report row per source whose exact sums match the
    one-shot per-group report."""
    from pyspark.sql import functions as F

    from wrangler_spark.datapipe import curation

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("rep_state_g")) + "/st"
    for k in range(2):
        curation.report_update_state(
            docs_df.filter(F.col("doc_id") % 2 == k), path, by="source", batch_id=f"b{k}"
        )
    # the group column surfaces under its REAL name, not an internal alias
    got = {r["source"]: r for r in curation.report_from_state(spark, path).collect()}
    want = {
        r["source"]: r
        for r in docs_df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        ).collect()
    }
    assert set(got) == set(want)
    for src in want:
        assert got[src]["n_docs"] == want[src]["n_docs"]
        assert got[src]["n_chars"] == want[src]["n_chars"]


def test_keep_top_frac_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 9.0), (3, "b", 0.1), (4, "b", 0.9)],
        ["id", "grp", "score"],
    )
    ids = {r["id"] for r in Pipeline.compile("keep-top-frac :score 0.5 :grp").apply(df).collect()}
    assert ids == {2, 4}  # top half per group
    # global: type-7 median of [0.1, 0.9, 1.0, 9.0] is 0.95 -> scores 1.0, 9.0
    ids_g = {r["id"] for r in Pipeline.compile("keep-top-frac :score 0.5").apply(df).collect()}
    assert ids_g == {1, 2}


def test_versioned_index_probe_during_compaction_and_crash(spark, tmp_path_factory):
    """The _layout snapshot protocol: (1) a probe PLANNED before a
    compaction commits reads the version it resolved — file-identical
    results, nothing deleted under it; (2) a compaction (or rebuild)
    that crashes before its commit marker leaves the previous version
    fully readable — probes are unaffected; (3) vacuum reclaims
    superseded versions without changing probe results."""
    from wrangler_spark.datapipe import _layout
    from wrangler_spark.datapipe.maintenance import compact_index, vacuum_index

    path = str(tmp_path_factory.mktemp("vix")) + "/ix"
    gen = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"historical document body {i}") for i in range(lo, hi)], ["doc_id", "text"])
    dedup.bloom_write_index(gen(0, 200), path, "text", bits=1 << 14, num_hashes=5)
    for b in range(3):
        dedup.bloom_write_index(gen(200 + b * 50, 250 + b * 50), path, "text",
                                bits=1 << 14, num_hashes=5, append=True)
    batch = gen(0, 400).withColumn("doc_id", F.col("doc_id") + 1000)

    # (1) concurrent probe: plan (resolve) BEFORE compacting, collect AFTER
    in_flight = dedup.bloom_probe_index(batch, path, "doc_id", "text")
    baseline = sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()))
    compact_index(spark, path)
    assert sorted(map(tuple, in_flight.collect())) == baseline  # old version still served it
    assert sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect())) == baseline

    # (2) crash mid-rebuild: a newer version dir WITHOUT a commit marker
    # is invisible — probes keep resolving the last committed version
    stale = _layout.begin_version(spark, path)
    spark.createDataFrame([(1 << 20, 9, 2)], "bits long, num_hashes int, scheme int") \
        .write.parquet(f"{stale}/meta")  # simulated partial rebuild (no words, no marker)
    assert not _layout.resolve(spark, path).endswith(stale.rsplit("/", 1)[-1])
    assert sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect())) == baseline

    # (3) vacuum: reclaim the flat legacy layout, the superseded grace
    # version, and the abandoned build — probe results unchanged
    deleted = vacuum_index(spark, path, keep=1)
    assert deleted, "vacuum found nothing to reclaim"
    assert sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect())) == baseline
    import os

    left = {d for d in os.listdir(path) if not d.startswith(("_", "."))}
    cur = _layout.resolve(spark, path).rsplit("/", 1)[-1]
    # the current version survives; so does the NEWER uncommitted dir
    # (it could be a build in flight — vacuum never kills those); the
    # flat legacy datasets and every superseded version are gone
    assert cur in left and "words" not in left and "meta" not in left
    assert left <= {cur, stale.rsplit("/", 1)[-1]}


def test_minhash_rebuild_in_place_never_mixes_geometries(spark, tmp_path_factory, docs):
    """Rebuilding a LIVE minhash index is safe: an INVALID geometry is
    rejected before anything is written (the old index keeps probing
    bit-identically), and a successful rebuild at a different geometry
    flips atomically — probes match the in-memory op at the NEW
    geometry afterwards, never a new-meta/old-buckets mix."""
    new = docs.filter(F.col("doc_id") % 2 == 0)
    old = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("mh_rb")) + "/ix"
    dedup.minhash_write_index(old, path, "doc_id", "text", bands=16, rows_per_band=2)
    baseline = sorted(map(tuple, dedup.minhash_pairs_against_index(
        new, path, "doc_id", "text", 0.2).collect()))

    # invalid rebuild: bands*rows exceeds the permutation budget — must
    # raise BEFORE any write (meta used to be clobbered first)
    with pytest.raises(ValueError, match="exceeds"):
        dedup.minhash_write_index(old, path, "doc_id", "text", bands=16, rows_per_band=3)
    assert sorted(map(tuple, dedup.minhash_pairs_against_index(
        new, path, "doc_id", "text", 0.2).collect())) == baseline

    # valid rebuild at 8x4: the probe follows the new committed version
    dedup.minhash_write_index(old, path, "doc_id", "text", bands=8, rows_per_band=4)
    got = sorted(map(tuple, dedup.minhash_pairs_against_index(
        new, path, "doc_id", "text", 0.2).collect()))
    want = sorted(map(tuple, dedup.minhash_pairs_against(
        new, old, "doc_id", "text", 0.2, bands=8, rows_per_band=4).collect()))
    assert got == want


def test_embedding_auto_planes_empty_corpus_guard(spark, tmp_path_factory):
    """planes='auto' on an empty corpus or null vectors raises a clear
    ValueError instead of an opaque TypeError, and writes NOTHING."""
    import os

    path = str(tmp_path_factory.mktemp("emb_guard")) + "/ix"
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        dedup.embedding_write_index(empty, path, "vec_id", "embedding", planes="auto")
    nulls = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        dedup.embedding_write_index(nulls, path, "vec_id", "embedding", planes="auto")
    assert not os.path.exists(path) or not any(
        d.startswith("v_") for d in os.listdir(path)
    )


def test_report_state_mixed_group_columns_raise(spark, tmp_path_factory):
    """A report state whose batches disagree on the group column is
    rejected loudly — grouping by an arbitrary one would silently
    bucket the other batches under null. The fold refuses the second
    group column; a state mixed before the fold checked it (its rows
    appended directly here) is still refused by the reader."""
    from wrangler_spark.datapipe import curation

    root = str(tmp_path_factory.mktemp("rep_mixed"))
    path, other = root + "/st", root + "/other"
    df = spark.createDataFrame(
        [(1, "hello world", "a", "x"), (2, "more text", "b", "y")],
        ["doc_id", "text", "source", "lang"],
    )
    curation.report_update_state(df, path, by="source", batch_id="b0")
    with pytest.raises(ValueError, match="incompatible"):
        curation.report_update_state(df, path, by="lang", batch_id="b1")
    assert curation.report_from_state(spark, path).count() == 2
    curation.report_update_state(df, other, by="lang", batch_id="b1")
    spark.read.parquet(other + "/rows").write.mode("append").parquet(path + "/rows")
    with pytest.raises(ValueError, match="mixed group columns"):
        curation.report_from_state(spark, path).collect()


@pytest.mark.parametrize("first, second", [
    ({"lang_col": "lang"}, {}),
    ({"by": "source"}, {}),
], ids=["lang_col", "by"])
def test_report_state_refuses_a_different_shape(spark, tmp_path_factory, first, second):
    """The report state's pinned geometry is its column set: a batch
    folded with or without a language sketch, or with or without a
    group column, unlike the stored rows, is refused — it would
    otherwise under-count distinct_langs or land under a null group.
    The refused batch id folds later with the matching shape."""
    from wrangler_spark.datapipe import curation

    path = str(tmp_path_factory.mktemp("rep_shape")) + "/st"
    df = spark.createDataFrame(
        [(1, "hello world", "a", "x"), (2, "more text", "b", "y"),
         (3, "other text", "a", "z")],
        ["doc_id", "text", "source", "lang"],
    )
    curation.report_update_state(df.filter("doc_id < 3"), path, batch_id="b0", **first)
    before = sorted(map(tuple, curation.report_from_state(spark, path).collect()))
    with pytest.raises(ValueError, match="report state at .* incompatible"):
        curation.report_update_state(df, path, batch_id="b1", **second)
    assert sorted(map(tuple, curation.report_from_state(spark, path).collect())) == before
    curation.report_update_state(df.filter("doc_id = 3"), path, batch_id="b1", **first)
    assert sum(r["n_docs"] for r in curation.report_from_state(spark, path).collect()) == 3


def test_group_top_terms_weighting_modes(spark):
    """weight='logodds' surfaces DISTINGUISHING terms where raw tf
    surfaces shared stopwords: two groups drowning in 'the of and' but
    each with its own content word must rank the content word first
    under logodds (and tfidf), while tf ranks the stopwords. Bad mode
    rejected; directive surface carries the weight arg."""
    stop = "the of and " * 30
    df = spark.createDataFrame(
        [(i, "a", stop + "spark cluster shuffle") for i in range(5)]
        + [(i + 10, "b", stop + "genome protein enzyme") for i in range(5)],
        ["doc_id", "grp", "text"],
    )
    tf_top = {r["grp"]: r["term"] for r in
              text.group_top_terms(df, "text", "grp", 1).collect()}
    assert set(tf_top.values()) <= {"the", "of", "and"}   # tf = stopwords
    lo = text.group_top_terms(df, "text", "grp", 3, weight="logodds")
    lo_rows = lo.collect()
    assert set(lo.columns) == {"grp", "term", "tf", "score", "rank"}
    top1 = {r["grp"]: r["term"] for r in lo_rows if r["rank"] == 1}
    assert set(top1["a"].split()) <= {"spark", "cluster", "shuffle"}
    assert set(top1["b"].split()) <= {"genome", "protein", "enzyme"}
    # every group's top-3 under logodds is its own content vocabulary
    for r in lo_rows:
        own = {"spark", "cluster", "shuffle"} if r["grp"] == "a" else {"genome", "protein", "enzyme"}
        assert r["term"] in own, (r["grp"], r["term"])
    ti = {r["grp"]: r["term"] for r in
          text.group_top_terms(df, "text", "grp", 1, weight="tfidf").collect()}
    assert ti == top1                                     # tfidf agrees here
    with pytest.raises(ValueError, match="weight"):
        text.group_top_terms(df, "text", "grp", 3, weight="bm25")
    # directive surface
    from wrangler_spark import Pipeline

    d = Pipeline.compile("top-terms :text :grp 1 'logodds'").apply(df)
    assert {r["grp"]: r["term"] for r in d.collect()} == top1


def test_paragraph_repetition_signals(spark):
    """Gopher's paragraph unit is real, not a line alias: duplicate
    paragraphs (blank-line-split) are caught even when every LINE
    inside them differs from its neighbors at the line level is fine;
    a single-paragraph doc scores 0; the filter enforces the 0.30/0.20
    paragraph caps."""
    para = "alpha beta\ngamma delta"
    spaced = para + "\n\n"
    df = spark.createDataFrame(
        [
            (1, spaced * 5),                    # 5 identical paragraphs
            (2, "morning coffee tastes good\n\nrivers flow toward oceans\n\n"
                "quantum chips stay cold\n\nviolins need fresh strings"),
            (3, "just one paragraph\nwith two lines"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(df, "text").collect()}
    assert out[1]["dup_para_ratio"] > 0.5       # 4 of 5 paragraphs duplicate
    assert out[1]["dup_para_char_ratio"] > 0.5
    assert out[2]["dup_para_ratio"] == 0.0
    assert out[3]["dup_para_ratio"] == 0.0      # one paragraph = no evidence
    got = {r["doc_id"]: r["repetition_pass"] for r in
           text.repetition_filter(df, "doc_id", "text").collect()}
    assert got == {1: False, 2: True, 3: True}


def test_sample_token_budget(spark):
    """Token-budget selection: the kept set's exclusive prefix stays
    under the budget (straddler kept — overshoot bounded by ONE doc),
    selection is deterministic per seed and changes with it, budget 0
    keeps nothing, per-group budgets fill independently, count_col
    substitutes a real tokenizer's counts, directive surface works."""
    from wrangler_spark.datapipe.curation import sample_token_budget

    rows = [(i, "g" if i % 2 else "h", "tok " * (10 + i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "text"])

    out = sample_token_budget(df, "doc_id", "text", 100)
    got = out.select("doc_id", "n_tokens").collect()
    total = sum(r["n_tokens"] for r in got)
    mx = max(r["n_tokens"] for r in got)
    assert total >= 100 and total - mx < 100      # budget filled, overshoot <= 1 doc
    # determinism + seed sensitivity
    again = {r["doc_id"] for r in sample_token_budget(df, "doc_id", "text", 100).collect()}
    assert again == {r["doc_id"] for r in got}
    other = {r["doc_id"] for r in
             sample_token_budget(df, "doc_id", "text", 100, seed="s2").collect()}
    assert other != again                          # (md5 order reshuffles)
    assert sample_token_budget(df, "doc_id", "text", 0).count() == 0

    # per-group: each group fills its own budget
    by = sample_token_budget(df, "doc_id", "text", 60, by="grp")
    per = {g: sum(r["n_tokens"] for r in rs) for g, rs in
           __import__("itertools").groupby(
               sorted(by.collect(), key=lambda r: r["grp"]), key=lambda r: r["grp"])}
    for g, tot in per.items():
        assert tot >= 60, (g, tot)

    # count_col: a precomputed (fake-tokenizer) count drives the budget
    pre = df.withColumn("my_tok", F.lit(7))
    cc = sample_token_budget(pre, "doc_id", "text", 21, count_col="my_tok")
    assert cc.count() == 3                         # 7 * 3 = 21; prefix of 4th = 21 not < 21

    # directive surface
    from wrangler_spark import Pipeline

    d = Pipeline.compile("sample-token-budget :doc_id :text 100").apply(df)
    assert {r["doc_id"] for r in d.collect()} == again


def test_report_state_updates_from_stream(spark, tmp_path_factory):
    """The report family's stream edge: report_update_stream folds each
    micro-batch into the persisted state and report_from_state matches
    the one-shot corpus_report over everything the stream delivered
    (exact counts equal; the HLL dup estimate within the sketch bound —
    the same contract the batch-fold test holds)."""
    import shutil as _sh

    from wrangler_spark.datapipe import curation

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path_factory.mktemp("rep_stream_src"))
    chk = str(tmp_path_factory.mktemp("rep_stream_chk"))
    state = str(tmp_path_factory.mktemp("rep_stream_state") / "st")
    docs_df.select("doc_id", "text", "lang").write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string, lang string").parquet(src)
    q = curation.report_update_stream(stream, state, chk, lang_col="lang")
    q.awaitTermination(120)

    got = curation.report_from_state(spark, state).collect()[0]
    exact = curation.corpus_report(docs_df, "doc_id", "text").collect()[0]
    for c in ("n_docs", "n_null_text", "n_chars", "n_words"):
        assert got[c] == exact[c], c
    assert abs(got["n_exact_dup_docs"] - exact["n_exact_dup_docs"]) <= max(
        3, 0.05 * exact["n_docs"]
    )
    _sh.rmtree(src, ignore_errors=True)


def test_ivf_tune_nprobe(spark, tmp_path_factory):
    """The ANN tune-then-pin loop: recall is monotone non-decreasing in
    nprobe (top-(n+1) probed centroids contain the top-n set), the
    smallest nprobe clearing the target wins, an unreachable target
    falls back to the largest swept value (fail toward recall), and the
    sweep table carries one audited row per candidate."""
    from wrangler_spark.datapipe.similarity import ivf_tune_nprobe

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("ivf_tune")) + "/ix"
    similarity.ivf_write_index(embs, path, n_centroids=8)
    q = embs.filter(F.col("vec_id") < 10)

    picked, sweep = ivf_tune_nprobe(
        embs, q, path, k=5, recall_target=0.95, nprobes=(1, 2, 4, 8)
    )
    rows = {r["nprobe"]: r["recall"] for r in sweep.collect()}
    assert sorted(rows) == [1, 2, 4, 8] and all(r["n_queries"] == 10 for r in sweep.collect())
    recs = [rows[n] for n in (1, 2, 4, 8)]
    assert recs == sorted(recs)                    # monotone non-decreasing
    assert rows[8] == 1.0                          # all 8 centroids probed = exact
    clearing = [n for n in (1, 2, 4, 8) if rows[n] >= 0.95]
    assert picked == clearing[0]
    # unreachable target -> largest swept value
    picked2, _ = ivf_tune_nprobe(embs, q, path, k=5, recall_target=1.1, nprobes=(1, 2))
    assert picked2 == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nprobes"):
        ivf_tune_nprobe(embs, q, path, nprobes=(0,))


def test_state_folds_are_replay_idempotent(spark, tmp_path_factory):
    """A replayed micro-batch (same non-empty batch_id) is a NO-OP for
    vocab and report state — the crash-recovery contract that turns
    at-least-once foreachBatch delivery into exactly-once state. An
    empty batch_id keeps the old append-always behavior."""
    from wrangler_spark.datapipe import curation

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta")], ["doc_id", "text"]
    )

    vpath = str(tmp_path_factory.mktemp("vstate")) + "/st"
    text.vocab_update_state(df, vpath, "text", "b0")
    one = sorted(map(tuple, text.vocab_from_state(spark, vpath).collect()))
    text.vocab_update_state(df, vpath, "text", "b0")       # replay: no-op
    assert sorted(map(tuple, text.vocab_from_state(spark, vpath).collect())) == one
    text.vocab_update_state(df, vpath, "text", "b1")       # new id folds
    two = {r["word"]: r["count"] for r in text.vocab_from_state(spark, vpath).collect()}
    assert two["alpha"] == 6                               # 3 per fold
    text.vocab_update_state(df, vpath, "text")             # empty id: appends
    assert {r["word"]: r["count"] for r in
            text.vocab_from_state(spark, vpath).collect()}["alpha"] == 9

    rpath = str(tmp_path_factory.mktemp("rstate")) + "/st"
    curation.report_update_state(df, rpath, batch_id="b0")
    n0 = curation.report_from_state(spark, rpath).collect()[0]["n_docs"]
    curation.report_update_state(df, rpath, batch_id="b0")  # replay: no-op
    assert curation.report_from_state(spark, rpath).collect()[0]["n_docs"] == n0 == 2
    curation.report_update_state(df, rpath, batch_id="b1")
    assert curation.report_from_state(spark, rpath).collect()[0]["n_docs"] == 4


def test_cluster_topics_separable(spark):
    """Two well-separated embedding directions with disjoint vocabulary:
    cluster_topics must put each vocabulary at the top of its OWN
    cluster's labels (log-odds — shared stopwords never label), with
    cluster sizes preserved through the assignment join."""
    from wrangler_spark.datapipe.curation import cluster_topics

    stop = "the of and is to " * 10
    rows_d, rows_e = [], []
    for i in range(20):
        tech = i % 2 == 0
        rows_d.append((i, stop + ("spark shuffle executor" if tech else "violin sonata orchestra")))
        base = [1.0, 0.0, 0.0, 0.0] if tech else [0.0, 1.0, 0.0, 0.0]
        rows_e.append((i, [x + 0.01 * (i % 5) for x in base]))
    docs = spark.createDataFrame(rows_d, ["doc_id", "text"])
    embs = spark.createDataFrame(rows_e, ["vec_id", "embedding"])

    out = cluster_topics(docs, embs, n_clusters=2, label_k=3, train_iters=2, dim=4)
    rows = out.collect()
    assert set(out.columns) == {"cluster_id", "term", "tf", "score", "rank"}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["term"])
    assert len(by_cluster) == 2
    vocabs = [set(v) for v in by_cluster.values()]
    tech_v = {"spark", "shuffle", "executor"}
    music_v = {"violin", "sonata", "orchestra"}
    assert (vocabs[0] <= tech_v and vocabs[1] <= music_v) or (
        vocabs[0] <= music_v and vocabs[1] <= tech_v
    )


def test_compact_index_twice_and_vacuum_chain(spark, tmp_path_factory):
    """Compacting an already-versioned index works (v1 -> v2 -> v3, each
    committed; probes identical throughout), and vacuum keeps the
    newest committed version(s) only."""
    from wrangler_spark.datapipe import _layout
    from wrangler_spark.datapipe.maintenance import compact_index, vacuum_index

    path = str(tmp_path_factory.mktemp("cpt2")) + "/ix"
    gen = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"historical document body {i}") for i in range(lo, hi)], ["doc_id", "text"])
    dedup.bloom_write_index(gen(0, 150), path, "text", bits=1 << 14, num_hashes=5)
    dedup.bloom_write_index(gen(150, 200), path, "text", bits=1 << 14, num_hashes=5, append=True)
    batch = gen(0, 300).withColumn("doc_id", F.col("doc_id") + 1000)
    base = sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect()))

    compact_index(spark, path)
    v2 = _layout.resolve(spark, path)
    compact_index(spark, path)
    v3 = _layout.resolve(spark, path)
    assert v2 != v3 and v3.rsplit("/", 1)[-1] > v2.rsplit("/", 1)[-1]
    assert sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect())) == base
    vacuum_index(spark, path, keep=1)
    import os

    left = sorted(d for d in os.listdir(path) if not d.startswith(("_", ".")))
    assert left == [v3.rsplit("/", 1)[-1]]
    assert sorted(map(tuple, dedup.bloom_probe_index(batch, path, "doc_id", "text").collect())) == base


def test_cluster_topics_directive_self_contained(spark):
    """The recipe form needs no external embedding table: lexical hash
    embeddings cluster disjoint vocabularies apart, and each cluster's
    log-odds labels come from its own vocabulary."""
    from wrangler_spark import Pipeline

    stop = "the of and is to " * 8
    rows = []
    for i in range(16):
        tech = i % 2 == 0
        rows.append((i, stop + ("spark shuffle executor cluster" if tech
                                else "violin sonata orchestra concerto")))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = Pipeline.compile("cluster-topics :doc_id :text 2 3").apply(df)
    got = out.collect()
    assert set(out.columns) == {"cluster_id", "term", "tf", "score", "rank"}
    by = {}
    for r in got:
        by.setdefault(r["cluster_id"], set()).add(r["term"])
    assert len(by) == 2
    tech_v = {"spark", "shuffle", "executor", "cluster"}
    music_v = {"violin", "sonata", "orchestra", "concerto"}
    vs = list(by.values())
    assert (vs[0] <= tech_v and vs[1] <= music_v) or (vs[0] <= music_v and vs[1] <= tech_v)


def test_cluster_summary_map(spark):
    """One row per cluster: sizes sum to the corpus, shares to 1, and
    each label is the cluster's own vocabulary in log-odds order."""
    from wrangler_spark.datapipe.curation import cluster_summary

    stop = "the of and is to " * 10
    rows_d, rows_e = [], []
    for i in range(20):
        tech = i % 4 != 0                     # 15 tech docs, 5 music
        rows_d.append((i, stop + ("spark shuffle executor" if tech else "violin sonata orchestra")))
        base = [1.0, 0.0] if tech else [0.0, 1.0]
        rows_e.append((i, [x + 0.01 * (i % 3) for x in base] + [0.0, 0.0]))
    docs = spark.createDataFrame(rows_d, ["doc_id", "text"])
    embs = spark.createDataFrame(rows_e, ["vec_id", "embedding"])

    out = cluster_summary(docs, embs, n_clusters=2, label_k=2, train_iters=2, dim=4)
    rows = out.collect()
    assert len(rows) == 2
    assert sum(r["n_docs"] for r in rows) == 20
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-6
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    assert (big["n_docs"], small["n_docs"]) == (15, 5)
    assert set(big["label"].split()) <= {"spark", "shuffle", "executor"}
    assert set(small["label"].split()) <= {"violin", "sonata", "orchestra"}


def test_layout_writer_lease_enforced(spark, tmp_path_factory):
    """The single-writer contract is ENFORCED, not prose: while one
    build holds the lease, a second build, an append-family writer, and
    a compaction all fail loudly with ConcurrentWriterError; abandon
    releases without committing; a CRASHED writer's stale lock is
    stolen once past the TTL; release is idempotent."""
    import pytest

    from wrangler_spark.datapipe import _layout
    from wrangler_spark.datapipe.maintenance import compact_index

    path = str(tmp_path_factory.mktemp("lease")) + "/art"

    # build in flight: every other writer fails loudly
    vdir = _layout.begin_version(spark, path)
    with pytest.raises(_layout.ConcurrentWriterError, match="lease"):
        _layout.begin_version(spark, path)
    with pytest.raises(_layout.ConcurrentWriterError):
        with _layout.writer_lease(spark, path):
            pass
    with pytest.raises(_layout.ConcurrentWriterError):
        compact_index(spark, path)          # compaction is a writer too
    spark.createDataFrame([(1,)], "x int").write.parquet(f"{vdir}/data")
    _layout.commit_version(spark, vdir)

    # committed: the lease is free again, and writer_lease releases on error
    with pytest.raises(RuntimeError, match="boom"):
        with _layout.writer_lease(spark, path):
            raise RuntimeError("boom")
    with _layout.writer_lease(spark, path):
        pass

    # abandon: releases the lease, never commits the dir
    v2 = _layout.begin_version(spark, path)
    spark.createDataFrame([(2,)], "x int").write.parquet(f"{v2}/data")
    _layout.abandon_version(spark, v2)
    assert _layout.resolve(spark, path) == vdir
    v3 = _layout.begin_version(spark, path)     # lease free after abandon
    assert v3 != v2                             # abandoned number never reused

    # crashed writer (v3 never commits/abandons): within TTL the lock
    # blocks; past the TTL the next writer steals it
    with pytest.raises(_layout.ConcurrentWriterError):
        _layout.begin_version(spark, path)
    v4 = _layout.begin_version(spark, path, ttl_sec=0)  # stale -> stolen
    _layout.commit_version(spark, v4)

    # release is idempotent (no lock to delete)
    _layout.release_lease(spark, path)
    _layout.release_lease(spark, path)


def test_layout_lease_fencing_double_steal(spark, tmp_path_factory):
    """The double-steal window is FENCED at commit: writer A steals a
    stale lock, a second recovery writer B steals it again (emulated by
    rewriting the lock with a foreign token — what B's delete+create
    does from another process), and A's commit_version must raise
    ConcurrentWriterError WITHOUT creating the _COMMITTED marker — A's
    files stay invisible and vacuumable, B's lock stays in place."""
    import pytest

    from wrangler_spark.datapipe import _layout

    path = str(tmp_path_factory.mktemp("fence")) + "/art"

    # a committed v1 so resolve has a baseline
    v1 = _layout.begin_version(spark, path)
    spark.createDataFrame([(1,)], "x int").write.parquet(f"{v1}/data")
    _layout.commit_version(spark, v1)

    # crashed writer leaves a stale lock; writer A steals it
    _layout.begin_version(spark, path)          # "crashes" (no release)
    v_a = _layout.begin_version(spark, path, ttl_sec=0)
    spark.createDataFrame([(2,)], "x int").write.parquet(f"{v_a}/data")

    # writer B (another process) re-steals: delete + create with ITS token
    fs, root, jvm = _layout._fs(spark, path)
    lock = jvm.org.apache.hadoop.fs.Path(root, _layout._LOCK)
    fs.delete(lock, False)
    out = fs.create(lock, False)
    out.write(bytearray(b"b" * 32))
    out.close()

    # A's commit is fenced out; its version never becomes visible
    with pytest.raises(_layout.ConcurrentWriterError, match="fenced"):
        _layout.commit_version(spark, v_a)
    assert _layout.resolve(spark, path) == v1
    # B's lock survives A's failed commit AND a further release by A
    _layout.release_lease(spark, path)
    assert _layout._read_lock_token(fs, lock) == "b" * 32

    # B finishes its own build normally after writing its lease through
    # the real API: clear B's emulated lock and run a full cycle
    fs.delete(lock, False)
    v_b = _layout.begin_version(spark, path)
    spark.createDataFrame([(3,)], "x int").write.parquet(f"{v_b}/data")
    _layout.commit_version(spark, v_b)
    assert _layout.resolve(spark, path) == v_b


def test_kmeans_converge_fixed_point_and_equivalence(spark):
    """kmeans_converge is kmeans_centroids' own iterates under a shift
    test: with tol=0 it is bit-identical to the blind count (a fixed
    point reached early cannot move under further rounds), with the
    default tol it stops at a fixed point on separable data, and the
    assignment MSE never increases with more rounds (Lloyd's monotone
    guarantee, extended to the converged composition)."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [10.0, 1.0, 0.0] if i % 3 else [1.0, 10.0, 2.0]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    as_map = lambda cent: {r["centroid_id"]: r["zv"] for r in cent.collect()}  # noqa: E731
    blind3 = as_map(similarity.kmeans_centroids(df, k=2, iters=3, dim=3))
    conv = similarity.kmeans_converge(df, k=2, dim=3, tol=0.0, max_iters=3)
    assert as_map(conv) == blind3

    # default tol: converged == a much deeper blind run (fixed point)
    settled = similarity.kmeans_converge(df, k=2, dim=3)
    assert as_map(settled) == as_map(similarity.kmeans_centroids(df, k=2, iters=8, dim=3))

    # Lloyd monotonicity through the convergence loop: assignment MSE of
    # the converged centroids <= the 1-iteration centroids'
    def assign_mse(cent):
        c = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("cv"))
        a = similarity._assign_prepared(c, cent)
        return (
            c.join(a, "vec_id").join(cent, a["centroid_id"] == cent["centroid_id"])
            .select(F.aggregate(F.zip_with("cv", "zv", lambda x, y: (x - y) * (x - y)),
                                F.lit(0.0), lambda s, x: s + x).alias("e"))
            .agg(F.avg("e")).collect()[0][0]
        )

    m1 = assign_mse(similarity.kmeans_centroids(df, k=2, iters=1, dim=3))
    mc = assign_mse(settled)
    assert mc <= m1 + 1e-6


def test_cluster_topics_user_vec_dim_agnostic(spark):
    """The cluster-topics DIRECTIVE with a USER vec column whose dim is
    not 64 (regression: dim=64 was passed unconditionally, so non-64
    embeddings built 64-wide centroids, the mismatched zip_with cosine
    nulled out, and every doc silently tied to the lowest centroid id):
    both clusters must be found and labeled with their own vocabulary."""
    from wrangler_spark import Pipeline

    stop = "the of and is to " * 10
    rows = []
    for i in range(20):
        tech = i % 2 == 0
        vec = [1.0 + 0.01 * (i % 5), 0.0, 0.0] if tech else [0.0, 1.0 + 0.01 * (i % 5), 0.0]
        rows.append((i, stop + ("spark shuffle executor" if tech else "violin sonata orchestra"), vec))
    df = spark.createDataFrame(rows, "doc_id long, text string, emb array<double>")

    out = Pipeline.compile("cluster-topics :doc_id :text 2 3 :emb").apply(df)
    by_cluster = {}
    for r in out.collect():
        by_cluster.setdefault(r["cluster_id"], set()).add(r["term"])
    assert len(by_cluster) == 2, f"dim-3 user vectors collapsed to {by_cluster}"
    vocabs = list(by_cluster.values())
    tech_v = {"spark", "shuffle", "executor"}
    music_v = {"violin", "sonata", "orchestra"}
    assert (vocabs[0] <= tech_v and vocabs[1] <= music_v) or (
        vocabs[0] <= music_v and vocabs[1] <= tech_v
    )


def test_cap_pairs_per_doc_budget_and_strongest(spark):
    """The pair-volume governor: after capping, every doc appears in at
    most k pairs per side (2k total), the kept pairs are each side's
    STRONGEST (score descending, md5-hash tiebreak — deterministic and
    partition-invariant), and connected components still link a replica
    clique through its kept star edges. Recall of the capped set is
    quantified with pair_eval."""
    from wrangler_spark.datapipe.dedup import (
        cap_pairs_per_doc, connected_components, pair_eval,
    )

    # a 12-replica clique (66 pairs) + isolated weak pairs
    clique = [(a, b, 1.0 - 0.001 * (a + b)) for a in range(12) for b in range(a + 1, 12)]
    weak = [(100, 101, 0.5), (102, 103, 0.6)]
    pairs = spark.createDataFrame(
        clique + weak, "id_a long, id_b long, score double"
    )

    for parts in (1, 7):
        capped = cap_pairs_per_doc(pairs.repartition(parts), 3, "score")
        rows = sorted(map(tuple, capped.collect()))
        # deterministic across partitionings
        if parts == 1:
            first = rows
        else:
            assert rows == first
        per_a = capped.groupBy("id_a").count().agg(F.max("count")).collect()[0][0]
        per_b = capped.groupBy("id_b").count().agg(F.max("count")).collect()[0][0]
        assert per_a <= 3 and per_b <= 3
        # the isolated pairs are under every budget: untouched
        assert (100, 101, 0.5) in rows and (102, 103, 0.6) in rows

    # strongest-first: node 0's kept id_a pairs are its top-3 by score
    kept0 = sorted(
        r["score"] for r in capped.filter(F.col("id_a") == 0).collect()
    )
    want0 = sorted(s for a, b, s in clique if a == 0)[-3:]
    assert kept0 == want0

    # the clique still collapses to ONE component through star edges
    cc = connected_components(capped.select("id_a", "id_b"))
    comp = {r["id"]: r["component"] for r in cc.collect()}
    assert len({comp[i] for i in range(12)}) == 1

    # recall quantified: capped-vs-uncapped through pair_eval
    ev = pair_eval(capped, pairs.select("id_a", "id_b")).collect()[0]
    assert ev["precision"] == 1.0            # capping only drops pairs
    assert 0.4 < ev["recall"] < 1.0          # 12-clique at k=3: ~half kept


def test_pair_cap_wired_into_all_three_ops(spark, docs):
    """max_pairs_per_doc on overlap_pairs / ngram_jaccard_pairs /
    winnow_overlap: capped output is a subset of the uncapped output
    with per-side budgets enforced; default None is bit-identical to
    the pre-knob behavior."""
    from wrangler_spark.datapipe.text import winnow_overlap

    # replica-heavy corpus: 4 groups x 6 near-identical docs
    rows = []
    for g in range(4):
        base = f"group {g} shares this exact long sentence body " * 5
        for i in range(6):
            rows.append((g * 10 + i, base + f"tail{g}-{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for fn, kw, score in (
        (dedup.overlap_pairs, {"n": 3, "threshold": 0.5}, "overlap_coef"),
        (dedup.ngram_jaccard_pairs, {"n": 3, "threshold": 0.3}, "jaccard"),
        (winnow_overlap, {"k": 3, "w": 4, "min_shared": 1}, "shared_fps"),
    ):
        full = fn(df, "doc_id", "text", **kw)
        capped = fn(df, "doc_id", "text", **kw, max_pairs_per_doc=2)
        fset = {(r["id_a"], r["id_b"]) for r in full.collect()}
        cset = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert cset and cset <= fset, fn.__name__
        assert len(cset) < len(fset), fn.__name__        # the clique shrank
        per_side = (
            capped.groupBy("id_a").count().agg(F.max("count")).collect()[0][0]
        )
        assert per_side <= 2, fn.__name__


def test_candidate_budget_pre_verify(spark):
    """max_candidates_per_doc on overlap_pairs / ngram_jaccard_pairs:
    the r12 PRE-SCORE budget — candidates are ranked by shared-prefix-
    gram count and only each doc's top-k pay verification. Budgeted
    output is a subset of the unbudgeted output with per-side budgets
    enforced, deterministic across partitionings, a replica clique
    stays ONE connected component through the kept links, and recall
    is quantified with pair_eval."""
    from wrangler_spark.datapipe.dedup import connected_components, pair_eval

    # one 8-replica clique + two isolated true pairs
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    for i in range(8):
        rows.append((i, base + f"tail{i}"))
    rows += [(100, "completely different text about maritime law and ships sailing"),
             (101, "completely different text about maritime law and ships sailing here"),
             (200, "unrelated quarterly financial report with revenue tables inside"),
             (201, "unrelated quarterly financial report with revenue tables inside too")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # max_gram_df=None: the corpus-relative stop-gram cap would prune
    # the 8-replica clique's shared grams (df 8 > ceil(0.25 * 12)) and
    # leave nothing to budget — this test isolates the budget itself
    for fn, kw in (
        (dedup.overlap_pairs, {"n": 3, "threshold": 0.5, "max_gram_df": None}),
        (dedup.ngram_jaccard_pairs,
         {"n": 3, "threshold": 0.3, "max_gram_df": None}),
    ):
        full = fn(df, "doc_id", "text", **kw)
        fset = {(r["id_a"], r["id_b"]) for r in full.collect()}
        first = None
        for parts in (1, 7):
            budg = fn(df.repartition(parts), "doc_id", "text", **kw,
                      max_candidates_per_doc=2)
            bset = sorted((r["id_a"], r["id_b"]) for r in budg.collect())
            if first is None:
                first = bset
            else:
                assert bset == first, fn.__name__       # partition-invariant
        assert set(first) <= fset and first, fn.__name__
        assert len(first) < len(fset), fn.__name__      # the clique shrank
        budg = fn(df, "doc_id", "text", **kw, max_candidates_per_doc=2)
        per_a = budg.groupBy("id_a").count().agg(F.max("count")).collect()[0][0]
        per_b = budg.groupBy("id_b").count().agg(F.max("count")).collect()[0][0]
        assert per_a <= 2 and per_b <= 2, fn.__name__
        # the isolated true pairs survive any budget >= 1
        assert (100, 101) in set(first) and (200, 201) in set(first), fn.__name__
        # clique connectivity through the kept links
        cc = connected_components(budg.select("id_a", "id_b"))
        comp = {r["id"]: r["component"] for r in cc.collect()}
        assert len({comp[i] for i in range(8)}) == 1, fn.__name__
        # recall quantified: budget-vs-full through pair_eval
        ev = pair_eval(budg.select("id_a", "id_b"),
                       full.select("id_a", "id_b")).collect()[0]
        assert ev["precision"] == 1.0, fn.__name__      # budget only drops
        assert ev["recall"] > 0.3, fn.__name__
        # composes with the post-score pair cap (budget >= cap)
        both = fn(df, "doc_id", "text", **kw, max_candidates_per_doc=3,
                  max_pairs_per_doc=1)
        per_a2 = both.groupBy("id_a").count().agg(F.max("count")).collect()[0][0]
        assert per_a2 <= 1, fn.__name__


def test_forget_ids_retention_funnel_ivf(spark, tmp_path_factory):
    """The right-to-be-forgotten flow across the three id-addressable
    families: tombstones hide the ids from every keyed read IMMEDIATELY,
    compaction erases them PHYSICALLY (and drops the tombstones dataset),
    ledger rows survive, and a post-compaction re-ingest re-admits the
    key from a blank slate."""
    import datetime as dt

    from wrangler_spark.datapipe import _layout, events, similarity
    from wrangler_spark.datapipe.maintenance import compact_index, forget_ids

    ts = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    ev = spark.createDataFrame(
        [(u, ts(d), "a") for u in (1, 2, 3, 4) for d in (1, 2, 9)],
        "user_id long, ts timestamp, event_type string",
    )

    # --- retention state: grid == batch on the retained users
    rpath = str(tmp_path_factory.mktemp("forget_ret") / "st")
    events.retention_write_state(ev, rpath, "user_id", "ts", period_days=1)
    forget_ids(spark, rpath, [2, 4], "__u")
    key = lambda r: (str(r["cohort_start"]), r["period_offset"],  # noqa: E731
                     r["active_users"], r["retention"])
    got = sorted(map(key, events.retention_grid_from_state(spark, rpath, 30).collect()))
    want = sorted(map(key, events.retention_cohorts(
        ev.filter(~F.col("user_id").isin(2, 4)), "user_id", "ts", 1, 30
    ).collect()))
    assert got == want and len(got) > 0
    # active-users read path too
    au = events.active_users_from_state(spark, rpath, (1,))
    assert au.agg(F.max("au_1d")).collect()[0][0] == 2
    # compaction: physical erasure, tombstones gone, reads unchanged
    compact_index(spark, rpath)
    root = _layout.resolve(spark, rpath)
    import os

    assert not os.path.exists(f"{root}/tombstones")
    pairs_u = {r["__u"] for r in spark.read.parquet(f"{root}/pairs").collect()}
    assert pairs_u == {1, 3}
    assert sorted(map(key, events.retention_grid_from_state(spark, rpath, 30).collect())) == want
    # post-compaction re-ingest re-admits the key
    events.retention_update_state(
        spark.createDataFrame([(2, ts(16), "a")], "user_id long, ts timestamp, event_type string"),
        rpath, "user_id", "ts")
    assert 2 in {r["__u"] for r in spark.read.parquet(f"{root}/pairs").collect()}

    # --- funnel state: forgotten user leaves the summary; ledger survives
    fpath = str(tmp_path_factory.mktemp("forget_fun") / "st")
    events.funnel_init_state(spark, fpath, ["a", "b"])
    fev = spark.createDataFrame(
        [(1, ts(1), "a"), (1, ts(2), "b"), (2, ts(1), "a"), (2, ts(2), "b")],
        "user_id long, ts timestamp, event_type string")
    events.funnel_update_state(fev, fpath, "user_id", "ts", "event_type", "b0")
    forget_ids(spark, fpath, [1], "__u")
    got_f = {r["step"]: r["users"] for r in events.funnel_from_state(spark, fpath).collect()}
    assert got_f == {1: 1, 2: 1}
    compact_index(spark, fpath)
    rows = spark.read.parquet(_layout.resolve(spark, fpath) + "/rows")
    assert {r["__u"] for r in rows.filter(F.col("__u").isNotNull()).collect()} == {2}
    assert [r["batch_id"] for r in rows.filter(F.col("__u").isNull()).collect()] == ["b0"]

    # --- IVF index: forgotten vector never surfaces in queries
    ipath = str(tmp_path_factory.mktemp("forget_ivf") / "ix")
    vecs = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.01 * i for j in range(4)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    similarity.ivf_write_index(vecs, ipath, n_centroids=4, train_iters=1, dim=4)
    q = vecs.filter(F.col("vec_id") == 0)
    before = {r["vec_id"] for r in similarity.ivf_query_index(
        spark, ipath, q, "vec_id", "embedding", k=5, nprobe=4).collect()}
    victim = sorted(before - {0})[0]
    forget_ids(spark, ipath, [victim], "vec_id")
    after = {r["vec_id"] for r in similarity.ivf_query_index(
        spark, ipath, q, "vec_id", "embedding", k=5, nprobe=4).collect()}
    assert victim not in after and len(after) == 5   # k refills from survivors
    compact_index(spark, ipath)
    vrows = spark.read.parquet(_layout.resolve(spark, ipath) + "/vectors")
    assert victim not in {r["vec_id"] for r in vrows.collect()}
    still = {r["vec_id"] for r in similarity.ivf_query_index(
        spark, ipath, q, "vec_id", "embedding", k=5, nprobe=4).collect()}
    assert still == after


def test_forget_ids_refusals(spark, tmp_path_factory, docs):
    """Artifacts that cannot honor a delete refuse LOUDLY: Bloom bitmaps
    (shared bits) and vocabulary state (unattributable counts); unknown
    keys and key-less artifacts are errors, not silent no-ops."""
    import pytest

    from wrangler_spark.datapipe import text
    from wrangler_spark.datapipe.maintenance import forget_ids

    bpath = str(tmp_path_factory.mktemp("forget_bloom") / "ix")
    dedup.bloom_write_index(docs, bpath, "text", bits=1 << 10, num_hashes=3)
    with pytest.raises(ValueError, match="Bloom"):
        forget_ids(spark, bpath, [1], "id")

    vpath = str(tmp_path_factory.mktemp("forget_vocab") / "st")
    text.vocab_update_state(docs, vpath, "text", "b0")
    with pytest.raises(ValueError, match="vocabulary"):
        forget_ids(spark, vpath, [1], "id")

    with pytest.raises(ValueError, match="key must be one of"):
        forget_ids(spark, vpath, [1], "doc_id")


def test_snapshot_time_travel(spark, tmp_path_factory):
    """Version-pinned reads: each compaction commits a new snapshot, and
    resolve(version=)/vocab_from_state(version=) reads the state AS OF
    that snapshot; snapshots() lists them; a vacuumed or never-committed
    pin raises instead of silently serving latest."""
    import pytest as _pytest

    from wrangler_spark.datapipe import _layout, maintenance

    df1 = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    df2 = spark.createDataFrame([(2, "alpha gamma")], ["doc_id", "text"])

    # appends land in the CURRENT version, so v_N freezes when v_{N+1}
    # is created: pin v_N == state as of the NEXT compaction. Cadence:
    # fold b0 -> compact(v1) -> fold b1 (appends into v1) -> compact(v2,
    # = b0+b1, and v1 is now frozen at b0+b1 too) -> fold b2 (appends
    # into v2). Pin v1 must see b0+b1 and NOT b2.
    path = str(tmp_path_factory.mktemp("tt")) + "/st"
    text.vocab_update_state(df1, path, "text", "b0")
    maintenance.compact_index(spark, path)
    v1 = [s["version"] for s in maintenance.snapshots(spark, path) if s["committed"]][-1]
    text.vocab_update_state(df1, path, "text", "b1")
    maintenance.compact_index(spark, path)
    v2 = [s["version"] for s in maintenance.snapshots(spark, path) if s["committed"]][-1]
    assert v2 > v1
    text.vocab_update_state(df2, path, "text", "b2")  # post-seal append

    now = {r["word"]: r["count"] for r in text.vocab_from_state(spark, path).collect()}
    old = {r["word"]: r["count"] for r in text.vocab_from_state(spark, path, version=v1).collect()}
    assert now["alpha"] == 3 and old["alpha"] == 2
    assert "gamma" in now and "gamma" not in old

    with _pytest.raises(ValueError, match="no committed version"):
        _layout.resolve(spark, path, version=99)
    # vacuum with keep=1 reclaims v1 -> the pin must now fail loudly
    _layout.vacuum(spark, path, keep=1)
    with _pytest.raises(ValueError, match="no committed version"):
        text.vocab_from_state(spark, path, version=v1).collect()
    # and the unpinned read still serves the live state
    assert {r["word"]: r["count"] for r in
            text.vocab_from_state(spark, path).collect()}["alpha"] == 3


def test_retention_grid_time_travel(spark, tmp_path_factory):
    """The dashboard form: the grid pinned at the pre-fold snapshot
    shows only the first batch's users."""
    from wrangler_spark.datapipe import events, maintenance

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-02 00:00:00"),
         (2, "2024-01-01 12:00:00")],
        ["user_id", "ts"],
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 06:00:00"), (3, "2024-01-03 00:00:00")],
        ["user_id", "ts"],
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))

    path = str(tmp_path_factory.mktemp("rg")) + "/st"
    events.retention_write_state(ev, path, "user_id", "ts", period_days=1)
    v1 = [s["version"] for s in maintenance.snapshots(spark, path) if s["committed"]][-1]
    maintenance.compact_index(spark, path)   # freezes v1 at the ev-only state
    events.retention_update_state(late, path, "user_id", "ts")

    cur = events.retention_grid_from_state(spark, path, max_periods=8)
    oldg = events.retention_grid_from_state(spark, path, max_periods=8, version=v1)
    day0 = {r["period_offset"]: r["active_users"] for r in cur.collect()
            if str(r["cohort_start"]).startswith("2024-01-01")}
    day0_old = {r["period_offset"]: r["active_users"] for r in oldg.collect()
                if str(r["cohort_start"]).startswith("2024-01-01")}
    assert day0[0] == 3 and day0_old[0] == 2   # user 3 folded after the pin


def test_key_skew_and_summary(spark):
    from wrangler_spark.datapipe import curation

    # key "a" x5, "b" x3, "c" x3, null x1 — boundary tie at k=2 resolves
    # by key asc; null is a REAL group (the silent join-skew case)
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 3 + [(None,)]
    df = spark.createDataFrame(rows, "k string")
    top = [tuple(r) for r in curation.key_skew(df, "k", k=2).collect()]
    assert top[0] == ("a", 5, round(5 / 12, 6))
    assert top[1] == ("b", 3, round(3 / 12, 6))   # tie b/c -> key asc
    s = curation.key_skew_summary(df, "k").collect()[0]
    assert (s["n_rows"], s["n_keys"]) == (12, 4)
    assert s["max_share"] == round(5 / 12, 6)
    assert s["skew_ratio"] == round(5 / 3.0, 6)
    import pytest as _pytest

    assert s["hhi"] == _pytest.approx((25 + 9 + 9 + 1) / 144, abs=1e-6)
    with _pytest.raises(ValueError, match="k must be"):
        curation.key_skew(df, "k", k=0)


def test_luhn_gated_pii_redaction(spark):
    from wrangler_spark.datapipe import curation

    valid = "4111111111111111"        # classic Luhn-valid test number
    invalid = "4111111111111112"      # same shape, checksum fails
    rows = [
        (1, f"card {valid} ok"),
        (2, f"order {invalid} id"),
        (3, f"both {valid} and {invalid} here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # plain mode redacts both shapes (the recall-first default)
    plain = {r["doc_id"]: r for r in curation.pii_redact(df, "text").collect()}
    assert "<CC>" in plain[1]["text"] and "<CC>" in plain[2]["text"]

    # luhn mode redacts only the checksum-passing run
    got = {r["doc_id"]: r for r in
           curation.pii_redact(df, "text", luhn_check=True).collect()}
    assert got[1]["text"] == "card <CC> ok" and got[1]["n_pii_cc"] == 1
    assert got[2]["text"] == f"order {invalid} id" and got[2]["n_pii_cc"] == 0
    assert got[3]["text"] == f"both <CC> and {invalid} here"
    assert got[3]["n_pii_cc"] == 1

    # the checksum itself, against the python reference
    def luhn_py(s):
        ds = [int(x) for x in s if x.isdigit()][::-1]
        if not 13 <= len(ds) <= 19:
            return False
        return sum(d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
                   for i, d in enumerate(ds)) % 10 == 0

    cands = [valid, invalid, "1234 5678 1234 5678", "5500-0000-0000-0004",
             "378282246310005", "12345", "4111111111111111111111"]
    cdf = spark.createDataFrame([(x,) for x in cands], "s string")
    got_l = {r["s"]: r["ok"] for r in
             cdf.select("s", curation.luhn_valid(F.col("s")).alias("ok")).collect()}
    for x in cands:
        assert got_l[x] == luhn_py(x), x


def test_collocations_pmi(spark):
    import math

    df = spark.createDataFrame(
        [(1, "new york is big and new york is old"),
         (2, "i love new york and old york")],
        ["doc_id", "text"],
    )
    got = [tuple(r) for r in text.collocations(df, "text", k=5, min_count=2).collect()]
    # "new york" occurs 3x; hand-compute PMI over T=16 tokens, B=14 pairs
    toks = "new york is big and new york is old i love new york and old york".split()
    T = len(toks)
    c = {w: toks.count(w) for w in set(toks)}
    pmi_ny = round(math.log2((3 / 14) / ((c["new"] / T) * (c["york"] / T))), 6)
    assert got[0][:3] == ("new", "york", 3) and abs(got[0][3] - pmi_ny) < 2e-6
    # min_count floor drops 1-count pairs entirely
    assert all(n >= 2 for _, _, n, _ in got)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_count"):
        text.collocations(df, "text", k=0)


def test_sample_weighted_proportions_and_determinism(spark):
    from wrangler_spark.datapipe import curation

    df = spark.range(20000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, 1.0).otherwise(0.25).alias("w"),
    )
    kept = curation.sample_weighted(df, "id", "w", rate=1.0)
    n_full = kept.filter("w = 1.0").count()
    n_quarter = kept.filter("w = 0.25").count()
    assert n_full == 10000                       # p=1 keeps everything
    assert abs(n_quarter - 2500) < 250           # p=0.25 ± noise
    # byte-identical replay; salt reshuffles the winners
    again = curation.sample_weighted(df, "id", "w", rate=1.0)
    assert kept.exceptAll(again).count() == 0 and again.exceptAll(kept).count() == 0
    other = curation.sample_weighted(df, "id", "w", rate=1.0, salt="s2")
    assert other.filter("w = 0.25").count() != n_quarter or \
        other.exceptAll(kept).count() > 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rate"):
        curation.sample_weighted(df, "id", "w", rate=-0.1)


def test_graph_directives(spark):
    from wrangler_spark import Pipeline

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], ["s", "d"]
    )
    r = Pipeline.compile("graph-triangles :s :d").transform(edges)
    got = {row["node"]: row["triangles"] for row in r.df.collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
    r2 = Pipeline.compile("graph-khop :s :d 'a' 1").transform(edges)
    assert {(row["node"], row["hop"]) for row in r2.df.collect()} == {
        ("a", 0), ("b", 1), ("c", 1),
    }


# --------------------------------------------------------- calibration bins


def _cal_df(spark):
    # 8 rows, bins=4: bin 0 gets (0.1,0), (0.2,1); bin 1 gets (0.3,0);
    # bin 3 gets (0.8,1), (0.9,1), (1.0,1) — score 1.0 clamps into the
    # last bin; nulls drop
    rows = [
        (0.1, 0), (0.2, 1), (0.3, 0), (0.8, 1), (0.9, 1), (1.0, 1),
        (None, 1), (0.5, None),
    ]
    return spark.createDataFrame(rows, "score double, y int")


def test_calibration_bins_hand_computed(spark):
    from wrangler_spark.datapipe.numeric import calibration_bins

    got = {
        r["bin"]: (r["n"], r["mean_score"], r["frac_pos"])
        for r in calibration_bins(_cal_df(spark), "score", "y", 4).collect()
    }
    assert got == {
        0: (2, 0.15, 0.5),
        1: (1, 0.3, 0.0),
        3: (3, 0.9, 1.0),
    }


def test_calibration_summary_hand_computed(spark):
    from wrangler_spark.datapipe.numeric import calibration_summary

    row = calibration_summary(_cal_df(spark), "score", "y", 4).collect()[0]
    # ECE = (2*|0.5-0.15| + 1*|0-0.3| + 3*|1-0.9|) / 6 = 1.3/6
    assert row["n"] == 6
    assert row["ece"] == pytest.approx(round(1.3 / 6, 6), abs=2e-6)
    # Brier = mean of (s-y)^2 = (0.01+0.64+0.09+0.04+0.01+0.0)/6
    assert row["brier"] == pytest.approx(round(0.79 / 6, 6), abs=2e-6)


def test_calibration_bins_validates(spark):
    from wrangler_spark.datapipe.numeric import calibration_bins

    bad_score = spark.createDataFrame([(1.5, 1)], "score double, y int")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        calibration_bins(bad_score, "score", "y")
    bad_label = spark.createDataFrame([(0.5, 2)], "score double, y int")
    with pytest.raises(ValueError, match=r"\{0, 1\}"):
        calibration_bins(bad_label, "score", "y")
    df = spark.createDataFrame([(0.5, 1)], "score double, y int")
    with pytest.raises(ValueError, match="bins"):
        calibration_bins(df, "score", "y", 1)


def test_calibration_bins_boolean_labels_and_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame(
        [(0.2, True), (0.2, False), (0.9, True)], "score double, y boolean"
    )
    r = Pipeline.compile("calibration-bins :score :y 5").transform(df)
    got = {row["bin"]: row["frac_pos"] for row in r.df.collect()}
    assert got == {1: 0.5, 4: 1.0}


# ------------------------------------------------------------- code signals


def test_code_signals_routes_code_and_prose(spark):
    py = "def f(x):\n    return x + 1\n\nclass A:\n    def g(self):\n        import os\n        return os"
    c = "int main() {\n  int x = 0;\n  printf(\"hi\");\n  return x;\n}"
    prose = ("The quick brown fox jumps over the lazy dog. "
             "It was a bright cold day in April, and the clocks "
             "were striking thirteen.")
    yaml_ish = "top:\n  a: 1\n  b: 2\n  c: 3"
    df = spark.createDataFrame(
        [(1, py), (2, c), (3, prose), (4, yaml_ish)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.code_signals(df, "text").collect()}
    assert got[1]["is_code"] and got[2]["is_code"]
    assert not got[3]["is_code"]
    assert got[4]["is_code"]  # block indentation >= 0.3
    # signal sanity: the C snippet's terminator lines dominate
    assert got[2]["eol_code_frac"] >= 0.6
    assert got[3]["kw_hits"] == 0 and got[3]["indent_frac"] == 0.0
    # passthrough: input columns survive
    assert "text" in got[1].asDict()


def test_code_signals_empty_and_directive(spark):
    from wrangler_spark import Pipeline

    df = spark.createDataFrame([(1, ""), (2, "x = 1;")], ["doc_id", "text"])
    r = Pipeline.compile("code-signals :text").transform(df)
    got = {row["doc_id"]: row for row in r.df.collect()}
    assert got[1]["is_code"] is False and got[1]["sym_density"] == 0.0
    assert got[2]["eol_code_frac"] == 1.0 and got[2]["is_code"]
