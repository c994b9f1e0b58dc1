"""Graph ranking over edge lists — crawl-frontier prioritization.

The 100 TB use case is Common-Crawl-style crawl ordering: rank domains
(or URLs, or event types) by the stationary visit probability of a
random surfer over the observed link/transition graph, then feed the
ranking into crawl budgets and mixture weights. PageRank (Page et al.
1999, "The PageRank Citation Ranking") is the public-knowledge baseline;
Common Crawl publishes exactly this kind of host-level ranking.

Scale shape — the edge list is the 100 TB side, the rank vector is
node-sized:

- edge weights are normalized to out-probabilities ONCE, then the edge
  frame is hash-partitioned on the source key and checkpointed: every
  iteration's join re-uses that partitioning (the ranks side is the
  small, freshly-shuffled side each round — AQE broadcasts it when the
  node universe fits);
- each iteration is one join + one groupBy(dst) — both bounded by the
  edge count, never quadratic; no windows anywhere;
- dangling mass (nodes with no out-edges) is a 1-row aggregate
  cross-joined back (the sanctioned broadcast-nested-loop shape);
- per-iteration ``eager_checkpoint`` with release of the superseded
  round's blocks — the connected_components / pq_train loop lifecycle.

No reference analog (the reference has no graph operators); this is
part of the repo's LLM-data-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrangler_spark.datapipe._local import local_table

from ._checkpoint import eager_checkpoint, eager_checkpoint_observed, release

__all__ = [
    "graph_pagerank", "graph_label_propagation", "graph_triangles",
    "graph_khop", "graph_hits", "graph_summary", "graph_sssp",
]


def graph_pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    seeds: list | None = None,
) -> DataFrame:
    """PageRank over a weighted directed edge list.

    Returns one row per node: (node, pagerank) with pagerank rounded to
    6dp at the END (intermediate iterations keep full precision; the
    single terminal rounding is the repo's determinism contract for
    float aggregates whose partial-sum order varies across partitionings).

    Semantics (the standard formulation):

    - edge weights (default 1.0) are normalized per source node to
      transition probabilities w/sum(w over src);
    - rank starts uniform at 1/N over the node universe (any endpoint of
      any edge);
    - each iteration:
      ``r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)·p(u,v) + dangling/N)``
      where ``dangling = Σ r(u)`` over nodes with no out-edges — their
      mass teleports uniformly, so total rank stays 1.0 every round;
    - ``iters`` fixed iterations (deterministic, oracle-mirrorable) —
      PageRank converges geometrically at rate ``damping``, so 5–20
      rounds is the practical range; no early-exit tolerance knob keeps
      the result independent of float comparison order.

    Null src/dst rows are dropped; non-positive edge weights raise (a
    zero row would silently vanish from the normalizer, a negative one
    breaks the probabilistic reading).

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala 2002; the
    TrustRank crawl-spam-demotion form, Gyöngyi et al. 2004): teleport
    and dangling mass return only to the seed set (uniformly across the
    seeds present in the graph), and rank starts on the seeds — scores
    become "closeness to the trusted set", so link-farm clusters with
    no inbound path from the seeds decay toward zero. Seed lists are
    request-sized (the forget_ids bound): membership tests compile to a
    broadcast literal set. Raises when no seed appears in the graph.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
            w.alias("__w"),
        )
    )
    # out-probability normalization, once — the only pass that touches
    # raw weights. The weight-validation flag rides the SAME aggregate
    # (checkpointed, node-sized), so validation costs a bounded read of
    # the checkpoint instead of its own full scan of the input edge
    # frame — with an expensive edge source (textrank's corpus pair
    # counts) the old separate `filter(bad).limit(1).count()` re-ran
    # that whole subtree once more (guide §1.2: don't compute things
    # you throw away).
    outw, got_w = eager_checkpoint_observed(
        e.groupBy("__s").agg(
            F.sum("__w").alias("__ow"),
            F.max(F.when(F.col("__w").isNull() | (F.col("__w") <= 0), 1)
                  .otherwise(0)).alias("__badw"),
        ),
        F.max("__badw").alias("bad"),
    )
    if weight_col is not None:
        # the guard scalar rode the checkpoint's own job (observe);
        # None = empty edge frame = nothing bad
        if got_w["bad"]:
            release(outw)
            raise ValueError(f"edge weight column {weight_col!r} has null or non-positive values")
    e = e.join(outw.select("__s", "__ow"), "__s").select(
        "__s", "__d", (F.col("__w") / F.col("__ow")).alias("__p")
    )
    # pin the per-source partitioning so all `iters` joins reuse it
    e = eager_checkpoint(e.repartition("__s"))
    release(outw)

    # node universe + dangling flag (no out-edges ⇒ appears only as dst)
    nodes = (
        e.select(F.col("__s").alias("__n"))
        .union(e.select(F.col("__d").alias("__n")))
        .distinct()
        .join(
            e.select(F.col("__s").alias("__n")).distinct().withColumn("__has_out", F.lit(True)),
            "__n",
            "left",
        )
        .select("__n", F.coalesce("__has_out", F.lit(False)).alias("__has_out"))
    )
    # node count (and seed-intersection count, personalized form) ride
    # the node checkpoint's own job via observe — no separate scalar
    # jobs over the just-pinned blocks
    seed_strs = [str(s) for s in seeds] if seeds is not None else None
    node_metrics = [F.count(F.lit(1)).alias("n")]
    if seed_strs is not None:
        node_metrics.append(
            F.count(F.when(F.col("__n").isin(seed_strs), 1)).alias("ns"))
    nodes, got_n = eager_checkpoint_observed(nodes, *node_metrics)
    n_nodes = got_n["n"]
    if n_nodes == 0:
        return nodes.select(
            F.col("__n").alias("node"), F.lit(0.0).alias("pagerank")
        )

    # teleport vector: uniform 1/N, or 1/|seeds∩nodes| on the seed set
    # (personalized form — teleport, dangling mass, and the start vector
    # all follow it, so total rank stays 1.0 either way)
    if seeds is not None:
        n_seeds = got_n["ns"]
        if n_seeds == 0:
            raise ValueError(
                f"none of the {len(seed_strs)} seeds appear in the graph's "
                "node set — personalized PageRank needs at least one")
        tele = F.when(
            F.col("__n").isin(seed_strs), F.lit(1.0 / n_seeds)
        ).otherwise(F.lit(0.0))
    else:
        tele = F.lit(1.0 / n_nodes)
    nodes = nodes.withColumn("__t", tele)

    ranks = eager_checkpoint(
        nodes.select("__n", "__has_out", F.col("__t").alias("__r"))
    )
    for _ in range(iters):
        contrib = (
            ranks.join(e, ranks["__n"] == e["__s"])
            .groupBy("__d")
            .agg(F.sum(F.col("__r") * F.col("__p")).alias("__c"))
            .select(F.col("__d").alias("__n2"), "__c")
        )
        dang = ranks.filter(~F.col("__has_out")).agg(
            F.coalesce(F.sum("__r"), F.lit(0.0)).alias("__dm")
        )
        new_ranks = eager_checkpoint(
            nodes.join(contrib, nodes["__n"] == contrib["__n2"], "left")
            .crossJoin(F.broadcast(dang))  # 1-row stats frame
            .select(
                "__n",
                "__has_out",
                (
                    F.lit(1.0 - damping) * F.col("__t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.col("__dm") * F.col("__t")
                    )
                ).alias("__r"),
            )
        )
        release(ranks)
        ranks = new_ranks
    # the result reads only the final ranks checkpoint — the edge and
    # node frames are provably out of its lineage now
    release(e)
    release(nodes)
    return ranks.select(
        F.col("__n").alias("node"), F.round("__r", 6).alias("pagerank")
    )


def graph_label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str | None = None,
    iters: int = 5,
    directed: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007): every node starts in its own community (label
    = its own id), then for ``iters`` rounds each node adopts the label
    carrying the largest incoming edge-weight sum among its neighbors'
    CURRENT labels — ties break to the smallest label, so the result is
    fully deterministic (the published algorithm breaks ties randomly;
    the deterministic variant is the oracle-mirrorable one). Returns one
    row per node: (node, community).

    By default the graph is treated as UNDIRECTED (edges are
    symmetrized — the natural reading for near-dup pair lists and
    co-occurrence graphs); pass ``directed=True`` to propagate along
    edge direction only, in which case source-only nodes keep their own
    label (they receive no votes).

    Scale shape — identical to :func:`graph_pagerank`: edges
    hash-partitioned on the vote-receiving key once and checkpointed,
    each round is one join + two bounded aggregations (groupBy
    (node, label) then per-node argmax via a min-struct — no rank
    window), superseded label frames released per round. Synchronous
    updates can oscillate between two labelings on bipartite-ish
    structures; a fixed ``iters`` keeps that deterministic rather than
    non-terminating."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
            w.alias("__w"),
        )
    )
    if not directed:
        e = e.union(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"), "__w"))
    # merge parallel edges once so every round's vote aggregation sees
    # one (src, dst) row; partition on the vote SOURCE for join reuse
    e = eager_checkpoint(
        e.groupBy("__s", "__d").agg(F.sum("__w").alias("__w")).repartition("__s")
    )
    # the label frame IS the node universe every round (initialized from
    # it, preserved by the left join below), so the old per-round
    # three-way join through a separate checkpointed `nodes` frame was
    # redundant: voting-for-nobody nodes keep their current label via
    # the coalesce, identical output with one join per round
    labels = eager_checkpoint(
        e.select(F.col("__s").alias("__n"))
        .union(e.select(F.col("__d").alias("__n")))
        .distinct()
        .select("__n", F.col("__n").alias("__l"))
    )
    for _ in range(iters):
        votes = (
            labels.join(e, labels["__n"] == e["__s"])
            .groupBy("__d", "__l")
            .agg(F.sum("__w").alias("__vw"))
            .groupBy("__d")
            .agg(
                F.min(F.struct((-F.col("__vw")).alias("nw"), F.col("__l").alias("l")))
                .alias("__top")
            )
            .select(F.col("__d").alias("__n2"), F.col("__top.l").alias("__nl"))
        )
        new_labels = eager_checkpoint(
            labels.join(votes, labels["__n"] == votes["__n2"], "left")
            .select("__n", F.coalesce("__nl", "__l").alias("__l"))
        )
        release(labels)
        labels = new_labels
    release(e)
    return labels.select(F.col("__n").alias("node"), F.col("__l").alias("community"))


def graph_hits(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str | None = None,
    iters: int = 5,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over a directed
    edge list: a good AUTHORITY is pointed at by good hubs, a good HUB
    points at good authorities — the complementary reading to
    PageRank's single score (a links-out-heavy index page ranks low on
    PageRank but is exactly the hub a crawler wants for frontier
    expansion; authority separates the pointed-AT spam target from the
    pages vouching for it). Returns (node, hub, authority) rounded 6dp
    terminally.

    Each round: authority = Σ incoming hub (edge-weighted), hub =
    Σ outgoing NEW authority, each L1-normalized to sum 1 (the
    normalization makes ``iters`` fixed rounds scale-free; L1 rather
    than Kleinberg's L2 so the oracle's division mirrors exactly —
    documented divergence, rankings identical). Nodes with no in-edges
    hold authority 0, no out-edges hub 0.

    Scale shape — the graph_pagerank harness: edges normalized once,
    hash-partitioned and checkpointed; each round is two join+groupBy
    passes bounded by the edge count; the L1 total is a 1-row aggregate
    cross-joined back (the sanctioned broadcast shape); superseded
    score frames released per round."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
            w.alias("__w"),
        )
    )
    # the bad-weight guard rides the merge aggregate + checkpoint job
    # (the pagerank outw pattern) instead of its own full scan of the
    # raw edge frame; the per-pair flag column stays out of the loop's
    # working frame via the post-checkpoint projection
    e_ck, got_w = eager_checkpoint_observed(
        e.groupBy("__s", "__d").agg(
            F.sum("__w").alias("__w"),
            F.max(F.when(F.col("__w").isNull() | (F.col("__w") <= 0), 1)
                  .otherwise(0)).alias("__badw"),
        ).repartition("__s"),
        F.max("__badw").alias("bad"),
    )
    if weight_col is not None and got_w["bad"]:
        release(e_ck)
        raise ValueError(
            f"edge weight column {weight_col!r} has null or non-positive values")
    e = e_ck.select("__s", "__d", "__w")
    nodes, got_n = eager_checkpoint_observed(
        e.select(F.col("__s").alias("__n"))
        .union(e.select(F.col("__d").alias("__n")))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    n_nodes = got_n["n"]
    if n_nodes == 0:
        return nodes.select(
            F.col("__n").alias("node"),
            F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority"),
        )
    scores = eager_checkpoint(nodes.select(
        "__n", F.lit(1.0 / n_nodes).alias("__h"), F.lit(0.0).alias("__a")
    ))
    # r13 batch 17 NOTE (measured, reverted): riding the L1 totals on the
    # round checkpoints via observe() and dividing by the driver literal
    # read ~20% SLOWER in interleaved A/B (events_hits 2.19/2.36 s →
    # 2.69/2.91 s medians, consistent across both alternations) — each
    # Observation.get waits on the async listener bus, while the
    # crossJoin(broadcast(atot)) subtree below reuses the araw shuffle
    # stage under AQE, so the "second computation" it looked like in the
    # formatted plan costs almost nothing at runtime. Kept the broadcast
    # shape (guide §1.1: the measured plan beats the ideal one).
    for _ in range(iters):
        araw = (
            scores.join(e, scores["__n"] == e["__s"])
            .groupBy("__d")
            .agg(F.sum(F.col("__h") * F.col("__w")).alias("__ar"))
        )
        atot = araw.agg(F.sum("__ar").alias("__at"))
        # auth feeds BOTH the hub pass and the new-scores assembly below;
        # left lazy, the scores⋈edges aggregation behind it runs twice
        # per round (Spark does no cross-branch subtree reuse within one
        # action — guide §7.2 "duplicated subtrees"). Checkpoint it once
        # per round and release it as soon as new_scores materializes.
        auth = eager_checkpoint(
            nodes.join(araw, nodes["__n"] == araw["__d"], "left")
            .crossJoin(F.broadcast(atot))  # 1-row stats frame
            .select(
                "__n",
                (F.coalesce(F.col("__ar"), F.lit(0.0)) / F.col("__at"))
                .alias("__a"),
            )
        )
        hraw = (
            auth.join(e, auth["__n"] == e["__d"])
            .groupBy("__s")
            .agg(F.sum(F.col("__a") * F.col("__w")).alias("__hr"))
        )
        htot = hraw.agg(F.sum("__hr").alias("__ht"))
        new_scores = eager_checkpoint(
            nodes.join(auth.select(F.col("__n").alias("__n2"), "__a"),
                       nodes["__n"] == F.col("__n2"), "left")
            .join(hraw, nodes["__n"] == hraw["__s"], "left")
            .crossJoin(F.broadcast(htot))  # 1-row stats frame
            .select(
                "__n",
                (F.coalesce(F.col("__hr"), F.lit(0.0)) / F.col("__ht"))
                .alias("__h"),
                F.coalesce(F.col("__a"), F.lit(0.0)).alias("__a"),
            )
        )
        release(scores)
        release(auth)
        scores = new_scores
    release(e_ck)
    release(nodes)
    return scores.select(
        F.col("__n").alias("node"),
        F.round("__h", 6).alias("hub"),
        F.round("__a", 6).alias("authority"),
    )


def graph_triangles(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the UNDIRECTED simple graph induced by the edge list (direction and
    multiplicity collapse; self-loops drop). Returns one row per node:
    (node, degree, triangles, clustering) with clustering =
    2·T / (deg·(deg−1)) rounded 6dp, NULL when degree < 2.

    The near-dup-cluster density probe: a cluster whose members form a
    near-clique (clustering → 1) is one document replicated, safe to
    collapse to a canonical; a low-clustering hub is a template chaining
    UNLIKE documents through shared boilerplate — collapsing it merges
    distinct content. Same diagnostic for crawl host graphs.

    Scale shape — the degree-ordered wedge join (the compact-forward
    algorithm; Schank & Wagner 2005, Latapy 2008): every edge is
    oriented from its lower (degree, node) endpoint to its higher, so
    each triangle is generated exactly once and the wedge join's
    fan-out per node is bounded by its ORIENTED out-degree ≤ O(√m) —
    total wedge work O(m^1.5) worst case, not Σ deg², which is the
    difference between a skewed hub exploding the join and not. Three
    bounded joins + one explode + one groupBy; no windows; the oriented
    edge frame is checkpointed and hash-partitioned once and reused by
    both sides of the wedge join and the closure probe."""
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__x"),
            F.col(dst).cast("string").alias("__y"),
        )
    )
    ce = (
        e.select(
            F.least("__x", "__y").alias("__a"),
            F.greatest("__x", "__y").alias("__b"),
        )
        .filter(F.col("__a") != F.col("__b"))
        .distinct()
    )
    ce = eager_checkpoint(ce)
    deg = (
        ce.select(F.col("__a").alias("__n"))
        .union(ce.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    deg = eager_checkpoint(deg)
    # orient each edge low→high in the total order (degree, node id) —
    # struct comparison gives the same lexicographic order both here
    # and in the DuckDB row-value mirror
    da = deg.select(F.col("__n").alias("__a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("__n").alias("__b"), F.col("degree").alias("__db"))
    ka = F.struct(F.col("__da").alias("k1"), F.col("__a").alias("k2"))
    kb = F.struct(F.col("__db").alias("k1"), F.col("__b").alias("k2"))
    o = (
        ce.join(da, "__a").join(db, "__b")
        .select(
            F.when(ka < kb, F.col("__a")).otherwise(F.col("__b")).alias("__u"),
            F.when(ka < kb, F.col("__b")).otherwise(F.col("__a")).alias("__v"),
        )
    )
    o = eager_checkpoint(o.repartition("__u"))
    # wedges u→v→w (u<v<w in the orientation order, so u≠w for free),
    # closed by the oriented edge u→w
    o2 = o.select(F.col("__u").alias("__v2"), F.col("__v").alias("__w"))
    o3 = o.select(F.col("__u").alias("__u3"), F.col("__v").alias("__w3"))
    tri = (
        o.join(o2, o["__v"] == o2["__v2"])
        .join(
            o3,
            (F.col("__u") == F.col("__u3")) & (F.col("__w") == F.col("__w3")),
            "left_semi",
        )
        .select("__u", "__v", "__w")
    )
    tn = (
        tri.select(
            F.explode(F.array("__u", "__v", "__w")).alias("__n")
        )
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    out = (
        deg.join(tn, "__n", "left")
        .select(
            F.col("__n").alias("node"),
            "degree",
            F.coalesce("__t", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0) * F.coalesce("__t", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
                    6,
                ),
            ).alias("clustering"),
        )
    )
    release(ce)
    return out


def graph_khop(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: list,
    k: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Bounded breadth-first reachability: every node within ``k`` hops
    of the seed set, with its MINIMUM hop distance. Returns (node, hop);
    seeds are hop 0 (a node always reaches itself, so seeds absent from
    the edge list still appear — the query stays total when a seed's
    document was deduplicated away upstream).

    The contamination-propagation primitive: seed with known-bad
    documents (benchmark leaks, spam clusters) and the 2-hop closure
    over the near-dup pair graph is the quarantine list — or seed with
    trusted hosts and the k-hop frontier is the crawl whitelist
    (directed=True follows link direction).

    Scale shape — ``k`` rounds, each ONE join (frontier ⋈ edges) + one
    anti-join against the reached set; both sides bounded by the edge
    count, never the node universe squared. The edge frame is
    deduplicated, hash-partitioned on the traversal key once, and
    checkpointed so every round reuses the partitioning; frontiers are
    checkpointed per round and released when superseded. Early-exits
    when a frontier empties, counted by observe() on the frontier
    checkpoint's own job (one fewer job per round; a lazy-union reached
    set was tried and measured ~50% slower — the anti-join must read
    ONE checkpointed frame, not k RDD scans)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if not seeds:
        raise ValueError("graph_khop needs a non-empty seed list")
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
        )
    )
    if not directed:
        e = e.union(
            e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
        )
    e = eager_checkpoint(e.distinct().repartition("__s"))
    spark = edges.sparkSession
    seed_df = local_table(spark,
        [(str(s),) for s in sorted({str(s) for s in seeds})], "__n string"
    )
    # the empty-frontier early-exit count rides each frontier
    # checkpoint's own job via observe() — two jobs per round (frontier
    # ckpt + reached-union ckpt) instead of three. The reached set stays
    # an accumulated single checkpoint: a lazy union of per-hop frontier
    # checkpoints was tried and measured ~50% slower (the per-round
    # anti-join then scans k RDDs instead of one).
    reached = eager_checkpoint(
        seed_df.select("__n", F.lit(0).cast("int").alias("__h"))
    )
    frontier = reached
    for i in range(1, k + 1):
        nxt, got = eager_checkpoint_observed(
            frontier.join(e, frontier["__n"] == e["__s"])
            .select(F.col("__d").alias("__n"))
            .distinct()
            .join(reached.select("__n"), "__n", "left_anti")
            .select("__n", F.lit(i).cast("int").alias("__h")),
            F.count(F.lit(1)).alias("c"),
        )
        if frontier is not reached:
            release(frontier)
        if got["c"] == 0:
            release(nxt)
            frontier = reached
            break
        new_reached = eager_checkpoint(reached.union(nxt))
        release(reached)
        reached = new_reached
        frontier = nxt
    if frontier is not reached:
        release(frontier)
    release(e)
    return reached.select(F.col("__n").alias("node"), F.col("__h").alias("hop"))


def graph_summary(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """One-row structural scorecard of a directed edge list — the
    pre-flight read before running anything iterative on it: (n_nodes,
    n_edges, self_loops, avg_out_degree, max_out_degree, density,
    reciprocity). Edges collapse to the DISTINCT directed simple graph
    (multiplicity ignored, self-loops counted separately and excluded
    from every other number); density = E / (N·(N−1)); reciprocity =
    fraction of edges whose reverse edge also exists (near 1 on a
    symmetrized near-dup graph, near 0 on a citation-style crawl).
    Ratios round 6dp off exact integer counts.

    Scale shape: one distinct + two aggregates + one left-semi
    self-join on the reversed key (bounded by the edge count — never
    node²); max_out_degree is a groupBy + max, no window."""
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
        )
        .distinct()
    )
    e = eager_checkpoint(e)
    loops = e.filter(F.col("__s") == F.col("__d"))
    simple = e.filter(F.col("__s") != F.col("__d"))
    nodes = (
        e.select(F.col("__s").alias("__n"))
        .union(e.select(F.col("__d").alias("__n")))
        .distinct()
    )
    recip = simple.join(
        simple.select(
            F.col("__d").alias("__s"), F.col("__s").alias("__d")
        ),
        ["__s", "__d"],
        "left_semi",
    )
    outdeg = simple.groupBy("__s").agg(F.count(F.lit(1)).alias("__od"))
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("v")
                        ).withColumnRenamed("v", "__nn")
    n_edges = simple.agg(F.count(F.lit(1)).cast("long").alias("__ne"))
    n_loops = loops.agg(F.count(F.lit(1)).cast("long").alias("__nl"))
    n_recip = recip.agg(F.count(F.lit(1)).cast("long").alias("__nr"))
    max_out = outdeg.agg(
        F.coalesce(F.max("__od"), F.lit(0)).cast("long").alias("__mo"))
    out = (
        n_nodes.crossJoin(F.broadcast(n_edges))  # 1-row stats frames
        .crossJoin(F.broadcast(n_loops))
        .crossJoin(F.broadcast(n_recip))
        .crossJoin(F.broadcast(max_out))
    )
    # e stays checkpointed: every aggregate above reads it lazily —
    # callers release via checkpoint_scope (the one-shot-producer rule)
    nn, ne = F.col("__nn"), F.col("__ne")
    return out.select(
        nn.alias("n_nodes"),
        ne.alias("n_edges"),
        F.col("__nl").alias("self_loops"),
        F.when(nn > 0, F.round(ne.cast("double") / nn.cast("double"), 6))
        .alias("avg_out_degree"),
        F.col("__mo").alias("max_out_degree"),
        F.when(
            nn > 1,
            F.round(ne.cast("double") / (nn * (nn - F.lit(1))).cast("double"), 6),
        ).alias("density"),
        F.when(ne > 0, F.round(F.col("__nr").cast("double") / ne.cast("double"), 6))
        .alias("reciprocity"),
    )


def graph_components(
    edges: DataFrame, src: str, dst: str, max_rounds: int = 25,
) -> DataFrame:
    """Weakly-connected components over an edge list — (node, component)
    with component = the minimum node id reachable. A naming-consistent
    front door: the implementation is
    :func:`wrangler_spark.datapipe.dedup.connected_components` (the
    alternating large-star/small-star closure dedup clustering already
    uses — Kiveris et al. 2014 shape), re-exposed here so the graph
    family covers ranking (:func:`graph_pagerank`), communities
    (:func:`graph_label_propagation`), and components without the
    caller knowing which module grew each."""
    from wrangler_spark.datapipe.dedup import connected_components

    return connected_components(
        edges.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b")),
        max_rounds=max_rounds,
    ).select(F.col("id").alias("node"), F.col("component"))


def graph_sssp(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: list,
    weight_col: str | None = None,
    max_rounds: int = 10,
    directed: bool = True,
) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths by bounded
    Bellman-Ford relaxation (Bellman 1958, Ford 1956) — the weighted
    companion to :func:`graph_khop`: hop counts answer "how far", path
    costs answer "how expensive" (link latency, 1/traffic transition
    cost, edit-distance chains over the near-dup graph). Returns
    (node, dist) for every node whose cheapest known path from the
    seed set uses at most ``max_rounds`` edges; seeds are distance 0
    even when absent from the edge list; unreached nodes are absent.

    Weights must be non-negative (raises on a negative edge — with a
    bounded round count a negative cycle would silently yield
    round-parity-dependent results, the one outcome worse than an
    error) and default to 1.0 (pure hop count). Distances accumulate
    as micro-unit INTEGER longs (round(w * 1e6) per edge), so path
    sums are exact, min-comparisons are unambiguous, and the engine
    never compares two float path sums that differ by an ULP; the
    division back to doubles happens once at the end.

    Scale shape — at most ``max_rounds`` rounds, each ONE join
    (distance frame ⋈ edges, both bounded by edge count) + one
    groupBy(node) min; the edge frame is hash-partitioned on the
    source key once and checkpointed so every round reuses the
    partitioning; per-round checkpoint + release (the khop
    lifecycle); early-exits at the fixpoint via an improved-row count
    riding the round checkpoint's own job (observe — one job per
    round). No windows, nothing node-squared."""
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    if not seeds:
        raise ValueError("graph_sssp needs a non-empty seed list")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & w.isNotNull())
        .select(
            F.col(src).cast("string").alias("__s"),
            F.col(dst).cast("string").alias("__d"),
            F.round(w * F.lit(1e6)).cast("long").alias("__wm"),
        )
    )
    if not directed:
        e = e.union(e.select(
            F.col("__d").alias("__s"), F.col("__s").alias("__d"), "__wm"))
    # parallel edges: keep the cheapest (min weight per (s, d)); the
    # negative-weight guard scalar rides the checkpoint's own job
    # (min over the per-pair mins == the global min)
    e, got = eager_checkpoint_observed(
        e.groupBy("__s", "__d").agg(F.min("__wm").alias("__wm"))
        .repartition("__s"),
        F.min("__wm").alias("m"))
    neg = got["m"]
    if neg is not None and neg < 0:
        release(e)
        raise ValueError(
            f"graph_sssp: negative edge weight ({neg / 1e6}) — "
            "Bellman-Ford with bounded rounds needs non-negative costs")
    spark = edges.sparkSession
    dist = eager_checkpoint(
        local_table(spark,
            [(str(s),) for s in sorted({str(s) for s in seeds})],
            "__n string",
        ).select("__n", F.lit(0).cast("long").alias("__dm"))
    )
    for _ in range(max_rounds):
        cand = (
            dist.join(e, dist["__n"] == e["__s"])
            .select(F.col("__d").alias("__n"),
                    (F.col("__dm") + F.col("__wm")).alias("__dm"))
        )
        # fixpoint detection rides the round checkpoint's own job
        # (observe — the connected_components pattern): the union is
        # TAGGED so each node's round-start distance survives the min
        # (a node has at most one `dist` row, so min(__old) is either
        # that distance or NULL for a newly-reached node), and
        # "improved" = new-node-or-smaller-min, counted as a metric —
        # no second join + limit(1).count() job per round. The rows are
        # min(__dm) over the identical union; the checkpoint keeps the
        # tag column too, and every reader of `dist` selects past it.
        agg = (
            dist.select("__n", "__dm", F.col("__dm").alias("__old"))
            .unionByName(cand.select(
                "__n", "__dm", F.lit(None).cast("long").alias("__old")))
            .groupBy("__n").agg(F.min("__dm").alias("__dm"),
                                F.min("__old").alias("__old"))
        )
        prev = dist
        dist, got = eager_checkpoint_observed(
            agg,
            F.count(F.when(F.col("__old").isNull()
                           | (F.col("__dm") < F.col("__old")), 1))
            .alias("imp"),
        )
        release(prev)
        if got["imp"] == 0:
            break
    release(e)
    return dist.select(
        F.col("__n").alias("node"),
        F.round(F.col("__dm") / F.lit(1e6), 6).alias("dist"),
    )
