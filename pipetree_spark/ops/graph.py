"""Graph operators for dedup clustering (SURVEY §2.12 extension).

Near-duplicate pairs (shingle-Jaccard / MinHash / SimHash) are edges;
turning them into *clusters* (pick one keeper per component) needs
connected components. This is the one genuinely iterative operator in
the engine: each iteration is pure DataFrame work (join + groupBy —
fully distributed, no driver data), and only the converged?-flag comes
back to the driver, mirroring Spark GraphX/GraphFrames' own driver-side
iteration loops.

Scale notes (100 TB discipline):
- Label propagation converges in O(max component diameter) rounds;
  near-dup graphs are overwhelmingly tiny star/clique components, so
  3-5 rounds are typical regardless of corpus size.
- a pin (``jvm.pin``) truncates the lineage each round — without it the
  plan doubles per iteration and the driver OOMs on plan bytes long
  before data is a problem — and releases the state it supersedes.
- Each round shuffles |edges| + |nodes| rows on node id; no
  driver-side collection of labels ever happens.

Reference note: /root/reference is empty (SURVEY §0); the reference
orchestrator has no graph surface — north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pipetree_spark.jvm import pin, release


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    jump_after: int = 4,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Returns ``(node, component)`` where ``component`` is the smallest
    node id reachable from ``node`` — a deterministic canonical label.
    Every node that appears in ``edges`` is labeled (isolated nodes
    aren't known to an edge list; callers union them in if needed).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass while labels are
    still changing: silently returning half-propagated labels would
    split one real component into several.

    Each round is ONE shuffle job. The old label rides the same tagged
    union as the neighbor labels, so ``min(component)`` and
    ``min(__own)`` come out of one groupBy, and the changed-labels count
    (``component < __own``: exactly "would one more round change
    anything") rides the round's pin as a ``DataFrame.observe`` metric —
    zero extra jobs, and on the final round it is the FIXPOINT
    ASSERTION. ``sym`` is partitioned on the join key once, before its
    pin, so each round's neighbor join exchanges only the |nodes|-sized
    label side. Round 0 needs no join: with identity labels it is one
    groupBy, ``component = least(u, min(v))``.

    Adaptive pointer-jumping (``jump_after``): min-label propagation
    converges in O(component diameter) rounds — fine for the
    star/clique components near-dup graphs produce, fatal for
    chain-shaped ones (A≈B≈C≈… boilerplate drift). From round
    ``jump_after`` on, each round also contracts ``label ← label[label]``
    inside the same plan and pin (AQE's ReusedExchange materializes the
    shared aggregate once), for O(log diameter) rounds overall. A
    converged labeling is a fixed point of the jump, so the contract is
    unchanged; ``jump_after=None`` disables it.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    # partition by v ONCE: a pin preserves partitioning, so
    # every round's join on v reuses it (labels side alone shuffles).
    # dropDuplicates AFTER the repartition: hashpartitioning(v)
    # satisfies ClusteredDistribution(u, v), so the dedup aggregation
    # adds no exchange of its own (plan: 1 exchange, was 2).
    sym = pin(sym.repartition("v").dropDuplicates(["u", "v"]))

    own_sql = sym.schema["u"].dataType.simpleString()

    labels = None
    converged = False
    for it in range(max_iter):
        # candidate label for u: min over (own label, neighbors' labels).
        # Own rows carry their label in __own, neighbor rows carry null
        # (min ignores nulls; each u has exactly one own row) — so the
        # new label AND the pre-round label surface from ONE aggregation.
        # r16 (guide §1.2 step 2, the W3 pattern): each round body is
        # built from parsed selectExpr/expr strings — the Column-op
        # formulation issued ~120 py4j RPCs per round (~940 per deep-CC
        # construction); the parsed trees are identical (parity + the
        # CC property tests pin the labels).
        if it == 0:
            # fused round 0: labels are the identity, so neighbor label
            # min is just min(v) per u — one groupBy over sym, no join,
            # no init frame
            new_labels = (
                sym.groupBy("u")
                .agg(F.expr("min(v) AS __nbr"))
                .selectExpr("u", "least(u, __nbr) AS component", "u AS __own")
            )
        else:
            nbr_labels = sym.join(
                labels.withColumnRenamed("u", "v"), on="v"
            ).selectExpr("u", "component", f"CAST(NULL AS {own_sql}) AS __own")
            new_labels = (
                labels.selectExpr("u", "component", "component AS __own")
                .unionByName(nbr_labels)
                .groupBy("u")
                .agg(
                    F.expr("min(component) AS component"),
                    F.expr("min(__own) AS __own"),
                )
            )
        if jump_after is not None and it >= jump_after:
            # pointer jump: label ← label[label], fused into this
            # round's plan — the aggregate feeds both join sides, AQE
            # materializes its exchange once (ReusedExchange). Every
            # component value is itself a labeled node, so the inner
            # join is total. Labels only decrease, so __own comparisons
            # below remain valid.
            lk = new_labels.selectExpr("u AS __cu", "component AS __cc")
            new_labels = new_labels.join(lk, F.expr("component = __cu")).selectExpr(
                "u", "__cc AS component", "__own"
            )
        # the changed-labels count rides the pin's job as an
        # observe metric — zero extra jobs; a label changed iff the new
        # min beat the old one. On the final round this IS the fixpoint
        # assertion. (sum over an empty frame observes NULL → 0.)
        obs = Observation()
        new_labels = pin(
            new_labels.observe(
                obs, F.expr("sum(cast((component < __own) as int)) AS changed")
            ),
            replaces=(labels,),
        )
        labels = new_labels.drop("__own")
        if not obs.get["changed"]:
            converged = True
            break
    release(sym)
    if not converged:
        if labels is not None:  # max_iter < 1 runs no round
            release(labels)
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("u").alias("node"), "component")


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic — bit-exact across
    engines (no float sums anywhere, so no summation-order drift).

    Ranks live in ``scale``-units (BIGINT): r0 = scale div N, teleport =
    (15·scale) div (100·N), and each round
    ``r' = teleport + (85 · (inflow + dangling_mass div N)) div 100``
    where ``inflow = Σ_{edges u→n} r_u div out_deg(u)`` and dangling
    mass is the rank held by sink nodes. Every op is BIGINT
    multiply/add/``div`` (truncating; all values non-negative, so
    truncation == floor in both Spark and DuckDB) — the same
    integer-units discipline as the k-means quantizer
    (ops/vector.py): determinism by construction, not by rounding
    policy. Mass lost to floors is deterministic too.

    Scale: per iteration ONE shuffle of |edges| contributions on dst
    (the rank side joins src via the pre-partitioned edge pin — the CC
    trick above); the dangling total rides the round pin as an observe
    metric and re-enters as a driver literal; ranks are pinned per
    round to cut lineage. O(iters) rounds, no driver-side data beyond
    the node count. Returns (node, rank).

    The rank frame carries an immutable ``__dang`` flag (computed once
    from the degree table), so the dangling total is a filter+sum over
    the materialized pin, and the new-rank join keys on the rank frame
    itself: its pin keeps the previous round's hashpartitioning(node)
    and inflow arrives partitioned by dst ≡ node, so from round 2 on
    the join is exchange-free.
    """
    # pin the deduped edge list FIRST: nodes, degrees, the
    # partitioned edge frame, and the dangling flag all derive from it,
    # and without the cut each would re-run the caller's (possibly
    # fact-join-sized) edge derivation from scratch
    e = pin(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_total = nodes.count()
    if n_total == 0:
        release(e)
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # degree rides the edge pin; partition by src so each round's
    # rank join exchanges only the (|nodes|-sized) rank side
    ed = pin(e.join(deg, "src").repartition("src"))

    teleport = (15 * scale) // (100 * n_total)
    # the rank frame is pinned every round: each round consumes it twice
    # (edge join, new-rank join). The dangling TOTAL rides each pin as a
    # DataFrame.observe metric and enters the next round as a driver
    # literal — exact BIGINT arithmetic (dang_tot // n_total in Python
    # == BIGINT div for non-negative values; an empty sum observes NULL
    # → 0), with no per-round agg job or broadcast.
    _dang_sum = F.sum(F.when(F.col("__dang"), F.col("rank"))).alias("__dang_tot")
    obs = Observation()
    ranks = pin(
        nodes.join(deg.select(F.col("src").alias("node"), "deg"), "node", "left")
        .select(
            "node",
            F.lit(scale // n_total).cast("long").alias("rank"),
            F.col("deg").isNull().alias("__dang"),
        )
        .observe(obs, _dang_sum),
        replaces=(e, nodes),
    )
    for _ in range(iters):
        dang_share = (obs.get["__dang_tot"] or 0) // n_total
        # project to the two columns the edge join needs — __dang must
        # not ride the |edges|-sized contribution rows (guide §2.3)
        contrib = ed.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select("dst", F.expr("rank div deg").alias("__c"))
        inflow = contrib.groupBy("dst").agg(F.sum("__c").alias("__inflow"))
        obs = Observation()
        ranks = pin(
            ranks.select("node", "__dang")
            .join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"(85 * (coalesce(__inflow, CAST(0 AS BIGINT))"
                        f" + {dang_share})) div 100"
                    )
                ).cast("long").alias("rank"),
                "__dang",
            )
            .observe(obs, _dang_sum),
            replaces=(ranks,),
        )
    release(ed)
    return ranks.select("node", "rank")


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list —
    the degree-ordered-orientation algorithm (Cohen's MapReduce
    triangle counting / the "compact-forward" order).

    Returns ``(node, tri_cnt)`` for every node in ≥ 1 triangle, where
    ``tri_cnt`` is the number of distinct triangles containing the node.

    Why orientation matters at 100 TB: counting by joining wedges from
    RAW adjacency enumerates Σ deg(v)² wedges — a single celebrity node
    with 10⁸ neighbors contributes 10¹⁶ candidates. Orienting every
    edge from its lower-(degree, id) endpoint to the higher one turns
    the graph into a DAG whose max out-degree is O(√m), bounding total
    wedges at O(m^1.5) REGARDLESS of skew — the hot node's edges all
    point INTO it and produce no wedges of their own. Measured on the
    co-purchase graph: wedges grow 10.6× for 10.4× edges (SCALING.md).

    Plan shape: 3 equi-joins + 2 groupBys, all shuffles keyed on node
    ids; no theta join, no cross join, no driver data. The oriented
    edge list is pinned once (replacing the deduped edge pin) since the
    wedge self-join and the closing-edge probe both reuse it.
    """
    e = pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient u→v when (deg, id) of u < (deg, id) of v; ties on degree
    # break by id, and ids are distinct, so the order is total
    du, dv = F.col("du"), F.col("dv")
    u_first = (du < dv) | ((du == dv) & (F.col("u") < F.col("v")))
    oriented = pin(
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, dv).otherwise(du).alias("dt"),
        ),
        replaces=(e,),
    )
    o1 = oriented.select(F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = o1.join(o2, "s").where(
        (F.col("db") < F.col("dc")) | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.select(F.col("s").alias("a"), "b", "c").join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("tri_cnt"))


def bfs_khop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source bounded BFS over an undirected edge list: for every
    node within ``k`` hops of ANY source, the exact hop distance
    ``(node, dist)``. Nodes farther than k (or unreachable) are absent
    — the k-hop cap is the SEMANTICS, not a convergence shortcut, so
    the result is well-defined on any graph (no diameter assumption)
    and the relational twin unrolls to exactly k levels.

    ``sources`` is a one-column node frame; sources not present in the
    edge list still appear at dist 0 (they're in the queried set even
    if isolated). The classic use: blast-radius / influence-cohort
    queries ("everything within 3 hops of the flagged accounts").

    Scale: per round ONE shuffle of the frontier joined against the
    symmetrized edge list (pre-partitioned on the join key once, the
    CC/PageRank trick), state is (node, dist) — never materializes
    paths. k rounds total, one pin per round to cut lineage.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = pin(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
    )
    dist = pin(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(k):
        reached = (
            dist.withColumnRenamed("node", "u")
            .join(sym, "u")
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = pin(
            dist.unionByName(reached).groupBy("node").agg(F.min("dist").alias("dist")),
            replaces=(dist,),
        )
    release(sym)
    return dist


def sssp_khop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded Bellman-Ford: cheapest path cost from ANY source using
    at most ``k`` edges, over an undirected weighted edge list with
    non-negative INTEGER weights — :func:`bfs_khop` generalized (BFS
    is the all-weights-1 case). Like BFS, the k-edge cap is the
    SEMANTICS: the relational twin unrolls exactly k relaxation
    rounds, so the result is well-defined on any graph with no
    convergence loop and a wall-clock bound known up front.

    Integer costs keep every relaxation exact (min over BIGINT sums —
    no float accumulation order anywhere). Parallel edges are reduced
    to their min weight up front; isolated sources still appear at
    cost 0. Per round: ONE shuffle of the frontier against the
    pre-partitioned symmetrized edge list; state is (node, dist).
    """
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    sym = pin(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition("u")
    )
    dist = pin(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(k):
        relaxed = (
            dist.withColumnRenamed("node", "u")
            .join(sym, "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = pin(
            dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist")),
            replaces=(dist,),
        )
    release(sym)
    return dist
