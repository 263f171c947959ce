"""Iterative graph algorithms as pure DataFrame rounds.

Extension scope (no graph surface in the reference — its analysis is
flat SQL over grid_telemetry, etl_job.py:154-200): the iterative tier
beside operators/dedup.connected_components — PageRank-style score
propagation, the primitive under TextRank keyword extraction and
link-quality scoring in web-corpus curation pipelines.

Same execution discipline as connected_components: each round is a
join + aggregate with an eager localCheckpoint truncating the
otherwise-doubling lineage, and the convergence probe is a filter
over already-materialized rows (isEmpty loop control, never a data
collect). Recompute-after-lost-partition is safe: every round's
content is a deterministic function of the checkpointed previous
round (float sums may differ in final ulps across recomputes, which
is why the consumers round before ranking).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str | None = None, damping: float = 0.85,
             max_iter: int = 15, tol: float = 1e-6,
             init_ranks: DataFrame | None = None) -> DataFrame:
    """Weighted PageRank over a directed edge list → (v, rank), ranks
    summing to ~1. Per round every node distributes damping×rank
    along its out-edges proportional to edge weight; dangling nodes
    (no out-edges) spread their mass uniformly — the standard
    stochastic-matrix completion, kept as a one-row broadcast scalar
    so the loop stays fully declarative (no driver-side mass
    constant). Stops early when no node moves more than ``tol``.

    ``init_ranks`` (v, rank) WARM-STARTS the iteration: nodes present
    keep their prior rank, new nodes enter at 1/N, and the combined
    vector is renormalized to total mass 1 — the damping<1 fixed
    point is unique for any mass-1 start, so a warm start changes
    only how many rounds convergence takes, not where it lands. This
    is the incremental-maintenance hook: after an edge delta, re-run
    from the previous snapshot and typically converge in 1-3 rounds
    instead of ~15 (streaming/pipeline_stream.apply_rank_delta).

    Scale shape: each round is one edge⋈rank join (shuffle on the
    edge's source key, the same partitioning every round) + one
    aggregate on dst + two one-row scalar attaches. State is one rank
    row per node; the edge list and out-weight table are checkpointed
    ONCE and reused every round."""
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     w.alias("w")).localCheckpoint()
    nodes = (
        e.select(F.col("s").alias("v"))
        .union(e.select(F.col("d").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    n1 = nodes.agg(F.count("*").cast("double").alias("__n"))
    outw = e.groupBy("s").agg(F.sum("w").alias("__ow"))
    if init_ranks is None:
        ranks = (
            nodes.crossJoin(F.broadcast(n1))
            .select("v", (F.lit(1.0) / F.col("__n")).alias("rank"))
            .localCheckpoint()
        )
    else:
        seeded = (
            nodes.join(init_ranks.select("v", F.col("rank")
                                         .alias("__r0")), "v", "left")
            .crossJoin(F.broadcast(n1))
            .select("v", F.coalesce(F.col("__r0"),
                                    F.lit(1.0) / F.col("__n"))
                    .alias("rank"))
        )
        mass = seeded.agg(F.sum("rank").alias("__m"))
        ranks = (
            seeded.crossJoin(F.broadcast(mass))
            .select("v", (F.col("rank") / F.col("__m")).alias("rank"))
            .localCheckpoint()
        )
    for _ in range(max_iter):
        # mass leaving via edges: rank_s * w / out_weight_s
        contrib = (
            e.join(outw, "s")
            .join(ranks.select(F.col("v").alias("s"), "rank"), "s")
            .select(F.col("d").alias("v"),
                    (F.col("rank") * F.col("w") / F.col("__ow"))
                    .alias("__c"))
            .groupBy("v").agg(F.sum("__c").alias("__c"))
        )
        # dangling mass: ranks of nodes with no out-edges
        dangling = (
            ranks.join(outw.select(F.col("s").alias("v")), "v",
                       "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        new_ranks = (
            ranks.select("v", F.col("rank").alias("__prev"))
            .join(contrib, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n1))
            .select(
                "v",
                (F.lit(1.0 - damping) / F.col("__n")
                 + F.lit(damping)
                 * (F.coalesce(F.col("__c"), F.lit(0.0))
                    + F.col("__dm") / F.col("__n"))).alias("rank"),
                "__prev",
            )
            .withColumn("__moved",
                        F.abs(F.col("rank") - F.col("__prev")) > tol)
            .select("v", "rank", "__moved")
            .localCheckpoint()
        )
        converged = new_ranks.where(F.col("__moved")).isEmpty()
        ranks = new_ranks.select("v", "rank")
        if converged:
            break
    return ranks


def pagerank_integer(edges: DataFrame, src: str = "src", dst: str = "dst",
                     scale: int = 10**12, d_num: int = 85,
                     d_den: int = 100, iters: int = 3,
                     broadcast_state: bool = True,
                     weight: str | None = None) -> DataFrame:
    """Fixed-point integer PageRank → (v, rank) with rank a scaled
    BIGINT — every arithmetic step is integer (div / mod / sum), so
    the result is BIT-IDENTICAL on any engine that implements 64-bit
    integer division. This is what makes an *iterative* graph
    algorithm hash-checkable against a SQL oracle: the float variant
    (``pagerank`` above) can only ever be rows-only because partial
    float sums re-associate, while this one replays exactly.

    Update rule (no convergence test — a fixed ``iters`` rounds keeps
    the computation a pure function of the input):

        r0(v)  = scale div N
        r_k(v) = (1-d)·scale div N
                 + d_num · Σ_{u→v} (r_{k-1}(u) div deg(u)) div d_den

    With ``weight`` set (integer edge weights — the TextRank case),
    the per-edge share becomes ``(r_{k-1}(u) * w) div sw(u)`` where
    ``sw(u)`` is u's total out-weight: the weighted generalization,
    still pure 64-bit integer arithmetic (callers keep
    ``scale * max_weight`` under 2^63).

    Dangling mass is dropped rather than redistributed (total mass is
    NOT conserved under integer floors anyway); callers that need the
    stochastic completion use the float ``pagerank``. Floors lose at
    most 1 unit per edge per round — at scale=1e12 the relative error
    is ~deg/1e12, far below any ranking-relevant gap.

    Scale shape (r14 — two jobs per round): the degree-ANNOTATED edge
    list is materialized ONCE before the loop (one extra edge-sized
    checkpoint beside the raw edge list — the price of never
    re-aggregating degrees inside the loop; r13 re-derived the
    node-sized ``deg`` from the raw checkpoint every round, which
    re-ran the degree aggregate + its exchange per round). Each round
    is then ONE query: edge⋈rank join → per-edge share stream UNIONed
    with a zero row per node (carried from the rank state itself) →
    one dst-keyed SUM aggregate (map-side partial combine collapses
    the fan-in before the shuffle) → the damped update, eagerly
    localCheckpointed. The union-with-zeros replaces r13's
    nodes⋈contrib LEFT join (coalesce(Σ,0) ≡ Σ over shares ∪ {0} for
    integers), and the node count ``__n`` rides the rank state as a
    constant column so no per-round scalar broadcast is rebuilt —
    per round the ONLY broadcast build left is the rank vector
    itself. With ``broadcast_state`` (default), that per-round rank
    state — one BIGINT per node, i.e. dimension-sized for a
    co-purchase/parts graph — is BROADCAST, so the big edge side is
    never shuffled or sorted inside the loop; a checkpointed frame
    has no catalog stats, so without the hint Spark sort-merge-joins
    the 2.4M-edge side EVERY round (measured ~2.5 s/round →
    ~0.3 s/round at sf0.1). Set it False for graphs whose node count
    is fact-sized (state > broadcast limit); the s-keyed shuffle
    join plan is the fallback. Recompute-safe: every round is
    deterministic, so a lost partition rebuilds identically."""
    maybe_bc = F.broadcast if broadcast_state else (lambda df: df)
    # unweighted edges don't materialize a constant __w column into
    # the checkpoint (r13): deg reduces to COUNT(*) and the per-round
    # share to rank div deg — same integers, one column fewer in the
    # loop's hottest stored frame (read once per round)
    if weight is not None:
        e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                         F.col(weight).cast("long").alias("__w")
                         ).localCheckpoint()
        deg = e.groupBy("s").agg(F.sum("__w").alias("__deg"))
        share = F.expr("(rank * __w) div __deg")
    else:
        e = edges.select(F.col(src).alias("s"),
                         F.col(dst).alias("d")).localCheckpoint()
        deg = e.groupBy("s").agg(F.count("*").alias("__deg"))
        share = F.expr("rank div __deg")
    # per-edge degree annotation, materialized ONCE (r14): r13 left
    # this lazy to avoid a second edge-sized checkpoint, but the lazy
    # form re-ran the degree aggregate and its broadcast build inside
    # EVERY round's materialization (loop-body plan evidence:
    # plans/r14/loops_before/*/pagerank_integer_round1.txt, exchanges
    # 6/8). One up-front map-side broadcast join trades ~1 edge-sized
    # write for iters× fewer per-round jobs and aggregates; at 100 TB
    # the storage doubles the edge footprint but the loop reads the
    # same bytes per round either way.
    e_deg = e.join(maybe_bc(deg), "s").localCheckpoint()
    nodes = (
        e.select(F.explode(F.array("s", "d")).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    n1 = nodes.agg(F.count("*").alias("__n"))
    # rank state carries the constant node count so rounds never
    # rebuild the one-row n1 broadcast (8 bytes/row on a node-sized,
    # broadcast-anyway frame)
    ranks = (
        nodes.crossJoin(F.broadcast(n1))
        .select("v", F.expr(f"CAST({scale} AS BIGINT) div __n")
                .alias("rank"), "__n")
        .localCheckpoint()
    )
    # Round materializations run with AQE scoped OFF: every join
    # strategy inside a round is already pinned (maybe_bc/broadcast),
    # so AQE's stage-by-stage re-planning only multiplies driver-side
    # jobs — measured r13 at sf0.1/local[32], 3-4 jobs per round
    # collapse to 1 (the INITIAL edge/node/seed checkpoints above
    # keep AQE: their upstream DAGs want its dynamic broadcasts).
    from flight_data_pipeline_spark.session import (
        dump_loop_plan,
        loop_materialization_conf,
    )

    spark = edges.sparkSession
    base = F.expr(f"CAST({(d_den - d_num) * scale} AS BIGINT)"
                  f" div ({d_den} * __n)")
    for it in range(iters):
        with loop_materialization_conf(spark):
            shares = (
                e_deg.join(maybe_bc(ranks.select(F.col("v").alias("s"),
                                                 "rank")),
                           "s")
                .select(F.col("d").alias("v"), share.alias("__c"),
                        F.lit(None).cast("long").alias("__n"))
            )
            # zero-share carrier row per node: Σ over shares ∪ {0}
            # ≡ coalesce(Σ shares, 0) — the same integers as r13's
            # LEFT join against the aggregated contrib, one exchange
            # and one broadcast build fewer per round; __n rides the
            # carrier (exactly one per group, so MAX picks it)
            carrier = ranks.select(
                "v", F.lit(0).cast("long").alias("__c"), "__n")
            new_ranks = (
                shares.unionByName(carrier)
                .groupBy("v")
                .agg(F.sum("__c").alias("__c"), F.max("__n").alias("__n"))
                .select(
                    "v",
                    (base + F.expr(f"({d_num} * __c) div {d_den}"))
                    .alias("rank"),
                    "__n",
                )
            )
            if it == 0:
                dump_loop_plan(new_ranks, "pagerank_integer_round1")
            ranks = new_ranks.localCheckpoint()
    return ranks.select("v", "rank")


def label_propagation_integer(edges: DataFrame, src: str = "src",
                              dst: str = "dst", iters: int = 3,
                              broadcast_state: bool = True) -> DataFrame:
    """Community detection by LABEL PROPAGATION → (v, label), fully
    deterministic and therefore hash-checkable (the textbook LPA is
    randomized-order; this is the synchronous variant with a pinned
    tie-break, the same determinism move as ``pagerank_integer``):

        l0(v)  = v                       for every v in src ∪ dst
        l_k(v) = the label most frequent among v's in-neighbors'
                 l_{k-1}, ties broken by SMALLEST label;
                 l_{k-1}(v) carried forward when v has no in-votes.

    A fixed ``iters`` rounds keeps the result a pure function of the
    edge list (no convergence test). Unlike connected components
    (min-label flood = one community per component), LPA's majority
    vote lets DENSE regions keep their own label against sparse
    bridges — the community structure CC cannot see. Seeding from
    src ∪ dst and carrying labels forward makes the contract hold on
    DIRECTED input too: a source-only node keeps voting with its own
    label instead of dropping out of the state after round 1.

    Scale shape: with ``broadcast_state`` (default) the (s, d) edge
    list is checkpointed ONCE hash-partitioned on ``d`` — one
    edge-sized exchange before the loop. Invariant: the edge⋈label
    join broadcasts the label state (one BIGINT per node), so it
    keeps the edges' hashpartitioning(d), which already satisfies the
    (d, label) count aggregate and the per-v argmax aggregate; the
    carry-forward left join broadcasts the winners. Rounds therefore
    run with no shuffle exchange, each truncated by an eager
    localCheckpoint. The layout checkpoint runs inside
    ``loop_materialization_conf`` because an AQE-planned checkpoint
    reports UnknownPartitioning (so $SPARK_GRAFT_LOOP_AQE=1 brings
    the per-round vote shuffles back). With ``broadcast_state=False``
    the s-keyed shuffle join would destroy the layout, so that path
    keeps a plain checkpoint and two vote exchanges per round.

    r14 note — tried and REVERTED: folding the carry-forward join
    into the count aggregate as a zero-weight SELF-VOTE per node
    (the same union-into-aggregate move that won for
    pagerank_integer and min_plus_shortest_paths) removed one
    broadcast build + join per round but measured 1.03-1.08× SLOWER
    at sf0.1/local[32] (warm interleaved A/B, best-of-3 per arm:
    old 4.38/4.48 s vs new 4.53/4.82 s end-to-end) — the extra
    node-sized union branch through the big vote aggregate costs
    more than the node-sized broadcast probe it replaces, because
    votes dominate the aggregate and the carry join is cheap. Keep
    the join form; don't retry without new evidence."""
    # rounds run with AQE scoped off — strategies pinned by maybe_bc,
    # re-planning per stage is pure driver overhead (see pagerank_integer)
    from flight_data_pipeline_spark.session import (
        dump_loop_plan,
        loop_materialization_conf,
    )

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if broadcast_state:
        # dst-partitioned edge layout (see Scale shape) — checkpointed
        # under the loop scope so it keeps hashpartitioning(d)
        with loop_materialization_conf(spark):
            e = e.repartition("d").localCheckpoint()
    else:
        e = e.localCheckpoint()
    maybe_bc = F.broadcast if broadcast_state else (lambda df: df)
    labels = (e.select(F.col("s").alias("v"))
              .unionByName(e.select(F.col("d").alias("v")))
              .distinct()
              .select("v", F.col("v").alias("label"))
              .localCheckpoint())
    for it in range(iters):
        with loop_materialization_conf(spark):
            votes = (
                e.join(maybe_bc(labels.select(F.col("v").alias("s"),
                                              F.col("label").alias("__vl"))),
                       "s")
                .groupBy(F.col("d").alias("v"), "__vl")
                .agg(F.count("*").alias("__c"))
            )
            # per-v argmax as one aggregate instead of a window
            # (r13): max(struct(count, -label)) is lexicographic —
            # largest count, ties to the SMALLEST label (labels are
            # node ids ≥ 0, so the negation is exact) — the same
            # winner the row_number window picked, without the
            # per-round shuffle+sort a window requires
            winners = (
                votes.groupBy("v")
                .agg(F.max(F.struct(F.col("__c"),
                                    (-F.col("__vl")).alias("__nl")))
                     .alias("__m"))
                .select("v", (-F.col("__m.__nl")).alias("__vl"))
            )
            new_labels = (
                labels.join(maybe_bc(winners), "v", "left")
                .select("v", F.coalesce("__vl", "label").alias("label"))
            )
            if it == 0:
                dump_loop_plan(new_labels, "label_propagation_round1")
            labels = new_labels.localCheckpoint()
    return labels


def min_plus_shortest_paths(edges: DataFrame, source: DataFrame,
                            src: str = "src", dst: str = "dst",
                            weight: str = "w", iters: int = 3,
                            inf: int = 10**15,
                            broadcast_state: bool = True,
                            edges_prematerialized: bool = False
                            ) -> DataFrame:
    """Single-source shortest paths by ``iters`` rounds of BELLMAN-FORD
    relaxation over the (min, +) TROPICAL semiring → (v, dist) with
    dist = ``inf`` when no ≤``iters``-hop path exists. Where PageRank
    iterates sum-product, this iterates min-plus — integer edge
    weights make every step exact 64-bit arithmetic, so the k-round
    distance vector replays bit-identically as k unrolled SQL CTEs
    (the same promotion recipe as ``pagerank_integer``). After
    ``iters`` rounds d(v) is EXACTLY the cheapest ≤iters-hop path —
    a semantics of its own (bounded-hop reachability cost), not an
    approximation error.

    ``source`` is a one-column (v) frame of seed nodes (dist 0).

    Scale shape (r14 — two jobs per round): per round one edge⋈dist
    join (state broadcast, one BIGINT per node) producing the raw
    relaxation stream (d, dist+w), UNIONed with the carried distance
    per node, then ONE v-keyed MIN aggregate — min(dist, relaxes) ≡
    r13's least(dist, coalesce(min relaxes, inf)) with the node-keyed
    carry-forward LEFT join and its broadcast build removed; the same
    partitioning every round; localCheckpoint truncates lineage.

    ``edges_prematerialized=True`` is the caller's promise that
    ``edges`` is already materialized (checkpointed or cached), so the
    operator skips its own edge checkpoint (copurchase_shortest_paths
    checkpoints ``ew`` for its source aggregate — r13
    double-materialized the same rows)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     F.col(weight).cast("long").alias("w"))
    if not edges_prematerialized:
        e = e.localCheckpoint()
    maybe_bc = F.broadcast if broadcast_state else (lambda df: df)
    # node set from src UNION dst: on directed input a sink (dst-only)
    # node must still appear in the distance vector, else relaxed
    # distances onto it are silently dropped by the carry-forward join
    nodes = (e.select(F.col("s").alias("v"))
             .unionByName(e.select(F.col("d").alias("v")))
             .distinct())
    dist = (
        nodes.join(source.select(F.col(source.columns[0]).alias("v"))
                   .withColumn("__z", F.lit(0)), "v", "left")
        .select("v", F.coalesce(F.col("__z").cast("long"),
                                F.lit(inf).cast("long")).alias("dist"))
        .localCheckpoint()
    )
    # rounds deliberately keep AQE (measured 1.04-1.6× slower without
    # it here — the relax join's runtime re-planning earns its keep,
    # unlike pagerank_integer's fully-pinned rounds)
    from flight_data_pipeline_spark.session import dump_loop_plan

    for it in range(iters):
        relax = (
            e.join(maybe_bc(dist.select(F.col("v").alias("s"), "dist")),
                   "s")
            .where(F.col("dist") < inf)  # no relaxing from unreached
            .select(F.col("d").alias("v"),
                    (F.col("dist") + F.col("w")).alias("__nd"))
        )
        # carried distance per node unions into the SAME min
        # aggregate the relaxations feed (r14): min over
        # {dist} ∪ {relaxes} ≡ least(dist, coalesce(min relaxes,
        # inf)) — 64-bit min is associative-exact — so the per-round
        # carry-forward left join and its broadcast build disappear
        carried = dist.select("v", F.col("dist").alias("__nd"))
        new_dist = (
            relax.unionByName(carried)
            .groupBy("v").agg(F.min("__nd").alias("dist"))
        )
        if it == 0:
            dump_loop_plan(new_dist, "min_plus_shortest_paths_round1")
        dist = new_dist.localCheckpoint()
    return dist
