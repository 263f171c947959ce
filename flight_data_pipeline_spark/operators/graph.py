"""Iterative graph algorithms as pure DataFrame rounds.

Extension scope (no graph surface in the reference — its analysis is
flat SQL over grid_telemetry, etl_job.py:154-200): the iterative tier
beside operators/dedup.connected_components — PageRank-style score
propagation, the primitive under TextRank keyword extraction and
link-quality scoring in web-corpus curation pipelines.

Same execution discipline as connected_components: each round is a
join + aggregate with an eager localCheckpoint truncating the
otherwise-doubling lineage, and the convergence signal is an
aggregate observed inside that checkpoint's own job (no probe job,
never a data collect). Recompute-after-lost-partition is safe: every
round's content is a deterministic function of the checkpointed
previous round (float sums may differ in final ulps across
recomputes, which is why the consumers round before ranking).
"""

from __future__ import annotations

import logging

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
    constant). Stops early when no node moves more than ``tol``; if
    ``max_iter`` rounds pass with nodes still moving, logs a warning
    and returns the unconverged ranks.

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
    from flight_data_pipeline_spark.session import checkpoint_observed

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
        step = (
            ranks.select("v", F.col("rank").alias("__old"))
            .join(contrib, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n1))
            .select(
                "v",
                (F.lit(1.0 - damping) / F.col("__n")
                 + F.lit(damping)
                 * (F.coalesce(F.col("__c"), F.lit(0.0))
                    + F.col("__dm") / F.col("__n"))).alias("rank"),
                "__old",
            )
        )
        ranks, moved = checkpoint_observed(
            step, F.count_if(F.abs(F.col("rank") - F.col("__old")) > tol),
            "v", "rank")
        if moved == 0:
            break
    else:
        logging.getLogger(__name__).warning(
            "pagerank: ranks still moving by more than tol=%g after "
            "%d rounds — raise max_iter", tol, max_iter)
    return ranks


def pagerank_integer(edges: DataFrame, src: str = "src", dst: str = "dst",
                     scale: int = 10**12, d_num: int = 85,
                     d_den: int = 100, iters: int = 3,
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

    Scale shape (two jobs per round): the degree-annotated edge list
    is checkpointed ONCE before the loop. Each round is then one
    query: edge⋈rank join (the rank state, one BIGINT per node, is
    broadcast, so the edge side is never shuffled inside the loop) →
    per-edge shares UNIONed with a zero row per node → one dst-keyed
    SUM aggregate → the damped update, eagerly localCheckpointed.
    Σ over shares ∪ {0} ≡ coalesce(Σ shares, 0) for integers, and
    the node count ``__n`` rides the rank state, so the rank vector
    is the round's only broadcast build. Measurements:
    OPTIMIZATION_r13.md §3, OPTIMIZATION_r14.md §1. Recompute-safe:
    every round is deterministic, so a lost partition rebuilds
    identically."""
    # unweighted edges keep no constant __w column in the checkpoint:
    # deg reduces to COUNT(*) and the share to rank div deg
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
    # per-edge degree annotation, materialized once so no round
    # re-runs the degree aggregate
    e_deg = e.join(F.broadcast(deg), "s").localCheckpoint()
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
    # Round materializations run with AQE scoped off: every join
    # strategy inside a round is pinned by a broadcast hint, so AQE's
    # re-planning only adds driver-side jobs (the initial checkpoints
    # above keep AQE for their upstream DAGs).
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
                e_deg.join(F.broadcast(ranks.select(F.col("v").alias("s"),
                                                    "rank")),
                           "s")
                .select(F.col("d").alias("v"), share.alias("__c"),
                        F.lit(None).cast("long").alias("__n"))
            )
            # zero-share carrier row per node: Σ over shares ∪ {0}
            # ≡ coalesce(Σ shares, 0); __n rides the carrier (exactly
            # one per group, so MAX picks it)
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
                              dst: str = "dst", iters: int = 3) -> DataFrame:
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

    The edges are a SET: each distinct (src, dst) pair votes once, so
    the result equals the operator run on
    ``edges.select(src, dst).distinct()``.

    Scale shape: the (s, d) edge list is checkpointed ONCE
    hash-partitioned on ``d`` — one edge-sized exchange before the
    loop. Invariant: the edge⋈label join broadcasts the label state
    (one BIGINT per node), so it keeps the edges' hashpartitioning(d),
    which already satisfies the (d, label) count aggregate and the
    per-v argmax aggregate; the carry-forward left join broadcasts the
    winners. Rounds therefore run with no shuffle exchange, each
    truncated by an eager localCheckpoint. The layout checkpoint runs
    inside ``loop_materialization_conf`` because an AQE-planned
    checkpoint reports UnknownPartitioning. The edge dedup runs INSIDE
    that layout: hashpartitioning(d) already clusters equal (s, d)
    rows, so the distinct adds no exchange and the edge list crosses
    the network once. A distinct applied by the caller cannot ride the
    layout: Catalyst drops the layout repartition as redundant, the
    checkpoint's partitioning then names a stale attribute, and every
    round re-shuffles the edges.

    The carry-forward stays a join: the zero-weight self-vote union
    into the count aggregate measured slower (OPTIMIZATION_r14.md §4)."""
    # rounds run with AQE scoped off — every join strategy is pinned
    # by a broadcast hint (see pagerank_integer)
    from flight_data_pipeline_spark.session import (
        dump_loop_plan,
        loop_materialization_conf,
    )

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # dst-partitioned edge layout (see Scale shape); the distinct rides
    # it, and the checkpoint runs under the loop scope so it keeps
    # hashpartitioning(d)
    with loop_materialization_conf(spark):
        e = e.repartition("d").distinct().localCheckpoint()
    labels = (e.select(F.col("s").alias("v"))
              .unionByName(e.select(F.col("d").alias("v")))
              .distinct()
              .select("v", F.col("v").alias("label"))
              .localCheckpoint())
    for it in range(iters):
        with loop_materialization_conf(spark):
            votes = (
                e.join(F.broadcast(labels.select(
                           F.col("v").alias("s"),
                           F.col("label").alias("__vl"))),
                       "s")
                .groupBy(F.col("d").alias("v"), "__vl")
                .agg(F.count("*").alias("__c"))
            )
            # per-v argmax as one aggregate: max(struct(count,
            # -label)) is lexicographic — largest count, ties to the
            # SMALLEST label (labels are node ids ≥ 0, so the negation
            # is exact). A max(struct) buffer is not UnsafeRow-mutable,
            # so Spark plans it as Sort → SortAggregate ×2 (no codegen)
            # on the d-partitioned votes, not as a hash aggregate; it
            # still needs no exchange (OPTIMIZATION_r13.md §8)
            winners = (
                votes.groupBy("v")
                .agg(F.max(F.struct(F.col("__c"),
                                    (-F.col("__vl")).alias("__nl")))
                     .alias("__m"))
                .select("v", (-F.col("__m.__nl")).alias("__vl"))
            )
            new_labels = (
                labels.join(F.broadcast(winners), "v", "left")
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

    Scale shape (two jobs per round): per round one edge⋈dist join
    (state broadcast, one BIGINT per node) producing the relaxation
    stream (d, dist+w), UNIONed with the carried distance per node,
    then ONE v-keyed MIN aggregate — min over {dist} ∪ {relaxes} ≡
    least(dist, coalesce(min relaxes, inf)), so no carry-forward join
    is needed; localCheckpoint truncates lineage
    (OPTIMIZATION_r14.md §2).

    ``edges_prematerialized=True`` is the caller's promise that
    ``edges`` is already materialized (checkpointed or cached), so the
    operator skips its own edge checkpoint."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     F.col(weight).cast("long").alias("w"))
    if not edges_prematerialized:
        e = e.localCheckpoint()
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
    # rounds deliberately keep AQE: the relax join's runtime
    # re-planning measured faster here (OPTIMIZATION_r14.md §2)
    from flight_data_pipeline_spark.session import dump_loop_plan

    for it in range(iters):
        relax = (
            e.join(F.broadcast(dist.select(F.col("v").alias("s"), "dist")),
                   "s")
            .where(F.col("dist") < inf)  # no relaxing from unreached
            .select(F.col("d").alias("v"),
                    (F.col("dist") + F.col("w")).alias("__nd"))
        )
        # carried distance per node unions into the SAME min
        # aggregate the relaxations feed: 64-bit min is
        # associative-exact, so no carry-forward join is needed
        carried = dist.select("v", F.col("dist").alias("__nd"))
        new_dist = (
            relax.unionByName(carried)
            .groupBy("v").agg(F.min("__nd").alias("dist"))
        )
        if it == 0:
            dump_loop_plan(new_dist, "min_plus_shortest_paths_round1")
        dist = new_dist.localCheckpoint()
    return dist
