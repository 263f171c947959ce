"""Deduplication operators.

Reference parity: the hour-bucket idempotent-append dedup at
etl_job.py:226-237 (a COUNT(*) existence probe against the sink before
insert — i.e. a left anti join of the incoming batch against the sink
on DATE_TRUNC('hour', event_time)).

Extension scope (BASELINE.json north star): exact and near-duplicate
document dedup — hash-groupBy, MinHash+LSH, SimHash, n-gram Jaccard —
see also plans/dedup_queries.py for the checked query forms.

Scale posture: every operator here is one shuffle on the dedup key (or
the LSH band key). No collects, no driver-side loops; skewed bucket
keys are AQE-split.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dedup_against_sink(incoming: DataFrame, sink: DataFrame,
                       bucket: Column, ts_col: str = "timestamp") -> DataFrame:
    """Reference D1 (etl_job.py:226-237): drop incoming rows whose hour
    bucket already exists in the sink — a left anti join, the
    distributed form of the reference's ``SELECT COUNT(*) ... WHERE
    DATE_TRUNC('hour', timestamp) = DATE_TRUNC('hour', %s)`` probe.

    At scale the sink side reduces to its distinct buckets first (tiny
    relation ⇒ Catalyst broadcasts it), so the anti join never shuffles
    the big incoming side.
    """
    sink_buckets = sink.select(bucket.alias("__bucket")).distinct()
    return (
        incoming.withColumn("__bucket", bucket)
        .join(F.broadcast(sink_buckets), on="__bucket", how="left_anti")
        .drop("__bucket")
    )


def first_per_bucket(df: DataFrame, bucket: Column,
                     order: Sequence[str | Column]) -> DataFrame:
    """Keep the first row per bucket under a total order — the batch
    determinization of hour-dedup (repeated half-hourly ingests against
    an hour-deduped sink converge to first-row-per-hour; SURVEY.md
    §7.4 item 3). ``order`` must end in a unique key for determinism.

    One shuffle on the bucket key; rank computed streaming within each
    partition (no buffering beyond the window frame).
    """
    w = Window.partitionBy(bucket).orderBy(*[F.asc(c) if isinstance(c, str) else c for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, cols: Sequence[str],
                tiebreak: Sequence[str] = ()) -> DataFrame:
    """Exact deduplication on ``cols``.

    With ``tiebreak`` given, keeps the first row per key under that
    order (deterministic, oracle-checkable). Without it, defers to
    Spark's ``dropDuplicates`` (hash-aggregate based, cheaper — fine
    when any representative row will do).
    """
    if tiebreak:
        key = F.struct(*[F.col(c) for c in cols])
        return first_per_bucket(df, key, list(tiebreak))
    return df.dropDuplicates(list(cols))


# --- near-duplicate detection (extension scope, BASELINE.json) ---------------
#
# Three scale paths, cheapest-first:
#   exact (hash groupBy)  →  simhash (64-bit, hamming buckets)
#   →  minhash+LSH (band-bucket join)  →  verified n-gram Jaccard.
# All hashing is xxhash64 (JVM built-in, codegen'd); the only shuffle
# is the band/bucket groupBy, whose fan-in LSH bounds by design.

def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 32, shingle_size: int = 3) -> DataFrame:
    """MinHash signatures over token shingles → (id, sig: array<long>).

    Shape: explode shingles → hash-aggregate ``min(xxhash64(h, shingle))``
    per id for each of ``num_hashes`` seeds. Each hash is computed
    exactly once per (shingle, seed) inside a codegen'd HashAggregate.

    Deliberately NOT a pure higher-order-function column expression: a
    nested transform/array_min signature gets re-evaluated per band
    key downstream (HOFs are interpreted, no subexpression
    elimination) — measured 500× slower on the fixture corpus. Here
    partial aggregation collapses a doc's shingles map-side, so the
    groupBy shuffle carries one row per doc.
    """
    from flight_data_pipeline_spark.operators.text import ngram_explode  # local: avoid cycle

    shingled = ngram_explode(df, text_col, shingle_size, id_col,
                             gram_col="__shingle")
    mins = shingled.groupBy(id_col).agg(*[
        F.min(F.xxhash64(F.lit(h), F.col("__shingle"))).alias(f"__h{h}")
        for h in range(num_hashes)
    ])
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{h}") for h in range(num_hashes)]).alias("sig"),
    )


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split a minhash signature into ``bands`` keys of
    ``rows_per_band`` hashes each: docs sharing ANY band key are
    near-dup candidates. Banding turns all-pairs O(n²) into a
    groupBy on band keys — the scale move that makes near-dedup
    feasible at 100 TB."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            ":",
            b.cast("string"),
            F.hash(F.slice(signature, b * rows_per_band + 1, rows_per_band))
            .cast("string"),
        ),
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_size: int = 3) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Plan: signature (map-side) → explode band keys → self-join within
    band buckets (groupBy-style shuffle on the band key) → distinct
    pairs. Returns (id_a, id_b) with id_a < id_b. Downstream verifies
    candidates with true Jaccard (verified_jaccard_pairs) — LSH is
    the recall filter, not the decision."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_size).select(
        F.col(id_col).alias("__id"),
        lsh_band_keys(F.col("sig"), bands, rows_per_band).alias("__bands"),
    )
    exploded = sig.select("__id", F.explode("__bands").alias("__band"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, (F.col("a.__band") == F.col("b.__band"))
               & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 10,
                         strict: bool = False) -> DataFrame:
    """Connected components over an undirected edge list → (v, label)
    with label = the component's minimum node id — the step that turns
    near-dup PAIRS into dedup CLUSTERS (keep min-id doc per cluster,
    drop the rest).

    Iterative min-label propagation with POINTER JUMPING, as pure
    DataFrame rounds: each round every node takes the min label over
    its closed neighborhood (join + min-aggregate), then jumps to its
    label's own label (one more join on the label table). The jump is
    sound — a label is always a node id inside the component with
    hop[u] ≤ u — and never slows the min step, so a component of
    diameter D settles within D rounds. How much the jump gains
    depends on id order: when ids increase along paths each jump
    lands on a node that has itself moved, reach doubles per round
    and a chain needs ~log₂ D rounds; with ids in arbitrary order the
    jump often lands on a node that has not moved, and a chain needs
    a sizeable fraction of D (plain-Python replay of the round, five
    shuffled id orders: 20-node chain 4–9 rounds against 4 with
    increasing ids; 320-node chain 67–135 against 8). Labels are
    SEEDED with the closed 1-hop neighborhood min — the aggregate a
    first round would produce from identity labels, folded into the
    vertex-derivation shuffle.

    Convergence: the loop stops as soon as a round changes no label —
    a fixed point of min-propagation, i.e. the true components — so
    converged inputs never pay the full ``max_iter`` rounds (dense
    near-dup clusters settle in 1-2; chains as above). The test is
    the label SUM, observed inside each round's checkpoint job (no
    probe job, no flag column): every label is ≤ its node id and a
    round never raises a label, over a fixed node set, so the sum is
    unchanged exactly when no label changed. Labels still move after
    ``max_iter`` rounds only on a component of diameter above
    ``max_iter`` (above roughly 2^max_iter if ids increase along its
    paths); then the default is a logged warning + partial
    labels (clusters may be split; raise ``max_iter``);
    ``strict=True`` raises instead — oracle-checked callers want a
    clear convergence error, not a confusing downstream hash MISMATCH
    from silently-split clusters.

    Lineage discipline: each round references the previous labels
    twice (message join + union), so an unbroken logical plan doubles
    per iteration — 2^max_iter copies of the upstream edge
    computation. Exactly like GraphFrames/MLlib, every round
    truncates lineage with an eager localCheckpoint (edges too: the
    posting-join subtree would otherwise replay every round). The
    per-round job this triggers is the inherent cost of an iterative
    algorithm, not a data collect."""
    import logging

    from flight_data_pipeline_spark.session import (
        checkpoint_observed,
        dump_loop_plan,
    )

    # exact: a decimal(38,0) sum cannot overflow on BIGINT node ids
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    # checkpoint the EDGE list (half the rows of its symmetrized
    # form); sym is then a lazy union of two projections of already-
    # materialized data — each round re-derives it for free instead
    # of the checkpoint materializing both directions
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")) \
        .localCheckpoint()
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # seed with the closed 1-hop neighborhood min — the same aggregate
    # a propagation round would compute from identity labels, folded
    # into the (unavoidable) vertex-derivation shuffle: saves one full
    # round every call
    labels, total = checkpoint_observed(
        sym.groupBy("s")
        .agg(F.least(F.min("d"), F.col("s")).alias("label"))
        .select(F.col("s").alias("v"), "label"),
        label_sum)
    # Both per-round joins broadcast their state side (labels, hop:
    # one row per node of the cluster graph at every in-repo caller),
    # so the symmetrized edges never shuffle inside the loop; a
    # checkpointed frame has no catalog stats, so without the hints
    # Spark would sort-merge-join the edge side every round. Rounds
    # KEEP AQE (unlike pagerank_integer): AQE-off measured slower
    # (OPTIMIZATION_r13.md §2, OPTIMIZATION_r14.md §3).
    for it in range(max_iter):
        msgs = (
            sym.join(F.broadcast(labels.withColumnRenamed("v", "__d")),
                     F.col("d") == F.col("__d"))
            .select(F.col("s").alias("v"), "label")
        )
        # hop feeds both sides of the jump: the lazy checkpoint
        # computes it once (in the broadcast build) and the probe side
        # reads it from executor storage
        hop = (labels.unionByName(msgs)
               .groupBy("v").agg(F.min("label").alias("label"))
               .localCheckpoint(eager=False))
        # pointer jump: label ← label's own label. A label is always a
        # node id inside the component with hop[u] ≤ u, so the jump is
        # sound (still in-component, still monotone); it doubles reach
        # per round only where ids increase along paths (see Convergence)
        jumped = (
            hop.join(F.broadcast(hop.select(F.col("v").alias("__u"),
                                            F.col("label").alias("__ul"))),
                     F.col("label") == F.col("__u"))
            .select("v", F.col("__ul").alias("label"))
        )
        if it == 0:
            dump_loop_plan(jumped, "connected_components_round1")
        labels, new_total = checkpoint_observed(jumped, label_sum)
        if new_total == total:
            break
        total = new_total
    else:
        msg = (f"connected_components: labels still changing after "
               f"{max_iter} rounds — some components are split; "
               f"raise max_iter")
        if strict:
            raise RuntimeError(msg)
        logging.getLogger(__name__).warning(msg)
    return labels


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Token-set Jaccard similarity — array_intersect/array_union
    sizes, computed per-row JVM-side."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(F.array_union(tokens_a, tokens_b))
    return inter / union


def simhash64(text_tokens: Column, token_hash=None) -> Column:
    """64-bit SimHash: per-token hash, bitwise majority vote.

    ``token_hash`` maps a token Column to a 64-bit long Column;
    default is xxhash64 (the production hash — fastest, JVM-side).
    Passing an oracle-replicable hash (e.g. an md5-prefix long, the
    simhash_buckets certification) changes only the hash primitive —
    the vote fold under test is identical.

    Pure column expressions: fold the token-hash array once per bit
    group using aggregate+transform (bit i extracted by shift/mask,
    vote summed, sign folded back). Near-dup docs differ in few bits;
    bucketing by rotated prefixes finds hamming-near pairs without
    all-pairs compare.

    Implementation note (measured): unlike minhash, the HOF form WINS
    here — an explode + 64-conditional-sum hash-aggregate variant ran
    1.5× slower (3.0 s vs 1.95 s, sf0.1). Minhash's HOF problem was
    per-band *recompute*; this fold is a single linear pass, so the
    aggregate rewrite only added a shuffle."""
    if token_hash is None:
        # wrapped: xxhash64 is *args-variadic, which the HOF lambda
        # plumbing rejects as a direct callback
        def token_hash(t):
            return F.xxhash64(t)
    # bit masks as a literal array (bit 63 is the sign bit of a long)
    masks = F.array(*[
        F.lit(1 << i if i < 63 else -(1 << 63)).cast("long") for i in range(64)
    ])
    hashes = F.transform(text_tokens, token_hash)
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)
    # one pass over tokens: votes[i] += bit_i(h) ? +1 : -1
    votes = F.aggregate(
        hashes,
        zero64,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # fingerprint = Σ masks[i] where votes[i] > 0
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dictionary_bitset_masks(df: DataFrame, id_col: str, block_col: str,
                            text_col: str, extra_cols: Sequence[str] = (),
                            max_vocab: int = 64) -> DataFrame:
    """Dictionary-encode each row's distinct-token SET as a single
    64-bit bitmask, with a per-block token dictionary → (id, block,
    *extra_cols, mask, n_tokens).

    The exact-similarity fast path for BOUNDED-VOCABULARY set columns
    (tags, categories, enum-ish token spaces): once sets are masks,
    Jaccard is ``bit_count(a & b) / bit_count(a | b)`` — pure
    codegen'd integer arithmetic, no arrays, no interpreted HOFs in
    the pair loop — and identical sets collapse to identical masks,
    so callers can dedup to distinct sets before any pair join.

    Plan: distinct (block, token) → dense position per block (a
    window over the tiny dictionary relation) → postings join the
    dictionary → one ``bit_or(1L << pos)`` hash aggregate per row id.
    Everything is distributed; the dictionary never touches the
    driver. A block whose vocabulary exceeds ``max_vocab`` (≤ 64)
    fails LOUDLY via assert_true — never a silently truncated mask.
    For open vocabularies use jaccard_pairs_blocked instead (posting
    join; linear dictionary assumptions don't hold there).
    """
    from flight_data_pipeline_spark.operators.text import distinct_tokens

    if max_vocab > 64:
        raise ValueError("bitset masks are single longs: max_vocab ≤ 64")
    # NOTE (r13): a cpu-dense id-repartition ahead of the tokenize —
    # the fix that paid for simhash/minhash/bloom — was tried here
    # and REVERTED: this operator's per-doc work (split + tiny-vocab
    # dictionary fold) is far lighter per byte, and the bench flagged
    # the two small consumers 1.7-2.0× (near_dup_jaccard_pairs_bitset,
    # cross_source_contamination) once the exchange + 32-task stages
    # outweighed the ~0.15 s serialized tokenize they replaced.
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        *[F.col(c).alias(f"__x_{c}") for c in extra_cols],
        distinct_tokens(F.col(text_col)).alias("__t"),
    )
    posting = base.select("__id", "__blk",
                          *[f"__x_{c}" for c in extra_cols],
                          F.size("__t").alias("__n"),
                          F.explode("__t").alias("__tok"))
    vocab = posting.select("__blk", "__tok").distinct()
    dict_w = Window.partitionBy("__blk").orderBy("__tok")
    # contract enforcement rides the position expression itself (an
    # unreferenced check column would be pruned away): a 65th token in
    # any block fails the job, never silently wraps the shift
    checked = F.when(
        F.assert_true(F.col("__rawpos") < max_vocab,
                      F.lit(f"block vocabulary exceeds {max_vocab}; "
                            "use jaccard_pairs_blocked")).isNull(),
        F.col("__rawpos"),
    )
    dictionary = (
        vocab.select("__blk", "__tok",
                     (F.row_number().over(dict_w) - 1).alias("__rawpos"))
        .select("__blk", "__tok", checked.alias("__pos"))
    )
    return (
        posting.join(dictionary, ["__blk", "__tok"])
        .groupBy("__id", "__blk", "__n", *[f"__x_{c}" for c in extra_cols])
        .agg(F.bit_or(F.expr("shiftleft(1L, __pos)")).alias("mask"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__blk").alias(block_col),
            *[F.col(f"__x_{c}").alias(c) for c in extra_cols],
            "mask",
            F.col("__n").alias("n_tokens"),
        )
    )


def _verify_pair_candidates(t: DataFrame, cand: DataFrame,
                            threshold: float, sim_digits: int,
                            carry_cols: Sequence[str]) -> DataFrame:
    """Exact-verification stage shared by the candidate-generating
    Jaccard paths (hot-token guard, prefix filter): join the token
    arrays onto each (id_a, id_b) candidate and compute the full
    token-set Jaccard once per pair. Token arrays arrive through a
    shuffle so they're materialized columns: array_intersect runs once
    per candidate, never recomputed through CollapseProject."""
    ta = t.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta"),
                  F.col("__n").alias("__na"),
                  *[F.col(f"__p_{c}").alias(f"{c}_a") for c in carry_cols])
    tb = t.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb"),
                  F.col("__n").alias("__nb"),
                  *[F.col(f"__p_{c}").alias(f"{c}_b") for c in carry_cols])
    # |a∪b| = na + nb − |a∩b|: one array_intersect per candidate
    # instead of intersect + union — the arrays are distinct-token
    # sets, so the identity is exact, and it halves the per-candidate
    # array work (the dominant cost once candidates are bounded)
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .select(
            "id_a", "id_b",
            *[f"{c}_a" for c in carry_cols],
            *[f"{c}_b" for c in carry_cols],
            F.round(inter / (F.col("__na") + F.col("__nb") - inter),
                    sim_digits)
            .alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def jaccard_pairs_blocked(df: DataFrame, id_col: str, block_col: str,
                          text_col: str, threshold: float,
                          sim_digits: int = 4,
                          max_token_df: int | None = None,
                          prefix_filter: bool = False,
                          carry_cols: Sequence[str] = ()) -> DataFrame:
    """All pairs within a block whose token-set Jaccard ≥ threshold →
    (id_a, id_b, jaccard_sim), via the inverted-index shape: explode
    distinct tokens, self-join postings on (block, token), count
    co-occurrences in a codegen'd hash aggregate, and derive
    |a∪b| = na + nb − |a∩b|.

    ``carry_cols`` rides per-document payload columns (functionally
    dependent on the id, e.g. ``source``) through the pair generation:
    each ``c`` comes back as ``{c}_a`` / ``{c}_b``. They travel as
    extra grouping keys on the co-occurrence aggregate — free at the
    shuffle (same key cardinality), and they spare the caller two
    document-table joins to re-attach metadata to the pair stream.

    NOT per-pair array_intersect (interpreted; measured ~6× slower at
    sf0.1). Cost tracks co-occurrence volume; the block key bounds the
    pair space exactly like LSH bands do in the unkeyed variant.

    ``max_token_df`` is the hot-token guard for scale: a token held by
    m docs of one block contributes m² rows to the posting join, so a
    single stopword-like token inside a big block goes quadratic. With
    the guard on, candidate pairs are generated only from postings
    whose per-block document frequency is ≤ max_token_df (hot tokens
    carry no discriminating signal anyway), then every candidate is
    verified with an exact full-token-set Jaccard — so reported sims
    are always exact and there are never false positives. A true pair
    is missed only if EVERY token it shares is hotter than the cap;
    recall at threshold 0.8 on the fixture corpus is pinned unchanged
    in tests (tests/test_extensions.py). Default None keeps the
    single-pass exact counting path (the oracle-checked form).

    ``prefix_filter=True`` is the exactness-preserving scale path:
    candidates are generated from rarest-first token PREFIXES only
    (length n - ceil(t*n) + 1 — the AllPairs/PPJoin prefix principle;
    a qualifying pair provably shares a prefix token once the length
    filter holds), with the PPJoin POSITIONAL filter pruning
    occurrences whose matched-token positions already cap the overlap
    below the threshold's requirement (sf0.1: 1.39M → 612k candidate
    occurrences, 322k → 300k distinct pairs), then verified exactly.
    Same outputs as the default path at any threshold, ~5x less join
    volume on the fixture corpus.
    """
    from flight_data_pipeline_spark.operators.text import distinct_tokens

    if max_token_df is not None and prefix_filter:
        raise ValueError("max_token_df and prefix_filter are separate "
                         "candidate strategies; pick one")

    t = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        *[F.col(c).alias(f"__p_{c}") for c in carry_cols],
        distinct_tokens(F.col(text_col)).alias("__t"),
    ).withColumn("__n", F.size("__t"))
    carry = [f"__p_{c}" for c in carry_cols]
    posting = t.select("__id", "__blk", "__n", *carry,
                       F.explode("__t").alias("__tok"))

    if max_token_df is not None:
        # Phase 1 — candidates from DF-capped postings only: the hash
        # aggregate below computes per-block token DF; the filter drops
        # the quadratic hot postings before the self-join.
        tok_df = posting.groupBy("__blk", "__tok").agg(
            F.count("*").alias("__df"))
        capped = (
            posting.join(tok_df, ["__blk", "__tok"])
            .where(F.col("__df") <= max_token_df)
            .select("__id", "__blk", "__tok")
        )
        ca, cb = capped.alias("a"), capped.alias("b")
        cand = (
            ca.join(cb, (F.col("a.__blk") == F.col("b.__blk"))
                    & (F.col("a.__tok") == F.col("b.__tok"))
                    & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"))
            .distinct()
        )
        # Phase 2 — exact verification on the (bounded) candidate set.
        return _verify_pair_candidates(t, cand, threshold, sim_digits,
                                       carry_cols)

    if prefix_filter:
        # Exact prefix filtering (the AllPairs/PPJoin principle, as in
        # Vernica/Carey/Li's MapReduce set-similarity join, SIGMOD'10):
        # order each block's tokens rarest-first; a pair with Jaccard
        # >= t that passes the length filter MUST share a token within
        # each side's (n - ceil(t*n) + 1)-prefix, so only prefix
        # postings enter the candidate self-join. Measured at sf0.1:
        # the posting self-join drops from 11.2M pair-rows to 2.1M and
        # verification touches 322k candidates — ~5x less join volume
        # with recall exactly 1.0 (unlike max_token_df, no trade).
        # ceil(t*n) is computed with a 1e-9 backoff: float overshoot
        # (0.8*15 -> 12.000000000000002 -> ceil 13) would SHORTEN the
        # prefix and break exactness; undershoot only lengthens it.
        tok_df = posting.groupBy("__blk", "__tok").agg(
            F.count("*").alias("__df"))
        w = Window.partitionBy("__id").orderBy("__df", "__tok")
        plen = (F.col("__n")
                - F.ceil(F.col("__n") * threshold - F.lit(1e-9)) + 1)
        # The __id window shuffle feeds the ENTIRE candidate+verify
        # tail in one stage (the prefix self-join, positional filter,
        # pair distinct and per-pair array_intersect verification all
        # ride broadcast joins above it). Its bytes are tiny but its
        # CPU is the whole query, so AQE's byte-based coalescing
        # serializes it onto one core — pin the exchange to the
        # cpu-dense width instead (measured r13: 5.4 s → 1.4 s at
        # sf0.1/local[32]; plan diff in plans/r13/). Same rows, same
        # window keys — output unchanged.
        from flight_data_pipeline_spark.session import cpu_dense_partitions

        prefix = (
            posting.join(tok_df, ["__blk", "__tok"])
            .repartition(cpu_dense_partitions(posting.sparkSession), "__id")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= plen)
            .select("__id", "__blk", "__n", "__rn", "__tok")
        )
        pa, pb = prefix.alias("a"), prefix.alias("b")
        # PPJoin positional filter (Xiao et al., WWW'08) on top of the
        # prefix principle: J ≥ t ⟺ |a∩b| ≥ α = ⌈t/(1+t)·(na+nb)⌉, and
        # at the FIRST token the ordered sets share (positions i, j in
        # the same rarest-first order) every common token lies in both
        # suffixes, so |a∩b| ≤ min(na−i+1, nb−j+1). Pruning occurrences
        # that violate the bound is exact: a qualifying pair's
        # first-common-token occurrence always survives, and the
        # distinct() needs any one surviving occurrence. α uses the
        # same 1e-9 downward backoff as the prefix length — float
        # overshoot may only weaken the filter, never break it.
        alpha = F.ceil(
            (F.col("a.__n") + F.col("b.__n")) * threshold / (1 + threshold)
            - F.lit(1e-9))
        cond = ((F.col("a.__blk") == F.col("b.__blk"))
                & (F.col("a.__tok") == F.col("b.__tok"))
                & (F.col("a.__id") < F.col("b.__id"))
                & (F.col("b.__n") >= threshold * F.col("a.__n"))
                & (F.col("a.__n") >= threshold * F.col("b.__n"))
                & (F.least(F.col("a.__n") - F.col("a.__rn"),
                           F.col("b.__n") - F.col("b.__rn")) + 1 >= alpha))
        cand = (
            pa.join(pb, cond)
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"))
            .distinct()
        )
        return _verify_pair_candidates(t, cand, threshold, sim_digits,
                                       carry_cols)

    a, b = posting.alias("a"), posting.alias("b")
    cond = ((F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col("a.__id") < F.col("b.__id")))
    if threshold > 0:
        # AllPairs length filter, exactness-preserving: jaccard ≤
        # min(na,nb)/max(na,nb), so a size-skewed pair can never reach
        # the threshold — prune it before it inflates the aggregate
        cond = cond & (F.col("b.__n") >= threshold * F.col("a.__n")) \
                    & (F.col("a.__n") >= threshold * F.col("b.__n"))
    co = (
        a.join(b, cond)
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
            *[F.col(f"a.__p_{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.__p_{c}").alias(f"{c}_b") for c in carry_cols],
        )
        .agg(F.count("*").alias("__c"))
    )
    sim = F.round(F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
                  sim_digits)
    return (
        co.select("id_a", "id_b",
                  *[f"{c}_a" for c in carry_cols],
                  *[f"{c}_b" for c in carry_cols],
                  sim.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           n: int = 5, min_docs: int = 2,
                           keep_cols: Sequence[str] = (),
                           cleaned_col: str = "cleaned_text") -> DataFrame:
    """Exact duplicated-SPAN removal (the Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr recipe on token n-grams,
    RefinedWeb's span variant): a token is removed when ANY n-gram
    occurrence containing it also appears in ≥ ``min_docs`` distinct
    documents. Unlike document-level dedup this edits documents in
    place — boilerplate shared across docs vanishes, unique prose
    survives. Returns (id, keep_cols…, n_tokens, removed_tokens,
    ``cleaned_col``).

    Plan: posexplode the aligned-shift n-gram structs (codegen; the
    position rides along for free) → one (gram → distinct-doc count)
    hash aggregate → posting join back on the gram key → explode each
    duplicated occurrence to its ≤ n covered positions → distinct →
    per-doc sorted position set (bounded by DOC length, never corpus)
    → one higher-order filter drops covered tokens in order. Cost
    tracks gram-occurrence volume like every inverted-index consumer
    here; there is no doc-pair term anywhere and per-doc state is the
    only collected structure. Documents shorter than n behave as one
    whole-document gram (fully removed iff duplicated).
    """
    from flight_data_pipeline_spark.operators.text import (
        _gram_text,
        _ngram_structs,
        tokens,
    )

    toks = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(f"__k_{c}") for c in keep_cols],
        tokens(F.col(text_col)).alias("__t"),
    ).withColumn("__n", F.size("__t"))

    g = (
        toks.select(
            "__id", "__n",
            F.posexplode(_ngram_structs(F.col("__t"), n))
            .alias("__p", "__gs"))
        .select("__id", "__n", "__p",
                _gram_text(F.col("__gs"), n).alias("__g"))
    )
    gd = g.groupBy("__g").agg(F.countDistinct("__id").alias("__d"))
    cov = (
        g.join(gd, "__g")
        .where(F.col("__d") >= min_docs)
        .select(
            "__id",
            F.explode(
                F.sequence(
                    F.col("__p"),
                    F.least(F.col("__p") + (n - 1), F.col("__n") - 1)))
            .alias("__pos"),
        )
        .distinct()
    )
    covset = cov.groupBy("__id").agg(
        F.sort_array(F.collect_set("__pos")).alias("__cov"))
    kept = F.filter(
        "__t",
        lambda x, i: ~F.array_contains(F.col("__cov"), i))
    return (
        toks.join(covset, "__id", "left")
        .withColumn("__cov",
                    F.coalesce("__cov", F.array().cast("array<int>")))
        .withColumn("__kept", kept)
        .select(
            F.col("__id").alias(id_col),
            *[F.col(f"__k_{c}").alias(c) for c in keep_cols],
            F.col("__n").alias("n_tokens"),
            (F.col("__n") - F.size("__kept")).alias("removed_tokens"),
            F.concat_ws(" ", "__kept").alias(cleaned_col),
        )
    )


def set_group_cluster_labels(masks: DataFrame, id_col: str = "doc_id",
                             block_col: str = "source",
                             threshold: float = 0.8):
    """Set-group connected components over a dictionary-bitset frame
    (``dictionary_bitset_masks`` output): collapse rows to distinct
    (block, mask) groups (node = min id, n = multiplicity), draw
    group edges where integer bitset Jaccard ≥ ``threshold`` (exact
    rational arithmetic — no floats), and label the group graph with
    ``connected_components``. Returns (gs, labels).

    This is the shared engine under near_dup_clusters / survivor
    accounting / leakage-safe splits / keep-best selection
    (plans/dedup_queries.py) — hoisted to an operator so a pipeline
    can run it ONCE and hand the result to every consumer (see
    ``cluster_assignments``)."""
    from fractions import Fraction

    th = Fraction(str(threshold))
    num, den = th.numerator, th.denominator

    # gs is consumed by BOTH edge-build sides inside the CC edge
    # checkpoint AND by every caller's doc↔group join afterwards; a
    # lazy localCheckpoint computes the tokenize→dictionary→bit_or
    # collapse once and serves the rest from executor storage
    # (the curation_stages diamond discipline — r13). At 100 TB this
    # IS the materialization point (cluster_assignments docstring);
    # group-sized rows, no extra job (materializes inside the first
    # consumer's job).
    gs = (masks.groupBy(block_col, "mask")
          .agg(F.min(id_col).alias("node"), F.count("*").alias("n"))
          .localCheckpoint(eager=False))
    a = gs.select(block_col, F.col("mask").alias("mask_a"),
                  F.col("node").alias("node_a"))
    b = gs.select(block_col, F.col("mask").alias("mask_b"),
                  F.col("node").alias("node_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    na, nb = F.bit_count(F.col("mask_a")), F.bit_count(F.col("mask_b"))
    edges = (
        a.join(b, block_col)
        .where(F.col("mask_a") < F.col("mask_b"))
        .where((na * den >= nb * num) & (nb * den >= na * num))
        .where(inter * den >= union * num)
        .select("node_a", "node_b")
    )
    labels = connected_components(edges, src="node_a", dst="node_b",
                                  max_iter=10)
    return gs, labels


def cluster_assignments(masks: DataFrame, id_col: str = "doc_id",
                        block_col: str = "source",
                        threshold: float = 0.8) -> DataFrame:
    """Per-row near-dup cluster assignment: (id, block, cluster)
    where ``cluster`` is the CC label of the row's set-group, the
    group node itself for an identical-set group of ≥2 with no
    outside edge, or NULL for a true singleton. The id↔group join is
    on (block, mask) — the keys the group collapse already shuffled.

    THE MATERIALIZATION POINT of the dedup pipeline: at 100 TB,
    write this frame once (partitioned by ``block_col``) and every
    consumer — survivor pruning, split assignment, keep-best
    selection, contamination reports — becomes a cheap id-key join
    against it instead of re-running tokenize + collapse + CC.
    tests/test_extensions.py::TestClusterMapMaterialization pins the
    write→read round trip and consumer equivalence."""
    # masks feeds the group collapse AND the doc↔group join below —
    # lazily checkpointed so tokenize + dictionary + bit_or run once
    # per call instead of once per consumer (r13; measured with the
    # gs checkpoint: ~0.8× on the cluster-map family at sf0.1)
    masks = masks.localCheckpoint(eager=False)
    gs, labels = set_group_cluster_labels(
        masks, id_col=id_col, block_col=block_col, threshold=threshold)
    doc_groups = masks.join(gs, [block_col, "mask"])
    lab = doc_groups.join(labels, doc_groups["node"] == labels["v"], "left")
    cluster = F.coalesce(
        F.col("label"), F.when(F.col("n") >= 2, F.col("node")))
    return lab.select(id_col, block_col, cluster.alias("cluster"))
