"""Deduplication checked queries over documents (extension scope):
exact/hash dedup, verified n-gram Jaccard near-dup, MinHash+LSH and
SimHash scale paths.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flight_data_pipeline_spark.operators.dedup import (
    jaccard,
    minhash_lsh_candidates,
    simhash64,
)
from flight_data_pipeline_spark.operators.text import distinct_tokens, tokens
from flight_data_pipeline_spark.plans.registry import query
from flight_data_pipeline_spark.tables import load_table

JACCARD_THRESHOLD = 0.8


@query(
    "exact_dedup_documents",
    oracle="""
    SELECT COUNT(*)                    AS n_docs,
           COUNT(DISTINCT md5(text))   AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
    FROM documents
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting via content hash (hash-groupBy — the
    cheapest dedup tier). At 100 TB: hash computed map-side, the
    shuffle carries only (hash, count) partials."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


@query(
    "near_dup_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct(string_split(text, ' ')) AS t
        FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.t, b.t))
                 * 1.0 / len(list_distinct(list_concat(a.t, b.t))), 4) AS jaccard_sim
    FROM toks a
    JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.t, b.t))
          * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def near_dup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-duplicate pairs: token-set Jaccard ≥ 0.8 within
    each source partition. The source-key equi-join bounds the pair
    blowup (the role LSH bands play in the unkeyed variant below).
    Exactly SQL-expressible, so this is the *checked* near-dup query;
    the hash-family variants (minhash/simhash) are rows-only.

    Runs the exact PREFIX-FILTERED candidate path (rarest-first token
    prefixes per the AllPairs/PPJoin principle + full verification —
    operators/dedup.jaccard_pairs_blocked(prefix_filter=True)): same
    output as the single-pass counting form at every threshold (pinned
    in tests/test_extensions.py::TestPrefixFilter), ~5× less posting
    self-join volume than unfiltered, plus the PPJoin positional
    filter halving candidate occurrences again (sf0.1: 612k
    occurrences, 300k verified pairs). Unlike the max_token_df guard
    this trades no recall, so it can BE the oracle-checked form.

    No final ORDER BY: the result is a pair SET, and a global sort
    would add a RangePartitioning exchange whose boundary-sampling job
    re-executes the whole verify subtree (measured 10.6 s → 5.3 s at
    sf0.1 from dropping it). The driver/oracle compare is
    order-insensitive."""
    from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

    docs = load_table(spark, "documents", sf_dir)
    pairs = jaccard_pairs_blocked(
        docs, id_col="doc_id", block_col="source", text_col="text",
        threshold=JACCARD_THRESHOLD, prefix_filter=True,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard_sim",
    )

GUARD_MAX_TOKEN_DF = 20


@query(
    "near_dup_jaccard_pairs_guarded",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct(string_split(text, ' ')) AS t
        FROM documents
    ),
    posting AS (
        SELECT doc_id, source, unnest(t) AS tok FROM toks
    ),
    tok_df AS (
        SELECT source, tok, COUNT(*) AS dfreq
        FROM posting GROUP BY source, tok
    ),
    capped AS (
        SELECT p.doc_id, p.source, p.tok
        FROM posting p JOIN tok_df d
          ON d.source = p.source AND d.tok = p.tok
        WHERE d.dfreq <= {GUARD_MAX_TOKEN_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.source = b.source AND a.tok = b.tok
             AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard_sim
    FROM (
        SELECT c.doc_a, c.doc_b,
               ROUND(len(list_intersect(ta.t, tb.t)) * 1.0
                     / (len(ta.t) + len(tb.t)
                        - len(list_intersect(ta.t, tb.t))), 4)
                   AS jaccard_sim
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.doc_a
        JOIN toks tb ON tb.doc_id = c.doc_b)
    WHERE jaccard_sim >= {JACCARD_THRESHOLD}
    """,
)
def near_dup_jaccard_pairs_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-token-guarded form of near_dup_jaccard_pairs: candidate
    pairs are generated only from postings whose per-block document
    frequency is ≤ GUARD_MAX_TOKEN_DF (20), then every candidate is
    verified with an exact full-token-set Jaccard — reported sims are
    always exact, false positives impossible.

    Measured at sf0.1 (local[32]): 0.85-1.0 s vs 8.1 s for the exact
    single-pass path — the DF cap removes the quadratic hot postings
    that dominate the co-occurrence join. The recall trade is corpus-
    dependent and this fixture is ADVERSARIAL for it: the synthetic
    corpus is template-duplicated, so a near-dup pair's shared tokens
    are exactly the block-hot ones and a cap below the dup-cluster
    size drops them (recall 335/147 839 at sf0.1 for caps 20-150). On
    natural corpora the hot tokens are stopwords carrying no dup
    signal — there the guard is the 100× default, with the cap sized
    above the largest expected duplicate cluster. PROMOTED from
    rows-only (r8): the oracle replays the GUARD ITSELF — a token-DF
    CTE, the ≤cap posting filter, the capped candidate self-join, and
    the exact full-token-set verification — rather than claiming
    equality with the exact path (which is a block-size property, not
    an operator property; it stays pinned separately at the fixture
    scales by tests/test_extensions.py::TestHotTokenGuard). The
    threshold applies to the ROUND(·, 4) sim on both sides, exactly
    as _verify_pair_candidates does."""
    from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

    docs = load_table(spark, "documents", sf_dir)
    pairs = jaccard_pairs_blocked(
        docs, id_col="doc_id", block_col="source", text_col="text",
        threshold=JACCARD_THRESHOLD, max_token_df=GUARD_MAX_TOKEN_DF,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard_sim",
    )


@query(
    "cross_source_contamination",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, lang,
               list_distinct(string_split(text, ' ')) AS t
        FROM documents
    )
    SELECT a.source AS source_a,
           b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
    FROM t a
    JOIN t b ON a.lang = b.lang AND a.source < b.source
    WHERE len(list_intersect(a.t, b.t))
          * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection: near-duplicate pairs that
    span DIFFERENT sources (the leak a per-source dedup never sees),
    counted per source pair.

    Exact, with no per-pair array math and no doc-level all-pairs
    join, via set collapse + dictionary bitsets (the corpus profile
    that motivates it: the fixture's per-lang vocabulary is 31
    tokens, and real contamination corpora are template-heavy):

    1. every doc's distinct-token set → a 64-bit mask over the
       per-lang dictionary (operators.dedup.dictionary_bitset_masks —
       fails loudly past 64 tokens; the open-vocabulary route is the
       jaccard_pairs_blocked posting join used by
       near_dup_jaccard_pairs);
    2. docs COLLAPSE to distinct (lang, mask) set-groups with
       per-source multiplicities — the exact-dedup-before-near-dup
       step every dedup pipeline runs anyway, and what bounds the
       pair join: it enumerates distinct SETS, not documents;
    3. group pairs join on lang with Jaccard as integer bit ops
       (5·|a∩b| ≥ 4·|a∪b| — exact, no floats), plus the AllPairs
       popcount prune;
    4. qualifying group pairs expand to the source matrix through two
       joins against the tiny (lang, mask, source, n) counts —
       distinct-group pairs contribute n_a·n_b to cell
       (min(src), max(src)); identical-set groups (Jaccard 1)
       contribute their own cross-source products.

    Measured at sf0.1 (local[32]): 46.4 s for the lang-blocked
    posting join (115 M co-occurrence rows — every token is hot when
    the vocabulary is 31), ~8 s for the doc-level all-pairs HOF form
    it replaced, <2 s for this plan."""
    from flight_data_pipeline_spark.operators.dedup import dictionary_bitset_masks

    docs = load_table(spark, "documents", sf_dir)
    masks = dictionary_bitset_masks(
        docs, id_col="doc_id", block_col="lang", text_col="text",
        extra_cols=("source",),
    )
    # (lang, mask, source) multiplicities; identical sets share a mask
    gs = masks.groupBy("lang", "mask", "source").agg(
        F.count("*").alias("n"))
    gsets = gs.select("lang", "mask").distinct()

    from fractions import Fraction

    # threshold as an exact rational so boundary pairs (jaccard ==
    # 0.8 precisely) compare in pure integer arithmetic — a float 0.8
    # is 0.8000…0444 and flips them against the oracle
    th = Fraction(str(JACCARD_THRESHOLD))
    num, den = th.numerator, th.denominator
    a = gsets.select("lang", F.col("mask").alias("mask_a"))
    b = gsets.select("lang", F.col("mask").alias("mask_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    na, nb = F.bit_count(F.col("mask_a")), F.bit_count(F.col("mask_b"))
    qual = (
        a.join(b, "lang")
        .where(F.col("mask_a") < F.col("mask_b"))
        # AllPairs popcount prune (jaccard ≤ min(na,nb)/max(na,nb))
        .where((na * den >= nb * num) & (nb * den >= na * num))
        .where(inter * den >= union * num)
        .select("lang", "mask_a", "mask_b")
    )
    ga = gs.select("lang", F.col("mask").alias("mask_a"),
                   F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    gb = gs.select("lang", F.col("mask").alias("mask_b"),
                   F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    cross_groups = (
        qual.join(ga, ["lang", "mask_a"]).join(gb, ["lang", "mask_b"])
        .where(F.col("source_a") != F.col("source_b"))
        .select(
            F.least("source_a", "source_b").alias("source_a"),
            F.greatest("source_a", "source_b").alias("source_b"),
            (F.col("n_a") * F.col("n_b")).alias("pairs"),
        )
    )
    same_group = (
        ga.join(gb, (ga["lang"] == gb["lang"]) & (ga["mask_a"] == gb["mask_b"])
                & (ga["source_a"] < gb["source_b"]))
        .select(
            F.col("source_a"), F.col("source_b"),
            (F.col("n_a") * F.col("n_b")).alias("pairs"),
        )
    )
    return (
        cross_groups.unionByName(same_group)
        .groupBy("source_a", "source_b")
        .agg(F.sum("pairs").alias("n_leaked_pairs"))
    )


@query("minhash_lsh_near_dups")  # xxhash64 has no DuckDB twin ⇒ rows-only
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, Jaccard-verified — the scale
    path: band-bucket join instead of any-pairs, so cost tracks the
    number of colliding candidates, not n². Rows-only check (minhash
    needs xxhash64; DuckDB can't mirror it) — recall vs the exact
    Jaccard query is pinned by tests/test_extensions.py instead."""
    docs = load_table(spark, "documents", sf_dir)
    # shingle_size=1 (token sets): minhash then estimates the same
    # token-set Jaccard the exact query computes, so recall is
    # measurable against it (tests/test_extensions.py). Sequence-level
    # dedup on real corpora uses the operator default (3-shingles).
    cands = minhash_lsh_candidates(docs, "doc_id", "text",
                                   num_hashes=32, bands=8, shingle_size=1)
    t = docs.select(F.col("doc_id"), distinct_tokens(F.col("text")).alias("t"))
    return (
        cands.join(t.withColumnRenamed("doc_id", "id_a").withColumnRenamed("t", "ta"), "id_a")
        .join(t.withColumnRenamed("doc_id", "id_b").withColumnRenamed("t", "tb"), "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jaccard(F.col("ta"), F.col("tb")), 4).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= JACCARD_THRESHOLD)
    )


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t
        FROM documents
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
              * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ), sym AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), reach(v, u) AS (
        SELECT s, s FROM sym
        UNION
        SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s
    )
    SELECT CAST(cluster_id AS BIGINT)        AS cluster_id,
           CAST(COUNT(*) AS BIGINT)          AS n_docs
    FROM (SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v)
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over the verified near-dup
    pair graph — the step that turns pairs into the keep/drop decision
    (keep each cluster's min doc_id, drop the rest; n_docs − 1 drops
    per cluster). The oracle computes the same components with a
    recursive transitive-closure CTE over doc-level edges.

    The Spark side runs CC on COLLAPSED SET-GROUPS, not documents —
    strictly dominant at every scale because identical token sets are
    one node: docs collapse to distinct (source, mask) groups
    (dictionary_bitset_masks; jaccard 1 within a group), group edges
    come from integer bitset Jaccard (exact — same arithmetic as
    cross_source_contamination), and min-label propagation
    (operators.dedup.connected_components, early-stopping) runs over
    the smaller group graph. A group node is identified by its min
    doc_id, so a CC label IS the cluster's min doc_id — the oracle's
    cluster key — with no relabeling join. Groups of ≥2 identical
    docs with no group edge are single-group clusters (their docs
    pair with each other at jaccard 1); singleton groups with no edge
    never appear in the doc-level edge graph and are excluded, like
    the oracle. The one genuinely iterative algorithm in the
    registry, still exactly checked."""
    gs, labels = _set_group_clusters(spark, sf_dir)
    edge_clusters = (
        labels.join(gs, labels["v"] == gs["node"])
        .select("label", "n")
    )
    isolated = (
        gs.where(F.col("n") >= 2)
        .join(labels, gs["node"] == labels["v"], "left_anti")
        .select(F.col("node").alias("label"), "n")
    )
    return (
        edge_clusters.unionByName(isolated)
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(F.sum("n").alias("n_docs"))
    )


def _set_group_clusters(spark: SparkSession, sf_dir: str,
                        masks: DataFrame | None = None):
    """Shared plumbing for the clusters/survivors/curation twins:
    documents → distinct (source, mask) set-groups (node = min doc_id,
    n = multiplicity) and the CC labels of the group graph under
    bitset-Jaccard ≥ JACCARD_THRESHOLD edges. Returns (gs, labels).
    Pass ``masks`` when the caller already built the bitset frame over
    a staged subset (corpus_curation_stats dedups the quality-filtered,
    exact-deduped corpus; spares a second tokenize+dictionary pass)."""
    from flight_data_pipeline_spark.operators.dedup import (
        dictionary_bitset_masks,
        set_group_cluster_labels,
    )

    if masks is None:
        masks = dictionary_bitset_masks(
            load_table(spark, "documents", sf_dir),
            id_col="doc_id", block_col="source", text_col="text")
    return set_group_cluster_labels(
        masks, id_col="doc_id", block_col="source",
        threshold=JACCARD_THRESHOLD)


def _doc_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level cluster assignment shared by the survivor/split/
    keep-best twins: (doc_id, source, cluster) via
    ``operators/dedup.cluster_assignments`` — the single home of the
    cluster-id semantics (CC label of the doc's set-group, the group
    node itself for an identical-set group of ≥2 with no outside
    edge, NULL for a true singleton), so the plan consumers and the
    materialized-map path (TestClusterMapMaterialization) can never
    diverge."""
    from flight_data_pipeline_spark.operators.dedup import (
        cluster_assignments,
        dictionary_bitset_masks,
    )

    docs = load_table(spark, "documents", sf_dir)
    masks = dictionary_bitset_masks(
        docs, id_col="doc_id", block_col="source", text_col="text")
    return cluster_assignments(
        masks, id_col="doc_id", block_col="source",
        threshold=JACCARD_THRESHOLD)


@query(
    "dedup_survivors_by_source",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t
        FROM documents
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
              * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ), sym AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), reach(v, u) AS (
        SELECT s, s FROM sym
        UNION
        SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s
    ), cl AS (
        SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cl.v IS NOT NULL AND d.doc_id <> cl.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(CASE WHEN cl.v IS NOT NULL
                                         AND d.doc_id <> cl.cluster_id
                                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           ROUND((COUNT(*) - SUM(CASE WHEN cl.v IS NOT NULL
                                           AND d.doc_id <> cl.cluster_id
                                      THEN 1 ELSE 0 END)) * 1.0 / COUNT(*), 4)
               AS survival_rate
    FROM documents d LEFT JOIN cl ON d.doc_id = cl.v
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def dedup_survivors_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision MATERIALIZED: per source, how many documents
    survive near-dup clustering (keep each cluster's min doc_id, drop
    the rest) — the end-to-end pairs → clusters → pruned-corpus loop
    every training-data pipeline runs before tokenization, as one
    checked aggregate (flag-don't-drop: counts, the corpus itself is
    never filtered here).

    Same set-group plumbing as `near_dup_clusters`
    (_set_group_clusters): docs map to their group node via the
    (source, mask) join, a group's cluster is its CC label (or itself
    when an identical-set group of ≥2 has no edge), and a doc is
    dropped iff it sits in a cluster and is not the min-id keeper.
    The doc↔group join is on (source, mask) — the same keys the
    group collapse already shuffled."""
    assign = _doc_cluster_map(spark, sf_dir)
    cluster = F.col("cluster")
    dropped = (cluster.isNotNull()
               & (F.col("doc_id") != cluster)).cast("bigint")
    return (
        assign.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dropped).alias("n_dropped"),
            (F.count("*") - F.sum(dropped)).alias("n_survivors"),
            F.round((F.count("*") - F.sum(dropped)) / F.count("*"), 4)
            .alias("survival_rate"),
        )
    )


_SB_VOTES_SQL = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(60))
_SB_SIG_SQL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(60))


@query(
    "simhash_buckets",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        FROM tok
    ),
    votes AS (
        SELECT doc_id, {_SB_VOTES_SQL}
        FROM h GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id, {_SB_SIG_SQL} AS simhash
        FROM votes
    )
    SELECT simhash >> 48 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS doc_ids
    FROM sig GROUP BY bucket HAVING COUNT(*) > 1 ORDER BY bucket
    """,
)
def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints bucketed by 16-bit prefix — the constant-
    size-signature dedup tier (one long per doc vs minhash's array).
    Output: buckets with >1 doc, i.e. hamming-near candidates sharing
    a prefix. doc_ids is serialized to a sorted comma-joined string
    (the nations_per_region pattern) — array columns crash the
    driver's pandas canonicalizer.

    PROMOTED rows-only → hash-checked (r13, VERDICT r12 item 6): the
    simhash_md5_fingerprints recipe extended to the exact bucket
    assignment. Token hashes are md5-prefix 60-bit longs both engines
    compute identically (bits 60-63 of every hash are 0, so those
    fingerprint bits vote negative and the 16-bit prefix carries 12
    effective bits — same bucketing semantics), which certifies the
    PRODUCTION simhash64 vote fold (operators/dedup.py HOF pass — the
    logic under test; only the token-hash primitive differs from the
    xxhash64 production default) and the full bucket → members map in
    one value hash. Plan shape unchanged: map-side fold, one |docs|
    aggregate shuffle.

    The fold runs over an explicit doc_id repartition (r13): the
    fixture scan is one file → one task, and the 64-bit vote fold is
    the whole query's CPU (measured 1.5 s serialized → wide; at scale
    a many-file corpus scan is already wide and the exchange of raw
    text is one cheap pass)."""
    from flight_data_pipeline_spark.session import cpu_dense_partitions

    docs = load_table(spark, "documents", sf_dir).repartition(
        cpu_dense_partitions(spark), "doc_id")
    md5_hash = (lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
                .cast("long"))
    sh = docs.select(
        "doc_id",
        simhash64(tokens(F.col("text")), token_hash=md5_hash)
        .alias("simhash"),
    )
    bucket = F.shiftrightunsigned("simhash", 48).alias("bucket")
    return (
        sh.select(bucket, "doc_id")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("bucket")
    )


INCREMENTAL_NEW_SOURCE = "src0"  # the "freshly crawled" batch


@query(
    "incremental_corpus_dedup",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, lang, source,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents
    ),
    corpus AS (
        SELECT DISTINCT fingerprint FROM fp
        WHERE source <> '{INCREMENTAL_NEW_SOURCE}'
    )
    SELECT n.lang,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN c.fingerprint IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
           ROUND(SUM(CASE WHEN c.fingerprint IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS dup_rate
    FROM fp n LEFT JOIN corpus c USING (fingerprint)
    WHERE n.source = '{INCREMENTAL_NEW_SOURCE}'
    GROUP BY n.lang
    ORDER BY n.lang
    """,
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a freshly crawled
    batch checked against the EXISTING corpus (not against itself),
    per-lang duplicate rates. The corpus side reduces to DISTINCT
    fingerprints before the join (16-byte keys, one per distinct
    set — the same sink-side reduction TelemetrySink.append_dedup
    uses for hour buckets), so join state tracks corpus diversity,
    not corpus size; the new batch never self-joins. Flag-don't-drop:
    rates, the batch itself is not filtered here."""
    from flight_data_pipeline_spark.operators.text import bow_fingerprint

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "fingerprint", bow_fingerprint(F.col("text")))
    new = docs.where(F.col("source") == INCREMENTAL_NEW_SOURCE)
    corpus_fp = (docs.where(F.col("source") != INCREMENTAL_NEW_SOURCE)
                 .select("fingerprint").distinct()
                 .withColumn("__hit", F.lit(1)))
    return (
        new.join(corpus_fp, "fingerprint", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_new"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .alias("n_dup_vs_corpus"),
            F.round(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    / F.count("*"), 4).alias("dup_rate"),
        )
    )


CURATION_BENCH_SRC = "src0"  # held-out benchmark (= text_queries.DECON_BENCH_SRC)
CURATION_N = 8               # decontamination n-gram width


def curation_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The shared staged DAG behind the curation funnel: returns lazy
    frames for every stage (corpus → quality → exact → neardup →
    final). `corpus_curation_stats` aggregates their per-source counts
    for the checked audit; `write_curated_corpus` materializes
    ``final`` — one definition of the funnel, two consumers."""
    from flight_data_pipeline_spark.operators.dedup import (
        dictionary_bitset_masks,
    )
    from flight_data_pipeline_spark.operators.text import ngram_explode
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where(F.col("source") != CURATION_BENCH_SRC)

    text = F.col("text")
    n_tok = F.size(F.split(text, " "))
    mean_len = F.length(F.regexp_replace(text, " ", "")) / n_tok
    quality = corpus.where(n_tok.between(10, 1000)
                           & mean_len.between(3, 10))

    w = Window.partitionBy("text").orderBy("doc_id")
    # The funnel DAG is a diamond: exact feeds the CC stage, the
    # decontamination stage, AND the flag marks — without
    # materialization each broadcast-side job would re-run the
    # text-keyed window (and everything under it) once per consumer.
    # A lazy localCheckpoint computes it in the first job and serves
    # the rest from executor storage (same discipline as the CC
    # rounds in _set_group_clusters).
    exact = (quality.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") == 1).drop("__rn")
             .localCheckpoint(eager=False))

    # masks feeds the group collapse and the doc↔group join — same
    # lazy-checkpoint diamond as `exact` above (computed once, served
    # from executor storage; r13)
    masks = dictionary_bitset_masks(
        exact, id_col="doc_id", block_col="source", text_col="text"
    ).localCheckpoint(eager=False)
    gs, labels = _set_group_clusters(spark, sf_dir, masks=masks)
    doc_groups = masks.join(gs, ["source", "mask"])
    lab = doc_groups.join(labels, doc_groups["node"] == labels["v"], "left")
    cluster = F.coalesce(
        F.col("label"), F.when(F.col("n") >= 2, F.col("node")))
    surv_ids = (lab.where(cluster.isNull() | (F.col("doc_id") == cluster))
                .select("doc_id"))
    # same diamond: surv feeds decontamination, the final stage, and
    # its own flag mark
    surv = (exact.join(surv_ids, "doc_id", "left_semi")
            .localCheckpoint(eager=False))

    bench_grams = (ngram_explode(
        docs.where(F.col("source") == CURATION_BENCH_SRC),
        "text", CURATION_N).select("g").distinct())
    contaminated = (ngram_explode(surv, "text", CURATION_N, "doc_id")
                    .join(bench_grams, "g", "left_semi")
                    .select("doc_id").distinct())
    final = surv.join(contaminated, "doc_id", "left_anti")

    # one flag-annotated frame for the audit aggregate: the window /
    # CC / gram subtrees execute ONCE each (their id sets broadcast
    # back), instead of re-executing per per-stage count
    def mark(ids: DataFrame, col: str) -> DataFrame:
        return ids.select("doc_id").withColumn(col, F.lit(True))

    # ONE combined id→flags relation broadcast onto the corpus
    # instead of three separate broadcast joins (r13): contaminated ⊆
    # surv ⊆ exact, so left-joining the sv/ct marks onto the exact id
    # set loses nothing — docs outside `exact` carry three NULLs
    # either way. Three broadcast builds (each its own driver-planned
    # job) collapse into one.
    flag_ids = (
        mark(exact, "__ex")
        .join(mark(surv, "__sv"), "doc_id", "left")
        .join(mark(contaminated, "__ct"), "doc_id", "left")
    )
    flags = (
        corpus.withColumn("__q", n_tok.between(10, 1000)
                          & mean_len.between(3, 10))
        .join(F.broadcast(flag_ids), "doc_id", "left")
    )
    return {"corpus": corpus, "quality": quality, "exact": exact,
            "neardup": surv, "final": final, "flags": flags}


def write_curated_corpus(spark: SparkSession, sf_dir: str,
                         path: str) -> None:
    """Materialize the curated training corpus: the funnel's ``final``
    stage written as source-partitioned parquet — the actual
    deliverable of a curation run (the stats query is its audit).
    Source partitioning makes downstream mixture sampling
    (`source_mixing_weights`) partition-pruned reads; at 100 TB add a
    day/shard key to bound file sizes."""
    curation_stages(spark, sf_dir)["final"].write.mode(
        "overwrite").partitionBy("source").parquet(path)


@query(
    "corpus_curation_stats",
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT * FROM documents WHERE source <> '{CURATION_BENCH_SRC}'
    ), q AS (
        SELECT * FROM corpus
        WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000
          AND length(replace(text, ' ', '')) * 1.0
              / len(string_split(text, ' ')) BETWEEN 3 AND 10
    ), ex AS (
        SELECT * FROM q
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ), toks AS (
        SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t
        FROM ex
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
              * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ), sym AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), reach(v, u) AS (
        SELECT s, s FROM sym
        UNION
        SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s
    ), cl AS (
        SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v
    ), surv AS (
        SELECT ex.* FROM ex LEFT JOIN cl ON ex.doc_id = cl.v
        WHERE cl.v IS NULL OR ex.doc_id = cl.cluster_id
    ), allt AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, source,
               unnest(CASE WHEN len(t) >= {CURATION_N}
                           THEN list_transform(
                                    generate_series(0, len(t) - {CURATION_N}),
                                    i -> array_to_string(
                                        t[i + 1 : i + {CURATION_N}], ' '))
                           ELSE [array_to_string(t, ' ')] END) AS g
        FROM allt
    ), bench AS (
        SELECT DISTINCT g FROM g WHERE source = '{CURATION_BENCH_SRC}'
    ), cont AS (
        SELECT DISTINCT doc_id FROM g JOIN bench USING (g)
        WHERE source <> '{CURATION_BENCH_SRC}'
    ), final AS (
        SELECT surv.* FROM surv LEFT JOIN cont USING (doc_id)
        WHERE cont.doc_id IS NULL
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM q WHERE q.source = c.source) AS BIGINT)
               AS n_quality,
           CAST((SELECT COUNT(*) FROM ex WHERE ex.source = c.source) AS BIGINT)
               AS n_exact,
           CAST((SELECT COUNT(*) FROM surv WHERE surv.source = c.source)
                AS BIGINT) AS n_neardup,
           CAST((SELECT COUNT(*) FROM final WHERE final.source = c.source)
                AS BIGINT) AS n_final
    FROM corpus c
    GROUP BY c.source
    ORDER BY c.source
    """,
)
def corpus_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel as ONE checked DAG — the
    composition a training-data pipeline actually ships: held-out
    benchmark source excluded → quality gate (token-count + mean-token
    -length bounds, the quality_funnel f1/f2 rules) → exact dedup
    (first doc per identical text) → near-dup dedup survivors
    (set-group bitset CC, keep each cluster's min id — the
    dedup_survivors_by_source machinery run on the STAGED subset, not
    the raw corpus) → 8-gram decontamination against the benchmark
    (benchmark_ngram_overlap's semi-join shape, inverted). Per-source
    row: counts after every stage, monotone non-increasing.

    Every stage reuses the already-checked building block and its
    plan shape: map-side flags, one text-keyed window, the group-graph
    CC (strictly smaller than the doc graph), posting-list semi join —
    no stage introduces a new shuffle pattern, the composition is just
    the DAG gluing them. The driver hash-checks the whole funnel
    against the recursive-CTE + gram-CTE oracle."""
    flags = curation_stages(spark, sf_dir)["flags"]

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_raw"),
        cnt(F.col("__q")).alias("n_quality"),
        cnt(F.col("__ex")).alias("n_exact"),
        cnt(F.col("__sv")).alias("n_neardup"),
        cnt(F.col("__sv") & F.col("__ct").isNull()).alias("n_final"),
    )


# Exact duplicated-span removal parameters: shingle width and the
# distinct-doc threshold that makes a gram "duplicated".
SPAN_N = 5
SPAN_MIN_DOCS = 2


@query(
    "dup_span_removal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    ge AS (
        SELECT doc_id, len(t) AS n,
               unnest(CASE WHEN len(t) >= {SPAN_N}
                      THEN list_transform(
                               generate_series(0, len(t) - {SPAN_N}),
                               i -> struct_pack(
                                   p := i,
                                   g := array_to_string(
                                       t[i + 1 : i + {SPAN_N}], ' ')))
                      ELSE [struct_pack(
                               p := 0,
                               g := array_to_string(t, ' '))] END) AS s
        FROM toks
    ),
    g AS (SELECT doc_id, n, s.p AS p, s.g AS g FROM ge),
    gd AS (SELECT g, COUNT(DISTINCT doc_id) AS d FROM g GROUP BY g),
    cov AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(p, least(p + {SPAN_N} - 1, n - 1)))
                   AS pos
        FROM g JOIN gd USING (g) WHERE d >= {SPAN_MIN_DOCS}
    ),
    covset AS (SELECT doc_id, list(pos) AS cov FROM cov GROUP BY doc_id),
    cleaned AS (
        SELECT t.doc_id, t.source, len(t.t) AS n_tokens,
               list_transform(
                   list_filter(generate_series(0, len(t.t) - 1),
                               i -> NOT list_contains(
                                        COALESCE(c.cov, []), i)),
                   i -> t.t[i + 1]) AS kept
        FROM toks t LEFT JOIN covset c ON t.doc_id = c.doc_id
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS removed_tokens,
           md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_fp
    FROM cleaned
    ORDER BY doc_id
    """,
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal applied to the corpus (Lee et al.
    ExactSubstr on {SPAN_N}-gram token spans): every token covered by
    a cross-document duplicated gram is cut, and the query reports the
    per-document edit — token counts before/after plus an md5
    fingerprint of the cleaned text, so the oracle verifies the
    TRANSFORMED CONTENT itself, not just counts.

    Plan: operators.dedup.remove_duplicate_spans — posexploded
    codegen n-grams, one gram-DF aggregate, posting join, covered-
    position explode bounded by n× gram occurrences, per-doc position
    sets bounded by document length, one higher-order filter per doc.
    Inverted-index cost end-to-end; no doc-pair term at any scale."""
    from flight_data_pipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = load_table(spark, "documents", sf_dir)
    cleaned = remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text",
        n=SPAN_N, min_docs=SPAN_MIN_DOCS, keep_cols=("source",))
    return cleaned.select(
        "doc_id", "source", "n_tokens", "removed_tokens",
        F.md5("cleaned_text").alias("cleaned_fp"),
    )


# Shared oracle prelude: doc-level near-dup clusters via recursive
# transitive closure (same CTE as near_dup_clusters / survivors).
_CLUSTER_CTE = f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t
        FROM documents
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
              * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ), sym AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), reach(v, u) AS (
        SELECT s, s FROM sym
        UNION
        SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s
    ), cl AS (
        SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v
    )
"""


_LEAKAGE_SPLIT_ORACLE = _CLUSTER_CTE + """
    , assign AS (
        SELECT d.doc_id,
               COALESCE(cl.cluster_id, d.doc_id) AS rep,
               ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                        AS VARCHAR)), 1, 4))::INT % 10 AS b
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.v
    )
    SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT)            AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
           ROUND(COUNT(*) * 1.0 /
                 (SELECT COUNT(*) FROM documents), 4) AS doc_share
    FROM assign
    GROUP BY 1 ORDER BY split
    """


def _split_summary(assign: DataFrame) -> DataFrame:
    """Shared tail of the leakage-safe-split twins: doc→cluster map in,
    (split, n_docs, n_clusters, doc_share) out. The split is a
    deterministic cross-engine hash of the cluster representative:
    first 4 hex chars of md5(rep) mod 10 → 0-7 train / 8 val / 9 test."""
    from pyspark.sql import Window

    rep = F.coalesce(F.col("cluster"), F.col("doc_id"))
    bucket = (
        F.conv(F.substring(F.md5(rep.cast("string")), 1, 4), 16, 10)
        .cast("int") % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    per_split = (
        assign.select(split.alias("split"), rep.alias("rep"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
    )
    # total from a window over the 3-row aggregate — no second pass
    # over the doc→cluster map, no driver-side count
    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        per_split.select(
            "split", "n_docs", "n_clusters",
            F.round(F.col("n_docs") / total, 4).alias("doc_share"),
        )
        .orderBy("split")
    )


@query("leakage_safe_split", oracle=_LEAKAGE_SPLIT_ORACLE)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that CANNOT leak near-duplicates across
    splits: the split is assigned to each document's near-dup CLUSTER
    representative (min doc_id; singletons are their own rep), so
    every member of a cluster lands in the same split by construction
    — the eval-contamination guard a real pretraining pipeline needs
    (a random per-document split puts one copy of a template in train
    and its near-copy in test).

    Assignment is a deterministic cross-engine hash (no RNG, no
    collect; see ``_split_summary``): reassigning a grown corpus
    moves only clusters whose rep changed. Plan: the doc→cluster map
    (one (source, mask) join over the already-shuffled collapse) plus
    one aggregate; at 100 TB the same map feeds the curation writer
    as a partition column — the write→read twin
    ``leakage_safe_split_materialized`` proves that path."""
    return _split_summary(_doc_cluster_map(spark, sf_dir))


@query("leakage_safe_split_materialized", oracle=_LEAKAGE_SPLIT_ORACLE)
def leakage_safe_split_materialized(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The PRODUCTION path of the leakage-safe split: materialize the
    doc→cluster map once (parquet, partitioned by source — the
    write-once table every dedup consumer joins at 100 TB), then
    compute the split summary from the STORED map. Same oracle as
    ``leakage_safe_split``, so the driver hash-proves
    write → read → aggregate == recompute end-to-end.

    The returned plan reads the materialized parquet — no tokenize /
    bitset-collapse / connected-components stages (pinned by
    tests/test_plans.py::test_materialized_split_reads_stored_map).
    The map write is idempotent: a deterministic per-sf_dir temp path,
    mode=overwrite, so reruns replace rather than append — the same
    rerun contract as the partitioned telemetry sink (sinks.py)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"fdp_cluster_map_{key}")
    _doc_cluster_map(spark, sf_dir).write.mode("overwrite").partitionBy(
        "source").parquet(path)
    stored = spark.read.parquet(path)
    return _split_summary(stored)


@query(
    "dedup_keep_best",
    oracle=_CLUSTER_CTE + """
    , members AS (
        SELECT cl.cluster_id, d.doc_id, d.source, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY d.n_chars DESC, d.doc_id)
                   AS rk
        FROM documents d JOIN cl ON d.doc_id = cl.v
    )
    SELECT source,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT)                   AS n_docs_clustered,
           CAST(SUM(CASE WHEN rk = 1 AND doc_id <> cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_keeper_not_minid,
           ROUND(AVG(CASE WHEN rk = 1 THEN n_chars END), 4)
                                                      AS avg_keeper_chars,
           ROUND(AVG(CASE WHEN rk > 1 THEN n_chars END), 4)
                                                      AS avg_dropped_chars
    FROM members
    GROUP BY source ORDER BY source
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    keep the LONGEST document (n_chars, doc_id tiebreak) instead of
    the naive min-id — the "keep best member" policy curation
    pipelines actually run (longest-copy-wins is the C4/RefinedWeb
    heuristic; any scoring column slots into the same window). Per
    source: cluster count, clustered docs, how often the quality
    keeper differs from the min-id keeper, and keeper-vs-dropped
    length averages — the evidence for whether the policy matters.

    Plan: the doc→cluster map, one doc_id join to fetch the score
    column, one row_number window partitioned by cluster (clusters
    are within-source, so the window key is as distributed as the
    corpus), one per-source aggregate. At scale, carry the score
    through the bitset collapse to skip the fetch join."""
    assign = _doc_cluster_map(spark, sf_dir)
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    members = (
        assign.where(F.col("cluster").isNotNull())
        .select(F.col("doc_id").alias("m_doc_id"),
                F.col("cluster").alias("cluster_id"))
        .join(docs.select(F.col("doc_id").alias("m_doc_id"),
                          "source", "n_chars"), "m_doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.col("m_doc_id"))
    ranked = members.withColumn("rk", F.row_number().over(w))
    keeper_differs = F.when(
        (F.col("rk") == 1) & (F.col("m_doc_id") != F.col("cluster_id")), 1
    ).otherwise(0)
    return (
        ranked.groupBy("source")
        .agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count("*").alias("n_docs_clustered"),
            F.sum(keeper_differs).alias("n_keeper_not_minid"),
            F.round(F.avg(F.when(F.col("rk") == 1, F.col("n_chars"))), 4)
            .alias("avg_keeper_chars"),
            F.round(F.avg(F.when(F.col("rk") > 1, F.col("n_chars"))), 4)
            .alias("avg_dropped_chars"),
        )
        .orderBy("source")
    )


@query(
    "cluster_size_histogram",
    oracle=_CLUSTER_CTE + """
    , sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
        FROM cl GROUP BY cluster_id
        UNION ALL
        SELECT d.doc_id, CAST(1 AS BIGINT)
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.v
        WHERE cl.v IS NULL
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT)  AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY size ORDER BY size
    """,
)
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution — the dedup diagnostic every
    curation run reads first: how much of the corpus sits in
    singletons vs template blobs (a fat tail means one boilerplate
    family dominates and survivor selection policy actually matters).

    Plan: the doc→cluster map, one count per cluster (shuffle keyed
    on cluster ids — as distributed as the corpus), singletons union
    in as size-1 rows map-side, then a histogram-sized aggregate on
    ``size``. Nothing beyond the map's own cost at any scale."""
    assign = _doc_cluster_map(spark, sf_dir)
    clustered = (
        assign.where(F.col("cluster").isNotNull())
        .groupBy("cluster").agg(F.count("*").alias("size"))
        .select("size")
    )
    singles = (
        assign.where(F.col("cluster").isNull())
        .select(F.lit(1).cast("long").alias("size"))
    )
    return (
        clustered.unionByName(singles)
        .groupBy("size")
        .agg(F.count("*").alias("n_clusters"),
             F.sum("size").alias("n_docs"))
        .orderBy("size")
    )


@query(
    "near_dup_jaccard_pairs_bitset",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct(string_split(text, ' ')) AS t
        FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.t, b.t))
                 * 1.0 / len(list_distinct(list_concat(a.t, b.t))), 4) AS jaccard_sim
    FROM toks a
    JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.t, b.t))
          * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    """,
)
def near_dup_jaccard_pairs_bitset(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The BOUNDED-VOCABULARY tier of the near-dup dispatch: the same
    pair set as ``near_dup_jaccard_pairs`` (same oracle — identical
    output proven by the driver), via dictionary bitsets instead of
    the token posting join. Docs collapse to distinct (source, mask)
    set-groups first (the exact-dedup-before-near-dup step), the pair
    join enumerates DISTINCT SETS with Jaccard as codegen'd integer
    popcounts, and qualifying group pairs expand back to doc pairs —
    cross-group pairs through two id joins, identical-mask groups
    through a within-group self-join (Jaccard exactly 1).

    This is the plan a template-heavy corpus wants (measured 1.4 s vs 5.5 s
    for the posting join at sf0.1; cross_source_contamination is the
    same family); the open-vocabulary tier stays
    ``near_dup_jaccard_pairs`` (prefix-filtered posting join, the
    scale-curve's exponent-0.37 path), and the dispatch boundary is
    dictionary_bitset_masks' loud 64-token cap. Sim values are exact
    rationals from bit counts — identical to the array form because
    the collapsed sets ARE the token sets."""
    from flight_data_pipeline_spark.operators.dedup import (
        dictionary_bitset_masks,
    )

    docs = load_table(spark, "documents", sf_dir)
    masks = dictionary_bitset_masks(
        docs, id_col="doc_id", block_col="source", text_col="text")
    gs = masks.select("source", "mask", "doc_id")
    gsets = gs.select("source", "mask").distinct()

    from fractions import Fraction

    th = Fraction(str(JACCARD_THRESHOLD))
    num, den = th.numerator, th.denominator
    a = gsets.select("source", F.col("mask").alias("mask_a"))
    b = gsets.select("source", F.col("mask").alias("mask_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    na, nb = F.bit_count(F.col("mask_a")), F.bit_count(F.col("mask_b"))
    qual = (
        a.join(b, "source")
        .where(F.col("mask_a") < F.col("mask_b"))
        .where((na * den >= nb * num) & (nb * den >= na * num))
        .where(inter * den >= union * num)
        .select("source", "mask_a", "mask_b",
                F.round(inter / union, 4).alias("jaccard_sim"))
    )
    da = gs.select("source", F.col("mask").alias("mask_a"),
                   F.col("doc_id").alias("id_a"))
    db = gs.select("source", F.col("mask").alias("mask_b"),
                   F.col("doc_id").alias("id_b"))
    cross = (
        qual.join(da, ["source", "mask_a"])
        .join(db, ["source", "mask_b"])
        .select(F.least("id_a", "id_b").alias("doc_a"),
                F.greatest("id_a", "id_b").alias("doc_b"),
                "jaccard_sim")
    )
    same = (
        da.join(db, (da["source"] == db["source"])
                & (da["mask_a"] == db["mask_b"])
                & (da["id_a"] < db["id_b"]))
        .select(F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                F.lit(1.0).alias("jaccard_sim"))
    )
    return cross.unionByName(same)


@query(
    "curated_training_mix",
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT * FROM documents WHERE source <> '{CURATION_BENCH_SRC}'
    ), q AS (
        SELECT * FROM corpus
        WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000
          AND length(replace(text, ' ', '')) * 1.0
              / len(string_split(text, ' ')) BETWEEN 3 AND 10
    ), ex AS (
        SELECT * FROM q
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ), toks AS (
        SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t
        FROM ex
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
              * 1.0 / len(list_distinct(list_concat(a.t, b.t))) >= {JACCARD_THRESHOLD}
    ), sym AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), reach(v, u) AS (
        SELECT s, s FROM sym
        UNION
        SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s
    ), cl AS (
        SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v
    ), surv AS (
        SELECT ex.* FROM ex LEFT JOIN cl ON ex.doc_id = cl.v
        WHERE cl.v IS NULL OR ex.doc_id = cl.cluster_id
    ), allt AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, source,
               unnest(CASE WHEN len(t) >= {CURATION_N}
                           THEN list_transform(
                                    generate_series(0, len(t) - {CURATION_N}),
                                    i -> array_to_string(
                                        t[i + 1 : i + {CURATION_N}], ' '))
                           ELSE [array_to_string(t, ' ')] END) AS g
        FROM allt
    ), bench AS (
        SELECT DISTINCT g FROM g WHERE source = '{CURATION_BENCH_SRC}'
    ), cont AS (
        SELECT DISTINCT doc_id FROM g JOIN bench USING (g)
        WHERE source <> '{CURATION_BENCH_SRC}'
    ), final AS (
        SELECT surv.* FROM surv LEFT JOIN cont USING (doc_id)
        WHERE cont.doc_id IS NULL
    ), scored AS (
        SELECT doc_id, source, text,
               CAST(list_sum(list_transform(
                   list_distinct(string_split(text, ' ')),
                   tok -> ('0x' || substr(md5(tok), 1, 4))::INT % 2001
                          - 1000)) AS BIGINT) AS w_sum,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
                   % 10 AS b
        FROM final
    )
    SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_accepted,
           CAST(SUM(CASE WHEN w_sum > 0 THEN n_tok ELSE 0 END) AS BIGINT)
               AS accepted_tokens,
           ROUND(SUM(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS acceptance_rate
    FROM scored GROUP BY 1 ORDER BY split
    """,
)
def curated_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 FLAGSHIP composition: the checked curation funnel
    (quality → exact dedup → near-dup survivors → decontamination)
    extended through the round-5 operators — classifier quality gate
    and leakage-safe split — to the final per-split training-mix
    accounting a run would hand the trainer: docs, classifier-accepted
    docs, accepted token supply, acceptance rate per train/val/test.

    Split semantics compose with dedup BY CONSTRUCTION: every `final`
    document is its own cluster representative (survivor selection
    kept exactly the rep), so the md5-bucket split of doc_id IS the
    leakage-safe cluster-representative split — near-dups cannot
    straddle splits because their non-rep members are already gone.
    Classifier decisions are exact integer sums
    (operators/text.classifier_weight_sum), so the accepted counts
    can never flip on float association; the one floating output is
    the rounded acceptance rate.

    Plan: the funnel's staged DAG (each stage's subtree executes once
    — curation_stages' lazy-checkpoint diamond), then ONE map-side
    pass for weights/buckets/token counts and a 3-row aggregate. The
    whole pipeline is a single driver-checked DAG against the
    recursive-CTE + gram-CTE + classifier + split oracle."""
    from flight_data_pipeline_spark.operators.text import (
        classifier_weight_sum,
    )

    final = curation_stages(spark, sf_dir)["final"]
    f = classifier_weight_sum(F.col("text"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("int") % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    scored = final.select(
        split.alias("split"),
        f.getField("w_sum").alias("w_sum"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    accepted = F.when(F.col("w_sum") > 0, 1).otherwise(0)
    return (
        scored.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(accepted).alias("n_accepted"),
            F.sum(F.when(F.col("w_sum") > 0, F.col("n_tok")).otherwise(0))
            .alias("accepted_tokens"),
            F.round(F.sum(accepted) / F.count("*"), 4)
            .alias("acceptance_rate"),
        )
        .orderBy("split")
    )


# --- MinHash construction, hash-proven (md5 permutation twin) ----------------
MH_PERMS = 16      # md5-derived permutations (production tier: xxhash64)
MH_BANDBUCKETS = 1024


@query(
    "minhash_md5_signatures",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, source,
               unnest(list_transform(
                   generate_series(0, len(t) - 3),
                   i -> array_to_string(t[i + 1 : i + 3], ' '))) AS g
        FROM toks WHERE len(t) >= 3
    ),
    h AS (
        SELECT doc_id, source, perms.i,
               MIN(('0x' || substr(md5(CAST(perms.i AS VARCHAR)
                                       || '|' || g.g), 1, 8))::BIGINT)
                   AS sig
        FROM g, (SELECT UNNEST(range(0, {MH_PERMS})) AS i) perms
        GROUP BY doc_id, source, perms.i
    ),
    per_doc AS (
        SELECT doc_id, source,
               SUM(sig) AS sig_sum,
               MIN(CASE WHEN i = 0 THEN sig END) % {MH_BANDBUCKETS}
                   AS b0
        FROM h GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)           AS n_docs,
           CAST(SUM(sig_sum) AS BIGINT)       AS signature_checksum,
           CAST(COUNT(DISTINCT b0) AS BIGINT) AS band0_buckets
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def minhash_md5_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature construction PROVEN by value hash — the
    check-tier twin of the production MinHash+LSH path
    (operators/dedup.py), which rides xxhash64 and therefore can only
    ever be rows-only (no oracle engine reproduces Spark's xxhash64).
    Here each of the 16 permutations is an md5-derived 32-bit
    hash both engines compute bit-identically, so the per-doc
    signature (min per permutation over distinct 3-gram shingles),
    its checksum, and the band-0 bucket assignment all hash-match —
    upgrading the MinHash family's correctness story from "recall
    pinned on fixtures" to "construction replayed exactly on another
    engine". Same shingle definition as the contamination oracles
    (token 3-grams, <3-token docs excluded on both sides).

    Plan shape: gram explode x 16 permutation fan-out is one
    map-side explode (no joins), then a (doc, perm) partial+final
    min — the shuffle carries |docs| x 16 signature rows,
    not gram rows, thanks to map-side combine. The checksum and
    bucket rollups are source-sized. Measured on the 1x-8x retrieval
    curve (SCALE.md): near-linear tail (~0.87), as it must be — the
    md5 work is inherently linear in corpus grams. A
    no-fan-out alternative (16 MIN aggregates, one complex md5 expr
    each, over plain gram rows) was measured and REJECTED: identical
    hash work but 1.5-1.7x slower at every scale point (24.4 s vs
    15.3 s at 8x) — 16 interpreted agg-input expressions lose to the
    codegen'd explode. The production tier keeps xxhash64 (2-3x
    faster per gram, no hex decode); this query pins the LOGIC both
    tiers share."""
    from flight_data_pipeline_spark.operators.text import ngram_explode

    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.size(tokens(F.col("text"))) >= 3)
    )
    grams = (
        ngram_explode(docs, "text", 3, "doc_id", "source")
        .distinct()
    )
    h = (
        grams.select(
            "doc_id", "source", "g",
            F.explode(F.sequence(F.lit(0), F.lit(MH_PERMS - 1))).alias("i"),
        )
        .select(
            "doc_id", "source", "i",
            F.conv(F.substring(
                F.md5(F.concat_ws("|", F.col("i").cast("string"),
                                  F.col("g"))), 1, 8), 16, 10)
            .cast("long").alias("hv"),
        )
        .groupBy("doc_id", "source", "i")
        .agg(F.min("hv").alias("sig"))
    )
    per_doc = h.groupBy("doc_id", "source").agg(
        F.sum("sig").alias("sig_sum"),
        (F.min(F.when(F.col("i") == 0, F.col("sig")))
         % F.lit(MH_BANDBUCKETS)).alias("b0"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("sig_sum").cast("long").alias("signature_checksum"),
            F.countDistinct("b0").cast("long").alias("band0_buckets"),
        )
        .orderBy("source")
    )


# --- MinHash estimator ACCURACY audit, hash-proven (r8) ----------------------
@query(
    "minhash_jaccard_estimate_error",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, source,
               unnest(list_transform(
                   generate_series(0, len(t) - 3),
                   i -> array_to_string(t[i + 1 : i + 3], ' '))) AS g
        FROM toks WHERE len(t) >= 3
    ),
    ng AS (
        SELECT doc_id, source, COUNT(*) AS n FROM g GROUP BY doc_id, source
    ),
    inter AS (
        SELECT a.source, a.doc_id AS a, b.doc_id AS b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM g a JOIN g b ON a.source = b.source AND a.g = b.g
                         AND a.doc_id < b.doc_id
        GROUP BY a.source, a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.source, i.a, i.b, i.inter,
               CAST(na.n + nb.n - i.inter AS BIGINT) AS un
        FROM inter i
        JOIN ng na ON na.doc_id = i.a AND na.source = i.source
        JOIN ng nb ON nb.doc_id = i.b AND nb.source = i.source
    ),
    h AS (
        SELECT doc_id, source, perms.i,
               MIN(('0x' || substr(md5(CAST(perms.i AS VARCHAR)
                                       || '|' || g.g), 1, 8))::BIGINT)
                   AS sig
        FROM g, (SELECT UNNEST(range(0, {MH_PERMS})) AS i) perms
        GROUP BY doc_id, source, perms.i
    ),
    m AS (
        SELECT p.source, p.a, p.b,
               CAST(SUM(CASE WHEN ha.sig = hb.sig THEN 1 ELSE 0 END)
                    AS BIGINT) AS matches
        FROM pairs p
        JOIN h ha ON ha.doc_id = p.a AND ha.source = p.source
        JOIN h hb ON hb.doc_id = p.b AND hb.source = p.source
                  AND hb.i = ha.i
        GROUP BY p.source, p.a, p.b
    ),
    e AS (
        SELECT p.source,
               ABS(m.matches
                   - (2 * {MH_PERMS} * p.inter + p.un) // (2 * p.un)) AS e
        FROM pairs p
        JOIN m ON m.source = p.source AND m.a = p.a AND m.b = p.b
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)        AS n_pairs,
           CAST(SUM(e) AS BIGINT)          AS sum_err_16ths,
           CAST(MAX(e) AS BIGINT)          AS max_err_16ths,
           CAST(SUM(CASE WHEN e <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_1
    FROM e GROUP BY source ORDER BY source
    """,
)
def minhash_jaccard_estimate_error(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-accuracy audit, hash-proven — the sibling of
    `lsh_candidate_recall_audit` (which pins what the bands FIND) that
    pins what the signatures CLAIM: for every within-source pair
    sharing at least one 3-gram shingle, the 16-permutation signature
    agreement (the sketch's Jaccard estimate, in 16ths) is compared
    against the EXACT shingle-set Jaccard, with the error kept in pure
    integers — true J is rendered half-up in 16ths as
    (2·16·inter + union) DIV (2·union), so both engines agree
    bit-for-bit and the per-source error profile (sum, max,
    within-±1/16 count) hash-matches. Pairs sharing NO shingle are
    out of population by construction (their true J is 0; the posting
    join cannot see them — stated, not hidden).

    Plan shape, all posting-bounded (never docs²): shingle explode →
    per-(source, gram) co-occurrence self-join for exact
    intersections (the near_dup_jaccard machinery), the
    minhash_md5_signatures construction collapsed to one ordered
    signature VECTOR per doc (the shuffle carries one row per doc,
    not 16), agreement counted by a zip_with integer fold per
    candidate pair (r13 — no candidate×16 equi-join, no
    (source, a, b) re-shuffle of 16× the candidates), source-sized
    rollup. Cites the reference's dedup rationale
    (etl_job.py:226-237) extended to the sketch-audit tier."""
    from flight_data_pipeline_spark.operators.text import ngram_explode

    from flight_data_pipeline_spark.session import cpu_dense_partitions

    # doc_id-repartitioned BEFORE the gram explode: the fixture scan
    # is one file → one task, so tokenize+explode+md5 (the query's CPU)
    # would otherwise serialize; hash-clustering by doc_id also makes
    # the gram distinct exchange-free (doc_id partitioning satisfies
    # the (doc_id, source, g) grouping), so the cpu-dense width flows
    # from this ONE user exchange of raw text into every downstream
    # map-side stage (r13; plan diff in plans/r13/).
    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.size(tokens(F.col("text"))) >= 3)
        .repartition(cpu_dense_partitions(spark), "doc_id")
    )
    # grams feeds FIVE consumers (ng, both intersection sides, the
    # signature build, and through it both agreement sides), and the
    # broadcast-heavy plan rebuilt the tokenize+explode+distinct
    # subtree for each broadcast build — a lazy localCheckpoint
    # computes it once per call (r13; plan diff in plans/r13/)
    grams = (ngram_explode(docs, "text", 3, "doc_id", "source")
             .distinct().localCheckpoint(eager=False))
    ng = grams.groupBy("doc_id", "source").agg(F.count("*").alias("n"))

    ga = grams.select("source", F.col("doc_id").alias("a"), "g")
    gb = grams.select("source", F.col("doc_id").alias("b"), "g")
    inter = (
        ga.join(gb, ["source", "g"])
        .where(F.col("a") < F.col("b"))
        .groupBy("source", "a", "b")
        .agg(F.count("*").alias("inter"))
    )
    # pairs feeds the agreement join AND the final error join — lazily
    # checkpointed so the exact-intersection posting self-join above
    # (the query's heaviest shuffle) runs once per call (r13)
    pairs = (
        inter
        .join(ng.select("source", F.col("doc_id").alias("a"),
                        F.col("n").alias("na")), ["source", "a"])
        .join(ng.select("source", F.col("doc_id").alias("b"),
                        F.col("n").alias("nb")), ["source", "b"])
        .select("source", "a", "b", "inter",
                (F.col("na") + F.col("nb") - F.col("inter")).alias("un"))
        .localCheckpoint(eager=False)
    )

    h = (
        grams.select(
            "doc_id", "source", "g",
            F.explode(F.sequence(F.lit(0), F.lit(MH_PERMS - 1))).alias("i"))
        .select(
            "doc_id", "source", "i",
            F.conv(F.substring(
                F.md5(F.concat_ws("|", F.col("i").cast("string"),
                                  F.col("g"))), 1, 8), 16, 10)
            .cast("long").alias("hv"))
        .groupBy("doc_id", "source", "i")
        .agg(F.min("hv").alias("sig"))
    )
    # per-doc signature VECTOR (ordered by permutation index — i is
    # unique per doc, so the struct sort is total): the agreement
    # count is then one zip_with fold per candidate pair instead of a
    # candidate×16 equi-join + re-aggregate. Shuffles one row per doc
    # rather than 16, and drops the (source, a, b) re-shuffle of 16×
    # the candidate rows (guide §2.3 "aggregate before you shuffle";
    # r13 — plan diff in plans/r13/). The fold's integer sum is exact,
    # so `matches` is bit-identical to the join+SUM form.
    sigs = h.groupBy("doc_id", "source").agg(
        F.array_sort(F.collect_list(F.struct("i", "sig"))).alias("sv"))
    sa = sigs.select("source", F.col("doc_id").alias("a"),
                     F.col("sv").alias("__sva"))
    sb = sigs.select("source", F.col("doc_id").alias("b"),
                     F.col("sv").alias("__svb"))
    matches = (
        pairs.select("source", "a", "b")
        .join(sa, ["source", "a"])
        .join(sb, ["source", "b"])
        .select(
            "source", "a", "b",
            F.expr(
                "aggregate(zip_with(__sva, __svb,"
                " (x, y) -> CASE WHEN x.sig = y.sig THEN 1L ELSE 0L END),"
                " 0L, (acc, v) -> acc + v)").alias("matches"))
    )
    e = (
        pairs.join(matches, ["source", "a", "b"])
        .select("source", F.abs(
            F.col("matches")
            - F.expr(f"(2 * {MH_PERMS} * inter + un) DIV (2 * un)"))
            .alias("e"))
    )
    return (
        e.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("e").cast("long").alias("sum_err_16ths"),
            F.max("e").cast("long").alias("max_err_16ths"),
            F.sum((F.col("e") <= 1).cast("long")).cast("long")
            .alias("n_within_1"),
        )
        .orderBy("source")
    )


# --- exact-dedup ROI report (r8) ----------------------------------------------
@query(
    "dedup_token_savings",
    oracle="""
    WITH grp AS (
        SELECT source, md5(text) AS h,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY source, md5(text)
    ),
    agg AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT)              AS n_docs,
               CAST(COUNT(*) AS BIGINT)              AS n_unique_docs,
               CAST(SUM(cnt * tok) AS BIGINT)        AS tokens_total,
               CAST(SUM((cnt - 1) * tok) AS BIGINT)  AS tokens_saved
        FROM grp GROUP BY source
    )
    SELECT source, n_docs, n_unique_docs, tokens_total, tokens_saved,
           CAST((2000 * tokens_saved + tokens_total)
                // (2 * tokens_total) AS BIGINT) AS savings_permille
    FROM agg ORDER BY source
    """,
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup ROI report — the number every corpus-curation run
    publishes: per source, how many documents and how many TOKENS
    (the budget axis that matters for training) exact dedup removes,
    keeping one copy per md5(text) group. Identical text implies an
    identical token count, so the keeper's tokens are the group MIN
    and the savings arithmetic stays pure BIGINT (savings_permille is
    integer half-up: (2000·saved + total) DIV (2·total)).

    Plan shape: ONE (source, md5) hash aggregate carrying count +
    token count (map-side combined; the md5 grouping key is how exact
    dedup shuffles at any corpus size — never text itself), then a
    source-sized rollup. The keep-min-doc_id selection itself is
    `exact_dedup_documents`; this is its accounting view."""
    per = load_table(spark, "documents", sf_dir).select(
        "source", F.md5("text").alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("tok"))
    grp = per.groupBy("source", "h").agg(
        F.count("*").alias("cnt"), F.min("tok").alias("tok"))
    return (
        grp.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique_docs"),
            F.sum(F.col("cnt") * F.col("tok")).cast("long")
            .alias("tokens_total"),
            F.sum((F.col("cnt") - 1) * F.col("tok")).cast("long")
            .alias("tokens_saved"),
        )
        .select(
            "source", "n_docs", "n_unique_docs", "tokens_total",
            "tokens_saved",
            F.expr("(2000 * tokens_saved + tokens_total)"
                   " DIV (2 * tokens_total)").cast("long")
            .alias("savings_permille"),
        )
        .orderBy("source")
    )


# --- SimHash fold, hash-proven (md5 32-bit twin) -----------------------------
_SH_VOTES_SQL = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(32))
_SH_SIG_SQL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(32))


@query(
    "simhash_md5_fingerprints",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
        FROM tok
    ),
    votes AS (
        SELECT doc_id, source,
               {_SH_VOTES_SQL}
        FROM h GROUP BY doc_id, source
    ),
    sig AS (
        SELECT doc_id, source, {_SH_SIG_SQL} AS sig32
        FROM votes
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                  AS n_docs,
           CAST(SUM(sig32) AS BIGINT)                AS fingerprint_checksum,
           CAST(COUNT(DISTINCT sig32 >> 24) AS BIGINT)
               AS prefix_buckets
    FROM sig GROUP BY source ORDER BY source
    """,
)
def simhash_md5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-vote fold PROVEN by value hash — the check-tier
    twin of simhash64 (operators/dedup.py), whose production xxhash64
    token hashes no oracle engine reproduces. Same fold semantics
    exactly: one +/-1 vote per token OCCURRENCE (not per distinct
    token) for each bit, bit set iff its vote sum is strictly
    positive — here over md5-derived 32-bit token hashes both engines
    compute identically, so the per-doc fingerprint, its per-source
    checksum, and the 8-bit prefix bucket assignment all hash-match.
    With minhash_md5_signatures this makes BOTH near-dup signature
    constructions construction-replayed-exactly, not just
    recall-pinned.

    Plan shape: token explode -> one (doc, source) aggregate carrying
    32 conditional sums (partial+final, map-side combine — no
    per-bit row fan-out), then a map-side signature fold and a
    source-sized rollup. One shuffle of |docs| x 32 counters."""
    votes = [
        F.sum(F.when(F.expr(f"(hv >> {b}) & 1 = 1"), 1).otherwise(-1))
        .alias(f"v{b}") for b in range(32)
    ]
    sig = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term

    docs = load_table(spark, "documents", sf_dir)
    h = docs.select(
        "doc_id", "source",
        F.explode(tokens(F.col("text"))).alias("t"),
    ).select(
        "doc_id", "source",
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10)
        .cast("long").alias("hv"),
    )
    per_doc = (
        h.groupBy("doc_id", "source").agg(*votes)
        .select("doc_id", "source", sig.alias("sig32"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("sig32").cast("long").alias("fingerprint_checksum"),
            F.countDistinct(F.expr("sig32 >> 24")).cast("long")
            .alias("prefix_buckets"),
        )
        .orderBy("source")
    )


# --- LSH banding recall audit (all-md5, fully checked) ------------------------
_BAND_W = {0: 1, 1: 31, 2: 961, 3: 29791}  # weight by i mod 4
_BANDKEY_SQL = ("SUM(sig * (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 "
                "WHEN 2 THEN 961 ELSE 29791 END))")


from flight_data_pipeline_spark.plans.registry import ORACLE_SQL as _OSQL2


@query(
    "lsh_candidate_recall_audit",
    # the exact-pair subquery is the checked near_dup_jaccard_pairs
    # oracle embedded VERBATIM (single source of truth), spliced in
    # below via replace to keep this template a plain f-string
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS g
        FROM documents
    ),
    h AS (
        SELECT doc_id, perms.i,
               MIN(('0x' || substr(md5(CAST(perms.i AS VARCHAR)
                                       || '|' || g.g), 1, 8))::BIGINT)
                   AS sig
        FROM g, (SELECT UNNEST(range(0, {MH_PERMS})) AS i) perms
        GROUP BY doc_id, perms.i
    ),
    bands AS (
        SELECT doc_id, i // 4 AS band, {_BANDKEY_SQL} AS key
        FROM h GROUP BY doc_id, i // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
    ),
    exact AS (
        SELECT doc_a, doc_b FROM ({{EXACT}})
    ),
    hits AS (
        SELECT COUNT(*) AS c FROM cand JOIN exact
          ON cand.doc_a = exact.doc_a AND cand.doc_b = exact.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM cand)  AS BIGINT) AS n_candidates,
           CAST(hits.c AS BIGINT)                       AS n_hits,
           CAST(hits.c * 1000
                // NULLIF((SELECT COUNT(*) FROM exact), 0) AS BIGINT)
               AS recall_permille,
           CAST(hits.c * 1000
                // NULLIF((SELECT COUNT(*) FROM cand), 0) AS BIGINT)
               AS precision_permille
    FROM hits
    """.replace("{EXACT}", _OSQL2["near_dup_jaccard_pairs"]),
)
def lsh_candidate_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding recall/precision audit, FULLY checked —
    the dedup twin of ann_recall_audit: how many of the true
    near-duplicate pairs (the checked exact Jaccard query, whose
    oracle SQL this one embeds verbatim) does 4-band × 4-row banding
    over the md5 permutation signatures actually surface, and at what
    candidate precision? Everything is md5/integer — signatures, the
    order-independent weighted band key (sig·31^(i mod 4) summed over
    the band's 4 rows), the pair joins — so the audit itself
    hash-matches, making candidate-generation quality a DRIVER-PROVEN
    number instead of a fixture assertion. The production xxhash64
    banding (operators/dedup.py) has the same structure; its recall
    is pinned by unit tests, this query pins the methodology
    cross-engine.

    Signatures here are over the SAME similarity the ground truth
    uses — distinct TOKENS (the exact query's jaccard basis), not the
    3-gram shingles of minhash_md5_signatures; an earlier shingle-
    based draft measured recall ~0 against token-set truth, which is
    the mismatch the audit exists to catch.

    Plan: signature build as in minhash_md5_signatures, band keys via
    one more doc-grain aggregate, candidates via a (band, key)
    equi-self-join (bucket-sized fan-out — the whole point of LSH),
    intersection against the exact-pair subtree, three scalar
    aggregates broadcast into one row."""
    docs = load_table(spark, "documents", sf_dir)
    grams = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("g"))
        .distinct()
    )
    h = (
        grams.select(
            "doc_id", "g",
            F.explode(F.sequence(F.lit(0), F.lit(MH_PERMS - 1))).alias("i"),
        )
        .select(
            "doc_id", "i",
            F.conv(F.substring(
                F.md5(F.concat_ws("|", F.col("i").cast("string"),
                                  F.col("g"))), 1, 8), 16, 10)
            .cast("long").alias("hv"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("hv").alias("sig"))
    )
    w = (F.when(F.col("i") % 4 == 0, 1)
         .when(F.col("i") % 4 == 1, 31)
         .when(F.col("i") % 4 == 2, 961)
         .otherwise(29791).cast("long"))
    bands = (
        h.groupBy("doc_id", F.expr("i div 4").alias("band"))
        .agg(F.sum(F.col("sig") * w).alias("key"))
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.key") == F.col("b.key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    exact = (
        near_dup_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    hits = cand.join(exact, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("c"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return (
        hits.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_cand))
        .select(
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("c").cast("long").alias("n_hits"),
            F.expr("CAST(c * 1000 div NULLIF(n_exact, 0) AS BIGINT)")
            .alias("recall_permille"),
            F.expr("CAST(c * 1000 div NULLIF(n_candidates, 0) AS BIGINT)")
            .alias("precision_permille"),
        )
    )
