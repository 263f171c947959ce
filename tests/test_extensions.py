"""Extension-operator tests: near-dup recall, ANN recall vs brute
force, language-ID on known-language text, multimodal plumbing.

These pin the properties the rows-only checked queries can't: the
driver only verifies those queries *run*; these tests verify they're
*right* (recall/accuracy bounds, schema shape, batch behavior)."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from flight_data_pipeline_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    binarize_documents,
    extract_features,
    real_decode,
)
from flight_data_pipeline_spark.operators.text import predict_lang
from flight_data_pipeline_spark.plans import registry
from flight_data_pipeline_spark.tables import load_table
from tests.conftest import SF_DIR

registry.load_all()


class TestNearDupRecall:
    def test_minhash_lsh_recall_vs_exact(self, spark):
        """Every same-source pair the exact Jaccard query reports at
        ≥0.8 should be recovered by MinHash+LSH (32 hashes / 8 bands
        → ~50% band-collision probability at j=0.8 per band; 8 bands
        ⇒ miss probability ≈ 0.4%). Allow one miss for hash luck."""
        exact = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["near_dup_jaccard_pairs"](spark, SF_DIR).collect()
        }
        lsh = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["minhash_lsh_near_dups"](spark, SF_DIR).collect()
        }
        # LSH searches the whole corpus; the exact query only compares
        # same-source pairs — so recall is judged on exact's domain,
        # and lsh∩exact-domain must not contain false positives
        # (pairs are Jaccard-verified post-LSH).
        src = {
            r.doc_id: r.source
            for r in load_table(spark, "documents", SF_DIR).collect()
        }
        lsh_same_source = {
            (a, b) for (a, b) in lsh if src[a] == src[b]
        }
        assert lsh_same_source <= exact
        missed = exact - lsh
        assert len(missed) <= max(1, len(exact) // 20), (
            f"LSH missed {len(missed)}/{len(exact)} near-dup pairs"
        )

    def test_lsh_recovers_cross_source_contamination(self, spark):
        """The source-blind MinHash sweep must recover the cross-source
        near-dup pairs that the checked contamination matrix counts —
        the scale path for leak detection. Same banding math as the
        same-source recall test (miss prob ≈ 0.4% per pair)."""
        from flight_data_pipeline_spark.operators.dedup import jaccard
        from flight_data_pipeline_spark.operators.text import distinct_tokens

        docs = load_table(spark, "documents", SF_DIR)
        meta = {r.doc_id: (r.source, r.lang) for r in
                docs.select("doc_id", "source", "lang").collect()}
        # exact cross-source pairs (same lang, jaccard >= 0.8)
        t = docs.select("doc_id", "lang",
                        distinct_tokens(F.col("text")).alias("t"))
        a = t.select(F.col("lang"), F.col("doc_id").alias("ia"),
                     F.col("t").alias("ta"))
        b = t.select(F.col("lang"), F.col("doc_id").alias("ib"),
                     F.col("t").alias("tb"))
        exact = {
            (r.ia, r.ib)
            for r in a.join(b, ["lang"]).where(F.col("ia") < F.col("ib"))
            .where(jaccard(F.col("ta"), F.col("tb")) >= 0.8).collect()
            if meta[r.ia][0] != meta[r.ib][0]
        }
        assert exact  # the fixture is cross-contaminated by construction
        lsh = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["minhash_lsh_near_dups"](spark, SF_DIR).collect()
            if meta[r.doc_a][0] != meta[r.doc_b][0]
        }
        missed = exact - lsh
        assert len(missed) <= max(1, len(exact) // 20), (
            f"LSH missed {len(missed)}/{len(exact)} cross-source near-dups")

    def test_simhash_buckets_group_near_dups(self, spark):
        out = registry.QUERIES["simhash_buckets"](spark, SF_DIR)
        rows = out.collect()
        assert all(r.n_docs > 1 for r in rows)
        # doc_ids is a sorted comma-joined string (driver-canon-safe)
        for r in rows:
            ids = [int(x) for x in r.doc_ids.split(",")]
            assert len(ids) == r.n_docs
            assert ids == sorted(ids)


class TestHotTokenGuard:
    def test_df_cap_keeps_recall_at_08_on_fixture(self, spark):
        """The hot-token guard (max_token_df) must not change the
        threshold-0.8 result on the fixture corpus: every block has 25
        docs and median token DF ~20, so a cap of 20 (0.8× block size)
        drops ~40% of postings — the quadratic hot ones — while every
        near-dup pair still shares at least one sub-cap token."""
        from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

        docs = load_table(spark, "documents", SF_DIR)
        exact = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in jaccard_pairs_blocked(
                docs, "doc_id", "source", "text", threshold=0.8).collect()
        }
        guarded = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in jaccard_pairs_blocked(
                docs, "doc_id", "source", "text", threshold=0.8,
                max_token_df=20).collect()
        }
        assert guarded == exact  # same pairs AND same (exact) sims

    def test_carry_cols_attach_payload_on_both_paths(self, spark):
        """carry_cols must ride per-doc payload through pair generation
        identically on the exact and DF-capped paths — and agree with
        re-joining the payload manually."""
        from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

        docs = load_table(spark, "documents", SF_DIR)
        want = {(r.doc_id, r.source) for r in docs.select("doc_id", "source").collect()}
        for cap in (None, 20):
            pairs = jaccard_pairs_blocked(
                docs, "doc_id", "source", "text", threshold=0.8,
                max_token_df=cap, carry_cols=("source",)).collect()
            assert pairs  # fixture has near-dups
            for r in pairs:
                assert (r.id_a, r.source_a) in want
                assert (r.id_b, r.source_b) in want


class TestBitsetMasks:
    def test_vocab_past_64_fails_loudly(self, spark):
        """A 65-token block vocabulary must fail the job (assert_true
        in the dictionary), never wrap the shift into a silently wrong
        mask."""
        import pytest

        from flight_data_pipeline_spark.operators.dedup import (
            dictionary_bitset_masks,
        )

        text = " ".join(f"tok{i}" for i in range(65))
        df = spark.createDataFrame([(1, "b", text)], "id long, blk string, text string")
        with pytest.raises(Exception, match="vocabulary exceeds"):
            dictionary_bitset_masks(df, "id", "blk", "text").collect()

    def test_max_vocab_wider_than_64_rejected(self):
        import pytest

        from flight_data_pipeline_spark.operators.dedup import (
            dictionary_bitset_masks,
        )

        with pytest.raises(ValueError):
            dictionary_bitset_masks(None, "id", "blk", "text", max_vocab=128)


def _cc_graph(seed):
    """Seeded undirected graph: one long chain, a random sparse rest,
    self-loops, shuffled ids (ids ≥ 10^15 on odd seeds) and random
    edge orientation."""
    import random

    rng = random.Random(seed)
    base = 10**15 if seed % 2 else 0
    ids = [base + i for i in rng.sample(range(10**6), 40)]
    chain = ids[:rng.randint(4, 24)]
    rest = ids[len(chain):]
    edges = list(zip(chain, chain[1:]))
    edges += [(rng.choice(rest), rng.choice(rest)) for _ in range(12)]
    edges += [(v, v) for v in rng.sample(ids, 4)]
    edges = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in edges]
    rng.shuffle(edges)
    return edges


def _union_find(edges):
    """{node: min node id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_rounds(edges):
    """Rounds connected_components runs before a round changes no
    label: seed with the closed-neighbourhood min, then per round the
    closed-neighbourhood min followed by the pointer jump."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: min(ns | {v}) for v, ns in nbrs.items()}
    rounds = 0
    while True:
        rounds += 1
        hop = {v: min([label[v]] + [label[u] for u in ns])
               for v, ns in nbrs.items()}
        new = {v: hop[hop[v]] for v in hop}
        if new == label:
            return rounds
        label = new


CC_SEEDS = range(5)


class TestConnectedComponents:
    def test_chain_and_disjoint_clusters(self, spark):
        """A diameter-6 chain plus a disjoint triangle and star: labels
        must collapse to each component's min node id within max_iter."""
        from flight_data_pipeline_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
             (10, 11), (11, 12), (10, 12), (20, 25), (20, 24), (20, 23)],
            "src long, dst long",
        )
        got = {r.v: r.label
               for r in connected_components(edges, max_iter=8).collect()}
        assert {v: l for v, l in got.items() if v < 10} == {
            i: 1 for i in range(1, 8)}
        assert {v: l for v, l in got.items() if 10 <= v < 20} == {
            10: 10, 11: 10, 12: 10}
        assert {v: l for v, l in got.items() if v >= 20} == {
            20: 20, 23: 20, 24: 20, 25: 20}

    def test_early_stop_still_exact_with_generous_cap(self, spark):
        """max_iter far above the diameter must not change the result
        (the loop exits at the fixed point, not after max_iter)."""
        from flight_data_pipeline_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src long, dst long")
        got = {r.v: r.label
               for r in connected_components(edges, max_iter=100).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_cap_hit_logs_warning(self, spark, caplog):
        """A component whose diameter exceeds max_iter must WARN about
        split clusters instead of failing silently (ADVICE r2)."""
        import logging

        from flight_data_pipeline_spark.operators.dedup import connected_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 9)], "src long, dst long")
        with caplog.at_level(logging.WARNING,
                             logger="flight_data_pipeline_spark.operators.dedup"):
            connected_components(chain, max_iter=2).collect()
        assert any("still changing" in r.message for r in caplog.records)

    @pytest.mark.parametrize("seed", [*CC_SEEDS, "empty"])
    def test_labels_match_union_find(self, spark, seed):
        """Long chains, shuffled and ≥ 10^15 ids, self-loops and the
        empty graph: labels equal a plain-Python union-find."""
        from flight_data_pipeline_spark.operators.dedup import connected_components

        und = [] if seed == "empty" else _cc_graph(seed)
        edges = spark.createDataFrame(und, "src long, dst long")
        got = {r.v: r.label for r in connected_components(
            edges, max_iter=12, strict=True).collect()}
        assert got == _union_find(und)

    def test_cap_warning_fires_exactly_when_rounds_exceed_cap(
            self, spark, caplog):
        """The observed label-sum stop equals a per-label change test:
        for every cap 1-6 the warning fires exactly when the
        plain-Python replay of the round needs more rounds than the
        cap. The graphs need 2-7 rounds, so both sides are hit."""
        import logging

        from flight_data_pipeline_spark.operators.dedup import connected_components

        need = {seed: _cc_rounds(_cc_graph(seed)) for seed in CC_SEEDS}
        assert min(need.values()) <= 2 and max(need.values()) > 6, need
        for seed in CC_SEEDS:
            edges = spark.createDataFrame(_cc_graph(seed),
                                          "src long, dst long")
            for cap in range(1, 7):
                caplog.clear()
                with caplog.at_level(
                        logging.WARNING,
                        logger="flight_data_pipeline_spark.operators.dedup"):
                    connected_components(edges, max_iter=cap)
                warned = any("still changing" in r.message
                             for r in caplog.records)
                assert warned == (need[seed] > cap), (seed, cap, need)

    def test_round_plan_has_no_shuffle_exchange(self, spark, tmp_path,
                                                monkeypatch):
        """hop is materialized once per round, so the round-1 plan (the
        pointer jump over hop on both sides) carries only a broadcast
        exchange: a second hop aggregate would show as shuffle
        Exchanges."""
        import re

        from flight_data_pipeline_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(_cc_graph(0), "src long, dst long")
        monkeypatch.setenv("SPARK_GRAFT_LOOP_PLAN_DIR", str(tmp_path))
        connected_components(edges, max_iter=1)
        plan = (tmp_path / "connected_components_round1.txt").read_text()
        assert "BroadcastExchange" in plan
        assert not re.search(r"(?<!Broadcast)Exchange\b", plan), plan


class TestAnnRecall:
    def test_lsh_topk_overlaps_bruteforce(self, spark):
        """ANN (4-bit LSH → ~1/16 of the table probed) should recover
        a meaningful share of the exact top-10. With 500 vectors a
        4-bit bucket holds ~31; random overlap would be ~0.6 of 10 —
        require better than random and the query vector itself found."""
        exact = [r.vec_id for r in
                 registry.QUERIES["cosine_topk_bruteforce"](spark, SF_DIR).collect()]
        approx = [r.vec_id for r in
                  registry.QUERIES["ann_lsh_topk"](spark, SF_DIR).collect()]
        assert 0 in approx  # the query vector matches itself (sim 1.0)
        overlap = len(set(exact) & set(approx))
        assert overlap >= 2, f"ANN recall too low: {overlap}/10"

    def test_multiprobe_dominates_single_probe(self, spark):
        """Probing the Hamming-1 neighbor buckets must never lose
        recall vs the single bucket (it's a strict superset of the
        probed space) and on the fixture it measurably gains (2→4 of
        the exact top-10 at bits=4)."""
        exact = [r.vec_id for r in
                 registry.QUERIES["cosine_topk_bruteforce"](spark, SF_DIR).collect()]
        single = [r.vec_id for r in
                  registry.QUERIES["ann_lsh_topk"](spark, SF_DIR).collect()]
        multi = [r.vec_id for r in
                 registry.QUERIES["ann_lsh_topk_multiprobe"](spark, SF_DIR).collect()]
        assert 0 in multi
        o_single = len(set(exact) & set(single))
        o_multi = len(set(exact) & set(multi))
        assert o_multi >= max(o_single, 3), (o_single, o_multi)


class TestLshBlockedEmbeddingNearDup:
    def test_planted_near_dups_recovered(self, spark):
        """lsh_candidate_pairs must recover planted near-duplicates:
        20 vectors get a tiny-perturbation copy (cos ≥ ~0.99). A pair
        that close collides in some band with prob ≈ 1−(1−(1−θ/π)^4)^3
        ≈ 0.97, so ≥ 17/20 planted pairs is a conservative pin."""
        import numpy as np

        from flight_data_pipeline_spark.operators.vectors import lsh_candidate_pairs

        rng = np.random.RandomState(0)
        base = rng.randn(200, 64).astype("float64")
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        planted = []
        for j in range(20):
            dup = base[j] + 0.02 * rng.randn(64)
            rows.append((1000 + j, [float(x) for x in dup]))
            planted.append((j, 1000 + j))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        cands = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                df, vec_col="embedding", id_col="vec_id",
                bits=4, bands=3).collect()
        }
        found = sum(1 for p in planted if p in cands)
        assert found >= 17, f"LSH recovered only {found}/20 planted near-dups"
        # and banding actually pruned: far fewer candidates than all pairs
        assert len(cands) < (220 * 219) // 2 * 0.6

    def test_fixture_query_is_valid_subset(self, spark):
        """On the fixture (whose 'closest' pairs are far — cos ~0.4 —
        i.e. adversarial for LSH), the blocked query must still emit
        only true pairs with exact sims, bounded by the exact best."""
        exact = {r.label: r.cosine_sim
                 for r in registry.QUERIES["closest_pair_per_label"](spark, SF_DIR).collect()}
        approx = registry.QUERIES["closest_pair_per_label_lsh"](spark, SF_DIR).collect()
        assert len(approx) >= 8  # bucket collisions exist in ≥8/10 labels
        for r in approx:
            assert r.cosine_sim <= exact[r.label] + 1e-9
            assert r.vec_a < r.vec_b


class TestLangId:
    def test_known_language_markers(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog of to is"),
                (2, "el la de que y casa perro"),
                (3, "der die und das ist haus"),
                (4, "le la et les des maison"),
                (5, "xyzzy qwerty plugh"),  # no markers → default en
            ],
            "id long, text string",
        )
        out = {r.id: r.lang for r in
               df.select("id", predict_lang(F.col("text")).alias("lang")).collect()}
        assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "en"}


class TestSketches:
    def test_approx_quantiles_within_error_bound(self, spark):
        """percentile_approx at accuracy 10000 must track the exact
        percentile in every group. Tolerance is 5%, not sketch-rank
        error: approx returns an actual data point while exact
        interpolates between ranks, and at sf0.001 group sizes the
        inter-point gap dominates (sketch rank error itself is ~0 at
        this accuracy)."""
        rows = registry.QUERIES["approx_value_quantiles"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            for a, e in ((r.approx_p50, r.exact_p50), (r.approx_p95, r.exact_p95)):
                assert abs(a - e) / max(abs(e), 1e-9) < 0.05, (r.event_type, a, e)

    def test_approx_distinct_within_error_bound(self, spark):
        """HLL++ at rsd=0.02 should land within 5% of exact on every
        group (the query carries both columns so the check is direct)."""
        rows = registry.QUERIES["approx_distinct_stats"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            rel_err = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
            assert rel_err < 0.05, (r.event_type, r.approx_users, r.exact_users)


class TestChunking:
    def test_overlapping_chunks_and_short_docs(self, spark):
        from flight_data_pipeline_spark.operators.text import chunk_tokens

        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "x")], "id long, text string")
        out = {r.id: r.chunks for r in df.select(
            "id", chunk_tokens(F.col("text"), chunk_size=4, stride=3)
            .alias("chunks")).collect()}
        assert out[1] == ["a b c d", "d e f g", "g h"]  # overlap of 1
        assert out[2] == ["x"]                          # short doc = 1 chunk


class TestInt8Quantization:
    def test_reconstruction_is_cosine_faithful(self, spark):
        """int8 keeps 64-dim embedding direction nearly intact: every
        label's worst-case reconstruction cosine stays above 0.999."""
        rows = registry.QUERIES["int8_quantization_error"](spark, SF_DIR).collect()
        assert len(rows) == 10
        for r in rows:
            assert r.min_cos > 0.999
            assert r.avg_cos >= r.min_cos


class TestStratifiedSampling:
    def test_sample_stats_within_binomial_bounds(self, spark):
        """Each stratum's sampled count must sit within 4σ of its
        Bernoulli expectation (n·p ± 4·√(np(1−p)) + 2 slack for tiny
        strata) and never exceed the available rows — the hash gate
        is a fixed random function of doc_id, so binomial bounds
        apply exactly as they did to the RNG sampler."""
        rows = registry.QUERIES["stratified_sample_stats"](spark, SF_DIR).collect()
        assert len(rows) == 20
        for r in rows:
            i = int(r.source.removeprefix("src"))
            p = 0.8 if i % 2 == 0 else 0.2
            mu = r.n_docs * p
            tol = 4 * (r.n_docs * p * (1 - p)) ** 0.5 + 2
            assert 0 <= r.n_sampled <= r.n_docs
            assert abs(r.n_sampled - mu) <= tol, (r.source, r.n_sampled, mu)

    def test_hash_gate_stable_under_repartition(self, spark):
        """The property that promoted the query: the hash-gated
        sample selects the IDENTICAL row set regardless of input
        partitioning (sampleBy's per-partition RNG does not — that
        is why it stays the throwaway-draw tier)."""
        from flight_data_pipeline_spark.operators.sampling import (
            stratified_sample_hash)

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        permille = {f"src{i}": (800 if i % 2 == 0 else 200)
                    for i in range(20)}
        pick = lambda df: sorted(
            r.doc_id for r in stratified_sample_hash(
                df, "source", permille, key_col="doc_id", seed="ss9")
            .select("doc_id").collect())
        base = pick(docs)
        assert base == pick(docs.repartition(7, "lang"))
        assert base == pick(docs.coalesce(1))

    def test_temperature_weights_interpolate_natural_to_uniform(self):
        """alpha=1 gives natural proportions, alpha=0 uniform, and
        intermediate alpha boosts the low-resource stratum's share
        monotonically — composing with mixture_fractions yields the
        standard multilingual sampling setup."""
        from flight_data_pipeline_spark.operators.sampling import (
            mixture_fractions, temperature_weights)

        counts = {"en": 900, "sw": 100}
        nat = temperature_weights(counts, 1.0)
        assert abs(nat["en"] - 0.9) < 1e-12 and abs(nat["sw"] - 0.1) < 1e-12
        uni = temperature_weights(counts, 0.0)
        assert abs(uni["en"] - 0.5) < 1e-12
        t = temperature_weights(counts, 0.5)
        assert nat["sw"] < t["sw"] < uni["sw"]   # boosted, not flattened
        fr = mixture_fractions(counts, t, total_out=200)
        assert 0 < fr["en"] < 1 and 0 < fr["sw"] <= 1
        # zero-count strata drop; negative temperature rejected
        assert "x" not in temperature_weights({"x": 0, "y": 5}, 0.5)
        import pytest as _pytest
        with _pytest.raises(ValueError):
            temperature_weights(counts, -1)

    def test_mixture_fractions_cap_and_weighting(self):
        from flight_data_pipeline_spark.operators.sampling import mixture_fractions

        fr = mixture_fractions(
            counts={"web": 1000, "books": 100, "code": 50},
            target_weights={"web": 1, "books": 1, "code": 2},
            total_out=200,
        )
        assert fr["web"] == 0.05       # 50 of 1000
        assert fr["books"] == 0.5      # 50 of 100
        assert fr["code"] == 1.0       # wants 100 of 50 → capped
        assert "absent" not in fr


class TestIvfIndexDurability:
    def test_written_index_prunes_probed_lists(self, spark, tmp_path):
        """IvfIndex.write lays the index out as ivf_list-partitioned
        parquet; reading it back with a probe filter must show
        PartitionFilters (directory pruning), not a data filter — the
        100 TB claim in SCALE.md made checkable."""
        from flight_data_pipeline_spark.operators.vectors import build_ivf_index
        from flight_data_pipeline_spark.tables import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        idx = build_ivf_index(emb, vec_col="embedding", id_col="vec_id",
                              n_lists=8, seed=42)
        path = str(tmp_path / "ivf")
        idx.write(path)

        probed = spark.read.parquet(path).where(F.col("ivf_list").isin([0, 3]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "ivf_list" in plan.split(
            "PartitionFilters")[1].split("]")[0]
        assert probed.select("vec_id").distinct().count() < emb.count()


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(50)
        feats = extract_features(binarize_documents(docs))
        assert feats.schema == FEATURE_SCHEMA
        rows = feats.collect()
        assert len(rows) == 50
        for r in rows[:5]:
            assert len(r.feature) == 16            # 16-bin histogram
            assert abs(sum(r.feature) - 1.0) < 1e-5  # normalized
            assert r.n_bytes > 0 and r.byte_entropy > 0

    def test_real_decode_still_stubbed_for_codec_formats(self):
        # video stays the one injected-decoder format (no in-container
        # ffmpeg); jpeg moved to the really-decoded set in round 9
        with pytest.raises(NotImplementedError):
            real_decode(b"\x00\x00\x00\x18ftypmp42", "mp4")

    # --- real in-container decoders (VERDICT r7 #5) -----------------

    @staticmethod
    def _ppm_payload():
        """3x2 P6 PPM with a comment line: 6 known RGB pixels."""
        pixels = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,
                        10, 20, 30,  40, 50, 60,  200, 200, 200])
        return b"P6\n# test image\n3 2\n255\n" + pixels, pixels

    @staticmethod
    def _bmp_payload():
        """3x2 uncompressed 24-bit BMP, bottom-up, stride-padded."""
        import struct

        # rows in IMAGE order (top first), pixel = (r, g, b)
        img = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
               [(10, 20, 30), (40, 50, 60), (200, 200, 200)]]
        stride = (3 * 3 + 3) & ~3  # 12 bytes: 9 + 3 padding
        raster = b""
        for row in reversed(img):  # bottom-up storage
            line = b"".join(bytes([b, g, r]) for r, g, b in row)  # BGR
            raster += line + b"\x00" * (stride - len(line))
        header = (b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
                  + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0,
                                len(raster), 2835, 2835, 0, 0))
        flat = [c for row in img for px in row for c in px]
        return header + raster, bytes(flat)

    @staticmethod
    def _wav_payload():
        """8 frames of 16-bit mono PCM with known sample values."""
        import io
        import struct
        import wave

        samples = [0, 16384, 32767, 16384, 0, -16384, -32768, -16384]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(struct.pack("<8h", *samples))
        return buf.getvalue(), samples

    @staticmethod
    def _png_chunk(ctype, body):
        import struct
        import zlib

        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    @staticmethod
    def _png_filter_raster(raster, bpp):
        """Forward-filter a (h, scanbytes) uint8 raster, one filter
        per scanline cycling through all five types (None/Sub/Up/
        Average/Paeth) so the decoder's every unfilter path is
        exercised."""
        import numpy as np

        h, scan = raster.shape
        prev = np.zeros(scan, dtype=np.int64)
        scanlines = []
        for y in range(h):
            rec = raster[y].astype(np.int64)
            ft = y % 5
            if ft == 0:
                filt = rec % 256
            elif ft == 1:
                left = np.concatenate([np.zeros(bpp, np.int64), rec[:-bpp]]) \
                    if scan > bpp else np.zeros(scan, np.int64)
                filt = (rec - left) % 256
            elif ft == 2:
                filt = (rec - prev) % 256
            else:
                filt = np.empty(scan, np.int64)
                for x in range(scan):
                    a = int(rec[x - bpp]) if x >= bpp else 0
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    if ft == 3:
                        pred = (a + b) >> 1
                    else:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (
                            b if pb <= pc else c)
                    filt[x] = (rec[x] - pred) % 256
            scanlines.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
            prev = rec
        return b"".join(scanlines)

    @staticmethod
    def _pack_indices(idx, depth):
        """(h, w) palette indices → (h, scanbytes) packed at depth
        bits per index, big-endian within each byte (RFC 2083 §2.3)."""
        import numpy as np

        h, w = idx.shape
        bits = ((idx[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1)
        return np.packbits(bits.reshape(h, w * depth).astype(np.uint8),
                           axis=1)

    @classmethod
    def _png_payload(cls, img, color_type, depth=8, plte=None, trns=None,
                     interlace=0):
        """Minimal stdlib PNG ENCODER for test fixtures: all color
        types incl. palette (packed sub-byte indices), 8/16-bit, and
        Adam7; IDAT split in two to exercise chunk concatenation."""
        import struct
        import zlib

        import numpy as np

        if color_type == 3:
            h, w = img.shape  # img carries indices
            bits_pp = depth
        else:
            h, w, ch = img.shape
            bits_pp = depth * ch if depth >= 8 else depth

        def raster(sub):
            if color_type == 3:
                if depth == 8:
                    return sub
                return cls._pack_indices(sub, depth)
            if color_type == 0 and depth < 8:  # sub-byte grayscale
                return cls._pack_indices(sub[:, :, 0], depth)
            if depth == 16:
                return np.ascontiguousarray(
                    sub.astype(">u2")).view(np.uint8).reshape(
                        sub.shape[0], -1)
            return sub.reshape(sub.shape[0], -1)

        bpp = max(1, bits_pp // 8)
        if interlace == 0:
            stream = cls._png_filter_raster(raster(img), bpp)
        else:
            passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                      (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                      (0, 1, 1, 2))
            stream = b""
            for x0, y0, dx, dy in passes:
                sub = img[y0::dy, x0::dx]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue
                stream += cls._png_filter_raster(raster(sub), bpp)
        data = zlib.compress(stream)
        mid = len(data) // 2
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0,
                           interlace)
        out = b"\x89PNG\r\n\x1a\n" + cls._png_chunk(b"IHDR", ihdr)
        if plte is not None:
            out += cls._png_chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        if trns is not None:
            out += cls._png_chunk(b"tRNS", bytes(trns))
        return (out + cls._png_chunk(b"IDAT", data[:mid])
                + cls._png_chunk(b"IDAT", data[mid:])
                + cls._png_chunk(b"IEND", b""))

    def test_decode_png_all_filters_and_color_types(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(7)
        # gray, RGB, gray+alpha, RGBA; ≥5 rows so every filter fires
        for color_type, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
            img = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
            dec = decode_png(self._png_payload(img, color_type))
            assert dec.shape == img.shape
            assert np.array_equal(dec, img)

    def test_decode_png_palette_and_trns(self):
        """Color type 3 (r10: closes VERDICT r9 missing #1): indices
        look up PLTE; a tRNS chunk appends per-entry alpha."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(11)
        plte = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
        idx = rng.integers(0, 5, size=(7, 6), dtype=np.uint8)
        dec = decode_png(self._png_payload(idx, 3, plte=plte))
        assert dec.shape == (7, 6, 3)
        assert np.array_equal(dec, plte[idx])
        # tRNS shorter than the palette: missing entries default 255
        trns = [30, 255, 0]
        dec = decode_png(self._png_payload(idx, 3, plte=plte, trns=trns))
        assert dec.shape == (7, 6, 4)
        assert np.array_equal(dec[:, :, :3], plte[idx])
        alpha = np.array(trns + [255, 255], np.uint8)
        assert np.array_equal(dec[:, :, 3], alpha[idx])

    def test_decode_png_packed_palette_depths(self):
        """1/2/4-bit palette indices, packed big-endian within each
        byte, widths that do NOT fill the last byte."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(13)
        for depth in (1, 2, 4):
            n = 1 << depth
            plte = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
            idx = rng.integers(0, n, size=(6, 9), dtype=np.uint8)
            dec = decode_png(self._png_payload(idx, 3, depth=depth,
                                               plte=plte))
            assert np.array_equal(dec, plte[idx]), depth

    def test_decode_png_16bit_high_byte(self):
        """16-bit samples reduce to the high byte — the exact inverse
        of the spec's v*257 expansion, so an 8-bit image encoded at 16
        bits round-trips losslessly (gray and RGBA shapes)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(17)
        for color_type, ch in [(0, 1), (6, 4)]:
            img8 = rng.integers(0, 256, size=(6, 5, ch), dtype=np.uint8)
            img16 = img8.astype(np.uint16) * 257
            dec = decode_png(self._png_payload(img16, color_type, depth=16))
            assert np.array_equal(dec, img8), color_type

    def test_decode_png_subbyte_grayscale(self):
        """1/2/4-bit grayscale left-bit-replicates to 8-bit: encoding
        v then decoding yields v * 255/(2^d - 1) exactly."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(29)
        for depth in (1, 2, 4):
            hi = (1 << depth) - 1
            img = rng.integers(0, hi + 1, size=(6, 9, 1), dtype=np.uint8)
            dec = decode_png(self._png_payload(img, 0, depth=depth))
            assert dec.shape == (6, 9, 1)
            assert np.array_equal(dec, img * np.uint8(255 // hi)), depth

    def test_decode_png_adam7(self):
        """Adam7 interlace: the seven independently-filtered passes
        scatter back to the original image — plain RGB, 16-bit, and
        packed palette variants, including dims < 8 where some passes
        are empty."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        rng = np.random.default_rng(19)
        for shape in [(13, 11), (3, 5), (8, 8), (1, 1)]:
            img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
            dec = decode_png(self._png_payload(img, 2, interlace=1))
            assert np.array_equal(dec, img), shape
        img8 = rng.integers(0, 256, size=(9, 7, 1), dtype=np.uint8)
        dec = decode_png(self._png_payload(
            img8.astype(np.uint16) * 257, 0, depth=16, interlace=1))
        assert np.array_equal(dec, img8)
        plte = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
        idx = rng.integers(0, 4, size=(10, 9), dtype=np.uint8)
        dec = decode_png(self._png_payload(idx, 3, depth=2, plte=plte,
                                           interlace=1))
        assert np.array_equal(dec, plte[idx])

    def test_decode_png_rejects_unsupported_shapes(self):
        import struct
        import zlib

        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_png,
        )

        with pytest.raises(ValueError):
            decode_png(b"\xff\xd8\xff not a png")

        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body)))

        # an ILLEGAL depth/color combination (RFC 2083 §4.1.1: color
        # type 2 allows 8/16 only) is a malformed file → ValueError
        rgb4 = (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", 2, 1, 4, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00"))
                + chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_png(rgb4)
        # palette with a missing PLTE and an out-of-range index are
        # malformed files → ValueError (dead-letter), not injection
        pal_no_plte = (b"\x89PNG\r\n\x1a\n"
                       + chunk(b"IHDR",
                               struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
                       + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
                       + chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_png(pal_no_plte)
        plte = np.zeros((2, 3), np.uint8)
        bad_idx = np.array([[7]], np.uint8)
        with pytest.raises(ValueError):
            decode_png(self._png_payload(bad_idx, 3, plte=plte))

    def test_decode_netpbm_pixels(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_netpbm,
        )

        payload, pixels = self._ppm_payload()
        img = decode_netpbm(payload)
        assert img.shape == (2, 3, 3)
        assert img.tobytes() == pixels
        # grayscale P5 with the same raster bytes
        g = decode_netpbm(b"P5\n3 2\n255\n" + pixels[:6])
        assert g.shape == (2, 3, 1) and g.tobytes() == pixels[:6]

    def test_decode_bmp_undoes_bgr_stride_and_row_flip(self):
        from flight_data_pipeline_spark.operators.multimodal import (
            decode_bmp,
        )

        payload, flat_rgb = self._bmp_payload()
        img = decode_bmp(payload)
        assert img.shape == (2, 3, 3)
        assert img.tobytes() == flat_rgb  # RGB, top row first

    def test_decode_wav_samples(self):
        from flight_data_pipeline_spark.operators.multimodal import (
            decode_wav,
        )

        payload, samples = self._wav_payload()
        arr = decode_wav(payload)
        assert len(arr) == 8
        assert max(abs(arr[i] - samples[i] / 32768.0)
                   for i in range(8)) < 1e-6

    def test_decode_wav_24_and_32_bit(self):
        """24-bit (manual assembly + sign extension) and 32-bit PCM
        (r10): the same ramp at each width decodes to the same
        normalized floats."""
        import io
        import struct
        import wave

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_wav,
        )

        samples = [0, 0.5, -0.5, 0.999, -1.0, 0.25, -0.25, 0.125]

        def wav_bytes(sw):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(sw)
                wf.setframerate(8000)
                full = 1 << (8 * sw - 1)
                for s in samples:
                    v = max(-full, min(full - 1, int(s * full)))
                    wf.writeframes(
                        struct.pack("<i", v)[:sw])
            return buf.getvalue()

        for sw in (3, 4):
            arr = decode_wav(wav_bytes(sw))
            assert len(arr) == 8
            assert max(abs(arr[i] - samples[i])
                       for i in range(8)) < 1e-3, sw

    def test_real_payloads_decode_end_to_end(self, spark):
        """A PPM, a BMP, a PNG and a WAV payload flow through the
        default extract_features path (auto_decode → real_decode) and
        come back with features computed over DECODED pixels/samples —
        the PPM, BMP and PNG encode the SAME six pixels, so their
        features must be identical even though their file bytes (and
        for PNG, the zlib-compressed filtered raster) differ."""
        import numpy as np

        ppm, pixels = self._ppm_payload()
        bmp, _ = self._bmp_payload()
        img = np.frombuffer(pixels, dtype=np.uint8).reshape(2, 3, 3)
        png = self._png_payload(img, 2)
        # palette twin of the same six pixels (r10): PLTE carries the
        # distinct colors, the raster just indexes them
        colors, idx_flat = np.unique(
            img.reshape(-1, 3), axis=0, return_inverse=True)
        pal_png = self._png_payload(
            idx_flat.reshape(2, 3).astype(np.uint8), 3,
            plte=colors.astype(np.uint8))
        wav, samples = self._wav_payload()
        rows = [
            (1, ppm, {"kind": "image", "format": "ppm",
                      "n_bytes": len(ppm)}),
            (2, bmp, {"kind": "image", "format": "bmp",
                      "n_bytes": len(bmp)}),
            (3, wav, {"kind": "audio", "format": "wav",
                      "n_bytes": len(wav)}),
            (4, png, {"kind": "image", "format": "png",
                      "n_bytes": len(png)}),
            (5, pal_png, {"kind": "image", "format": "png",
                          "n_bytes": len(pal_png)}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in extract_features(media).collect()}
        assert set(got) == {1, 2, 3, 4, 5}
        for r in got.values():
            assert len(r.feature) == 16
            assert abs(sum(r.feature) - 1.0) < 1e-5
        # same pixels ⇒ same decoded feature, despite different bytes
        assert list(got[1].feature) == list(got[2].feature)
        assert list(got[1].feature) == list(got[4].feature)
        assert list(got[1].feature) == list(got[5].feature)
        # the wav feature reflects amplitudes: symmetric test signal
        # puts mass in both negative and positive bins
        wf = list(got[3].feature)
        assert sum(wf[:8]) > 0 and sum(wf[8:]) > 0

    def test_jpeg_payload_decodes_end_to_end(self, spark):
        """A baseline JPEG and a PPM encoding the SAME pixels produce
        the IDENTICAL 16-bin feature through the default
        extract_features path. Pixel values sit at histogram-bin
        centers (8, 24, …, 248) so the codec's ±3 round-trip error
        cannot cross a bin edge — the parity is exact, not
        approximate."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)

        vals = np.repeat(np.arange(16, dtype=np.uint8) * 16 + 8, 16)
        img = np.stack([vals.reshape(16, 16)] * 3, axis=-1)
        jpg = encode_jpeg(img)
        ppm = (b"P6\n16 16\n255\n" + img.tobytes())
        rows = [
            (1, jpg, {"kind": "image", "format": "jpeg",
                      "n_bytes": len(jpg)}),
            (2, ppm, {"kind": "image", "format": "ppm",
                      "n_bytes": len(ppm)}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in extract_features(media).collect()}
        assert list(got[1].feature) == list(got[2].feature)
        assert abs(sum(got[1].feature) - 1.0) < 1e-5

    def test_custom_decoder_injectable(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(5)

        def tiny_decoder(payload, fmt):
            import numpy as np
            return np.zeros(16, dtype="float32")

        rows = extract_features(binarize_documents(docs), decoder=tiny_decoder).collect()
        assert all(sum(r.feature) == 0.0 for r in rows)


class TestJpegCodec:
    """Round-trips of the pure-stdlib baseline JPEG codec
    (operators/jpeg_codec.py). With an all-ones quant table the only
    loss is DCT/color-transform rounding, so tight absolute error
    bounds are checkable without any external codec."""

    @staticmethod
    def _err(a, b):
        import numpy as np
        return int(np.abs(np.asarray(a, int) - np.asarray(b, int)).max())

    def test_gray_solid_block_is_exact(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        img = np.full((8, 8), 77, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == (8, 8, 1)
        assert self._err(dec[:, :, 0], img) == 0

    def test_gray_random_nonmultiple_dims(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        img = np.random.default_rng(3).integers(
            0, 256, (17, 23), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == (17, 23, 1)       # padded blocks cropped
        assert self._err(dec[:, :, 0], img) <= 2

    def test_rgb_444_roundtrip(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        img = np.random.default_rng(5).integers(
            0, 256, (16, 16, 3), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == img.shape
        assert self._err(dec, img) <= 3       # two color transforms round

    def test_rgb_420_subsampled_roundtrip(self):
        """4:2:0: gray-content RGB has constant chroma planes, which
        2×2 subsampling preserves exactly — so the chroma path adds no
        error and the decoder's upsample/crop geometry is pinned on
        odd dimensions."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        g = np.random.default_rng(7).integers(
            0, 256, (21, 13), dtype=np.uint8)
        img = np.stack([g, g, g], axis=-1)
        dec = decode_jpeg(encode_jpeg(img, subsample=True))
        assert dec.shape == img.shape
        assert self._err(dec, img) <= 2

    def test_rgb_422_asymmetric_upsample(self):
        """4:2:2 (h-only chroma subsample): pins the decoder's
        asymmetric repeat geometry on an odd width."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        g = np.random.default_rng(13).integers(
            0, 256, (10, 15), dtype=np.uint8)
        img = np.stack([g, g, g], axis=-1)
        dec = decode_jpeg(encode_jpeg(img, subsample="422"))
        assert dec.shape == img.shape
        assert self._err(dec, img) <= 2

    def test_roundtrip_property_random_gray(self):
        """Hypothesis sweep: ANY gray image of any small shape
        round-trips within ±2 at quant-ones — the codec has no
        shape-dependent edge (odd dims, single row/column, 1×1)."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        @settings(max_examples=20, deadline=None)
        @given(st.integers(1, 20), st.integers(1, 20),
               st.integers(0, 2**31 - 1))
        def check(h, w, seed):
            img = np.random.default_rng(seed).integers(
                0, 256, (h, w), dtype=np.uint8)
            dec = decode_jpeg(encode_jpeg(img))
            assert dec.shape == (h, w, 1)
            assert self._err(dec[:, :, 0], img) <= 2

        check()

    def test_restart_markers(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        img = np.random.default_rng(11).integers(
            0, 256, (24, 24), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, restart_interval=2))
        assert self._err(dec[:, :, 0], img) <= 2

    def test_coarse_quant_bounded_on_smooth_gradient(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            QUANT_STD_LUM, decode_jpeg, encode_jpeg)

        img = (np.arange(32)[:, None] * 4
               + np.arange(32)[None, :] * 3).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quant=QUANT_STD_LUM))
        assert self._err(dec[:, :, 0], img) <= 8

    def test_solid_block_exact_for_all_values(self):
        """media_decode_profile's exactness premise: a DC-only block
        (solid color, all-ones quant) round-trips bit-exactly for
        EVERY 8-bit value — and the float32-histogram count recovery
        round(f·n) is exact for every k/n the query uses."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        for v in range(0, 256, 7):  # stride-7 lattice + both endpoints
            dec = decode_jpeg(encode_jpeg(np.full((8, 8), v, np.uint8)))
            assert (dec[:, :, 0] == v).all(), v
        dec = decode_jpeg(encode_jpeg(np.full((8, 8), 255, np.uint8)))
        assert (dec[:, :, 0] == 255).all()
        for n in (64, 192):
            assert all(round(float(np.float32(k / n)) * n) == k
                       for k in range(n + 1))

    def test_tolerates_fill_bytes_before_markers(self):
        """T.81 B.1.1.2: any marker may be preceded by 0xFF fill
        bytes; splice some in front of every header marker."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        img = np.random.default_rng(19).integers(
            0, 256, (8, 8), dtype=np.uint8)
        jpg = bytearray(encode_jpeg(img))
        # insert a fill byte before the first DQT marker (after SOI)
        assert jpg[2] == 0xFF
        padded = bytes(jpg[:2]) + b"\xff" + bytes(jpg[2:])
        dec = decode_jpeg(padded)
        assert self._err(dec[:, :, 0], img) <= 2
        # and INSIDE the entropy stream: before an RST marker — the
        # scan splitter must treat FF FF as padding, not scan end
        # (needs >1 MCU for a restart marker to exist at all)
        wide = np.random.default_rng(23).integers(
            0, 256, (8, 24), dtype=np.uint8)
        rst = encode_jpeg(wide, restart_interval=1)
        k = rst.find(b"\xff\xd0")
        assert k > 0
        padded_rst = rst[:k] + b"\xff" + rst[k:]
        dec = decode_jpeg(padded_rst)
        assert self._err(dec[:, :, 0], wide) <= 2

    def test_multi_scan_sequential(self):
        """T.81 A.2.2: a SEQUENTIAL stream may split components across
        scans (Y scan, then Cb, then Cr — each non-interleaved over
        its coded block grid). Hand-assemble one from the encoder
        pieces and pin parity with the interleaved encoding of the
        same image, in 4:4:4 and 4:2:0."""
        import struct

        import numpy as np

        from flight_data_pipeline_spark.operators import jpeg_codec as jc

        for sub in (False, True):
            img = np.random.default_rng(61).integers(
                0, 256, (17, 13, 3), np.uint8)
            h_img, w_img, factors, blocks = jc._prep_blocks(
                img, jc.QUANT_ONES, sub)
            hmax = max(f[0] for f in factors)
            vmax = max(f[1] for f in factors)
            dc_lut = jc._build_encode_lut(jc._DC_COUNTS, jc._DC_SYMBOLS)
            ac_lut = jc._build_encode_lut(jc._AC_COUNTS, jc._AC_SYMBOLS)
            out = bytearray(b"\xff\xd8")
            jc._emit_headers(out, 0xC0, h_img, w_img, factors,
                             jc.QUANT_ONES)
            for ci in range(3):
                body = bytes([1, ci + 1, 0x00, 0, 63, 0])
                out.extend(struct.pack(">BBH", 0xFF, 0xDA,
                                       len(body) + 2))
                out.extend(body)
                bw = jc._BitWriter()
                pred = 0
                hi, vi = factors[ci]
                cw = -(-(w_img * hi) // hmax)
                ch = -(-(h_img * vi) // vmax)
                for by in range(-(-ch // 8)):
                    for bx in range(-(-cw // 8)):
                        pred = jc._encode_block(
                            bw, blocks[ci][by, bx], pred,
                            dc_lut, ac_lut)
                bw.pad_to_byte()
                out.extend(bw.buf)
            out.extend(b"\xff\xd9")
            base = jc.decode_jpeg(jc.encode_jpeg(img, subsample=sub))
            assert np.array_equal(base, jc.decode_jpeg(bytes(out))), sub

    def test_rejects_unsupported_profiles(self):
        import struct

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg)

        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNG not a jpeg")
        # progressive (SOF2) is DECODED since r10, lossless (SOF3)
        # since r11, arithmetic (SOF9/SOF10) since r12, hierarchical
        # (DHP/EXP/SOF5/6/7/13/14/15) and arithmetic lossless (SOF11)
        # since r13 — covered by their own test classes. EVERY
        # differential frame type WITHOUT the DHP a hierarchical
        # stream must open with is malformed (ValueError).
        sof5 = (b"\xff\xd8" + b"\xff\xc5"
                + struct.pack(">H", 11)
                + bytes([8]) + struct.pack(">HH", 8, 8)
                + bytes([1, 1, 0x11, 0]))
        for m in (b"\xc5", b"\xc6", b"\xc7", b"\xcd", b"\xce",
                  b"\xcf"):
            with pytest.raises(ValueError, match="DHP"):
                decode_jpeg(sof5.replace(b"\xc5", m))
        # subsampled lossless stays on the injected path too
        sof3_sub = (b"\xff\xd8" + b"\xff\xc3"
                    + struct.pack(">H", 11)
                    + bytes([8]) + struct.pack(">HH", 8, 8)
                    + bytes([1, 1, 0x21, 0]))
        with pytest.raises(NotImplementedError):
            decode_jpeg(sof3_sub)


class TestGifDecode:
    """GIF87a/89a decode (r10): a minimal stdlib GIF ENCODER — real
    variable-width LSB-first LZW with dictionary growth, width bumps
    and CLEAR emission — builds fixtures the decoder must invert
    exactly, across palette sizes, interlace, local color tables,
    sub-frame placement and transparency."""

    @staticmethod
    def _lzw_encode(min_code, indices):
        clear = 1 << min_code
        eoi = clear + 1
        out_bits = []  # (code, width)
        width = min_code + 1
        dict_ = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1

        def emit(code):
            out_bits.append((code, width))

        emit(clear)
        w = b""
        for c in indices:
            wc = w + bytes([c])
            if wc in dict_:
                w = wc
                continue
            emit(dict_[w])
            if next_code < 4096:
                dict_[wc] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) and width < 12:
                    width += 1
            else:
                emit(clear)
                dict_ = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                width = min_code + 1
            w = bytes([c])
        if w:
            emit(dict_[w])
        emit(eoi)
        # pack LSB-first
        acc = nbits = 0
        data = bytearray()
        for code, cw in out_bits:
            acc |= code << nbits
            nbits += cw
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            data.append(acc & 0xFF)
        return bytes(data)

    @classmethod
    def _gif_payload(cls, idx, palette, *, interlace=False, local=False,
                     transparent=None, left=0, top=0, screen=None,
                     bg=0):
        import struct

        import numpy as np

        ih, iw = idx.shape
        sw, sh = screen or (left + iw, top + ih)
        n = palette.shape[0]
        size_field = max(1, (n - 1).bit_length()) - 1
        table_n = 2 << size_field
        pal = np.zeros((table_n, 3), np.uint8)
        pal[:n] = palette
        min_code = max(2, size_field + 1)

        out = bytearray(b"GIF89a")
        packed = (0x80 | size_field) if not local else 0x00
        out += struct.pack("<HH", sw, sh) + bytes([packed, bg, 0])
        if not local:
            out += pal.tobytes()
        if transparent is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        out += b"\x21\xfe\x05hello\x00"  # comment ext: generic skip
        ipacked = (0x80 | size_field) if local else 0x00
        if interlace:
            ipacked |= 0x40
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, iw, ih) \
            + bytes([ipacked])
        if local:
            out += pal.tobytes()
        rows = idx
        if interlace:
            order = np.concatenate([np.arange(s, ih, st) for s, st in
                                    ((0, 8), (4, 8), (2, 4), (1, 2))])
            rows = idx[order]
        data = cls._lzw_encode(min_code, bytes(rows.reshape(-1)))
        out += bytes([min_code])
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00\x3b"
        return bytes(out)

    @classmethod
    def _animated_gif(cls, frames, palette, screen, bg=0):
        """frames: [(idx, left, top, transparent, disposal)] — one
        GCE + image descriptor per frame."""
        import struct

        import numpy as np

        sw, sh = screen
        n = palette.shape[0]
        size_field = max(1, (n - 1).bit_length()) - 1
        table_n = 2 << size_field
        pal = np.zeros((table_n, 3), np.uint8)
        pal[:n] = palette
        min_code = max(2, size_field + 1)
        out = bytearray(b"GIF89a")
        out += struct.pack("<HH", sw, sh) + bytes(
            [0x80 | size_field, bg, 0])
        out += pal.tobytes()
        for idx, left, top, transparent, disposal in frames:
            flags = (disposal << 2) | (1 if transparent is not None
                                       else 0)
            out += bytes([0x21, 0xF9, 4, flags, 0, 0,
                          transparent or 0, 0])
            ih, iw = idx.shape
            out += bytes([0x2C]) + struct.pack(
                "<HHHH", left, top, iw, ih) + bytes([0x00])
            data = cls._lzw_encode(min_code, bytes(idx.reshape(-1)))
            out += bytes([min_code])
            for i in range(0, len(data), 255):
                chunk = data[i:i + 255]
                out += bytes([len(chunk)]) + chunk
            out += b"\x00"
        out += b"\x3b"
        return bytes(out)

    def test_animated_gif_compositing(self):
        """The GIF89a rendering model: transparent pixels show the
        running canvas, disposal 2 restores the frame rect to
        background, disposal 3 restores the pre-frame canvas."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            gif_frames,
        )

        palette = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0],
                            [0, 0, 255]], np.uint8)
        base = np.full((4, 4), 1, np.uint8)        # red screen
        # frame 2: 2x2 green patch at (1,1), disposal 3 (restore prev)
        patch = np.full((2, 2), 2, np.uint8)
        # frame 3: 2x2 with transparent holes at (0,0), disposal 2
        holes = np.array([[3, 0], [0, 3]], np.uint8)
        gif = self._animated_gif(
            [(base, 0, 0, None, 1),
             (patch, 1, 1, None, 3),
             (holes, 0, 0, 0, 2)],
            palette, screen=(4, 4), bg=0)
        frames = gif_frames(gif)
        assert len(frames) == 3
        red, green, blue, black = (palette[i] for i in (1, 2, 3, 0))
        assert (frames[0] == red).all()
        # frame 2 = red canvas with the green patch
        assert (frames[1][1:3, 1:3] == green).all()
        assert (frames[1][0, :] == red).all()
        # frame 3: disposal 3 restored the full red canvas first, then
        # blue diagonal pixels; transparent holes show red through
        assert (frames[2][0, 0] == blue).all()
        assert (frames[2][1, 1] == blue).all()
        assert (frames[2][0, 1] == red).all()
        assert (frames[2][2:, 2:] == red).all()

    def test_animated_gif_through_sample_frames(self, spark):
        """GIF rides the frame-sampling tier as a real video format:
        every_n over composited frames, each re-emitted as decodable
        PPM — pixels, not chunks."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, sample_frames)

        palette = np.array([[9, 9, 9], [250, 1, 2], [3, 250, 4]],
                           np.uint8)
        f0 = np.full((3, 5), 1, np.uint8)
        f1 = np.full((3, 5), 2, np.uint8)
        f2 = np.full((3, 5), 0, np.uint8)
        gif = self._animated_gif(
            [(f, 0, 0, None, 1) for f in (f0, f1, f2)],
            palette, screen=(5, 3))
        rows = [(1, gif, {"kind": "video", "format": "gif",
                          "n_bytes": len(gif)})]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = sorted(sample_frames(media, every_n=2).collect(),
                     key=lambda r: r.frame_index)
        assert [r.frame_index for r in got] == [0, 2]
        assert all(r.n_frames_total == 3 for r in got)
        img0 = decode_netpbm(bytes(got[0].frame))
        assert (img0 == palette[1]).all()
        img2 = decode_netpbm(bytes(got[1].frame))
        assert (img2 == palette[0]).all()

    def test_encode_gif_roundtrip_and_compositing(self):
        """The production encode_gif (the write half behind the
        media_decode_profile_gif checked query) round-trips through
        decode_gif across palette sizes, exercises LZW width growth +
        sub-block splitting on a long raster, and composites a
        partial frame onto the bg-filled logical screen exactly."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif, encode_gif)

        rng = np.random.default_rng(5)
        for n in (2, 4, 16, 200):
            pal = rng.integers(0, 256, (n, 3), np.uint8)
            idx = rng.integers(0, n, (9, 13), np.uint8)
            assert np.array_equal(decode_gif(encode_gif(idx, pal)),
                                  pal[idx]), n
        pal16 = np.array([[i * 16 + 8] * 3 for i in range(16)], np.uint8)
        idx = rng.integers(0, 16, (4, 8), np.uint8)
        dec = decode_gif(encode_gif(idx, pal16, bg=3, screen=(8, 8),
                                    top=2))
        assert dec.shape == (8, 8, 3)
        assert np.array_equal(dec[2:6], pal16[idx])
        assert (dec[:2] == pal16[3]).all() and (dec[6:] == pal16[3]).all()
        big = rng.integers(0, 16, (64, 64), np.uint8)  # >255-byte LZW
        assert np.array_equal(decode_gif(encode_gif(big, pal16)),
                              pal16[big])

    def test_gif_roundtrip_palette_sizes(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif,
        )

        rng = np.random.default_rng(31)
        for n in (2, 4, 16, 200):
            palette = rng.integers(0, 256, (n, 3), np.uint8)
            idx = rng.integers(0, n, (13, 11), np.uint8)
            dec = decode_gif(self._gif_payload(idx, palette))
            assert np.array_equal(dec, palette[idx]), n

    def test_gif_interlace_local_table_and_transparency(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif,
        )

        rng = np.random.default_rng(37)
        palette = rng.integers(0, 256, (8, 3), np.uint8)
        idx = rng.integers(0, 8, (17, 9), np.uint8)
        dec = decode_gif(self._gif_payload(idx, palette, interlace=True))
        assert np.array_equal(dec, palette[idx])
        dec = decode_gif(self._gif_payload(idx, palette, local=True))
        assert np.array_equal(dec, palette[idx])
        dec = decode_gif(self._gif_payload(idx, palette, transparent=3))
        assert dec.shape == (17, 9, 4)
        assert np.array_equal(dec[:, :, :3], palette[idx])
        assert np.array_equal(dec[:, :, 3] == 0, idx == 3)

    def test_gif_subframe_composites_onto_screen(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif,
        )

        palette = np.array([[10, 20, 30], [200, 100, 50]], np.uint8)
        idx = np.ones((2, 3), np.uint8)
        dec = decode_gif(self._gif_payload(
            idx, palette, left=2, top=1, screen=(6, 4), bg=0))
        assert dec.shape == (4, 6, 3)
        assert np.array_equal(dec[1:3, 2:5], palette[np.ones((2, 3),
                                                             np.uint8)])
        assert (dec[0] == palette[0]).all()  # background fill

    def test_gif_lzw_dictionary_pressure(self):
        """Enough distinct patterns to grow the code width several
        times — the variable-width sync between encoder and decoder
        is exactly where LZW implementations break."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif,
        )

        rng = np.random.default_rng(41)
        palette = rng.integers(0, 256, (4, 3), np.uint8)
        idx = rng.integers(0, 4, (64, 64), np.uint8)
        dec = decode_gif(self._gif_payload(idx, palette))
        assert np.array_equal(dec, palette[idx])

    def test_gif_through_media_tier(self, spark):
        """A GIF and a PPM of the SAME pixels produce identical
        features end to end, and the GIF flows through media_quality
        and resize without an injected decoder."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features, media_quality, resize_media)

        rng = np.random.default_rng(43)
        palette = rng.integers(0, 256, (16, 3), np.uint8)
        idx = rng.integers(0, 16, (8, 8), np.uint8)
        img = palette[idx]
        gif = self._gif_payload(idx, palette)
        ppm = b"P6\n8 8\n255\n" + img.tobytes()
        rows = [
            (1, gif, {"kind": "image", "format": "gif",
                      "n_bytes": len(gif)}),
            (2, ppm, {"kind": "image", "format": "ppm",
                      "n_bytes": len(ppm)}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in extract_features(media).collect()}
        assert list(got[1].feature) == list(got[2].feature)
        q = {r.media_id: r for r in media_quality(media).collect()}
        assert q[1].px_sum == q[2].px_sum
        rz = resize_media(media, 4, 4).collect()
        assert all(r.meta["format"] in ("ppm", "pgm") for r in rz)


class TestMalformedPayloadContract:
    """Every decoder/demuxer surfaces truncated or corrupt payloads as
    ValueError — the exception dead-letter routing keys on — never a
    bare IndexError/struct.error/zlib.error from the byte arithmetic.
    Each format's valid fixture is truncated at several points and at
    several corruption offsets."""

    def test_fuzz_confirmed_escapes_are_value_errors(self):
        """r10 review, fuzz-confirmed contract escapes, each pinned:
        JPEG SOF referencing an undeclared DQT id (was KeyError), a
        zero sampling factor (was ZeroDivisionError), a truncated WAV
        chunk body (stdlib chunk raises bare RuntimeError), and the
        corrupt-MP4 run-count hang (0xFFFFFFF0 ctts/stts counts and a
        huge trun sample count must fail or clamp FAST, not spin for
        minutes)."""
        import io
        import struct
        import time
        import wave

        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4
        from flight_data_pipeline_spark.operators.multimodal import (
            decode_wav)

        img = np.zeros((8, 8), np.uint8)
        jpg = bytearray(encode_jpeg(img))
        k = jpg.index(0xC0, 2)  # SOF0 marker byte (after FF)
        # SOF body: len(2) prec(1) h(2) w(2) ncomp(1) then cid,hv,tq
        bad_tq = bytes(jpg[:k + 11]) + b"\x07" + bytes(jpg[k + 12:])
        with pytest.raises(ValueError):
            decode_jpeg(bad_tq)
        zero_hv = bytes(jpg[:k + 10]) + b"\x00" + bytes(jpg[k + 11:])
        with pytest.raises(ValueError):
            decode_jpeg(zero_hv)

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(struct.pack("<100h", *range(100)))
        wav = buf.getvalue()
        # a cut inside the header chunks raises (stdlib chunk module's
        # bare RuntimeError path among others — all must map to
        # ValueError); cuts inside the data chunk legitimately decode
        # short, so sweep the header region
        for cut in range(4, 44):
            with pytest.raises(ValueError):
                decode_wav(wav[:cut])

        # huge ctts run count: clamped, still decodes, and FAST
        payload = bytearray(TestMp4Demux._mp4_payload(
            ctts_runs=[(0xFFFFFFF0, 40)]))
        t0 = time.time()
        got = demux_mp4(bytes(payload))
        assert time.time() - t0 < 2.0
        assert [s.pts_ms - s.dts_ms for s in got] == [40] * 5
        # huge stts run count: clamped to the stsz sample count
        p2 = bytearray(TestMp4Demux._mp4_payload())
        ks = p2.find(b"stts")
        struct.pack_into(">I", p2, ks + 8, 0xFFFFFFF0)  # first run cnt
        t0 = time.time()
        got = demux_mp4(bytes(p2))
        assert time.time() - t0 < 2.0
        assert len(got) == 5
        # huge trun sample count in an fMP4: ValueError, not a hang
        f = bytearray(TestFmp4Demux._fmp4_payload())
        kt = f.find(b"trun")
        t0 = time.time()
        with pytest.raises(ValueError):
            struct.pack_into(">I", f, kt + 8, 0x7FFFFFF0)
            demux_mp4(bytes(f))
        assert time.time() - t0 < 2.0

    def test_gif_background_uses_global_table(self):
        """r10 review: the bg index refers to the GLOBAL color table;
        a frame with a LOCAL table must not remap the background."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_gif, gif_frames)

        gct = np.array([[1, 2, 3], [0, 0, 255]], np.uint8)  # bg=1 blue
        local = np.array([[255, 0, 0], [0, 255, 0]], np.uint8)
        idx = np.zeros((2, 2), np.uint8)  # local red frame at (0,0)
        # build: GCT present, frame carries its own local table
        gif = TestGifDecode._gif_payload(
            idx, local, local=True, left=0, top=0, screen=(4, 4), bg=1)
        # _gif_payload with local=True omits the GCT; splice one in
        import struct
        g = bytearray(gif)
        g[10] |= 0x80 | 0x00  # GCT flag, size field 0 → 2 entries
        g[11] = 1             # bg index 1
        g[13:13] = gct.tobytes()
        out = decode_gif(bytes(g))
        assert (out[0, 0] == local[0]).all()       # frame pixel: local
        assert (out[3, 3] == gct[1]).all()         # background: GCT
        frames = gif_frames(bytes(g))
        assert (frames[0][3, 3] == gct[1]).all()

    def test_truncations_raise_value_error(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4
        from flight_data_pipeline_spark.operators.multimodal import (
            decode_bmp, decode_gif, decode_netpbm, decode_png, decode_wav)

        rng = np.random.default_rng(47)
        img = rng.integers(0, 256, (8, 8, 3), np.uint8)
        idx = rng.integers(0, 4, (8, 8), np.uint8)
        plte = rng.integers(0, 256, (4, 3), np.uint8)
        fixtures = [
            (decode_netpbm, b"P6\n8 8\n255\n" + img.tobytes()),
            (decode_bmp, TestMultimodal._bmp_payload()[0]),
            (decode_wav, TestMultimodal._wav_payload()[0]),
            (decode_png, TestMultimodal._png_payload(img, 2)),
            (decode_gif, TestGifDecode._gif_payload(idx, plte)),
            (decode_jpeg, encode_jpeg(img)),
            (decode_jpeg, encode_jpeg(
                (img.astype(np.int64) * 16), precision=12)),
            (demux_mp4, TestMp4Demux._mp4_payload()),
            (demux_mp4, TestFmp4Demux._fmp4_payload()),
        ]
        for fn, payload in fixtures:
            fn(payload)  # the un-truncated fixture must decode
            for cut in (9, len(payload) // 3, len(payload) - 3):
                try:
                    fn(payload[:cut])
                except (ValueError, NotImplementedError):
                    pass  # the contract
                # silent short output is acceptable for formats whose
                # containers carry no total length (no exception path
                # to test), but any raised error must be contract-typed


class Test12BitJpeg:
    """12-bit extended-sequential JPEG (SOF1, T.81 §B.2 — VERDICT r10
    item 8): the precision generalization of the baseline path —
    wider level shift (2048), extended DC/AC Huffman category tables,
    uint16 output. Scanned-document and medical corpora hit it."""

    def test_roundtrip_gray_color_extremes(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        rng = np.random.default_rng(13)
        # block-constant gray: DCT exact at quant 1 → bit-exact
        img = np.repeat(np.repeat(
            rng.integers(0, 256, (2, 2, 1), np.int64) * 16 + 8,
            8, axis=0), 8, axis=1)
        dec = decode_jpeg(encode_jpeg(img, precision=12))
        assert dec.dtype == np.uint16
        assert np.array_equal(dec, img)
        # full-range noise: worst-case Huffman categories, ±1 rounding
        noise = rng.integers(0, 4096, (24, 17, 1), np.int64)
        dn = decode_jpeg(encode_jpeg(noise, precision=12))
        assert np.abs(dn.astype(int) - noise).max() <= 1
        # color (YCbCr at 2048 offsets) incl. 4:2:0
        col = rng.integers(0, 4096, (16, 16, 3), np.int64)
        dc = decode_jpeg(encode_jpeg(col, precision=12))
        assert dc.dtype == np.uint16
        assert np.abs(dc.astype(int) - col).max() <= 8
        decode_jpeg(encode_jpeg(col, precision=12, subsample="420"))
        # the DC-category-15 boundary: solid 0 and solid 4095 frames
        for v in (0, 4095):
            e = np.full((8, 8, 1), v, np.int64)
            assert np.array_equal(
                decode_jpeg(encode_jpeg(e, precision=12)), e), v

    def test_range_guard_and_truncation_contract(self):
        import numpy as np
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        with _pytest.raises(ValueError):
            encode_jpeg(np.full((8, 8), 4096, np.int64), precision=12)
        with _pytest.raises(ValueError):
            encode_jpeg(np.full((8, 8), 300, np.int64))  # 8-bit range
        with _pytest.raises(ValueError):
            encode_jpeg(np.zeros((8, 8), np.int64), precision=10)
        rng = np.random.default_rng(21)
        payload = encode_jpeg(
            rng.integers(0, 4096, (16, 16, 1), np.int64), precision=12)
        for cut in range(8, len(payload) - 1,
                         max(1, len(payload) // 40)):
            try:
                decode_jpeg(payload[:cut])
            except (ValueError, NotImplementedError):
                pass  # the dead-letter contract
            # a silent short decode would be a contract break only if
            # it raised a non-contract type — asserted by except above

    def test_deep_samples_survive_resize_and_frame_reemission(self):
        """r11 review: uint16 pixels used to be corrupted by both
        netpbm re-emission paths (maxval-255 header over 2-byte
        samples; box resample wrapping mod 256). Deep frames now ride
        16-bit netpbm (maxval 65535, big-endian) losslessly."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            _pixels_to_netpbm, decode_netpbm, real_resize)

        rng = np.random.default_rng(29)
        img = rng.integers(0, 4096, (16, 16, 1), np.uint16)
        # frame re-emission round-trips uint16 exactly
        back = decode_netpbm(_pixels_to_netpbm(img))
        assert back.dtype == np.uint16
        assert np.array_equal(back, img)
        # resize of a 12-bit JPEG: decodable output, values in range
        payload = encode_jpeg(img.astype(np.int64), precision=12)
        out = decode_netpbm(real_resize(payload, "jpeg", 8, 8))
        assert out.shape == (8, 8, 1) and out.dtype == np.uint16
        assert int(out.max()) < 4096  # no mod-256 wrap
        # non-divisible (nearest) path: consistent geometry too
        out7 = decode_netpbm(real_resize(payload, "jpeg", 7, 7))
        assert out7.shape == (7, 7, 1)

    def test_16bin_feature_covers_full_12bit_range(self, spark):
        """A 12-bit JPEG flows through the default extract_features
        path with the histogram binned over [0, 4096) — bright
        deep-sample pixels don't collapse into the last 8-bit bin."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features)

        # 16 solid blocks, one per 256-wide bin of the 12-bit range
        vals = np.repeat(np.arange(16, dtype=np.int64) * 256 + 128, 16)
        img = vals.reshape(16, 16, 1)
        payload = encode_jpeg(img, precision=12)
        media = spark.createDataFrame(
            [(1, payload, {"kind": "image", "format": "jpeg",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        feat = list(extract_features(media).collect()[0].feature)
        assert all(abs(f - 1 / 16) < 1e-3 for f in feat)


class TestLosslessJpeg:
    """Lossless JPEG (SOF3, T.81 Annex H): Huffman-coded prediction
    differences, no DCT — decode must return the input BIT-EXACTLY,
    the strongest oracle a codec can have. The DNG/DICOM/scanned-
    archive shape; closes another r10 'what's missing' seam (only
    arithmetic coding and hierarchical processes remain)."""

    def test_all_predictors_bit_exact(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (13, 11, 1), np.int64)
        for pred in range(1, 8):
            dec = decode_jpeg(encode_jpeg_lossless(img, predictor=pred))
            assert dec.dtype == np.uint8
            assert np.array_equal(dec, img), pred

    def test_depths_color_pt_restarts_and_cat16(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(19)
        # 16-bit color noise (worst-case categories)
        img16 = rng.integers(0, 65536, (9, 7, 3), np.int64)
        dec16 = decode_jpeg(encode_jpeg_lossless(img16))
        assert dec16.dtype == np.uint16
        assert np.array_equal(dec16, img16)
        # explicit 12-bit precision
        img12 = rng.integers(0, 4096, (8, 8, 1), np.int64)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_lossless(img12, precision=12)),
            img12)
        # point transform: low bits dropped in coding, restored as 0
        imgp = rng.integers(0, 256, (6, 6, 1), np.int64)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_lossless(imgp, pt=2)),
            (imgp >> 2) << 2)
        # restart markers reset prediction to the default
        img = rng.integers(0, 256, (13, 11, 1), np.int64)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_lossless(img, predictor=5,
                                             restart_interval=7)), img)
        # the ±32768 modulo wrap rides difference category 16
        wrap = np.array([[0, 32768], [65535, 16384]], np.int64)[:, :, None]
        assert np.array_equal(
            decode_jpeg(encode_jpeg_lossless(wrap, predictor=1)), wrap)

    def test_property_roundtrip_and_guards(self):
        import numpy as np
        import pytest as _pytest
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        @settings(max_examples=20, deadline=None)
        @given(st.data())
        def check(data):
            rng = np.random.default_rng(data.draw(st.integers(0, 99)))
            h = data.draw(st.integers(1, 12))
            w = data.draw(st.integers(1, 12))
            ch = data.draw(st.sampled_from([1, 3]))
            prec = data.draw(st.sampled_from([8, 10, 12, 16]))
            img = rng.integers(0, 1 << prec, (h, w, ch), np.int64)
            pred = data.draw(st.integers(1, 7))
            ri = data.draw(st.sampled_from([0, 3, 8]))
            dec = decode_jpeg(encode_jpeg_lossless(
                img, predictor=pred, precision=prec,
                restart_interval=ri))
            assert np.array_equal(dec, img)

        check()
        with _pytest.raises(ValueError):
            encode_jpeg_lossless(np.zeros((4, 4), np.int64), predictor=0)
        with _pytest.raises(ValueError):
            encode_jpeg_lossless(np.full((4, 4), 300, np.int64),
                                 precision=8)
        with _pytest.raises(ValueError):
            encode_jpeg_lossless(np.zeros((4, 4), np.int64), pt=8)
        # truncation sweep keeps the dead-letter contract
        rng = np.random.default_rng(23)
        payload = encode_jpeg_lossless(
            rng.integers(0, 65536, (8, 8, 1), np.int64))
        for cut in range(8, len(payload) - 1,
                         max(1, len(payload) // 30)):
            try:
                decode_jpeg(payload[:cut])
            except (ValueError, NotImplementedError):
                pass

    def test_corrupt_dimensions_dead_letter_fast(self):
        """r11 review: SOF dimensions are corruption-controlled — a
        tiny payload declaring 65535x65535 must ValueError in O(1)
        (samples-vs-bits bound), not allocate 34 GB or spin through
        4 billion zero-bit samples. Same class as the mp4 stsz/trun
        clamps."""
        import struct
        import time

        import numpy as np
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            _DC_COUNTS_LL, _DC_SYMBOLS_LL, decode_jpeg, encode_jpeg)

        def seg(m, body):
            return struct.pack(">BBH", 0xFF, m, len(body) + 2) + body

        p = bytearray(b"\xff\xd8")
        p += seg(0xC3, struct.pack(">BHHB", 8, 65535, 65535, 1)
                 + bytes([1, 0x11, 0]))
        p += seg(0xC4, bytes([0x00]) + bytes(_DC_COUNTS_LL)
                 + _DC_SYMBOLS_LL)
        p += seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0]))
        p += b"\x55\xff\xd9"
        t0 = time.time()
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(p))
        assert time.time() - t0 < 1.0
        # sequential twin: inflate a valid baseline SOF's dims. The
        # r13 frame-admission check proves the corruption upfront —
        # 67M declared blocks against ~3 entropy bytes exceeds even
        # the loosest (arithmetic format floor) budget — so this
        # stays ValueError; only format-PLAUSIBLE giant frames route
        # to the injected-decoder seam (NotImplementedError)
        big = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
        i = bytes(big).find(b"\xff\xc0")
        struct.pack_into(">HH", big, i + 5, 65528, 65528)
        t0 = time.time()
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(big))
        assert time.time() - t0 < 2.0


class TestArithmeticJpeg:
    """Arithmetic-coded sequential JPEG (SOF9 + DAC, T.81 Annex D
    QM-coder + §F.1.4/F.2.4 conditioning — VERDICT r11 item 5): the
    scanned-document entropy profile. Pinned the SOF1/SOF3 way:
    decode parity against encoder round-trips across every supported
    shape (no arithmetic sample files or external codecs exist in
    this container, so the encoder is the write half; parity means
    pixel-identical to the HUFFMAN encoding of the same image, which
    shares the whole DCT/quant pipeline and differs only in the
    entropy layer under test)."""

    @staticmethod
    def _parity(img, **kw):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        a = encode_jpeg(img, arithmetic=True, **kw)
        h = encode_jpeg(img, **kw)
        da, dh = decode_jpeg(a), decode_jpeg(h)
        assert np.array_equal(da, dh), kw
        return a, h

    def test_parity_and_compression_across_shapes(self):
        import numpy as np

        rng = np.random.default_rng(11)
        # block-constant gray: DCT exact at quant 1 -> bit-exact
        img = np.repeat(np.repeat(
            rng.integers(0, 32, (2, 2, 1), np.uint8) * 8 + 4,
            8, axis=0), 8, axis=1)
        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(img, arithmetic=True)), img)
        # full-range noise, every subsampling mode, odd geometry
        sizes = 0
        for shape, sub in (((24, 24, 3), False), ((17, 23, 3), "420"),
                           ((16, 16, 3), "422"), ((9, 13, 1), False)):
            a, h = self._parity(
                rng.integers(0, 256, shape, np.uint8), subsample=sub)
            sizes += len(a) - len(h)
        # the QM-coder should beat fixed Huffman tables overall
        assert sizes < 0

    def test_restart_intervals_reset_coder_and_stats(self):
        import numpy as np

        rng = np.random.default_rng(5)
        im = rng.integers(0, 256, (32, 32, 3), np.uint8)
        for ri in (1, 2, 5):
            self._parity(im, restart_interval=ri)

    def test_12bit_precision(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        rng = np.random.default_rng(13)
        blocky = np.repeat(np.repeat(
            rng.integers(0, 256, (2, 2), np.int64) * 16 + 8,
            8, axis=0), 8, axis=1)
        dec = decode_jpeg(encode_jpeg(blocky, precision=12,
                                      arithmetic=True))
        assert dec.dtype == np.uint16
        assert np.array_equal(dec[:, :, 0], blocky)
        self._parity(rng.integers(0, 4096, (16, 16, 3), np.int64),
                     precision=12)

    def test_property_roundtrip(self):
        """Randomized sweep (the FLAC pattern): any image, any mode
        combination — arithmetic decode matches Huffman decode."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=10, deadline=None)
        @given(st.data())
        def check(data):
            rng = np.random.default_rng(data.draw(st.integers(0, 99)))
            h = data.draw(st.integers(1, 24))
            w = data.draw(st.integers(1, 24))
            c = data.draw(st.sampled_from([1, 3]))
            sub = (data.draw(st.sampled_from([False, True, "422"]))
                   if c == 3 else False)
            ri = data.draw(st.sampled_from([0, 0, 3]))
            self._parity(rng.integers(0, 256, (h, w, c), np.uint8),
                         subsample=sub, restart_interval=ri)

        check()

    def test_progressive_sof10_matches_baseline_decode(self):
        """Arithmetic-PROGRESSIVE (SOF10, T.81 G.2): the same scan
        scripts as the Huffman progressive encoder — interleaved DC
        first + per-level DC refinements (fixed bin), per-component
        AC first bands, AC refinements (correction bits, ±1<<Al
        insertions, kex-gated EOB decisions) — must decode to pixels
        IDENTICAL to the baseline encoding of the same image (same
        coefficients, different transmission order)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive)

        rng = np.random.default_rng(23)
        for shape, sub, al, bs in (((16, 16, 1), False, 1, 5),
                                   ((24, 24, 3), False, 2, 5),
                                   ((17, 23, 3), "420", 1, 9),
                                   ((16, 16, 3), "422", 3, 1),
                                   ((9, 13, 1), False, 0, 20)):
            im = rng.integers(0, 256, shape, np.uint8)
            pa = encode_jpeg_progressive(im, subsample=sub, al=al,
                                         band_split=bs,
                                         arithmetic=True)
            base = decode_jpeg(encode_jpeg(im, subsample=sub))
            assert np.array_equal(decode_jpeg(pa), base), (shape, al)
            # and it should out-compress the Huffman progressive form
            ph = encode_jpeg_progressive(im, subsample=sub, al=al,
                                         band_split=bs)
            assert len(pa) < len(ph), (shape, al)

    def test_dac_between_scans_only_affects_later_scans(self):
        """r12 review: T.81 B.2.4.3 allows DAC wherever DHT is
        allowed, and a redefinition must only affect LATER scans —
        conditioning is snapshotted at SOS time like the Huffman
        LUTs. Inserting a DAC before the LAST scan of a progressive
        stream (an AC refinement, which ignores DC conditioning)
        must leave the decode bit-identical."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_progressive)

        rng = np.random.default_rng(3)
        im = rng.integers(0, 256, (24, 24, 3), np.uint8)
        p = encode_jpeg_progressive(im, al=2, arithmetic=True)
        base = decode_jpeg(p)
        i = p.rfind(b"\xff\xda")
        # DAC: DC table 0 conditioning L=0, U=15 (value 0xF0)
        patched = p[:i] + b"\xff\xcc\x00\x04\x00\xf0" + p[i:]
        assert np.array_equal(decode_jpeg(patched), base)

    def test_media_path_and_dead_letter_contract(self, spark):
        """An arithmetic JPEG flows through the default media tier
        unchanged (format 'jpeg' -> real_decode -> decode_jpeg), and
        malformed payloads keep the dead-letter contract: truncation
        anywhere, corrupt DAC conditioning, corruption-inflated SOF
        dimensions (injected-decoder routing since r13), and a
        SOF9→SOF10 relabel whose sequential scan shape is malformed
        under Annex G."""
        import numpy as np
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features)

        rng = np.random.default_rng(17)
        vals = np.repeat(np.arange(16, dtype=np.uint8) * 16 + 8, 16)
        img = vals.reshape(16, 16, 1)
        payload = encode_jpeg(img, arithmetic=True)
        media = spark.createDataFrame(
            [(1, payload, {"kind": "image", "format": "jpeg",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        feat = list(extract_features(media).collect()[0].feature)
        assert all(abs(f - 1 / 16) < 1e-3 for f in feat)

        noisy = encode_jpeg(rng.integers(0, 256, (16, 16, 1), np.uint8),
                            arithmetic=True)
        for cut in range(8, len(noisy) - 1, max(1, len(noisy) // 30)):
            try:
                decode_jpeg(noisy[:cut])
            except (ValueError, NotImplementedError):
                pass  # the dead-letter contract
        # corrupt DAC: Kx = 0 out of range; DC L > U. The DAC body is
        # the 4 bytes after the FFCC marker + length: 00 10 10 05.
        dac = noisy.find(b"\xff\xcc") + 4
        bad_kx = bytearray(noisy)
        bad_kx[dac + 3] = 0x00
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(bad_kx))
        bad_lu = bytearray(noisy)
        bad_lu[dac + 1] = 0x02          # L=2, U=0
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(bad_lu))
        # SOF9 -> SOF10 with a sequential scan body (Ss=0, Se=63):
        # an illegal progressive DC scan shape -> dead-letter
        with _pytest.raises(ValueError):
            decode_jpeg(noisy.replace(b"\xff\xc9", b"\xff\xca"))
        # corruption-inflated dimensions dead-letter, never OOM/spin
        i = noisy.find(b"\xff\xc9")
        bomb = bytearray(noisy)
        bomb[i + 5:i + 9] = b"\xff\xff\xff\xff"
        # r13 refinement: a giant DECLARED frame routes to the
        # injected-decoder seam (it is format-legal and O(1)-
        # indistinguishable from a legal flat arithmetic image);
        # still rejected before any allocation or spin
        with _pytest.raises(NotImplementedError):
            decode_jpeg(bytes(bomb))


class TestCmykJpeg:
    """Four-component Adobe CMYK/YCCK JPEG (r12): the print/scanned-
    document color shape — APP14 transform tag, inverted-ink storage
    convention, naive separation inverse to RGB so the media tier
    stays uniform at (h, w, 3). The write half is
    encode_jpeg(adobe_transform=0|2) on inverted-CMYK samples."""

    def test_cmyk_and_ycck_decode_to_predicted_rgb(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        rng = np.random.default_rng(31)
        blocks_i = rng.integers(0, 32, (2, 2, 4), np.uint8) * 8 + 4
        img4 = np.repeat(np.repeat(blocks_i, 8, 0), 8, 1)
        pred = np.clip(np.round(
            img4[:, :, :3].astype(float) * img4[:, :, 3:4] / 255),
            0, 255).astype(np.uint8)
        # transform 0 (direct CMYK): block-constant -> formula-exact,
        # through BOTH entropy layers
        for arith in (False, True):
            dec = decode_jpeg(encode_jpeg(img4, adobe_transform=0,
                                          arithmetic=arith))
            assert dec.shape == (16, 16, 3)
            assert np.array_equal(dec, pred), arith
        # transform 2 (YCCK): YCbCr rounding is +-1 pre-multiply
        dec = decode_jpeg(encode_jpeg(img4, adobe_transform=2))
        assert np.abs(dec.astype(float) - pred.astype(float)).max() <= 2
        # arith/huffman parity on full-range noise
        n4 = rng.integers(0, 256, (24, 16, 4), np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(n4, adobe_transform=2,
                                    arithmetic=True)),
            decode_jpeg(encode_jpeg(n4, adobe_transform=2)))

    def test_progressive_cmyk_both_entropy_layers(self):
        """Progressive CMYK (SOF2 and SOF10): the 4-component scan
        scripts decode to the same RGB as the sequential encoding —
        coefficients identical, transmission order different."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive)

        rng = np.random.default_rng(41)
        n4 = rng.integers(0, 256, (17, 21, 4), np.uint8)
        base = decode_jpeg(encode_jpeg(n4, adobe_transform=2))
        for arith in (False, True):
            p = encode_jpeg_progressive(n4, al=2, adobe_transform=2,
                                        arithmetic=arith)
            assert np.array_equal(decode_jpeg(p), base), arith

    def test_plain_cmyk_without_app14_is_not_inverted(self):
        """r12 review: only Adobe-written CMYK (APP14 present) stores
        inverted ink; a plain 4-component JPEG without the tag stores
        ink directly, so white (C=M=Y=K=0) must decode WHITE, not
        black — the libjpeg-family rule."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        rng = np.random.default_rng(11)
        blocks_i = rng.integers(0, 32, (2, 2, 4), np.uint8) * 8 + 4
        img4 = np.repeat(np.repeat(blocks_i, 8, 0), 8, 1)
        tagged = encode_jpeg(img4, adobe_transform=0)
        # strip the 16-byte APP14 segment -> same samples, now to be
        # read as direct (non-inverted) ink values
        i = tagged.find(b"\xff\xee")
        plain = tagged[:i] + tagged[i + 16:]
        pred = np.clip(np.round(
            (255.0 - img4[:, :, :3]) * (255.0 - img4[:, :, 3:4]) / 255),
            0, 255).astype(np.uint8)
        assert np.array_equal(decode_jpeg(plain), pred)
        # solid white ink-free block: K=C=M=Y=0 -> pure white
        white = encode_jpeg(np.zeros((8, 8, 4), np.uint8),
                            adobe_transform=0)
        i = white.find(b"\xff\xee")
        assert int(decode_jpeg(white[:i] + white[i + 16:]).min()) == 255

    def test_adobe_rgb_transform0_and_guards(self):
        import numpy as np
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        rng = np.random.default_rng(7)
        # 3-component transform 0: RGB stored directly, block-constant
        # round-trips bit-exact (no YCbCr rounding at all)
        img3 = np.repeat(np.repeat(
            rng.integers(0, 32, (2, 2, 3), np.uint8) * 8 + 4, 8, 0), 8, 1)
        p = encode_jpeg(img3, adobe_transform=0)
        assert np.array_equal(decode_jpeg(p), img3)
        # write-half guards
        img4 = rng.integers(0, 256, (8, 8, 4), np.uint8)
        with _pytest.raises(ValueError):
            encode_jpeg(img4)                       # no transform given
        with _pytest.raises(ValueError):
            encode_jpeg(img4, adobe_transform=0, subsample="420")
        # 4-component flows through the default media featurize path
        # (decodes to RGB like any other image)
        from flight_data_pipeline_spark.operators.multimodal import (
            real_decode)
        feat = real_decode(encode_jpeg(img4, adobe_transform=0), "jpeg")
        assert len(feat) == 16 and abs(float(sum(feat)) - 1.0) < 1e-6


class TestJpegProgressive:
    """Progressive JPEG (SOF2, T.81 Annex G — r10): the progressive
    ENCODER's scan script exercises every decode path (interleaved DC
    first + per-bit DC refinement, spectral-selection AC first scans
    with EOB runs and ZRL, AC refinement with ±1 insertions,
    correction bits, and EOB-run tails), and because successive
    approximation is lossless once all bits are sent, progressive
    decode must be BIT-IDENTICAL to baseline decode of the same image
    — the strongest possible oracle, pinned across shapes, sampling
    modes, quant tables, and Al depths."""

    def test_progressive_matches_baseline_exactly(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            QUANT_ONES, QUANT_STD_LUM, decode_jpeg, encode_jpeg,
            encode_jpeg_progressive)

        rng = np.random.default_rng(42)
        cases = [
            (rng.integers(0, 256, (16, 16), np.uint8), {}),
            (rng.integers(0, 256, (24, 17, 3), np.uint8), {}),
            (rng.integers(0, 256, (19, 21, 3), np.uint8),
             {"subsample": True}),
            (rng.integers(0, 256, (16, 16, 3), np.uint8),
             {"subsample": "422"}),
        ]
        for img, kw in cases:
            for q in (QUANT_ONES, QUANT_STD_LUM):
                for al in (0, 1, 2):
                    base = decode_jpeg(encode_jpeg(img, quant=q, **kw))
                    prog = decode_jpeg(encode_jpeg_progressive(
                        img, quant=q, al=al, **kw))
                    assert np.array_equal(base, prog), (
                        img.shape, kw, al)

    def test_eob_runs_across_blocks(self):
        """A mostly-flat image makes every high-band block an EOB-run
        member (eobrun spanning many blocks, with the one non-flat
        block forcing run breaks) — the EOB-run accounting paths in
        both first and refinement scans."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive)

        img = np.full((40, 40), 128, np.uint8)
        img[17:23, 17:23] = 255  # one busy block mid-run
        base = decode_jpeg(encode_jpeg(img))
        for al in (0, 2):
            prog = decode_jpeg(encode_jpeg_progressive(img, al=al))
            assert np.array_equal(base, prog), al

    def test_non_interleaved_dc_scans(self):
        """Some encoders emit per-component (non-interleaved) DC
        scans instead of one interleaved scan — legal, and the one
        traversal shape encode_jpeg_progressive never produces: DC
        block order must then follow the component's CODED grid
        (smaller than the MCU-padded store for subsampled chroma).
        Hand-assemble such a stream and pin baseline parity."""
        import struct

        import numpy as np

        from flight_data_pipeline_spark.operators import jpeg_codec as jc

        img = np.random.default_rng(5).integers(
            0, 256, (19, 21, 3), np.uint8)
        h_img, w_img, factors, blocks = jc._prep_blocks(
            img, jc.QUANT_ONES, True)  # 4:2:0
        hmax = max(f[0] for f in factors)
        vmax = max(f[1] for f in factors)
        dc_lut = jc._build_encode_lut(jc._DC_COUNTS, jc._DC_SYMBOLS)
        ac_lut = jc._build_encode_lut(jc._AC_COUNTS, jc._AC_SYMBOLS)
        out = bytearray(b"\xff\xd8")
        jc._emit_headers(out, 0xC2, h_img, w_img, factors,
                         jc.QUANT_ONES)

        def sos(ci, ss, se):
            body = bytes([1, ci + 1, 0x00, ss, se, 0])
            out.extend(struct.pack(">BBH", 0xFF, 0xDA, len(body) + 2))
            out.extend(body)

        def comp_blocks(ci):
            hi, vi = factors[ci]
            cw = -(-(w_img * hi) // hmax)
            ch = -(-(h_img * vi) // vmax)
            for by in range(-(-ch // 8)):
                for bx in range(-(-cw // 8)):
                    yield blocks[ci][by, bx]

        for ci in range(3):  # non-interleaved DC first, Al=0
            sos(ci, 0, 0)
            bw = jc._BitWriter()
            pred = 0
            for blk in comp_blocks(ci):
                dc = int(blk[0])
                diff, pred = dc - pred, dc
                t = jc._category(diff)
                code, ln = dc_lut[t]
                bw.write(code, ln)
                if t:
                    bw.write(diff if diff >= 0
                             else diff + (1 << t) - 1, t)
            bw.pad_to_byte()
            out.extend(bw.buf)
        for ci in range(3):  # full-band AC first, Al=0
            sos(ci, 1, 63)
            bw = jc._BitWriter()
            eobrun = 0

            def emit_eobrun():
                nonlocal eobrun
                if eobrun:
                    nb = eobrun.bit_length() - 1
                    c, ln = ac_lut[nb << 4]
                    bw.write(c, ln)
                    if nb:
                        bw.write(eobrun - (1 << nb), nb)
                    eobrun = 0

            for blk in comp_blocks(ci):
                r = 0
                for k in range(1, 64):
                    v = int(blk[k])
                    if v == 0:
                        r += 1
                        continue
                    emit_eobrun()
                    while r > 15:
                        c, ln = ac_lut[0xF0]
                        bw.write(c, ln)
                        r -= 16
                    s = jc._category(v)
                    c, ln = ac_lut[(r << 4) | s]
                    bw.write(c, ln)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    r = 0
                if r > 0:
                    eobrun += 1
            emit_eobrun()
            bw.pad_to_byte()
            out.extend(bw.buf)
        out.extend(b"\xff\xd9")

        base = jc.decode_jpeg(jc.encode_jpeg(img, subsample=True))
        assert np.array_equal(base, jc.decode_jpeg(bytes(out)))

    def test_progressive_property_random_shapes(self):
        """Hypothesis sweep: ANY shape, color mode, subsampling, Al
        depth, band split and quant choice — progressive decode stays
        bit-identical to baseline decode of the same image."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            QUANT_ONES, QUANT_STD_LUM, decode_jpeg, encode_jpeg,
            encode_jpeg_progressive)

        @settings(max_examples=15, deadline=None)
        @given(st.data())
        def check(data):
            h = data.draw(st.integers(1, 33))
            w = data.draw(st.integers(1, 33))
            gray = data.draw(st.booleans())
            seed = data.draw(st.integers(0, 2**31))
            rng = np.random.default_rng(seed)
            shape = (h, w) if gray else (h, w, 3)
            img = rng.integers(0, 256, shape, np.uint8)
            sub = False if gray else data.draw(
                st.sampled_from([False, True, "422"]))
            al = data.draw(st.integers(0, 3))
            band_split = data.draw(st.integers(1, 62))
            q = data.draw(st.sampled_from([QUANT_ONES, QUANT_STD_LUM]))
            base = decode_jpeg(encode_jpeg(img, quant=q, subsample=sub))
            prog = decode_jpeg(encode_jpeg_progressive(
                img, quant=q, subsample=sub, al=al,
                band_split=band_split))
            assert np.array_equal(base, prog)

        check()

    def test_progressive_through_extract_features(self, spark):
        """A progressive and a baseline encoding of the SAME pixels
        produce the IDENTICAL feature through the default
        extract_features path — progressive corpora need no special
        casing."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg, encode_jpeg_progressive)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features)

        vals = np.repeat(np.arange(16, dtype=np.uint8) * 16 + 8, 16)
        img = np.stack([vals.reshape(16, 16)] * 3, axis=-1)
        rows = [
            (1, encode_jpeg(img), {"kind": "image", "format": "jpeg",
                                   "n_bytes": 0}),
            (2, encode_jpeg_progressive(img),
             {"kind": "image", "format": "jpeg", "n_bytes": 0}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in extract_features(media).collect()}
        assert list(got[1].feature) == list(got[2].feature)


class TestMp4Demux:
    """Container-level MP4 demux (operators/mp4_demux.py): a minimal
    stdlib MUXER builds a real box tree — two chunks with a junk gap
    between them, explicit sizes, two stts runs, a sync-sample subset
    — and the demuxer must recover every coded frame byte-exactly
    with its timestamp and keyframe flag. Same fixture philosophy as
    the PNG/JPEG encoders: no media libs in the container, so tests
    carry the write side."""

    FRAMES = [b"IFRAME-0" * 4, b"pframe1" * 3, b"pframe22" * 2,
              b"IFRAME-3" * 5, b"pframe4!" * 3]

    @classmethod
    def _mp4_payload(cls, with_stss=True, ctts_runs=None, ctts_ver=0,
                     frames=None, codec=b"avc1"):
        import struct

        def box(btype, body):
            return struct.pack(">I", len(body) + 8) + btype + body

        def full(btype, body, ver=0, flags=0):
            return box(btype, struct.pack(">I", (ver << 24) | flags) + body)

        f = cls.FRAMES if frames is None else list(frames)
        assert len(f) == 5  # the stts/stsc/stss geometry is 5-sample
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
        # chunk 1 = frames 0-1, 4 junk bytes, chunk 2 = frames 2-4
        mdat_body = f[0] + f[1] + b"JUNK" + f[2] + f[3] + f[4]
        c1 = len(ftyp) + 8
        c2 = c1 + len(f[0]) + len(f[1]) + 4
        mdat = box(b"mdat", mdat_body)

        stsd = full(b"stsd", struct.pack(">I", 1)
                    + box(codec, b"\x00" * 16))
        # 3 samples at 40ms (timescale 1000), then 2 at 20ms
        stts = full(b"stts", struct.pack(">IIIII", 2, 3, 40, 2, 20))
        stsc = full(b"stsc", struct.pack(">IIIIIII", 2, 1, 2, 1, 2, 3, 1))
        stsz = full(b"stsz", struct.pack(">II", 0, 5)
                    + struct.pack(">5I", *[len(x) for x in f]))
        stco = full(b"stco", struct.pack(">III", 2, c1, c2))
        stss = full(b"stss", struct.pack(">III", 2, 1, 4))
        stbl_body = stsd + stts + stsc + stsz + stco
        if with_stss:
            stbl_body += stss
        if ctts_runs is not None:
            fmt = ">Ii" if ctts_ver == 1 else ">II"
            ctts = full(b"ctts", struct.pack(">I", len(ctts_runs))
                        + b"".join(struct.pack(fmt, c, o)
                                   for c, o in ctts_runs),
                        ver=ctts_ver)
            stbl_body += ctts
        stbl = box(b"stbl", stbl_body)
        minf = box(b"minf", stbl)
        hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide"
                    + b"\x00" * 12 + b"video\x00")
        mdhd = full(b"mdhd", struct.pack(">IIIHH", 0, 0, 1000, 0, 0))
        mdia = box(b"mdia", mdhd + hdlr + minf)
        trak = box(b"trak", mdia)
        moov = box(b"moov", trak)
        return ftyp + mdat + moov

    def test_production_muxer_roundtrip(self):
        """mux_mp4_video (the write half shipped IN the package for
        the r12 video certification query, not just this test file):
        demux recovers every frame byte-exactly, one stts run gives
        the dts ladder, and absent stss means all-keyframes."""
        import struct

        from flight_data_pipeline_spark.operators.mp4_demux import (
            demux_mp4, mux_mp4_video)

        frames = [bytes([i]) * (10 + i) for i in range(7)]
        payload = mux_mp4_video(frames, codec=b"avc1", frame_dur=25)
        samples = demux_mp4(payload)
        assert len(samples) == 7
        for i, s in enumerate(samples):
            assert payload[s.offset:s.offset + s.size] == frames[i]
            assert s.codec == "avc1" and s.keyframe
        assert [s.dts_ms for s in samples] == [25 * i for i in range(7)]
        # v0 mdhd must be the full 20-byte body incl. DURATION (r12
        # review: it was 16 bytes, malformed for external parsers)
        i = payload.find(b"mdhd")
        assert struct.unpack(">I", payload[i - 4:i])[0] == 8 + 4 + 20
        assert struct.unpack_from(">I", payload, i + 20)[0] == 7 * 25
        import pytest as _pytest
        with _pytest.raises(ValueError):
            mux_mp4_video([])

    def test_demux_recovers_frames_timestamps_keyframes(self):
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        payload = self._mp4_payload()
        samples = demux_mp4(payload)
        assert len(samples) == 5
        for i, s in enumerate(samples):
            assert payload[s.offset:s.offset + s.size] == self.FRAMES[i]
            assert s.codec == "avc1"
        assert [s.dts_ms for s in samples] == [0, 40, 80, 120, 140]
        assert [s.keyframe for s in samples] == [
            True, False, False, True, False]

    def test_ctts_gives_pts(self):
        """ctts composition offsets → pts (r10): v0 unsigned runs,
        v1 signed (negative) runs, and pts == dts when absent."""
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        plain = demux_mp4(self._mp4_payload())
        assert [s.pts_ms for s in plain] == [s.dts_ms for s in plain]

        v0 = demux_mp4(self._mp4_payload(ctts_runs=[(2, 40), (3, 0)]))
        assert [s.dts_ms for s in v0] == [0, 40, 80, 120, 140]
        assert [s.pts_ms for s in v0] == [40, 80, 80, 120, 140]

        v1 = demux_mp4(self._mp4_payload(
            ctts_runs=[(1, 0), (2, -20), (2, 0)], ctts_ver=1))
        assert [s.pts_ms for s in v1] == [0, 20, 60, 120, 140]

    def test_no_stss_means_all_sync(self):
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        samples = demux_mp4(self._mp4_payload(with_stss=False))
        assert all(s.keyframe for s in samples)

    def test_keyframe_extractor(self):
        from flight_data_pipeline_spark.operators.mp4_demux import (
            keyframe_sample_bytes)

        keys = keyframe_sample_bytes(self._mp4_payload(), "mp4")
        assert keys == [self.FRAMES[0], self.FRAMES[3]]

    def test_rejects_garbage_and_bare_fragment(self):
        import struct

        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        with pytest.raises(ValueError):
            demux_mp4(b"\x89PNG definitely not bmff")
        # a moof with no moov (media segment without its init
        # segment) is demuxable only with the init — ValueError, so
        # dead-letter routing captures it
        frag = (struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
                + struct.pack(">I", 8) + b"moof")
        with pytest.raises(ValueError):
            demux_mp4(frag)

    def test_zero_timescale_is_value_error(self):
        """ADVICE r9: a malformed mdhd with timescale=0 must raise
        ValueError (the dead-letter contract), not ZeroDivisionError."""
        import struct

        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        payload = bytearray(self._mp4_payload())
        k = payload.find(b"mdhd")
        # mdhd body: ver/flags(4) creation(4) modification(4) timescale(4)
        struct.pack_into(">I", payload, k + 4 + 12, 0)
        with pytest.raises(ValueError, match="timescale"):
            demux_mp4(bytes(payload))

    def test_frame_metadata_plans_selective_decode(self, spark):
        """The 100 TB video pattern: metadata-only demux of the whole
        corpus (box arithmetic, no frame bytes), then RELATIONAL
        frame selection — keyframes under a dts cutoff — before any
        byte extraction. Non-video rows vanish from the profile."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.mp4_demux import (
            frame_metadata)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA)

        payload = self._mp4_payload()
        rows = [
            (1, payload, {"kind": "video", "format": "mp4",
                          "n_bytes": len(payload)}),
            (2, b"not a video", {"kind": "image", "format": "ppm",
                                 "n_bytes": 11}),
        ]
        meta = frame_metadata(
            spark.createDataFrame(rows, MEDIA_SCHEMA)).cache()
        got = meta.orderBy("frame_index").collect()
        assert [r.media_id for r in got] == [1] * 5  # image row skipped
        assert [(r.frame_index, r.dts_ms, r.keyframe) for r in got] == [
            (0, 0, True), (1, 40, False), (2, 80, False),
            (3, 120, True), (4, 140, False)]
        assert all(r.codec == "avc1" for r in got)
        assert [r.n_bytes for r in got] == [len(f) for f in self.FRAMES]
        picked = meta.where(F.col("keyframe")
                            & (F.col("dts_ms") < 100)).collect()
        assert [(r.media_id, r.frame_index) for r in picked] == [(1, 0)]

    def test_demux_property_random_layouts(self):
        """Hypothesis sweep: ANY frame-size list, chunk partition,
        timescale/delta choice and sync subset muxes to a container
        the demuxer inverts exactly — sizes, byte content, dts, and
        keyframe flags all round-trip."""
        import io
        import struct
        import tarfile  # noqa: F401 (kept parallel with tar tests)

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        def mux(frames, chunk_sizes, timescale, delta, sync):
            def box(btype, body):
                return struct.pack(">I", len(body) + 8) + btype + body

            def full(btype, body):
                return box(btype, b"\x00" * 4 + body)

            ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
            mdat = box(b"mdat", b"".join(frames))
            # chunk offsets: chunks are consecutive runs inside mdat
            offs, acc = [], len(ftyp) + 8
            start = 0
            for c in chunk_sizes:
                offs.append(acc)
                acc += sum(len(f) for f in frames[start:start + c])
                start += c
            stsd = full(b"stsd", struct.pack(">I", 1)
                        + box(b"avc1", b"\x00" * 16))
            stts = full(b"stts", struct.pack(">III", 1, len(frames), delta))
            # stsc runs: collapse consecutive equal samples-per-chunk
            runs = []
            for i, c in enumerate(chunk_sizes):
                if not runs or runs[-1][1] != c:
                    runs.append((i + 1, c))
            stsc = full(b"stsc", struct.pack(">I", len(runs)) + b"".join(
                struct.pack(">III", first, per, 1) for first, per in runs))
            stsz = full(b"stsz", struct.pack(">II", 0, len(frames))
                        + b"".join(struct.pack(">I", len(f))
                                   for f in frames))
            stco = full(b"stco", struct.pack(">I", len(offs))
                        + b"".join(struct.pack(">I", o) for o in offs))
            stbl = stsd + stts + stsc + stsz + stco
            if sync is not None:
                stbl += full(b"stss", struct.pack(">I", len(sync))
                             + b"".join(struct.pack(">I", s)
                                        for s in sorted(sync)))
            mdhd = full(b"mdhd", struct.pack(">IIIHH", 0, 0, timescale,
                                             0, 0))
            hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide"
                        + b"\x00" * 12 + b"v\x00")
            mdia = box(b"mdia", mdhd + hdlr + box(
                b"minf", box(b"stbl", stbl)))
            return ftyp + mdat + box(b"moov", box(b"trak", mdia))

        @settings(max_examples=30, deadline=None)
        @given(st.data())
        def check(data):
            n = data.draw(st.integers(1, 10))
            frames = [bytes([data.draw(st.integers(0, 255))])
                      * data.draw(st.integers(1, 40)) for _ in range(n)]
            # random chunk partition of n samples
            chunk_sizes, left = [], n
            while left:
                c = data.draw(st.integers(1, left))
                chunk_sizes.append(c)
                left -= c
            timescale = data.draw(st.integers(1, 90000))
            delta = data.draw(st.integers(0, 3000))
            sync = (None if data.draw(st.booleans()) else
                    set(data.draw(st.lists(st.integers(1, n),
                                           max_size=n))) or {1})
            payload = mux(frames, chunk_sizes, timescale, delta, sync)
            got = demux_mp4(payload)
            assert [payload[s.offset:s.offset + s.size] for s in got] \
                == frames
            assert [s.dts_ms for s in got] == [
                i * delta * 1000 // timescale for i in range(n)]
            expect_sync = ([True] * n if sync is None else
                           [(i + 1) in sync for i in range(n)])
            assert [s.keyframe for s in got] == expect_sync

        check()

    def test_sample_frames_demuxes_mp4_end_to_end(self, spark):
        """The default sample_frames path now REALLY demuxes mp4:
        every_n=2 over the 5 real access units keeps decode indices
        0/2/4 with byte-exact frame content, while non-mp4 media in
        the same table still flows through the deterministic
        chunker."""
        from flight_data_pipeline_spark.operators.multimodal import (
            sample_frames)

        payload = self._mp4_payload()
        rows = [
            (1, payload, {"kind": "video", "format": "mp4",
                          "n_bytes": len(payload)}),
            (2, b"A" * 600, {"kind": "video", "format": "rawchunks",
                             "n_bytes": 600}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = sample_frames(media, every_n=2).collect()
        mp4_frames = sorted((r.frame_index, bytes(r.frame))
                            for r in got if r.media_id == 1)
        assert mp4_frames == [(0, self.FRAMES[0]), (2, self.FRAMES[2]),
                              (4, self.FRAMES[4])]
        assert all(r.n_frames_total == 5 for r in got if r.media_id == 1)
        other = [r for r in got if r.media_id == 2]
        assert [r.frame_index for r in other] == [0, 2]  # 3 chunks, keep 0/2


class TestMjpegPixelDecode:
    """Motion-JPEG mp4 → PIXELS in-container (VERDICT r10 item 3):
    for stsd fourccs in MJPEG_FOURCCS every access unit is a standard
    JPEG, so the frame-sampling tier decodes it with jpeg_codec and
    re-emits decodable netpbm — the first video codec whose pixels
    are real with zero injected dependencies. Inter-coded fourccs
    keep emitting coded units byte-exactly."""

    @staticmethod
    def _imgs(gray=False):
        import numpy as np

        rng = np.random.default_rng(11)
        shape = (16, 16, 1) if gray else (16, 16, 3)
        # block-constant images survive the DCT exactly at QUANT_ONES
        # (gray round-trips byte-exact; color rounds ±1 in YCbCr)
        return [np.repeat(np.repeat(
            rng.integers(0, 32, (2, 2, shape[2]), np.uint8) * 8 + 4,
            8, axis=0), 8, axis=1) for _ in range(5)]

    def test_mjpeg_frames_decode_to_ppm_pixels(self, spark):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, sample_frames)

        imgs = self._imgs()
        jpegs = [encode_jpeg(im) for im in imgs]
        payload = TestMp4Demux._mp4_payload(frames=jpegs, codec=b"jpeg")
        media = spark.createDataFrame(
            [(1, payload, {"kind": "video", "format": "mp4",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        got = sorted(sample_frames(media, every_n=2).collect(),
                     key=lambda r: r.frame_index)
        assert [r.frame_index for r in got] == [0, 2, 4]
        assert all(r.n_frames_total == 5 for r in got)
        for row, i in zip(got, (0, 2, 4)):
            px = decode_netpbm(bytes(row.frame))
            # the routing claim: the emitted frame IS the decode of
            # the demuxed unit, bit-exact
            assert np.array_equal(px, decode_jpeg(jpegs[i]))
            # vs source pixels: DCT is exact at QUANT_ONES on
            # block-constant input; RGB<->YCbCr rounds within ±1
            assert np.abs(px.astype(int) - imgs[i].astype(int)).max() <= 1

    def test_grayscale_mjpa_emits_pgm(self, spark):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, sample_frames)

        imgs = self._imgs(gray=True)
        jpegs = [encode_jpeg(im) for im in imgs]
        payload = TestMp4Demux._mp4_payload(frames=jpegs, codec=b"mjpa")
        media = spark.createDataFrame(
            [(7, payload, {"kind": "video", "format": "mp4",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        got = sorted(sample_frames(media, every_n=2).collect(),
                     key=lambda r: r.frame_index)
        assert bytes(got[0].frame)[:2] == b"P5"
        px = decode_netpbm(bytes(got[0].frame))
        assert np.array_equal(px, imgs[0])

    def test_mjpeg_extract_features_same_pixels_parity(self, spark):
        """The r8/r9 same-pixels parity pattern: features computed
        from the MJPEG->sample_frames frame table equal features from
        the SAME pixels handed over as direct PPM media rows."""
        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features, sample_frames)

        imgs = self._imgs()
        jpegs = [encode_jpeg(im) for im in imgs]
        payload = TestMp4Demux._mp4_payload(frames=jpegs, codec=b"jpeg")
        media = spark.createDataFrame(
            [(1, payload, {"kind": "video", "format": "mp4",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        frames = sample_frames(media, every_n=2).collect()
        via_video = spark.createDataFrame(
            [(r.frame_index, bytes(r.frame),
              {"kind": "image", "format": "ppm",
               "n_bytes": len(bytes(r.frame))}) for r in frames],
            MEDIA_SCHEMA)
        direct = spark.createDataFrame(
            [(i, b"P6\n16 16\n255\n" + imgs[i].tobytes(),
              {"kind": "image", "format": "ppm", "n_bytes": 0})
             for i in (0, 2, 4)], MEDIA_SCHEMA)
        f_video = {r.media_id: list(r.feature)
                   for r in extract_features(via_video).collect()}
        f_direct = {r.media_id: list(r.feature)
                    for r in extract_features(direct).collect()}
        assert f_video == f_direct

    def test_mjpegb_fields_decode_to_pixels(self, spark):
        """Motion-JPEG B (r12 — VERDICT r11 item 3): 'mjpb' access
        units drop the JPEG marker structure, but the 40-byte field
        header's offsets let mjpegb_to_jpeg rebuild a standard stream
        (marker re-prefix + scan re-stuff), so the SAME pixel path
        as 'jpeg'/'mjpa' applies — the video seam is now genuinely
        inter-coded codecs only."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, jpeg_to_mjpegb, mjpegb_to_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, sample_frames)

        imgs = self._imgs()
        jpegs = [encode_jpeg(im) for im in imgs]
        fields = [jpeg_to_mjpegb(j) for j in jpegs]
        payload = TestMp4Demux._mp4_payload(frames=fields, codec=b"mjpb")
        media = spark.createDataFrame(
            [(3, payload, {"kind": "video", "format": "mp4",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        got = sorted(sample_frames(media, every_n=2).collect(),
                     key=lambda r: r.frame_index)
        assert [r.frame_index for r in got] == [0, 2, 4]
        for row, i in zip(got, (0, 2, 4)):
            px = decode_netpbm(bytes(row.frame))
            assert np.array_equal(px, decode_jpeg(jpegs[i]))
            assert np.abs(px.astype(int) - imgs[i].astype(int)).max() <= 1

        # translation-pair contracts: entropy bytes containing 0xFF
        # survive the unstuff/restuff round-trip; malformed fields
        # dead-letter with ValueError
        import pytest as _pytest
        rng = np.random.default_rng(5)
        noisy = encode_jpeg(rng.integers(0, 256, (24, 24, 3), np.uint8))
        assert np.array_equal(
            decode_jpeg(mjpegb_to_jpeg(jpeg_to_mjpegb(noisy))),
            decode_jpeg(noisy))
        f0 = bytearray(fields[0])
        bad_tag = bytes(f0[:4] + b"XXXX" + f0[8:])
        truncated = bytes(f0[:39])
        no_sof = bytearray(f0)
        no_sof[28:32] = b"\x00\x00\x00\x00"   # zero SOF offset
        for bad in (bad_tag, truncated, bytes(no_sof)):
            with _pytest.raises(ValueError):
                mjpegb_to_jpeg(bad)
        # restart-interval streams cannot be represented
        with _pytest.raises(ValueError):
            jpeg_to_mjpegb(encode_jpeg(imgs[0], restart_interval=2))

    def test_mjpegb_default_tables_and_interlaced_weave(self, spark):
        """r12 review fixes: (a) a zero Huffman-table offset implies
        the Annex-K typical tables (QuickTime allows omitting DHT) —
        the rebuilt JPEG must carry them instead of dead-lettering;
        (b) a two-field interlaced sample weaves top/bottom fields
        back into one frame instead of silently passing the top field
        off as the whole frame."""
        import struct

        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            _BitWriter, _K_AC_LUM, _K_DC_LUM, _build_encode_lut,
            _segment, decode_jpeg, jpeg_to_mjpegb, mjpegb_fields,
            mjpegb_to_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, sample_frames)

        # (a) hand-assemble a single-block gray JPEG COED WITH the
        # Annex-K default tables (our encoder uses its own fixed
        # tables, so this is the only way to exercise the defaults)
        v = 200
        dc = (v - 128) * 8                   # 8x8 constant block DC
        out = bytearray(b"\xff\xd8")
        _segment(out, 0xDB, bytes([0x00]) + bytes([1] * 64))
        _segment(out, 0xC0, struct.pack(">BHHB", 8, 8, 8, 1)
                 + bytes([1, 0x11, 0]))
        _segment(out, 0xC4, bytes([0x00]) + bytes(_K_DC_LUM[0])
                 + _K_DC_LUM[1])
        _segment(out, 0xC4, bytes([0x10]) + bytes(_K_AC_LUM[0])
                 + _K_AC_LUM[1])
        _segment(out, 0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        bw = _BitWriter()
        dc_lut = _build_encode_lut(*_K_DC_LUM)
        ac_lut = _build_encode_lut(*_K_AC_LUM)
        t = dc.bit_length()
        code, ln = dc_lut[t]
        bw.write(code, ln)
        bw.write(dc if dc >= 0 else dc + (1 << t) - 1, t)
        code, ln = ac_lut[0x00]              # EOB
        bw.write(code, ln)
        bw.pad_to_byte()
        out += bw.buf + b"\xff\xd9"
        jpeg = bytes(out)
        assert int(decode_jpeg(jpeg)[0, 0, 0]) == v
        field = bytearray(jpeg_to_mjpegb(jpeg))
        field[24:28] = b"\x00\x00\x00\x00"   # zero the DHT offset
        px = decode_jpeg(mjpegb_to_jpeg(bytes(field)))
        assert np.array_equal(px, decode_jpeg(jpeg))

        # (b) two contiguous fields chained by the next-field offset
        a = np.full((8, 16, 1), 64, np.uint8)
        b = np.full((8, 16, 1), 192, np.uint8)
        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        f1 = bytearray(jpeg_to_mjpegb(encode_jpeg(a)))
        f2 = jpeg_to_mjpegb(encode_jpeg(b))
        f1[16:20] = struct.pack(">I", len(f1))
        unit = bytes(f1) + f2
        assert [len(f) for f in mjpegb_fields(unit)] == [len(f1),
                                                         len(f2)]
        payload = TestMp4Demux._mp4_payload(frames=[unit] * 5,
                                            codec=b"mjpb")
        media = spark.createDataFrame(
            [(9, payload, {"kind": "video", "format": "mp4",
                           "n_bytes": len(payload)})], MEDIA_SCHEMA)
        frame = sorted(sample_frames(media, every_n=5).collect(),
                       key=lambda r: r.frame_index)[0]
        px = decode_netpbm(bytes(frame.frame))
        assert px.shape == (16, 16, 1)
        assert np.array_equal(px[0::2], a) and np.array_equal(
            px[1::2], b)

    def test_avc1_units_stay_byte_exact_and_malformed_raises(self, spark):
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.multimodal import (
            auto_frame_extract)

        payload = TestMp4Demux._mp4_payload()  # avc1
        units = auto_frame_extract(payload, "mp4")
        assert units == TestMp4Demux.FRAMES
        # an MJPEG track whose units are NOT valid JPEG dead-letters
        bad = TestMp4Demux._mp4_payload(codec=b"jpeg")
        with _pytest.raises(ValueError):
            auto_frame_extract(bad, "mp4")


class TestFlacCodec:
    """FLAC decode in pure stdlib+numpy (VERDICT r10 item 7): Rice
    coding + fixed/LPC predictors are all integer arithmetic, so the
    lossless half of scraped-audio corpora decodes in-container. The
    minimal encoder is the write side (the encode_jpeg/encode_gif
    fixture philosophy); every encoder branch exists to pin a decoder
    path. MP3/AAC stay on the injection seam."""

    @staticmethod
    def _sig(n=1000, seed=7, amp=3000):
        import numpy as np

        rng = np.random.default_rng(seed)
        t = np.arange(n)
        return (amp * np.sin(t / 20)
                + rng.integers(-50, 50, n)).astype(np.int64)

    @staticmethod
    def _rt(samples, **kw):
        import numpy as np

        from flight_data_pipeline_spark.operators.flac_codec import (
            decode_flac_pcm, encode_flac)

        payload = encode_flac(samples, **kw)
        pcm, _rate, _bps = decode_flac_pcm(payload)
        s = np.asarray(samples)
        if s.ndim == 1:
            s = s[:, None]
        assert np.array_equal(pcm, s), kw
        return payload

    def test_subframe_modes_partitions_escapes(self):
        import numpy as np

        sig = self._sig()
        for mode in ("verbatim", "fixed0", "fixed1", "fixed2",
                     "fixed3", "fixed4"):
            self._rt(sig, mode=mode)
        self._rt(np.full(500, -123, np.int64), mode="constant")
        for po in (0, 1, 2, 3):
            self._rt(sig[:512], mode="fixed2", partition_order=po)
        rng = np.random.default_rng(3)
        self._rt(rng.integers(-3, 4, 300).astype(np.int64),
                 mode="fixed0", escape_bits=4)
        self._rt(np.zeros(256, np.int64), mode="fixed0", escape_bits=0)
        # LPC subframe with explicit quantized coefficients + shift
        self._rt(sig[:256], mode=("lpc", [3, -2], 1, 6))
        # block size not dividing the total: short last frame
        self._rt(sig[:777], mode="fixed2", block_size=256)
        # last frame SHORTER than the predictor order: the encoder
        # clamps the per-block order (hypothesis-caught in r11)
        self._rt(np.array([123], np.int64), mode="fixed2",
                 block_size=16)
        self._rt(np.array([5, -9], np.int64), mode="fixed4")

    def test_stereo_decorrelation_and_bit_depths(self):
        import numpy as np

        sig = self._sig(600)
        st = np.stack([sig, (sig * 0.7).astype(np.int64)], axis=1)
        for sm in ("independent", "left_side", "right_side",
                   "mid_side"):
            self._rt(st, stereo=sm)
        rng = np.random.default_rng(9)
        for bps, amp in ((8, 100), (12, 1500), (16, 20000),
                         (20, 400000), (24, 6_000_000),
                         (32, 1_000_000_000)):
            self._rt(rng.integers(-amp, amp, 400).astype(np.int64),
                     bps=bps, mode="fixed1")

    def test_property_roundtrip(self):
        """Randomized sweep: any int16 signal, any supported mode/
        stereo/partition combination, decodes back bit-exact."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(st.data())
        def check(data):
            rng = np.random.default_rng(data.draw(st.integers(0, 99)))
            n = data.draw(st.integers(1, 700))
            ch = data.draw(st.integers(1, 2))
            s = rng.integers(-30000, 30000, (n, ch)).astype(np.int64)
            mode = data.draw(st.sampled_from(
                ["verbatim", "fixed0", "fixed1", "fixed2"]))
            stereo = (data.draw(st.sampled_from(
                ["independent", "left_side", "right_side", "mid_side"]))
                if ch == 2 else "independent")
            bs_pow = data.draw(st.integers(4, 9))
            po = data.draw(st.integers(0, 2))
            # partitions must divide the block; keep blocks regular
            self._rt(s if ch == 2 else s[:, 0], mode=mode,
                     stereo=stereo, block_size=1 << bs_pow,
                     partition_order=po if (1 << bs_pow) >= n else 0)

        check()

    def test_flac_wav_same_samples_identical_features(self, spark):
        """Same-samples parity (the decode-fidelity pattern): one
        signal encoded as 16-bit WAV and as FLAC produces the
        IDENTICAL feature histogram through extract_features and the
        identical audio stats through media_quality — FLAC corpora
        need no special casing anywhere downstream."""
        import io
        import struct
        import wave

        from flight_data_pipeline_spark.operators.flac_codec import (
            encode_flac)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features, media_quality)

        sig = [int(v) for v in self._sig(400, amp=20000)]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(struct.pack(f"<{len(sig)}h", *sig))
        wav = buf.getvalue()
        flac = encode_flac(sig, sample_rate=8000, bps=16)
        assert len(flac) < len(wav)  # it actually compresses
        rows = [
            (1, wav, {"kind": "audio", "format": "wav",
                      "n_bytes": len(wav)}),
            (2, flac, {"kind": "audio", "format": "flac",
                       "n_bytes": len(flac)}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = {r.media_id: list(r.feature)
                 for r in extract_features(media).collect()}
        assert feats[1] == feats[2]
        q = {r.media_id: r for r in media_quality(media).collect()}
        for col in ("n_samples", "rms", "peak", "clipping_ratio"):
            assert getattr(q[1], col) == getattr(q[2], col), col

    def test_malformed_flac_raises_value_error(self):
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.flac_codec import (
            decode_flac_pcm, encode_flac)

        good = encode_flac(self._sig(300))
        cases = [
            b"fLaX123",                  # bad marker
            b"fLaC",                     # no metadata
            good[:20],                   # truncated STREAMINFO
            good[:60],                   # truncated mid-frame
            good[:-3],                   # truncated frame tail
        ]
        # flip one bit inside the last frame: CRC-16 must catch it
        corrupt = bytearray(good)
        corrupt[-10] ^= 0x40
        cases.append(bytes(corrupt))
        for bad in cases:
            with _pytest.raises(ValueError):
                decode_flac_pcm(bad)

    def test_sample_bound_enforced_per_frame(self):
        """r12 advice (medium): a ~20-byte constant-subframe frame
        legally encodes 65536 samples and CRCs are attacker-
        computable, so the decoder must bound accumulated samples
        BEFORE each frame decodes — STREAMINFO total exactly when
        known, a fixed 2^24/channel ceiling when total is 0."""
        import numpy as np
        import pytest as _pytest

        from flight_data_pipeline_spark.operators.flac_codec import (
            decode_flac_pcm, encode_flac)

        # total known (=256): a duplicated frame overshoots -> raise
        good = encode_flac(self._sig(256), block_size=256)
        frame = good[42:]          # fLaC(4) + block hdr(4) + SI(34)
        with _pytest.raises(ValueError):
            decode_flac_pcm(good + frame)

        # total unknown (zeroed 36-bit field at body bits 108..144):
        # a few frames decode fine; 300 frames x 65536 samples from a
        # ~6 KB payload must dead-letter at the 2^24 ceiling, not
        # build a multi-GB list first.
        big = encode_flac(np.full(65536, 7, np.int64),
                          mode="constant", block_size=65536)
        hdr = bytearray(big[:42])
        hdr[21] &= 0xF0
        hdr[22:26] = b"\x00\x00\x00\x00"
        bframe = big[42:]
        pcm, _r, _b = decode_flac_pcm(bytes(hdr) + bframe * 3)
        assert pcm.shape == (3 * 65536, 1)
        with _pytest.raises(ValueError):
            decode_flac_pcm(bytes(hdr) + bframe * 300)


class TestFmp4Demux:
    """Fragmented-MP4 demux (VERDICT r9 item 4): a minimal stdlib
    fMP4 MUXER builds init segment (moov with empty stbl + mvex/trex
    defaults) plus two moof+mdat fragments, and the demuxer must
    recover every access unit byte-exactly with dts and keyframe
    flags — across the three base-offset modes (default-base-is-moof,
    explicit base-data-offset, implicit first-traf-base) and both
    size sourcing modes (per-sample trun sizes vs tfhd default)."""

    FRAG1 = [b"IFRAME-a" * 4, b"pframe-b" * 2, b"pframe-c" * 3]
    FRAG2 = [b"IFRAME-d" * 5, b"pframe-e" * 2]
    DUR1, DUR2 = [40, 40, 20], [20, 30]

    @classmethod
    def _fmp4_payload(cls, size_mode="per_sample", base_mode="moof",
                      cts=None, trun_ver=0):
        import struct

        def box(btype, body):
            return struct.pack(">I", len(body) + 8) + btype + body

        def full(btype, body, ver=0, flags=0):
            return box(btype, struct.pack(">I", (ver << 24) | flags) + body)

        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"iso6")
        tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1))  # track_id 1
        stsd = full(b"stsd", struct.pack(">I", 1)
                    + box(b"avc1", b"\x00" * 16))
        minf = box(b"minf", box(b"stbl", stsd))
        hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide"
                    + b"\x00" * 12 + b"v\x00")
        mdhd = full(b"mdhd", struct.pack(">IIIHH", 0, 0, 1000, 0, 0))
        mdia = box(b"mdia", mdhd + hdlr + minf)
        # trex: duration default 0, size default 0, flags default
        # non-sync (so keyframes must come from trun/first-sample flags)
        trex = full(b"trex", struct.pack(">IIIII", 1, 1, 0, 0, 0x10000))
        moov = box(b"moov", box(b"trak", tkhd + mdia) + box(b"mvex", trex))

        def fragment(seq, frames, durs, base_dt, preceding_len,
                     frag_cts=None):
            mfhd = full(b"mfhd", struct.pack(">I", seq))
            per_sample = size_mode == "per_sample"
            tf_flags, tf_body = 0, struct.pack(">I", 1)  # track_id
            tr_flags = 0x1 | 0x4 | 0x100  # data-offset, first-flags, dur
            if per_sample:
                tr_flags |= 0x200
            if frag_cts is not None:
                tr_flags |= 0x800  # composition offsets present
            if not per_sample:
                assert len({len(f) for f in frames}) == 1
                tf_flags |= 0x10
            tfdt = full(b"tfdt", struct.pack(">I", base_dt))

            def build(data_offset, base_data_offset=None):
                body, flags = tf_body, tf_flags
                if base_data_offset is not None:
                    flags |= 0x1
                    body = (struct.pack(">I", 1)
                            + struct.pack(">Q", base_data_offset))
                if not per_sample:
                    body += struct.pack(">I", len(frames[0]))
                if base_mode == "moof":
                    flags |= 0x020000
                tfhd = box(b"tfhd",
                           struct.pack(">I", flags) + body)
                trun_body = struct.pack(">Ii", len(frames), data_offset)
                trun_body += struct.pack(">I", 0x0)  # first: sync
                for i, (f, d) in enumerate(zip(frames, durs)):
                    trun_body += struct.pack(">I", d)
                    if per_sample:
                        trun_body += struct.pack(">I", len(f))
                    if frag_cts is not None:
                        trun_body += struct.pack(
                            ">i" if trun_ver == 1 else ">I",
                            frag_cts[i])
                trun = box(b"trun",
                           struct.pack(">I", (trun_ver << 24) | tr_flags)
                           + trun_body)
                return box(b"moof", mfhd + box(b"traf",
                                               tfhd + tfdt + trun))

            # Probe build fixes the moof length (offsets are
            # fixed-width), then rebuild with the real offsets.
            if base_mode == "explicit":
                probe = build(8, 0)
                # base = absolute mdat box start; +8 skips its header
                moof = build(8, preceding_len + len(probe))
            else:
                # moof and implicit modes both measure from moof start
                probe = build(0)
                moof = build(len(probe) + 8)
            return moof + box(b"mdat", b"".join(frames))

        out = ftyp + moov
        out += fragment(1, cls.FRAG1, cls.DUR1, 0, len(out),
                        cts[0] if cts else None)
        out += fragment(2, cls.FRAG2, cls.DUR2, sum(cls.DUR1), len(out),
                        cts[1] if cts else None)
        return out

    def test_fmp4_roundtrip_all_modes(self):
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        frames = self.FRAG1 + self.FRAG2
        for size_mode in ("per_sample", "default"):
            for base_mode in ("moof", "explicit", "implicit"):
                if size_mode == "default":
                    continue  # needs equal sizes; covered below
                payload = self._fmp4_payload(size_mode, base_mode)
                got = demux_mp4(payload)
                assert [payload[s.offset:s.offset + s.size]
                        for s in got] == frames, (size_mode, base_mode)
                assert [s.dts_ms for s in got] == [0, 40, 80, 100, 120]
                assert [s.keyframe for s in got] == [
                    True, False, False, True, False]
                assert all(s.codec == "avc1" for s in got)

    def test_fmp4_default_sample_size(self):
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        same = [b"F0" * 8, b"F1" * 8, b"F2" * 8]
        old1, old2 = self.__class__.FRAG1, self.__class__.FRAG2
        try:
            self.__class__.FRAG1, self.__class__.FRAG2 = same, same[:2]
            payload = self._fmp4_payload("default", "moof")
            got = demux_mp4(payload)
            assert [payload[s.offset:s.offset + s.size] for s in got] \
                == same + same[:2]
            assert all(s.size == 16 for s in got)
        finally:
            self.__class__.FRAG1, self.__class__.FRAG2 = old1, old2

    def test_fmp4_composition_offsets_give_pts(self):
        """trun sample_composition_time_offsets → pts: v0 unsigned and
        v1 signed (negative), and pts == dts when absent."""
        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        plain = demux_mp4(self._fmp4_payload())
        assert [s.pts_ms for s in plain] == [s.dts_ms for s in plain]

        v0 = demux_mp4(self._fmp4_payload(
            cts=([40, 40, 0], [0, 20])))
        assert [s.dts_ms for s in v0] == [0, 40, 80, 100, 120]
        assert [s.pts_ms for s in v0] == [40, 80, 80, 100, 140]

        v1 = demux_mp4(self._fmp4_payload(
            cts=([0, -20, 0], [20, -10]), trun_ver=1))
        assert [s.pts_ms for s in v1] == [0, 20, 80, 120, 110]

    def test_fmp4_keyframe_and_extractor_paths(self):
        from flight_data_pipeline_spark.operators.mp4_demux import (
            extract_sample_bytes, keyframe_sample_bytes)

        payload = self._fmp4_payload()
        assert extract_sample_bytes(payload, "mp4") \
            == self.FRAG1 + self.FRAG2
        assert keyframe_sample_bytes(payload, "mp4") == [
            self.FRAG1[0], self.FRAG2[0]]

    def test_fmp4_property_random_layouts(self):
        """Hypothesis sweep: ANY fragment partition, frame sizes,
        durations and composition offsets mux to an fMP4 the demuxer
        inverts exactly — bytes, dts, pts and keyframe flags."""
        import struct

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from flight_data_pipeline_spark.operators.mp4_demux import demux_mp4

        def box(btype, body):
            return struct.pack(">I", len(body) + 8) + btype + body

        def full(btype, body, ver=0):
            return box(btype, struct.pack(">I", ver << 24) + body)

        def mux(frags, timescale):
            """frags: list of [(frame_bytes, dur, cts_off, sync)]"""
            ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"iso6")
            tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1))
            stsd = full(b"stsd", struct.pack(">I", 1)
                        + box(b"avc1", b"\x00" * 16))
            mdia = box(b"mdia", full(b"mdhd", struct.pack(
                ">IIIHH", 0, 0, timescale, 0, 0))
                + full(b"hdlr", struct.pack(">I", 0) + b"vide"
                       + b"\x00" * 12 + b"v\x00")
                + box(b"minf", box(b"stbl", stsd)))
            trex = full(b"trex", struct.pack(">IIIII", 1, 1, 0, 0,
                                             0x10000))
            out = ftyp + box(b"moov", box(b"trak", tkhd + mdia)
                             + box(b"mvex", trex))
            t = 0
            for seq, frames in enumerate(frags):
                tfhd = box(b"tfhd", struct.pack(">II", 0x020000, 1))
                tfdt = full(b"tfdt", struct.pack(">I", t))
                # per-sample dur+size+flags+cts (trun version 1)
                tr_flags = 0x1 | 0x100 | 0x200 | 0x400 | 0x800
                body = struct.pack(">Ii", len(frames), 0)
                for fb, dur, cts, sync in frames:
                    body += struct.pack(
                        ">IIIi", dur, len(fb),
                        0 if sync else 0x10000, cts)
                    t += dur
                trun = box(b"trun", struct.pack(
                    ">I", (1 << 24) | tr_flags) + body)
                probe = box(b"moof", full(b"mfhd", struct.pack(
                    ">I", seq + 1)) + box(b"traf", tfhd + tfdt + trun))
                body = struct.pack(">Ii", len(frames), len(probe) + 8) \
                    + body[8:]
                trun = box(b"trun", struct.pack(
                    ">I", (1 << 24) | tr_flags) + body)
                moof = box(b"moof", full(b"mfhd", struct.pack(
                    ">I", seq + 1)) + box(b"traf", tfhd + tfdt + trun))
                out += moof + box(b"mdat",
                                  b"".join(f[0] for f in frames))
            return out

        @settings(max_examples=25, deadline=None)
        @given(st.data())
        def check(data):
            timescale = data.draw(st.integers(1, 90000))
            n_frags = data.draw(st.integers(1, 4))
            frags, flat = [], []
            for _ in range(n_frags):
                n = data.draw(st.integers(1, 6))
                frames = []
                for _ in range(n):
                    fb = bytes([data.draw(st.integers(0, 255))]) \
                        * data.draw(st.integers(1, 30))
                    dur = data.draw(st.integers(0, 3000))
                    cts = data.draw(st.integers(-500, 3000))
                    sync = data.draw(st.booleans())
                    frames.append((fb, dur, cts, sync))
                frags.append(frames)
                flat.extend(frames)
            payload = mux(frags, timescale)
            got = demux_mp4(payload)
            assert [payload[s.offset:s.offset + s.size] for s in got] \
                == [f[0] for f in flat]
            t, dts, pts = 0, [], []
            for fb, dur, cts, sync in flat:
                dts.append(t * 1000 // timescale)
                pts.append((t + cts) * 1000 // timescale)
                t += dur
            assert [s.dts_ms for s in got] == dts
            assert [s.pts_ms for s in got] == pts
            assert [s.keyframe for s in got] == [f[3] for f in flat]

        check()

    def test_fmp4_frame_metadata(self, spark):
        """frame_metadata handles fMP4 rows by default — the
        selective-decode planning pattern works on DASH/HLS-shaped
        corpora unchanged."""
        from flight_data_pipeline_spark.operators.mp4_demux import (
            frame_metadata)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA)

        payload = self._fmp4_payload()
        rows = [(7, payload, {"kind": "video", "format": "mp4",
                              "n_bytes": len(payload)})]
        got = frame_metadata(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).orderBy("frame_index").collect()
        assert [(r.frame_index, r.dts_ms, r.keyframe) for r in got] == [
            (0, 0, True), (1, 40, False), (2, 80, False),
            (3, 100, True), (4, 120, False)]


class TestIvfRecall:
    def test_ivf_topk_overlaps_bruteforce(self, spark):
        """IVF with 2/16 lists probed scans ~12% of vectors; the
        query's own list always contains it (sim 1.0), and recall
        should beat the random baseline comfortably."""
        exact = [r.vec_id for r in
                 registry.QUERIES["cosine_topk_bruteforce"](spark, SF_DIR).collect()]
        approx = [r.vec_id for r in
                  registry.QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()]
        assert 0 in approx
        overlap = len(set(exact) & set(approx))
        assert overlap >= 2, f"IVF recall too low: {overlap}/10"

    def test_index_cache_evicts_and_unpersists_oldest(self, spark):
        """The per-process IVF cache must not pin unbounded executor
        storage: past _IVF_CACHE_MAX datasets the oldest entry is
        evicted and unpersisted (ADVICE r2)."""
        from flight_data_pipeline_spark.plans import vector_queries as vq

        class FakeIndex:
            released = False

            def unpersist(self):
                self.released = True

        saved = dict(vq._IVF_INDEXES)
        try:
            vq._IVF_INDEXES.clear()
            fakes = [FakeIndex() for _ in range(vq._IVF_CACHE_MAX)]
            for i, f in enumerate(fakes):
                vq._IVF_INDEXES[("fake-app", f"sf{i}")] = f
            vq._ivf_index_for(spark, SF_DIR)  # real build → one eviction
            assert fakes[0].released           # FIFO: oldest went first
            assert not fakes[1].released
            assert len(vq._IVF_INDEXES) == vq._IVF_CACHE_MAX
        finally:
            for idx in vq._IVF_INDEXES.values():
                if isinstance(idx, FakeIndex):
                    continue
                idx.unpersist()
            vq._IVF_INDEXES.clear()
            vq._IVF_INDEXES.update(saved)


class TestSemDeDup:
    """Cluster-scoped embedding dedup (semdedup_labels): the
    keep/prune contract that the rows-only semdedup_prune_stats query
    relies on, checked against a union-find oracle on the fixture."""

    TAU = 0.32

    def _fixture(self, spark):
        import math

        from flight_data_pipeline_spark.operators.vectors import (
            build_ivf_index,
            semdedup_labels,
        )
        from tests.conftest import SF_DIR

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        idx = build_ivf_index(emb, vec_col="embedding", id_col="vec_id",
                              n_lists=4, seed=7)
        rows = idx.assignments.select("vec_id", "ivf_list", "embedding").collect()
        labels = {r.v: r.label
                  for r in semdedup_labels(
                      idx.assignments, tau=self.TAU, max_iter=20).collect()}
        idx.unpersist()

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        by_list: dict = {}
        for r in rows:
            by_list.setdefault(r.ivf_list, []).append(
                (r.vec_id, [float(x) for x in r.embedding]))
        edges = []
        for members in by_list.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    (va, ea), (vb, eb) = members[i], members[j]
                    if cos(ea, eb) >= self.TAU:
                        edges.append((va, vb))
        return rows, labels, edges

    def test_components_match_union_find_oracle(self, spark):
        rows, labels, edges = self._fixture(spark)
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        want: dict = {}
        comp: dict = {}
        for a, b in edges:
            for v in (a, b):
                comp.setdefault(find(v), []).append(v)
        for members in comp.values():
            m = min(members)
            for v in set(members):
                want[v] = m
        assert labels == want
        assert edges, "fixture must exercise at least one τ-edge"

    def test_kept_set_is_tau_independent_within_lists(self, spark):
        rows, labels, edges = self._fixture(spark)
        all_ids = {r.vec_id for r in rows}
        pruned = {v for v, lab in labels.items() if v != lab}
        kept = all_ids - pruned
        # exactly one keeper per component, and no τ-edge joins two kept
        assert all(lab in kept for lab in labels.values())
        assert not [e for e in edges if e[0] in kept and e[1] in kept]


class TestQualityFunnel:
    def test_stage_counts_are_monotone_non_increasing(self, spark):
        """Cumulative funnel invariant: each stage's survivor count is
        ≤ the previous stage's, per source, ingest → exact_dedup."""
        from flight_data_pipeline_spark.plans import registry
        from tests.conftest import SF_DIR

        registry.load_all()
        rows = registry.QUERIES["quality_funnel"](spark, SF_DIR).collect()
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r.source, []).append((r.stage, r.n_docs))
        assert by_src
        for src, stages in by_src.items():
            counts = [n for _, n in sorted(stages)]
            assert len(counts) == 6, (src, stages)
            assert all(a >= b for a, b in zip(counts, counts[1:])), (
                src, counts)


class TestDocQualityMetrics:
    """Semantic pins for the per-doc dup-coverage and unigram-LM
    queries (oracle parity is covered by test_oracle_parity)."""

    def test_dup_coverage_flag_consistent_and_bounded(self, spark):
        from flight_data_pipeline_spark.plans.text_queries import DUPCOV_DROP

        df = registry.QUERIES["duplicated_ngram_coverage"](
            spark, SF_DIR).toPandas()
        assert ((df.dup_fraction >= 0) & (df.dup_fraction <= 1)).all()
        assert (df.dup_grams <= df.n_grams).all()
        # flag derived from the rounded fraction, exactly
        assert (df.would_drop
                == (df.dup_fraction > DUPCOV_DROP).astype("int32")).all()
        # the fixture corpus is pathologically self-similar: both
        # heavily-duplicated and clean docs must exist
        assert df.would_drop.sum() > 0
        assert (df.would_drop == 0).sum() > 0

    def test_unigram_buckets_present_and_respect_cutoffs(self, spark):
        from flight_data_pipeline_spark.plans.text_queries import (
            UNIGRAM_HEAD_MAX,
            UNIGRAM_MIDDLE_MAX,
        )

        df = registry.QUERIES["unigram_logprob_quality"](
            spark, SF_DIR).toPandas()
        assert set(df.ppl_bucket) == {"head", "middle", "tail"}
        head = df[df.ppl_bucket == "head"].avg_nll
        mid = df[df.ppl_bucket == "middle"].avg_nll
        tail = df[df.ppl_bucket == "tail"].avg_nll
        assert head.max() < UNIGRAM_HEAD_MAX
        assert mid.min() >= UNIGRAM_HEAD_MAX and mid.max() < UNIGRAM_MIDDLE_MAX
        assert tail.min() >= UNIGRAM_MIDDLE_MAX
        # smoothed add-one NLL is positive and finite
        assert (df.avg_nll > 0).all()


class TestPrefixFilter:
    def test_prefix_path_equals_exact_path_on_fixture(self, spark):
        """prefix_filter=True is the checked query's form: it must
        reproduce the single-pass counting path exactly — same pairs,
        same sims — on the (pathologically self-similar) fixture."""
        from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

        docs = load_table(spark, "documents", SF_DIR)
        exact = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in jaccard_pairs_blocked(
                docs, "doc_id", "source", "text", threshold=0.8).collect()
        }
        prefixed = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in jaccard_pairs_blocked(
                docs, "doc_id", "source", "text", threshold=0.8,
                prefix_filter=True).collect()
        }
        assert prefixed == exact

    def test_guard_and_prefix_are_mutually_exclusive(self, spark):
        from flight_data_pipeline_spark.operators.dedup import jaccard_pairs_blocked

        docs = load_table(spark, "documents", SF_DIR)
        with pytest.raises(ValueError, match="candidate strategies"):
            jaccard_pairs_blocked(docs, "doc_id", "source", "text", 0.8,
                                  max_token_df=5, prefix_filter=True)


class TestPq:
    """Product quantization: codebook determinism, code-domain
    contract, in-plan ADC agreement with a numpy oracle, and the
    shortlist-refine recall floor."""

    @pytest.fixture(scope="class")
    def pq(self, spark):
        from flight_data_pipeline_spark.operators.vectors import (
            pq_encode,
            train_pq_codebooks,
        )

        emb = load_table(spark, "embeddings", SF_DIR)
        cb = train_pq_codebooks(emb, "embedding", m=8, ksub=16, seed=42)
        return emb, cb, pq_encode(emb, "embedding", cb)

    def test_codebooks_deterministic_and_shaped(self, spark, pq):
        from flight_data_pipeline_spark.operators.vectors import (
            train_pq_codebooks,
        )

        emb, cb, _ = pq
        assert (cb.m, cb.ksub, cb.dsub) == (8, 16, 8)
        again = train_pq_codebooks(emb, "embedding", m=8, ksub=16, seed=42)
        assert again.centers == cb.centers  # seeded fit is reproducible

    def test_codes_in_domain(self, pq):
        _, cb, enc = pq
        import pyspark.sql.functions as F

        bad = enc.where(
            (F.size("pq_codes") != cb.m)
            | F.exists("pq_codes", lambda c: (c < 0) | (c >= cb.ksub))
        )
        assert bad.count() == 0

    def test_adc_matches_numpy_oracle(self, spark, pq):
        """The relational ADC path (posexplode → broadcast LUT join →
        sum) must equal the straightforward numpy ADC on the same
        codes — pins the lookup-table join against an independent
        implementation."""
        import numpy as np

        from flight_data_pipeline_spark.operators.vectors import pq_adc_topk

        emb, cb, enc = pq
        qv = emb.where(F.col("vec_id") == 0)
        got = {
            r.vec_id: r.adc_score
            for r in pq_adc_topk(enc, qv, cb, "embedding", "vec_id",
                                 k=5).collect()
        }
        codes = {r.vec_id: r.pq_codes for r in enc.collect()}
        q = np.array(qv.first()["embedding"], dtype=np.float64)
        q /= np.linalg.norm(q)
        cbn = np.array(cb.centers)
        lut = np.array([
            cbn[j] @ q[j * cb.dsub:(j + 1) * cb.dsub] for j in range(cb.m)
        ])  # (m, ksub)
        scores = {
            v: round(float(sum(lut[j][c] for j, c in enumerate(cs))), 6)
            for v, cs in codes.items()
        }
        top = sorted(scores, key=lambda v: (-scores[v], v))[:5]
        assert list(got) == top
        for v in got:
            assert got[v] == pytest.approx(scores[v], abs=1e-6)

    def test_refined_recall_floor_and_self_hit(self, spark, pq):
        from flight_data_pipeline_spark.operators.vectors import (
            cosine_topk,
            pq_refined_topk,
        )

        emb, cb, enc = pq
        qv = emb.where(F.col("vec_id") == 0)
        exact = [r.vec_id
                 for r in cosine_topk(emb, qv, "embedding", "vec_id",
                                      k=10).collect()]
        refined = [r.vec_id
                   for r in pq_refined_topk(enc, emb, qv, cb, "embedding",
                                            "vec_id", k=10,
                                            shortlist=100).collect()]
        assert refined[0] == 0  # the query vector itself survives
        # measured 0.8-1.0 on the fixture at shortlist=100 (sf0.001
        # holds ~200 vectors so the shortlist covers half the corpus);
        # floor pinned with margin
        assert len(set(exact) & set(refined)) / 10 >= 0.7


class TestNgramShortDocs:
    def test_ngrams_and_explode_handle_short_and_empty_docs(self, spark):
        """Documents shorter than n (including empty text) must yield
        exactly one whole-document gram — under ANSI mode (Spark 4
        default), where an element_at past the array end would throw
        INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead of null-padding.
        Regression for the arrays_zip rewrite."""
        from flight_data_pipeline_spark.operators.text import (
            ngram_explode,
            ngrams,
        )

        df = spark.createDataFrame(
            [(1, "only two"), (2, ""), (3, "a b c d e")],
            "doc_id long, text string")
        arr = {r.doc_id: r.g
               for r in df.select("doc_id",
                                  ngrams(F.col("text"), 3).alias("g")).collect()}
        assert arr[1] == ["only two"]
        assert arr[2] == [""]
        assert arr[3] == ["a b c", "b c d", "c d e"]
        ex = ngram_explode(df, "text", 3, "doc_id").collect()
        got = {}
        for r in ex:
            got.setdefault(r.doc_id, []).append(r.g)
        assert got == {1: ["only two"], 2: [""],
                       3: ["a b c", "b c d", "c d e"]}

    def test_minhash_survives_short_docs(self, spark):
        from flight_data_pipeline_spark.operators.dedup import (
            minhash_signatures,
        )

        df = spark.createDataFrame(
            [(1, "only two"), (2, "a b c d e f")],
            "doc_id long, text string")
        rows = minhash_signatures(df, "doc_id", "text",
                                  num_hashes=4).collect()
        assert len(rows) == 2 and all(len(r.sig) == 4 for r in rows)


class TestCuratedCorpusWrite:
    def test_written_corpus_matches_stats(self, spark, tmp_path):
        """The materialized corpus is the stats query's final column:
        per-source file counts in the source-partitioned output equal
        n_final, and no benchmark-source or contaminated doc
        survives."""
        from flight_data_pipeline_spark.plans.dedup_queries import (
            CURATION_BENCH_SRC,
            corpus_curation_stats,
            write_curated_corpus,
        )

        out = str(tmp_path / "curated")
        write_curated_corpus(spark, SF_DIR, out)
        got = (spark.read.parquet(out).groupBy("source")
               .agg(F.count("*").alias("n")).collect())
        written = {r.source: r.n for r in got}
        expected = {r.source: r.n_final
                    for r in corpus_curation_stats(spark, SF_DIR).collect()
                    if r.n_final > 0}
        assert written == expected
        assert CURATION_BENCH_SRC not in written


class TestMultimodalResizeAndFrames:
    def test_resize_media_geometry_and_metadata(self, spark):
        from flight_data_pipeline_spark.operators.multimodal import (
            binarize_documents,
            resize_media,
        )

        docs = load_table(spark, "documents", SF_DIR).limit(20)
        out = resize_media(binarize_documents(docs), 8, 4).collect()
        assert len(out) == 20
        for r in out:
            assert len(r.payload) == 8 * 4        # exact target geometry
            assert r.meta.n_bytes == 32           # metadata tracks payload
            assert (r.target_w, r.target_h) == (8, 4)

    def test_real_resize_box_average_exact(self):
        """4×4 → 2×2 with even factors is an EXACT box average; the
        output re-containers as netpbm so it is immediately decodable
        again."""
        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            decode_netpbm, real_resize)

        img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        ppm = b"P6\n4 4\n255\n" + img.tobytes()
        out = real_resize(ppm, "ppm", 2, 2)
        dec = decode_netpbm(out)
        expect = (img.reshape(2, 2, 2, 2, 3).astype(np.uint32)
                  .mean(axis=(1, 3)).round().astype(np.uint8))
        assert dec.shape == (2, 2, 3)
        assert np.array_equal(dec, expect)
        # gray input re-emits P5
        pgm = b"P5\n4 4\n255\n" + bytes(range(16))
        assert real_resize(pgm, "pgm", 2, 2)[:2] == b"P5"

    def test_resize_media_really_resamples_jpeg(self, spark):
        """End-to-end: a 16×16 JPEG resized to 8×8 through the DEFAULT
        resize_media path comes back as a decodable PPM whose pixels
        are the box average of the decoded JPEG — and the resized row
        feeds straight back into extract_features (format metadata
        updated to the new container)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)
        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, decode_netpbm, extract_features, resize_media)

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        jpg = encode_jpeg(img)
        media = spark.createDataFrame(
            [(1, jpg, {"kind": "image", "format": "jpeg",
                       "n_bytes": len(jpg)})], MEDIA_SCHEMA)
        rows = resize_media(media, 8, 8).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.meta.format == "ppm"                 # re-containered
        assert r.meta.n_bytes == len(bytes(r.payload))
        got = decode_netpbm(bytes(r.payload))
        dec = decode_jpeg(jpg)                        # driver-side twin
        expect = (dec.reshape(8, 2, 8, 2, 3).astype(np.uint32)
                  .mean(axis=(1, 3)).round().astype(np.uint8))
        assert np.array_equal(got, expect)
        # resized rows are ordinary media: featurize them directly
        feats = extract_features(
            resize_media(media, 8, 8).drop("target_w", "target_h")
        ).collect()
        assert len(feats) == 1 and abs(sum(feats[0].feature) - 1.0) < 1e-5

    def test_media_quality_image_and_audio(self, spark):
        """media_quality: a flat image has zero contrast and zero
        Laplacian variance while a checkerboard maximizes both; a
        half-clipped square wave reports exact RMS/peak/clipping."""
        import io
        import struct
        import wave

        import numpy as np

        from flight_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA, media_quality)

        flat = np.full((8, 8, 3), 100, dtype=np.uint8)
        checker = (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(
            np.uint8)[:, :, None].repeat(3, axis=2)
        ppm = lambda a: b"P6\n8 8\n255\n" + a.tobytes()

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(struct.pack(
                "<8h", *([32767, -32768] * 2 + [16384, -16384] * 2)))
        wav = buf.getvalue()

        rows = [
            (1, ppm(flat), {"kind": "image", "format": "ppm",
                            "n_bytes": 203}),
            (2, ppm(checker), {"kind": "image", "format": "ppm",
                               "n_bytes": 203}),
            (3, wav, {"kind": "audio", "format": "wav",
                      "n_bytes": len(wav)}),
        ]
        got = {r.media_id: r for r in media_quality(
            spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}

        f = got[1]
        assert (f.width, f.height, f.n_px) == (8, 8, 192)
        assert f.px_sum == 192 * 100 and f.px_sumsq == 192 * 100 * 100
        assert f.px_min == f.px_max == 100
        assert f.laplacian_var == 0.0          # flat ⇒ no edges
        c = got[2]
        assert c.px_min == 0 and c.px_max == 255
        assert c.laplacian_var > 100.0         # checkerboard ⇒ max edges
        a = got[3]
        assert a.n_samples == 8 and a.width is None
        assert abs(a.peak - 1.0) < 1e-4
        assert abs(a.clipping_ratio - 0.5) < 1e-9   # 4 of 8 at full scale
        expect_rms = (sum(s * s for s in
                          [1.0, -1.0, 1.0, -1.0, 0.5, -0.5, 0.5, -0.5])
                      / 8) ** 0.5
        assert abs(a.rms - expect_rms) < 1e-3

    def test_sample_frames_expands_rows_and_strides(self, spark):
        from flight_data_pipeline_spark.operators.multimodal import (
            binarize_documents,
            sample_frames,
        )

        docs = load_table(spark, "documents", SF_DIR).limit(5)
        media = binarize_documents(docs)
        frames = sample_frames(media, every_n=2).collect()
        n_bytes = {r.media_id: r.meta.n_bytes for r in media.collect()}
        by_id = {}
        for r in frames:
            by_id.setdefault(r.media_id, []).append(r)
        assert set(by_id) == set(n_bytes)
        for mid, rows in by_id.items():
            total = -(-n_bytes[mid] // 256)       # ceil: 256-byte frames
            assert rows[0].n_frames_total == total
            assert sorted(r.frame_index for r in rows) == \
                list(range(0, total, 2))          # every 2nd frame kept
        # frame table feeds the image ops unchanged: one more hop
        import pyspark.sql.functions as F
        assert sample_frames(media, every_n=1).where(
            F.col("frame_index") == 0).count() == 5

    def test_sample_frames_rejects_bad_stride(self, spark):
        from flight_data_pipeline_spark.operators.multimodal import (
            binarize_documents,
            sample_frames,
        )

        docs = load_table(spark, "documents", SF_DIR).limit(1)
        with pytest.raises(ValueError, match="every_n"):
            sample_frames(binarize_documents(docs), every_n=0)


class TestRedaction:
    def test_redact_blocklist_token_exact(self, spark):
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.text import redact_blocklist

        df = spark.createDataFrame(
            [("the slow dup duplicate slowly",), ("clean text",)],
            "text string",
        )
        got = [r.red for r in df.select(
            redact_blocklist(F.col("text")).alias("red")).collect()]
        # token-exact: "duplicate"/"slowly" untouched, "slow"/"dup" masked
        assert got == [
            "the [REDACTED] [REDACTED] duplicate slowly",
            "clean text",
        ]

    def test_redaction_preserves_token_count(self, spark):
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.text import redact_blocklist
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, "documents", SF_DIR)
        bad = docs.where(
            F.size(F.split(redact_blocklist(F.col("text")), " "))
            != F.size(F.split(F.col("text"), " "))
        ).count()
        assert bad == 0


class TestCompressionRatio:
    def test_repetitive_compresses_below_diverse(self, spark):
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.text import (
            compression_ratio_col,
        )

        rep = "spam " * 200
        div = " ".join(f"w{i}x{i * 7919 % 104729}" for i in range(200))
        df = spark.createDataFrame([("rep", rep), ("div", div), ("n", None)],
                                   "k string, text string")
        got = {r.k: r.ratio for r in df.select(
            "k", compression_ratio_col(F.col("text")).alias("ratio")
        ).collect()}
        assert got["n"] is None
        assert got["rep"] < 0.1          # template text deflates hard
        assert got["div"] > 2 * got["rep"]

    def test_deterministic_across_runs(self, spark):
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.text import (
            compression_ratio_col,
        )
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, "documents", SF_DIR).limit(50)
        a = sorted(r.ratio for r in docs.select(
            compression_ratio_col(F.col("text")).alias("ratio")).collect())
        b = sorted(r.ratio for r in docs.select(
            compression_ratio_col(F.col("text")).alias("ratio")).collect())
        assert a == b and all(0 < x <= 1.5 for x in a)


class TestLeakageSafeSplit:
    def test_no_cluster_straddles_splits(self, spark):
        """THE invariant the query exists for: every member of a
        near-dup cluster lands in the same split. Recomputed at
        doc level (the checked query only ships the aggregate)."""
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.plans.dedup_queries import (
            _doc_cluster_map,
        )
        from tests.conftest import SF_DIR

        assign = _doc_cluster_map(spark, SF_DIR)
        rep = F.coalesce(F.col("cluster"), F.col("doc_id"))
        bucket = (
            F.conv(F.substring(F.md5(rep.cast("string")), 1, 4), 16, 10)
            .cast("int") % 10
        )
        split = (F.when(bucket < 8, "train")
                 .when(bucket == 8, "val").otherwise("test"))
        assigned = assign.select(rep.alias("rep"), split.alias("split"),
                                 "cluster")
        straddlers = (
            assigned.where(F.col("cluster").isNotNull())
            .groupBy("cluster")
            .agg(F.countDistinct("split").alias("k"))
            .where(F.col("k") > 1)
            .count()
        )
        assert straddlers == 0
        # and all three splits are actually populated at this SF
        n_splits = assigned.select("split").distinct().count()
        assert n_splits == 3


class TestClusterMapMaterialization:
    def test_write_read_round_trip_feeds_consumers(self, spark, tmp_path):
        """The materialize-once story: cluster_assignments written
        partitioned by source, read back, and the survivor decision
        recomputed from the STORED map equals the direct pipeline."""
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.dedup import (
            cluster_assignments,
            dictionary_bitset_masks,
        )
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        docs = load_table(spark, "documents", SF_DIR)
        masks = dictionary_bitset_masks(
            docs, id_col="doc_id", block_col="source", text_col="text")
        direct = cluster_assignments(masks)

        path = str(tmp_path / "cluster_map")
        direct.write.partitionBy("source").parquet(path)
        stored = spark.read.parquet(path)

        want = sorted((r.doc_id, r.cluster) for r in direct.collect())
        got = sorted((r.doc_id, r.cluster) for r in stored.collect())
        assert got == want and len(got) == docs.count()

        def survivors(assign):
            dropped = (F.col("cluster").isNotNull()
                       & (F.col("doc_id") != F.col("cluster")))
            return sorted(
                (r.source, r.n_dropped) for r in assign.groupBy("source")
                .agg(F.sum(dropped.cast("long")).alias("n_dropped"))
                .collect()
            )

        assert survivors(stored) == survivors(direct)
        assert any(n > 0 for _, n in survivors(stored)), \
            "fixture should contain at least one dropped duplicate"


class TestRollingHll:
    def test_hll_rolling_estimate_within_bounds(self, spark):
        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["rolling_distinct_users_hll"](spark, SF_DIR).collect()
        assert len(rows) >= 7
        for r in rows:
            assert r.exact_users_7d > 0
            rel = abs(r.approx_users_7d - r.exact_users_7d) / r.exact_users_7d
            assert rel <= 0.05, (r.day, r.approx_users_7d, r.exact_users_7d)


class TestRound5Queries:
    def test_epoch_shuffle_is_deterministic_and_distinct_per_epoch(self, spark):
        """Two invocations must agree exactly (no RNG anywhere), and
        different epochs must produce different permutations (the
        reshuffle-per-epoch property a trainer relies on)."""
        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from tests.conftest import SF_DIR

        load_all()
        a = QUERIES["deterministic_epoch_shuffle"](spark, SF_DIR).collect()
        b = QUERIES["deterministic_epoch_shuffle"](spark, SF_DIR).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        heads = [r.head10 for r in a]
        checks = [r.order_checksum for r in a]
        assert len(set(heads)) == len(heads)     # every epoch differs
        assert len(set(checks)) == len(checks)
        assert all(r.n_docs == a[0].n_docs for r in a)

    def test_cluster_size_histogram_accounts_every_doc(self, spark):
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["cluster_size_histogram"](spark, SF_DIR).collect()
        n_docs = load_table(spark, "documents", SF_DIR).agg(
            F.count("*").alias("n")).first().n
        assert sum(r.n_docs for r in rows) == n_docs
        assert all(r.n_docs == r.size * r.n_clusters for r in rows)
        assert any(r.size >= 2 for r in rows)  # fixture has dup clusters

    def test_classifier_decisions_are_integer_exact(self, spark):
        """n_positive/n_confident derive from exact integer weight
        sums; recompute one doc's sum in Python and check the sign
        logic is what the aggregate reports."""
        import hashlib

        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        load_all()
        docs = load_table(spark, "documents", SF_DIR)
        sample = docs.orderBy("doc_id").limit(5).collect()

        def w(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) \
                % 2001 - 1000

        by_source = {}
        for r in sample:
            s = sum(w(t) for t in dict.fromkeys(r.text.split(" ")))
            by_source.setdefault(r.source, []).append(s)
        out = {r.source: r for r in
               QUERIES["quality_classifier_scores"](spark, SF_DIR).collect()}
        # spot-check: each sampled doc's sign decision is consistent
        # with its source's n_positive being >= the sampled positives
        for src, sums in by_source.items():
            assert out[src].n_positive >= sum(1 for s in sums if s > 0) - 5
            assert 0.0 <= out[src].avg_score <= 1.0

    def test_bigram_logprob_bounds(self, spark):
        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["bigram_logprob_quality"](spark, SF_DIR).collect()
        assert rows and all(r.avg_logprob <= 0.0 for r in rows)
        assert all(r.worst_logprob <= r.avg_logprob for r in rows)
        assert all(r.n_bigrams > 0 for r in rows)


class TestHammingSignSketch:
    def test_query_vector_first_and_sketch_correlates(self, spark):
        """The pinned query vector must sketch to Hamming distance 0
        of itself (top-1), and the sketch must carry signal: the
        exact-cosine top-10's average Hamming distance must beat the
        corpus average by a wide margin (1-bit LSH collision
        probability is 1 − θ/π, monotone in cosine)."""
        import math

        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from tests.conftest import SF_DIR

        load_all()
        ham = QUERIES["hamming_sign_topk"](spark, SF_DIR).collect()
        assert ham[0].vec_id == 0 and ham[0].hamming == 0
        assert all(r.hamming <= 32 for r in ham)  # top-10 ≪ random (≈32)

        cos_ids = {r.vec_id for r in
                   QUERIES["cosine_topk_bruteforce"](spark, SF_DIR).collect()}
        # rebuild the full hamming table (un-limited) for the audit
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.tables import load_table
        emb = load_table(spark, "embeddings", SF_DIR)
        mask = F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, i) -> acc + "
            "IF(element_at(embedding, i + 1) > 0, shiftleft(1L, i), 0L))")
        m = emb.select("vec_id", mask.alias("mask"))
        q = m.where(F.col("vec_id") == 0).select(F.col("mask").alias("qm"))
        all_ham = {
            r.vec_id: r.h
            for r in m.crossJoin(F.broadcast(q)).select(
                "vec_id",
                F.bit_count(F.col("mask").bitwiseXOR(F.col("qm")))
                .alias("h"))
            .collect()
        }
        mean_all = sum(all_ham.values()) / len(all_ham)
        mean_cos = sum(all_ham[i] for i in cos_ids) / len(cos_ids)
        assert mean_cos < mean_all - 5, (mean_cos, mean_all)


class TestThetaOverlap:
    def test_fixture_estimates_match_exact(self, spark):
        """At fixture cardinality (150 users, under the sketch's exact
        threshold) theta estimates ARE exact — and every pair must
        carry consistent audit columns."""
        from flight_data_pipeline_spark.plans.registry import QUERIES, load_all
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["theta_sketch_audience_overlap"](
            spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r.approx_overlap == r.exact_overlap
            assert r.approx_union == r.exact_union
            assert r.exact_overlap <= r.exact_union

    def test_error_bound_at_estimation_scale(self, spark):
        """Past the exact threshold the sketch estimates: two 30k-user
        audiences overlapping in 10k must come back within 5% relative
        error for both intersection and union."""
        import pyspark.sql.functions as F

        a = spark.range(0, 30_000).select(
            F.lit("a").alias("t"), F.col("id").alias("user_id"))
        b = spark.range(20_000, 50_000).select(
            F.lit("b").alias("t"), F.col("id").alias("user_id"))
        sk = (a.unionByName(b).groupBy("t")
              .agg(F.expr("theta_sketch_agg(user_id)").alias("sk")))
        got = (
            sk.groupBy()
            .agg(
                F.expr("theta_sketch_estimate("
                       "theta_intersection_agg(sk))").alias("inter"),
                F.expr("theta_sketch_estimate("
                       "theta_union_agg(sk))").alias("uni"),
            )
            .first()
        )
        assert abs(got.inter - 10_000) / 10_000 <= 0.05, got.inter
        assert abs(got.uni - 50_000) / 50_000 <= 0.05, got.uni


class TestServingTiers:
    """Round-6 session-2 serving tiers: int8 search, matryoshka
    prefix, and the sketch-then-rerank cascade."""

    def test_int8_topk_agrees_with_exact(self, spark):
        """Max-abs int8 keeps ~0.999 reconstruction cosine (pinned by
        TestInt8Quantization), so the quantized top-10 must overlap
        the exact float top-10 heavily and share its top-1 (the
        query vector itself at similarity 1.0)."""
        registry.load_all()
        q8 = registry.QUERIES["int8_quantized_cosine_topk"](
            spark, SF_DIR).collect()
        exact = registry.QUERIES["cosine_topk_bruteforce"](
            spark, SF_DIR).collect()
        assert q8[0].vec_id == 0 and q8[0].cosine_q8 == 1.0
        overlap = {r.vec_id for r in q8} & {r.vec_id for r in exact}
        assert len(overlap) >= 8, sorted(overlap)
        # integer audit column: self-dot is the squared int8 norm,
        # strictly the largest dot in the list
        assert q8[0].dot_q == max(r.dot_q for r in q8)

    def test_matryoshka_prefix_is_exact_on_its_slice(self, spark):
        """The 16-dim prefix tier must rank the query vector first at
        exactly 1.0 with a properly descending similarity column.
        NOTE the fixture limitation: these are RANDOM embeddings, so
        a 16-dim prefix shares no signal with the full-width ranking
        (prefix-vs-full cosine correlation ~ N(0, 1/16) noise) — the
        recall-vs-full-width property only exists for MRL-trained
        models and is deliberately NOT asserted here; what IS pinned
        is that the tier computes exact cosine on its slice."""
        registry.load_all()
        pre = registry.QUERIES["matryoshka_prefix_topk"](
            spark, SF_DIR).collect()
        assert pre[0].vec_id == 0 and pre[0].cosine_sim == 1.0
        sims = [r.cosine_sim for r in pre]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)

    def test_cascade_recall_vs_exact(self, spark):
        """With a 50-vector shortlist over the 500-vector fixture the
        cascade must recover most of the exact top-10 (sign-sketch
        Hamming correlates with cosine — TestHammingSignSketch — but
        on RANDOM embeddings the correlation is noisy, so one true
        neighbor occasionally escapes a 10% shortlist; perfect recall
        is a trained-embedding property, not asserted). Every id the
        cascade does return must carry the identical exact similarity
        (stage 2 IS exact cosine) and the query vector ranks first."""
        registry.load_all()
        cas = registry.QUERIES["sketch_rerank_cascade"](
            spark, SF_DIR).collect()
        exact = registry.QUERIES["cosine_topk_bruteforce"](
            spark, SF_DIR).collect()
        assert cas[0].vec_id == 0 and cas[0].cosine_sim == 1.0
        overlap = {r.vec_id for r in cas} & {r.vec_id for r in exact}
        assert len(overlap) >= 7, sorted(overlap)
        exact_sim = {r.vec_id: r.cosine_sim for r in exact}
        for r in cas:
            if r.vec_id in exact_sim:
                assert r.cosine_sim == exact_sim[r.vec_id]


class TestSystematicPps:
    def test_pps_sample_properties(self, spark):
        """Systematic PPS invariants on the fixture: (a) pick counts
        land within ±1 of the per-source target except for
        certainty-inclusion overshoot, (b) every document at least
        one stride wide is ALWAYS picked (textbook certainty units),
        (c) the sample is deterministic (two runs, identical
        checksums)."""
        registry.load_all()
        rows = registry.QUERIES["systematic_pps_sample"](
            spark, SF_DIR).collect()
        assert len(rows) == 20
        docs = load_table(spark, "documents", SF_DIR)
        totals = {
            r.source: r.t for r in
            docs.groupBy("source").agg(
                F.sum("n_chars").alias("t")).collect()
        }
        for r in rows:
            stride = max(totals[r.source] // 10, 1)
            n_certain = docs.where(
                (F.col("source") == r.source)
                & (F.col("n_chars") >= stride)).count()
            assert r.n_sampled >= max(n_certain, 1)
            assert r.n_sampled <= 10 + n_certain + 1
        rerun = registry.QUERIES["systematic_pps_sample"](
            spark, SF_DIR).collect()
        assert [tuple(r) for r in rerun] == [tuple(r) for r in rows]

    def test_compaction_bins_respect_target(self, spark):
        """Offset-binned packing: every bin but each source's last
        must hold at least the target (a straddling file tops the
        bin past the boundary), and file counts must reconcile with
        the corpus."""
        registry.load_all()
        rows = registry.QUERIES["compaction_plan_stats"](
            spark, SF_DIR).collect()
        docs_per_source = {
            r.source: r.n for r in
            load_table(spark, "documents", SF_DIR)
            .groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        for r in rows:
            assert r.n_input_files == docs_per_source[r.source]
            assert r.largest_bin_chars >= r.smallest_bin_chars
            if r.n_output_bins > 1:
                # all but the trailing bin must reach the 50k target
                assert r.largest_bin_chars >= 50_000


class TestCurriculumSchedule:
    def test_stage_monotonicity_and_budget_balance(self, spark):
        """Stage 0 must be cleanest (mean stopword density
        non-decreasing across stages within a language) and the
        token-mass split must be balanced: every stage within ±1
        max-doc of a third of its language's tokens."""
        registry.load_all()
        rows = registry.QUERIES["curriculum_schedule"](
            spark, SF_DIR).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        assert len(by_lang) == 5
        max_tok = (load_table(spark, "documents", SF_DIR)
                   .select(F.size(F.split("text", " ")).alias("t"))
                   .agg(F.max("t")).first()[0])
        for lang, rs in by_lang.items():
            rs.sort(key=lambda r: r.stage)
            assert [r.stage for r in rs] == [0, 1, 2]
            means = [r.mean_ratio_pm for r in rs]
            assert means == sorted(means), (lang, means)
            total = sum(r.stage_tokens for r in rs)
            for r in rs:
                assert abs(r.stage_tokens - total / 3) <= max_tok, (
                    lang, r.stage, r.stage_tokens, total)


class TestHistogramQuantileMergeability:
    def test_sharded_partials_merge_to_same_quantiles(self, spark):
        """THE mergeable-sketch property, pinned concretely: build the
        (type, bin) histogram independently on three disjoint shards
        of events, SUM-merge the partials, and the quantiles served
        from the merged histogram must equal the ones served from the
        single-pass histogram — bin counts are the whole state, so a
        streaming maintainer or per-shard map-side partial loses
        nothing."""
        from flight_data_pipeline_spark.operators.sketches import (
            quantiles_from_histogram,
        )

        ev = load_table(spark, "events", SF_DIR).where(
            F.col("value").isNotNull())
        bin_expr = F.expr(
            "least(cast(floor(value * 100 + 0.5) as bigint) div 500, 99L)")

        def hist(df):
            return (df.groupBy("event_type", bin_expr.alias("bin"))
                    .agg(F.count("*").alias("n")))

        direct = hist(ev)
        shards = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
        merged = (
            hist(shards[0]).unionByName(hist(shards[1]))
            .unionByName(hist(shards[2]))
            .groupBy("event_type", "bin").agg(F.sum("n").alias("n"))
        )
        ps = [500, 950, 990]
        a = {(r.event_type, r.permille): (r.n_values, r.est_units)
             for r in quantiles_from_histogram(
                 direct, ["event_type"], 500, ps).collect()}
        b = {(r.event_type, r.permille): (r.n_values, r.est_units)
             for r in quantiles_from_histogram(
                 merged, ["event_type"], 500, ps).collect()}
        assert a == b and len(a) == 15


class TestLindleyBalance:
    def test_closed_form_equals_iterative_recursion(self, spark):
        """The windowed closed form s_i = P_i − min(0, min_k P_k) must
        equal the literal max(0, s+x) fold, checked per-user in
        Python over the raw ledger — the identity the query's
        no-iteration claim rests on."""
        registry.load_all()
        ev = load_table(spark, "events", SF_DIR).where(
            F.col("value").isNotNull())
        rows = ev.select(
            "user_id", "ts", "event_id",
            F.expr("IF(event_type = 'purchase', "
                   "-cast(floor(value * 100 + 0.5) as bigint), "
                   "cast(floor(value * 100 + 0.5) as bigint) div 10)")
            .alias("d")).collect()
        ledger = {}
        for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
            ledger.setdefault(r.user_id, []).append(r.d)
        peaks = {}
        for u, ds in ledger.items():
            s = peak = 0
            for d in ds:
                s = max(0, s + d)
                peak = max(peak, s)
            peaks[u] = peak
        got = {r.user_id: r.peak_balance_c for r in
               registry.QUERIES["points_balance_floor_zero"](
                   spark, SF_DIR).collect()}
        for u, peak in got.items():
            assert peaks[u] == peak, (u, peaks[u], peak)

    def test_transition_matrix_rows_are_distributions(self, spark):
        """Each from_type row of the Markov matrix must be a valid
        permille distribution (sums within rounding of 1000) over
        the five event types."""
        registry.load_all()
        rows = registry.QUERIES["event_transition_matrix"](
            spark, SF_DIR).collect()
        by_from = {}
        for r in rows:
            by_from.setdefault(r.from_type, []).append(r)
        assert len(by_from) == 5
        for ft, rs in by_from.items():
            total_p = sum(r.p_permille for r in rs)
            assert 1000 - len(rs) <= total_p <= 1000, (ft, total_p)


class TestInPlanObservation:
    def test_observe_quality_counts_match_recompute(self, spark):
        """`observe_quality` must report violation counters from the
        SAME job that consumes the frame (one scan — the observation
        is accumulator-backed, not a re-aggregation), and the numbers
        must equal an explicit recompute."""
        from flight_data_pipeline_spark.operators.quality import (
            observe_quality,
        )

        o = load_table(spark, "orders", SF_DIR)
        checks = {
            "price_oob": (F.col("o_totalprice") <= 0)
            | (F.col("o_totalprice") >= 1_000_000),
            "status_bad": ~F.col("o_orderstatus").isin("O", "F", "P"),
        }
        observed, obs = observe_quality(o, "orders_load", checks)
        n_written = observed.count()  # "the job that was running anyway"
        got = obs.get
        assert got["n_rows"] == n_written
        want = o.agg(
            F.count_if(checks["price_oob"]).alias("p"),
            F.count_if(checks["status_bad"]).alias("s")).first()
        assert got["price_oob"] == want.p
        assert got["status_bad"] == want.s


class TestPlantedClusterTierRecall:
    """Recall with TEETH (VERDICT r6 item 5): on the raw synthetic
    fixture every non-self cosine is ≈0, so tier recall numbers there
    are rounding luck, not signal. planted_cluster_embeddings rebuilds
    the embedding column with md5-derived cluster centroids (cluster =
    label) + 15% noise, making same-cluster vectors unambiguously the
    true neighbors — the SIFT/GIST-style fixture discipline. Every
    tier query runs unchanged against the derived sf_dir; all values
    below are deterministic (md5 fixture + round-4-then-rank ties)."""

    TIERS = ("cosine_topk_bruteforce", "int8_quantized_cosine_topk",
             "sketch_rerank_cascade", "matryoshka_prefix_topk",
             "hamming_sign_topk", "ann_lsh_topk")

    @pytest.fixture(scope="class")
    def planted(self, spark, tmp_path_factory):
        from flight_data_pipeline_spark.operators.vectors import (
            planted_cluster_embeddings,
        )

        out = str(tmp_path_factory.mktemp("planted_sf"))
        ids = load_table(spark, "embeddings", SF_DIR).select("vec_id", "label")
        planted_cluster_embeddings(ids).write.parquet(
            out + "/embeddings.parquet")
        labels = {r.vec_id: r.label for r in ids.collect()}
        tops = {n: [r.vec_id for r in registry.QUERIES[n](spark, out).collect()]
                for n in self.TIERS}
        return labels, tops

    def test_exact_top10_is_the_query_cluster(self, planted):
        """The planted structure is real: every exact top-10 neighbor
        shares the query vector's label — recall@10 below therefore
        measures true-neighbor retrieval, not noise ranking."""
        labels, tops = planted
        qlabel = labels[0]
        assert [labels[v] for v in tops["cosine_topk_bruteforce"]] \
            == [qlabel] * 10

    def test_tier_recall_ordering_and_floors(self, planted):
        """Pin the serving-tier quality ladder: exact ≥ int8 ≥ cascade
        ≥ matryoshka-16 (VERDICT r6 item 5). int8 (~0.999
        reconstruction cosine) and the 50-candidate cascade recover
        the full top-10 on clustered data; the 16-dim prefix of a
        NON-MRL-trained embedding genuinely loses neighbor order
        (measured 3/10) — which is the honest reading: prefix tiers
        need matryoshka-trained vectors, and this fixture now shows
        that instead of hiding it behind vacuous random-data recall."""
        _, tops = planted
        exact = set(tops["cosine_topk_bruteforce"])
        r = {n: len(set(tops[n]) & exact) for n in self.TIERS}
        assert len(exact) == 10
        assert r["int8_quantized_cosine_topk"] == 10
        assert r["sketch_rerank_cascade"] >= 9
        assert r["int8_quantized_cosine_topk"] \
            >= r["sketch_rerank_cascade"] \
            >= r["matryoshka_prefix_topk"]
        # untrained-prefix tier: real but lossy — a band, not a zero
        assert 2 <= r["matryoshka_prefix_topk"] <= 8
        # 64-bit sign sketch / 4-bit LSH bucket: coarse tiers sit
        # between random (~0-1 hits) and the full-precision tiers
        assert 3 <= r["hamming_sign_topk"] <= 9
        assert r["ann_lsh_topk"] >= 3


class TestDecileCalibrationApprox:
    def test_approx_decile_agreement_with_exact(self, spark):
        """Quantify the exact-NTILE vs approx-cut-point decile
        boundary disagreement on the fixture (VERDICT r8 #7).
        Measured: 300/500 docs agree exactly and EVERY doc lands
        within ONE decile of its exact rank — the disagreement is
        entirely the boundary-rank convention (NTILE front-loads
        remainder docs; value cuts use the sketch's nearest-rank
        value), which at the fixture's 25 docs/source touches the
        1-2 docs beside each of the 9 boundaries, i.e. O(9/25) of
        rows. The convention-sensitive mass shrinks as 9·(rank error)
        / N — at accuracy 10⁴ and production per-source N it is
        ≤ ~0.2% — so the pins here are the structural claims: never
        off by more than one decile, per-source disagreements bounded
        by 2 docs per boundary, and identical corpus totals (the
        shape test below)."""
        from flight_data_pipeline_spark.plans.text_queries import (
            _lm_rule_scored_docs,
        )
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        per_doc = _lm_rule_scored_docs(spark, SF_DIR)
        exact = per_doc.withColumn(
            "d_exact",
            F.ntile(10).over(
                Window.partitionBy("source").orderBy("doc_ppm", "doc_id")))
        cuts = per_doc.groupBy("source").agg(
            F.percentile_approx(
                "doc_ppm", [i / 10.0 for i in range(1, 10)], 10_000)
            .alias("cuts"))
        both = (
            exact.join(F.broadcast(cuts), "source")
            .withColumn(
                "d_approx",
                F.expr("1 + aggregate(cuts, 0, (acc, c) -> "
                       "acc + CASE WHEN doc_ppm > c THEN 1 ELSE 0 END)"))
        )
        stats = both.agg(
            F.count("*").alias("n"),
            F.sum((F.col("d_exact") == F.col("d_approx")).cast("long"))
            .alias("agree"),
            F.max(F.abs(F.col("d_exact") - F.col("d_approx")))
            .alias("max_off"),
        ).collect()[0]
        assert stats.n > 0
        # every doc within one decile of its exact rank, majority
        # identical even at 2-3 docs/decile
        assert stats.max_off <= 1
        assert stats.agree / stats.n >= 0.5, \
            f"approx decile agreement {stats.agree}/{stats.n}"
        per_src = (
            both.where(F.col("d_exact") != F.col("d_approx"))
            .groupBy("source").count().collect())
        # ≤2 convention-sensitive docs per boundary, 9 boundaries
        assert all(r["count"] <= 18 for r in per_src), per_src

    def test_approx_report_same_shape_and_totals(self, spark):
        """The approx report covers the same docs (per-source decile
        counts sum to the exact query's) with the same schema."""
        exact = registry.QUERIES["quality_score_calibration"](
            spark, SF_DIR)
        approx = registry.QUERIES["quality_score_calibration_approx"](
            spark, SF_DIR)
        assert exact.columns == approx.columns
        import pyspark.sql.functions as F

        te = exact.groupBy("source").agg(
            F.sum("n_docs").alias("n"), F.sum("n_good").alias("g"))
        ta = approx.groupBy("source").agg(
            F.sum("n_docs").alias("n"), F.sum("n_good").alias("g"))
        assert sorted(map(tuple, te.collect())) \
            == sorted(map(tuple, ta.collect()))


class TestKmvOverlap:
    """kmv_overlap_estimate — the hash-checked KMV twin of the theta
    sketch family (construction replayed by the oracle; these tests
    pin estimator ACCURACY, which the hash can't see)."""

    def test_fixture_exact_below_k(self, spark):
        """At sf0.001 each type has 15 users < k=64, so the sketch IS
        the set and every estimate must equal its exact audit column
        (the degenerate-guard path; sf0.01's 150 users/type exercise
        real estimation under the driver's hash gate)."""
        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["kmv_overlap_estimate"](spark, SF_DIR).collect()
        assert len(rows) == 10  # C(5,2) event-type pairs
        for r in rows:
            assert r.n_a < 64 and r.n_b < 64
            assert r.kmv_overlap == r.exact_overlap, r
            assert r.kmv_union == r.exact_union, r

    def test_exact_below_k_and_estimation_above(self, spark, tmp_path):
        """Degenerate guard: audiences smaller than k come back EXACT
        (the sketch is the whole set); well above k the estimates stay
        within 25% on a 3000/1000-overlap synthetic."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)

        load_all()

        def make_events(path, n_a, n_b, overlap):
            a = spark.range(0, n_a).select(
                F.lit("a").alias("event_type"), F.col("id").alias("user_id"))
            b = spark.range(n_a - overlap, n_a - overlap + n_b).select(
                F.lit("b").alias("event_type"), F.col("id").alias("user_id"))
            a.unionByName(b).write.mode("overwrite").parquet(
                str(path / "events.parquet"))
            return str(path)

        small = make_events(tmp_path / "small", 10, 12, 5)
        for r in QUERIES["kmv_overlap_estimate"](spark, small).collect():
            assert r.kmv_overlap == r.exact_overlap == 5
            assert r.kmv_union == r.exact_union == 17

        # k=64 on |A∩B|=1000, |A∪B|=5000: expected common-below-theta
        # count is k·J ≈ 13, 1σ ≈ 28% relative — the bound catches a
        # construction bug (wrong theta / missing distinct blow past
        # 2×), not sketch noise. Union rides (k-1)/θ_U: 1σ ≈ 13%.
        big = make_events(tmp_path / "big", 3000, 3000, 1000)
        for r in QUERIES["kmv_overlap_estimate"](spark, big).collect():
            assert 400 <= r.kmv_overlap <= 2000, r
            assert abs(r.kmv_union - 5000) <= 750, r


class TestPqReconstruction:
    """pq_reconstruction_error — PQ assignment replayed independently
    in numpy from the same md5 construction (the oracle already
    replays it in SQL; this pins the CONSTRUCTION spec itself)."""

    def test_report_shape_and_mean_consistency(self, spark):
        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)
        from tests.conftest import SF_DIR

        load_all()
        rows = QUERIES["pq_reconstruction_error"](spark, SF_DIR).collect()
        assert [r.sub for r in rows] == list(range(8))
        for r in rows:
            assert r.n_vecs == 500
            assert 1 <= r.codes_used <= 16
            assert r.err_mean_milli2 \
                == (2 * r.err_milli2 + r.n_vecs) // (2 * r.n_vecs)

    def test_matches_numpy_brute_force(self, spark):
        import hashlib

        import numpy as np
        import pandas as pd

        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)
        from tests.conftest import SF_DIR

        load_all()

        def h32(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        cb = np.array([[[h32(f"pqc{s}_{c}_{d}") % 2001 - 1000
                         for d in range(1, 9)]
                        for c in range(16)]
                       for s in range(8)], dtype=np.int64)
        emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
        q = np.floor(np.stack(emb["embedding"].to_numpy())
                     .astype(np.float64) * 1000 + 0.5).astype(np.int64)
        vec_ids = emb["vec_id"].to_numpy()
        expect = {}
        for s in range(8):
            sl = q[:, s * 8:(s + 1) * 8]                     # (500, 8)
            d2 = ((sl[:, None, :] - cb[s][None, :, :]) ** 2) \
                .sum(axis=2)                                 # (500, 16)
            code = d2.argmin(axis=1)                         # ties: lowest
            err = d2[np.arange(len(sl)), code]
            expect[s] = (int(err.sum()),
                         int((vec_ids * (code + 1)).sum()),
                         len(np.unique(code)))
        rows = QUERIES["pq_reconstruction_error"](spark, SF_DIR).collect()
        for r in rows:
            e_err, e_chk, e_used = expect[r.sub]
            assert r.err_milli2 == e_err
            assert r.code_checksum == e_chk
            assert r.codes_used == e_used


class TestChunkIntegrity:
    """chunk_integrity_audit — the report recomputed independently in
    pure python (split/stride/md5), and the coverage invariant:
    chunks reassemble to the original token stream."""

    CHUNK, STRIDE = 16, 12

    def _chunks(self, toks):
        n = len(toks)
        starts = range(0, n, self.STRIDE)
        return [toks[s:s + self.CHUNK] for s in starts]

    def test_matches_pure_python(self, spark):
        import hashlib

        import pandas as pd

        from flight_data_pipeline_spark.plans.registry import (
            QUERIES, load_all)
        from tests.conftest import SF_DIR

        load_all()
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        expect = {}
        for src, grp in docs.groupby("source"):
            n_chunks = sum_tok = short = chk = total = 0
            for text in grp["text"]:
                toks = text.split(" ")
                total += len(toks)
                for c in self._chunks(toks):
                    n_chunks += 1
                    sum_tok += len(c)
                    short += len(c) < self.CHUNK
                    chk += int(hashlib.md5(
                        " ".join(c).encode()).hexdigest()[:8], 16)
            expect[src] = (len(grp), n_chunks, sum_tok,
                           sum_tok - total, short, chk)
        rows = QUERIES["chunk_integrity_audit"](spark, SF_DIR).collect()
        assert len(rows) == len(expect)
        for r in rows:
            assert (r.n_docs, r.n_chunks, r.sum_chunk_tokens,
                    r.overlap_tokens, r.short_chunks,
                    r.chunk_text_checksum) == expect[r.source], r.source

    def test_chunks_reassemble_to_document(self):
        """Every token appears; dropping each chunk's first
        (CHUNK - STRIDE) overlap tokens reassembles the doc exactly."""
        import pandas as pd

        from tests.conftest import SF_DIR

        overlap = self.CHUNK - self.STRIDE
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        for text in docs["text"].head(100):
            toks = text.split(" ")
            chunks = self._chunks(toks)
            rebuilt = list(chunks[0])
            for c in chunks[1:]:
                rebuilt.extend(c[overlap:])
            assert rebuilt == toks


class TestRound13AdviceRegressions:
    """Pins for the four r12-advice findings: the arithmetic-scan unit
    bound must admit legal flat images (the format floor is ~1/32767
    bit per QM decision, not ~1/588), the FLAC sample cap must not
    trust the attacker-controlled STREAMINFO total, the interchange
    segment walker must skip T.81 B.1.1.2 fill bytes, and the MP4 mux
    write-half must emit a structurally conforming moov."""

    def test_flat_image_arithmetic_roundtrip_seq_and_prog(self):
        """A flat 3072x3072 image encodes to ~100 bytes but legally
        carries 147k coded units — the r12 8192-units/byte bound
        rejected the repo's own encoder output (advice, high)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive)

        img = np.full((3072, 3072), 128, np.uint8)
        seq = encode_jpeg(img, arithmetic=True)
        assert len(seq) < 1024  # stays a tiny stream
        assert np.array_equal(decode_jpeg(seq)[:, :, 0], img)
        prog = encode_jpeg_progressive(img, arithmetic=True)
        assert np.array_equal(decode_jpeg(prog)[:, :, 0], img)

    def test_arith_unit_bound_still_rejects_dimension_bombs(self):
        """Corrupt SOF dimensions beyond the format's legal
        units-per-byte ceiling still dead-letter."""
        import struct

        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg)

        data = bytearray(encode_jpeg(
            np.full((8, 8), 128, np.uint8), arithmetic=True))
        i = data.index(b"\xff\xc9")  # SOF9
        # declare 65000x65000 (>66e6 units) against ~6 entropy bytes
        struct.pack_into(">HH", data, i + 5, 65000, 65000)
        with pytest.raises(ValueError, match="more coded units"):
            decode_jpeg(bytes(data))

    def test_flac_sample_cap_ignores_crafted_streaminfo_total(self):
        """STREAMINFO total is attacker bytes: declaring 2^36-1 must
        not widen the payload-derived bound (advice, medium). The
        crafted stream dead-letters instead of allocating billions of
        ints; the untouched stream still round-trips."""
        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.flac_codec import (
            decode_flac, encode_flac)

        sig = np.clip((np.sin(np.arange(4000) / 30) * 12000), -32768,
                      32767).astype(np.int32)
        enc = bytearray(encode_flac(sig))
        # STREAMINFO body at offset 8; total = low nibble of body[13]
        # + body[14:18] (after 108 bits of min/max blocksize+frame,
        # rate, channels, bps)
        enc[8 + 13] |= 0x0F
        enc[8 + 14:8 + 18] = b"\xff\xff\xff\xff"
        with pytest.raises(ValueError):
            decode_flac(bytes(enc))

    def test_segment_walker_skips_fill_bytes(self):
        """T.81 B.1.1.2: 0xFF fill bytes may pad any marker — 'FF FF
        C4' is a legal DHT, not marker 0xFF (advice, low)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            _scan_jpeg_segments, encode_jpeg)

        j = encode_jpeg(np.full((16, 16), 10, np.uint8))
        i = j.index(b"\xff\xdb")
        padded = j[:i] + b"\xff\xff\xff" + j[i:]
        segs, scan = _scan_jpeg_segments(padded)
        ref, ref_scan = _scan_jpeg_segments(j)
        assert segs == ref and scan == ref_scan

    def test_mux_moov_is_structurally_conforming(self):
        """mux_mp4_video emits mvhd + tkhd and a spec-sized (86-byte)
        VisualSampleEntry so external parsers see a well-formed moov
        (advice, low); the in-repo demuxer still round-trips."""
        import struct

        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg)
        from flight_data_pipeline_spark.operators.mp4_demux import (
            demux_mp4, mux_mp4_video)

        frames = [encode_jpeg(np.full((16, 16), v, np.uint8))
                  for v in (10, 200)]
        mp4 = mux_mp4_video(frames, timescale=1000, frame_dur=40)
        assert b"mvhd" in mp4 and b"tkhd" in mp4
        # stsd entry: size field (8 header + 78 body) per 14496-12
        i = mp4.index(b"stsd")
        entry_size = struct.unpack_from(">I", mp4, i + 12)[0]
        assert entry_size == 86
        # mvhd duration = n_frames * frame_dur at the movie timescale
        m = mp4.index(b"mvhd")
        ts, dur = struct.unpack_from(">II", mp4, m + 16)
        assert (ts, dur) == (1000, 80)
        samples = list(demux_mp4(mp4))
        assert [s.size for s in samples] == [len(f) for f in frames]
        assert all(s.codec == "jpeg" for s in samples)


class TestHierarchicalJpeg:
    """Hierarchical JPEG (T.81 Annex J, VERDICT r12 item 3): DHP
    pyramids, EXP reference expansion, differential sequential
    (SOF5 Huffman / SOF13 arithmetic) and differential lossless
    (SOF7) frames. Pinned the SOF3/SOF9 way — encoder round-trip
    parity, no hierarchical sample files exist in this container."""

    def test_exp_upsample_follows_J112(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            _exp_upsample)

        p = np.array([[0, 10, 255]], np.int64)
        out = _exp_upsample(p, 1, 0)
        # even samples copy; odd = rounded neighbor mean; edge
        # replicates
        assert out.tolist() == [[0, 5, 10, 133, 255, 255]]
        out = _exp_upsample(np.array([[0], [10]], np.int64), 0, 1)
        assert out.tolist() == [[0], [5], [10], [10]]

    def test_levels1_wrapper_matches_plain_decode(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(3)
        img = np.repeat(np.repeat(
            rng.integers(0, 32, (3, 5), np.int64) * 8 + 4, 8, 0), 8, 1)
        dec = decode_jpeg(encode_jpeg_hierarchical(img, levels=1))
        assert np.array_equal(dec[:, :, 0], img)
        assert np.array_equal(dec, decode_jpeg(encode_jpeg(img)))

    def test_lossless_final_is_bit_exact_gray(self):
        """DCT pyramid + one SOF7 correction frame = bit-exact codec,
        for both entropy coders, across odd geometries and depths."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(7)
        for shape, levels in (((37, 29), 3), ((8, 8), 2), ((65, 9), 4)):
            img = rng.integers(0, 256, shape, np.int64)
            for arith in (False, True):
                data = encode_jpeg_hierarchical(
                    img, levels=levels, arithmetic=arith,
                    lossless_final=True)
                assert np.array_equal(
                    decode_jpeg(data)[:, :, 0], img), (shape, arith)

    def test_12bit_lossless_final(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(11)
        img = rng.integers(0, 4096, (17, 23), np.int64)
        dec = decode_jpeg(encode_jpeg_hierarchical(
            img, levels=2, lossless_final=True, precision=12))
        assert dec.dtype == np.uint16
        assert np.array_equal(dec[:, :, 0], img)

    def test_rgb_pyramid_close_to_plain_sequential(self):
        """3-channel pyramids pass through the lossy YCbCr transform,
        so pin a tolerance vs the plain sequential decode of the same
        image (same transform, same quant): the differential frame
        corrects the EXP interpolation to within DCT rounding."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (24, 16, 3), np.int64)
        hier = decode_jpeg(encode_jpeg_hierarchical(img, levels=2))
        base = decode_jpeg(encode_jpeg(img))
        assert hier.shape == base.shape == (24, 16, 3)
        assert int(np.abs(hier.astype(np.int64)
                          - base.astype(np.int64)).max()) <= 4

    def test_4component_lossless_roundtrip(self):
        """The r12-verdict 'trivial gap': 4-component lossless decodes
        to the raw stored planes (h, w, 4) bit-exactly."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (9, 13, 4), np.int64)
        dec = decode_jpeg(encode_jpeg_lossless(img, predictor=4))
        assert dec.shape == (9, 13, 4)
        assert np.array_equal(dec.astype(np.int64), img)

    def test_seams_and_malformed_dead_letter(self):
        import struct

        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(19)
        img = rng.integers(0, 256, (16, 16), np.int64)
        data = encode_jpeg_hierarchical(img, levels=2)

        # EXP outside a hierarchical stream
        plain = encode_jpeg(np.full((8, 8), 9, np.uint8))
        i = plain.find(b"\xff\xdb")
        with pytest.raises(ValueError, match="EXP"):
            decode_jpeg(plain[:i] + b"\xff\xdf\x00\x03\x11" + plain[i:])
        # differential frame without DHP
        with pytest.raises(ValueError, match="DHP"):
            decode_jpeg(plain.replace(b"\xff\xc0", b"\xff\xc5"))
        # relabeling the sequential first frame as progressive makes
        # its Ss=0/Se=63 scan script malformed (progressive first
        # frames themselves decode since r13)
        with pytest.raises(ValueError, match="DC scan"):
            decode_jpeg(data.replace(b"\xff\xc1", b"\xff\xc2", 1))
        # subsampled LOSSLESS frames stay on the injected seam
        import numpy as _np
        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg_hierarchical as _ejh)
        ll = _ejh(_np.zeros((8, 8), _np.int64), levels=1,
                  first_frame="lossless")
        i = ll.find(b"\xff\xc3")
        # SOF body: len(2) P(1) Y(2) X(2) Nf(1) C1(1) HV(1) — the
        # sampling byte sits at i+11
        sub = ll[:i + 11] + b"\x21" + ll[i + 12:]
        with pytest.raises(NotImplementedError, match="subsampled"):
            decode_jpeg(sub)
        # dimension bomb in the differential frame rejects O(1)
        i = data.find(b"\xff\xc5")
        bomb = bytearray(data)
        struct.pack_into(">HH", bomb, i + 5, 65535, 65535)
        with pytest.raises(ValueError):
            decode_jpeg(bytes(bomb))
        # truncation anywhere dead-letters
        for cut in range(8, len(data) - 1, max(1, len(data) // 25)):
            try:
                decode_jpeg(data[:cut])
            except (ValueError, NotImplementedError):
                pass


class TestArithmeticLosslessJpeg:
    """Arithmetic LOSSLESS JPEG (SOF11, T.81 H.1.2.2 — r13): the QM
    coder under the two-gradient 5x5 conditioning model with two
    magnitude trees. Pinned the SOF3/SOF9 way — encoder round-trip
    parity across predictors, precisions, point transforms, and
    restart intervals (no arithmetic-lossless sample files exist in
    this container)."""

    def test_roundtrip_all_predictors(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(23)
        img = rng.integers(0, 256, (13, 11, 3), np.int64)
        for pred in range(1, 8):
            data = encode_jpeg_lossless(img, predictor=pred,
                                        arithmetic=True)
            assert np.array_equal(
                decode_jpeg(data).astype(np.int64), img), pred

    def test_roundtrip_precisions_and_channels(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(29)
        for prec in (2, 8, 12, 16):
            for nc in (1, 3, 4):
                img = rng.integers(0, 1 << prec, (7, 9, nc), np.int64)
                data = encode_jpeg_lossless(img, precision=prec,
                                            arithmetic=True)
                dec = decode_jpeg(data)
                assert dec.dtype == (np.uint8 if prec <= 8
                                     else np.uint16)
                assert np.array_equal(dec.astype(np.int64), img), (
                    prec, nc)

    def test_restart_intervals_and_point_transform(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        rng = np.random.default_rng(31)
        img = rng.integers(0, 256, (11, 7, 1), np.int64)
        for ri in (1, 5, 23):
            data = encode_jpeg_lossless(img, restart_interval=ri,
                                        arithmetic=True)
            assert np.array_equal(
                decode_jpeg(data).astype(np.int64), img), ri
        imgq = (img >> 3) << 3
        data = encode_jpeg_lossless(imgq, pt=3, arithmetic=True)
        assert np.array_equal(decode_jpeg(data).astype(np.int64), imgq)

    def test_arithmetic_beats_huffman_on_smooth_data(self):
        """The adaptive QM coder must crush the fixed Huffman tables
        on smooth gradients — the reason SOF11 exists."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg_lossless)

        yy, xx = np.mgrid[0:64, 0:64]
        smooth = ((yy + xx) // 2).astype(np.int64)[:, :, None]
        nh = len(encode_jpeg_lossless(smooth))
        na = len(encode_jpeg_lossless(smooth, arithmetic=True))
        assert na * 5 < nh

    def test_extreme_diff_values_roundtrip(self):
        """16-bit planes exercising the +/-32768 wraparound and the
        deepest magnitude-tree walk (X15)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        img = np.array([[0, 65535, 0, 32768],
                        [65535, 0, 32767, 1]], np.int64)[:, :, None]
        data = encode_jpeg_lossless(img, predictor=1, precision=16,
                                    arithmetic=True)
        assert np.array_equal(decode_jpeg(data).astype(np.int64), img)

    def test_sample_bomb_rejects_o1(self):
        """Corrupt SOF dimensions beyond the entropy budget
        dead-letter before allocation (the r12-advice bound class)."""
        import struct

        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_lossless)

        img = np.zeros((4, 4, 1), np.int64)
        data = bytearray(encode_jpeg_lossless(img, arithmetic=True))
        i = bytes(data).find(b"\xff\xcb")
        struct.pack_into(">HH", data, i + 5, 65535, 65535)
        with pytest.raises(ValueError, match="samples"):
            decode_jpeg(bytes(data))


class TestDifferentialProgressiveJpeg:
    """Differential-progressive (SOF6/SOF14) and arithmetic
    differential-lossless (SOF15) hierarchical frames — r13, closing
    the T.81 frame-type matrix for 1x1-sampled pyramids."""

    def test_progressive_matches_sequential_pyramid(self):
        """Same coefficients, different scan scripts: the progressive
        pyramid must decode bit-identically to the sequential pyramid
        of the same source, for both entropy coders."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(37)
        img = rng.integers(0, 256, (33, 21), np.int64)
        for arith in (False, True):
            seq = decode_jpeg(encode_jpeg_hierarchical(
                img, levels=3, arithmetic=arith))
            prog = decode_jpeg(encode_jpeg_hierarchical(
                img, levels=3, arithmetic=arith, progressive=True))
            assert np.array_equal(seq, prog), arith

    def test_progressive_lossless_final_bit_exact(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(41)
        for shape, levels in (((37, 29), 3), ((8, 8), 2), ((65, 9), 4)):
            img = rng.integers(0, 256, shape, np.int64)
            for arith in (False, True):
                data = encode_jpeg_hierarchical(
                    img, levels=levels, arithmetic=arith,
                    progressive=True, lossless_final=True)
                assert np.array_equal(
                    decode_jpeg(data)[:, :, 0], img), (shape, arith)

    def test_sof15_correction_frame_bit_exact(self):
        """SOF15 (QM-coded differential lossless) as the correction
        frame: noise input so every residual is nonzero, plus 12-bit
        and 3-channel-exactness-below-the-transform forms."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(43)
        noise = rng.integers(0, 256, (17, 19), np.int64)
        data = encode_jpeg_hierarchical(
            noise, levels=2, arithmetic=True, lossless_final=True)
        assert b"\xff\xcf" in data
        assert np.array_equal(decode_jpeg(data)[:, :, 0], noise)
        img12 = rng.integers(0, 4096, (9, 9), np.int64)
        data = encode_jpeg_hierarchical(
            img12, levels=2, arithmetic=True, progressive=True,
            lossless_final=True, precision=12)
        dec = decode_jpeg(data)
        assert dec.dtype == np.uint16
        assert np.array_equal(dec[:, :, 0], img12)

    def test_rgb_progressive_pyramid(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(47)
        img = rng.integers(0, 256, (16, 16, 3), np.int64)
        seq = decode_jpeg(encode_jpeg_hierarchical(img, levels=2))
        prog = decode_jpeg(encode_jpeg_hierarchical(
            img, levels=2, progressive=True))
        assert np.array_equal(seq, prog)

    def test_truncation_dead_letters(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(53)
        img = rng.integers(0, 256, (16, 16), np.int64)
        data = encode_jpeg_hierarchical(
            img, levels=2, arithmetic=True, progressive=True,
            lossless_final=True)
        for cut in range(8, len(data) - 1, max(1, len(data) // 25)):
            try:
                decode_jpeg(data[:cut])
            except (ValueError, NotImplementedError):
                pass


class TestHierarchicalFirstFrames:
    """Non-differential progressive/lossless FIRST frames inside a
    DHP pyramid (r13): the pyramid base may be any non-differential
    process; a lossless base is exact, so lossless base + DCT
    differentials + lossless final round-trips bit-exactly."""

    def test_progressive_first_matches_sequential_first(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(59)
        img = rng.integers(0, 256, (33, 21), np.int64)
        for arith in (False, True):
            seq = decode_jpeg(encode_jpeg_hierarchical(
                img, levels=3, arithmetic=arith))
            prog = decode_jpeg(encode_jpeg_hierarchical(
                img, levels=3, arithmetic=arith,
                first_frame="progressive"))
            assert np.array_equal(seq, prog), arith

    def test_lossless_first_plus_lossless_final_bit_exact(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(61)
        noise = rng.integers(0, 256, (17, 19), np.int64)
        for arith in (False, True):
            data = encode_jpeg_hierarchical(
                noise, levels=3, first_frame="lossless",
                arithmetic=arith, lossless_final=True)
            assert np.array_equal(
                decode_jpeg(data)[:, :, 0], noise), arith

    def test_lossless_first_levels1_is_exact(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(67)
        img = rng.integers(0, 4096, (9, 13), np.int64)
        for arith in (False, True):
            data = encode_jpeg_hierarchical(
                img, levels=1, first_frame="lossless",
                arithmetic=arith, precision=12)
            dec = decode_jpeg(data)
            assert dec.dtype == np.uint16
            assert np.array_equal(dec[:, :, 0], img), arith


class TestSubsampledHierarchical:
    """Subsampled (4:2:0) and 4-component hierarchical pyramids
    (r13): per-component references at component resolution, EXP
    doubling every component, final repeat-upsample + shared color
    assembly."""

    def test_420_pyramid_tracks_sequential_420(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(71)
        img = rng.integers(0, 256, (24, 18, 3), np.int64)
        base = decode_jpeg(
            encode_jpeg(img, subsample=True)).astype(np.int64)
        for arith in (False, True):
            for prog in (False, True):
                out = decode_jpeg(encode_jpeg_hierarchical(
                    img, levels=2, subsample=True, arithmetic=arith,
                    progressive=prog)).astype(np.int64)
                assert out.shape == (24, 18, 3)
                assert int(np.abs(out - base).max()) <= 6, (
                    arith, prog)

    def test_420_odd_geometry_and_depth(self):
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(73)
        img = rng.integers(0, 256, (21, 13, 3), np.int64)
        out = decode_jpeg(encode_jpeg_hierarchical(
            img, levels=3, subsample=True,
            first_frame="progressive"))
        assert out.shape == (21, 13, 3)

    def test_4component_lossless_final_exact(self):
        """Raw 4-plane pyramid + lossless final: the decoded output
        must equal the sequential CMYK conversion of the ORIGINAL
        planes — both without APP14 (ink inversion) and with the
        Adobe transform-0 tag (direct storage)."""
        import numpy as np

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(79)
        p4 = rng.integers(0, 256, (11, 9, 4), np.int64)
        f = p4.astype(np.float64)

        data = encode_jpeg_hierarchical(p4, levels=2,
                                        lossless_final=True)
        exp = np.clip(np.round(
            (255 - f[:, :, :3]) * (255 - f[:, :, 3:4]) / 255), 0, 255)
        assert np.array_equal(decode_jpeg(data).astype(np.float64),
                              exp)

        data = encode_jpeg_hierarchical(
            p4, levels=2, lossless_final=True, arithmetic=True,
            adobe_transform=0)
        exp = np.clip(np.round(
            f[:, :, :3] * f[:, :, 3:4] / 255), 0, 255)
        assert np.array_equal(decode_jpeg(data).astype(np.float64),
                              exp)

    def test_guards(self):
        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            encode_jpeg_hierarchical)

        img = np.zeros((8, 8, 3), np.int64)
        with pytest.raises(ValueError, match="lossless"):
            encode_jpeg_hierarchical(img, subsample=True,
                                     lossless_final=True)
        with pytest.raises(ValueError, match="3-channel"):
            encode_jpeg_hierarchical(np.zeros((8, 8), np.int64),
                                     subsample=True)

    def test_changing_factors_between_frames_rejected(self):
        import numpy as np
        import pytest

        from flight_data_pipeline_spark.operators.jpeg_codec import (
            decode_jpeg, encode_jpeg_hierarchical)

        rng = np.random.default_rng(83)
        img = rng.integers(0, 256, (16, 16, 3), np.int64)
        data = encode_jpeg_hierarchical(img, levels=2,
                                        subsample=True)
        # flip the luma sampling nibble of the SECOND frame (the
        # differential SOF5) from 0x22 to 0x11
        i = data.find(b"\xff\xc5")
        assert i > 0 and data[i + 11] == 0x22
        bad = data[:i + 11] + b"\x11" + data[i + 12:]
        with pytest.raises(ValueError, match="sampling factors"):
            decode_jpeg(bad)
