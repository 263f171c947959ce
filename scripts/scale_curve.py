#!/usr/bin/env python
"""Scale-curve harness for the heavy dedup family (VERDICT r4 item 6).

Builds locally-derived corpora at 1x/2x/4x/8x the sf0.1 documents
table and times the six heaviest dedup queries at each point, fitting
the scaling exponent (slope of log-time vs log-scale). Near-linear
(< ~1.3) substantiates the 100x claims the operator docstrings make;
anything super-linear names its offending stage.

Corpus construction mirrors how a real corpus grows — by adding
sources/shards, not by re-reading the same bytes: replica k rewrites
``doc_id += k * 10**9``, ``source || '#rk'`` (so dedup blocks stay
fixture-shaped and block COUNT scales), and appends a replica token to
``text`` (so no cross-replica exact dup collapses later stages;
per-block vocab grows 31 -> 32, inside the 64-token bitset cap).

Usage: python scripts/scale_curve.py [--update-scale-md]
Writes one JSON line; with the flag, also rewrites the block between
the SCALECURVE markers in SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAVY = [
    "near_dup_jaccard_pairs",
    "near_dup_jaccard_pairs_bitset",  # bounded-vocab tier, same output
    "near_dup_clusters",
    "corpus_curation_stats",
    "leakage_safe_split",
    "dedup_keep_best",
    "cross_source_contamination",
    "curated_training_mix",  # the full flagship composition
]
SCALES = [1, 2, 4, 8]
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The deep tail (VERDICT r7 #8): the two heaviest dedup rows pushed a
# decade further — 16x/32x (160k docs / 1024 source blocks at sf0.1
# base) — to find where (or whether) the 1x-8x sub-linearity breaks.
DEEP_HEAVY = [
    "near_dup_jaccard_pairs",   # prefix-filtered posting join + verify
    "curated_training_mix",     # the full flagship composition
]
DEEP_SCALES = [1, 2, 4, 8, 16, 32]

# The interval-join / window family over events: growth = MORE USERS
# (disjoint id spaces per replica), so per-user fan-out — session
# length, 24 h lookback width — stays fixture-shaped and total work
# must scale with the user population, exactly like production.
EVENTS_HEAVY = [
    "multi_touch_attribution",
    "views_before_purchase_1h",
    "user_sessions",
    "conversion_funnel",
]

# The TPC-H join suite (r5 bulk-add): growth = MORE ORDERS over the
# SAME dimension population (orders/lineitem replicate with shifted
# order keys; customer/supplier/part/nation/region stay fixture-sized)
# — the canonical fact-grows-dims-don't warehouse shape, which is
# exactly what the broadcast-dim/shuffle-fact plan claims assume.
TPCH_HEAVY = [
    "profit_by_nation_year",
    "market_share_by_year",
    "bilateral_trade_volume",
    "min_cost_regional_supplier",
    "returned_item_revenue_topk",
]

# The sketch family: the whole point of the sketch tier is state and
# shuffle INDEPENDENT of vocabulary/corpus composition — time should
# track the scan (near-linear), with summary-sized merges on top.
SKETCH_HEAVY = [
    "distinct_token_sketches",
    "count_min_token_estimates",
    "frequent_tokens_sketch",
    "bloom_prefilter_decontamination",
]

# The vector-similarity serving tiers (r6s2): growth = MORE VECTORS
# (disjoint id spaces, first component nudged per replica so replicas
# aren't bit-identical). Every tier here is a single scan + top-k —
# time must track the corpus linearly with tier-proportional
# constants (float 256 B/vec > int8 64 B > sign sketch 8 B scanned).
# label_medoids is deliberately EXCLUDED: its per-group cost is
# O(k²·d) and group size grows with the corpus here, so it would be
# honestly quadratic — the docstring already routes mega-groups to
# the centroid+shortlist path instead.
VEC_HEAVY = [
    "cosine_topk_bruteforce",
    "int8_quantized_cosine_topk",
    "hamming_sign_topk",
    "sketch_rerank_cascade",
    "label_centroids",
    "kmeans_assignment_round",  # r7: K×corpus broadcast Lloyd fold
]

# The window-cumsum family (r6s2): one partitioned window sort per
# group each — PPS sampling, compaction planning, and the curriculum
# cut all ride the same shape, so their cost must track the sort of
# each group's rows (documents replication grows SOURCES, keeping
# per-partition sort size fixture-shaped — the production layout).
CUMSUM_HEAVY = [
    "systematic_pps_sample",
    "compaction_plan_stats",
    "curriculum_schedule",
]

# The graph family (r6s4): growth = MORE ORDERS over the SAME part
# catalog (the TPC-H replication), so the co-purchase graph gets
# DENSER — node count is fixed, edge count grows toward saturation.
# That is the honest production shape ("more transactions, same
# catalog") and it stresses exactly what each algorithm claims:
# PageRank is per-round linear in edges (broadcast state, no loop
# shuffle of the edge side), BFS frontiers are bounded by basket
# width, and the triangle wedge join grows with Sum(outdeg^2) — the
# degree-ordered orientation's documented super-linear-but-bounded
# regime, reported as measured.
GRAPH_HEAVY = [
    "copurchase_pagerank",
    "copurchase_graph_levels",
    "copurchase_triangles",
    "copurchase_label_communities",  # r7: count+argmax rounds
    "copurchase_shortest_paths",     # r7: min-plus relax rounds
]

# The integer-moment stats family (r6s3/s4): scaling, OLS, CUSUM,
# sweep-line concurrency, sliding distinct. Growth = MORE USERS (the
# events replication). Every member collapses the scan to a grain
# (daily / type / day-user) before any window, so time must track the
# scan; the sweep-line and sliding-distinct shuffles carry 2x and 7x
# the GRAIN rows respectively, not the event rows.
# The retrieval family (r6s4): BM25 posting lists, the two-leg RRF
# fusion (lexical + dense — needs BOTH documents and embeddings
# replicated in lockstep so doc_id↔vec_id alignment survives), and
# the two hash-proven signature constructions. Growth = more docs
# AND more vectors (disjoint ids). BM25/signatures ride explode →
# partial-agg shapes (near-linear in corpus tokens); RRF adds the
# dense brute-force leg (linear in vectors) and a candidate-sized
# fusion join.
RETRIEVAL_HEAVY = [
    "bm25_doc_topk",
    "hybrid_retrieval_rrf",
    "minhash_md5_signatures",
    "simhash_md5_fingerprints",
    "tfidf_top_term_per_doc",
]


def build_retrieval_corpus(scale: int, out_dir: str) -> None:
    """documents + embeddings replicated in lockstep (same id
    offsets), so the RRF doc_id = vec_id join stays 1:1 at every
    scale."""
    build_corpus(scale, out_dir)
    build_vectors_corpus(scale, out_dir)


STATS_HEAVY = [
    "max_concurrent_sessions",
    "group_feature_scaling",
    "group_ols_trend",
    "value_cusum_changepoint",
    "sliding_7d_distinct_users",
]

# The round-7 corpus-model family: sampling + in-plan model training/
# scoring over documents (the dedup replication: growth = MORE
# SOURCES). reservoir = one per-source top-k (scan-tracking); the
# bigram LM trains on the FIXED src0 slice while eval grows (model
# constant, scoring join linear in eval bigrams); NB trains on even
# doc_ids, which replicate too — both model build and scoring scale
# with the corpus, the honest retrain-as-you-grow shape.
ML_HEAVY = [
    "reservoir_sample_bottomk",
    "bigram_lm_quality_score",
    "naive_bayes_lang_accuracy",
]

BEGIN = "<!-- SCALECURVE:BEGIN (generated by scripts/scale_curve.py) -->"
END = "<!-- SCALECURVE:END -->"
EBEGIN = "<!-- SCALECURVE-EVENTS:BEGIN (generated by scripts/scale_curve.py) -->"
EEND = "<!-- SCALECURVE-EVENTS:END -->"
TBEGIN = "<!-- SCALECURVE-TPCH:BEGIN (generated by scripts/scale_curve.py) -->"
TEND = "<!-- SCALECURVE-TPCH:END -->"
SBEGIN = "<!-- SCALECURVE-SKETCH:BEGIN (generated by scripts/scale_curve.py) -->"
SEND = "<!-- SCALECURVE-SKETCH:END -->"
VBEGIN = "<!-- SCALECURVE-VECTORS:BEGIN (generated by scripts/scale_curve.py) -->"
VEND = "<!-- SCALECURVE-VECTORS:END -->"
CBEGIN = "<!-- SCALECURVE-CUMSUM:BEGIN (generated by scripts/scale_curve.py) -->"
CEND = "<!-- SCALECURVE-CUMSUM:END -->"
GBEGIN = "<!-- SCALECURVE-GRAPH:BEGIN (generated by scripts/scale_curve.py) -->"
GEND = "<!-- SCALECURVE-GRAPH:END -->"
STBEGIN = "<!-- SCALECURVE-STATS:BEGIN (generated by scripts/scale_curve.py) -->"
STEND = "<!-- SCALECURVE-STATS:END -->"
RBEGIN = "<!-- SCALECURVE-RETRIEVAL:BEGIN (generated by scripts/scale_curve.py) -->"
REND = "<!-- SCALECURVE-RETRIEVAL:END -->"
DCBEGIN = "<!-- SCALECURVE-DECON:BEGIN (generated by scripts/scale_curve.py) -->"
DCEND = "<!-- SCALECURVE-DECON:END -->"
MBEGIN = "<!-- SCALECURVE-MEDIA:BEGIN (generated by scripts/scale_curve.py) -->"
MEND = "<!-- SCALECURVE-MEDIA:END -->"


def build_corpus(scale: int, out_dir: str) -> None:
    """documents.parquet at ``scale`` x via per-replica source shards."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    replicas = " UNION ALL ".join(
        f"""
        SELECT doc_id + {k}::BIGINT * 1000000000 AS doc_id,
               {"text" if k == 0 else f"text || ' zrep{k}'"} AS text,
               lang,
               {"source" if k == 0 else f"source || '#r{k}'"} AS source,
               {"n_chars" if k == 0 else f"n_chars + {len(f' zrep{k}')}"}
                   AS n_chars
        FROM src
        """
        for k in range(scale)
    )
    duckdb.sql(
        f"""
        CREATE OR REPLACE VIEW src AS
        SELECT * FROM '{SRC}/documents.parquet';
        COPY ({replicas})
        TO '{out_dir}/documents.parquet' (FORMAT PARQUET);
        """
    )


def build_events_corpus(scale: int, out_dir: str) -> None:
    """events.parquet at ``scale`` x: replica k shifts event_id and
    user_id into disjoint ranges (new users, same behavior), keeping
    timestamps untouched so window widths and join selectivity per
    user match the fixture."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    replicas = " UNION ALL ".join(
        f"""
        SELECT event_id + {k}::BIGINT * 1000000000 AS event_id,
               ts,
               user_id + {k}::BIGINT * 1000000 AS user_id,
               event_type, value, props
        FROM esrc
        """
        for k in range(scale)
    )
    duckdb.sql(
        f"""
        CREATE OR REPLACE VIEW esrc AS
        SELECT * FROM '{SRC}/events.parquet';
        COPY ({replicas})
        TO '{out_dir}/events.parquet' (FORMAT PARQUET);
        """
    )


def build_tpch_corpus(scale: int, out_dir: str) -> None:
    """orders/lineitem at ``scale`` x with fixture-sized dims: replica
    k shifts the order-key space (same customers order k x more; line
    items follow their orders; part/supplier references untouched, so
    dim-join selectivity and broadcast sizes stay fixture-shaped).
    Dim tables are symlinked from the fixture — identical bytes."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    o_reps = " UNION ALL ".join(
        f"""
        SELECT o_orderkey + {k}::BIGINT * 1000000000 AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM osrc
        """
        for k in range(scale)
    )
    l_reps = " UNION ALL ".join(
        f"""
        SELECT l_orderkey + {k}::BIGINT * 1000000000 AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM lsrc
        """
        for k in range(scale)
    )
    duckdb.sql(
        f"""
        CREATE OR REPLACE VIEW osrc AS
        SELECT * FROM '{SRC}/orders.parquet';
        CREATE OR REPLACE VIEW lsrc AS
        SELECT * FROM '{SRC}/lineitem.parquet';
        COPY ({o_reps}) TO '{out_dir}/orders.parquet' (FORMAT PARQUET);
        COPY ({l_reps}) TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET);
        """
    )
    for dim in ("customer", "supplier", "part", "nation", "region"):
        dst = os.path.join(out_dir, f"{dim}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{dim}.parquet"), dst)


def build_vectors_corpus(scale: int, out_dir: str) -> None:
    """embeddings.parquet at ``scale`` x: replica k shifts vec_id into
    a disjoint range and nudges the first component by k·0.001 so
    replicas are distinct vectors (no degenerate similarity ties);
    labels untouched, so label-group SIZE grows with the corpus."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    replicas = " UNION ALL ".join(
        f"""
        SELECT vec_id + {k}::BIGINT * 1000000000 AS vec_id,
               CAST(list_concat(
                   [embedding[1] + CAST({k} * 0.001 AS FLOAT)],
                   embedding[2:]) AS FLOAT[]) AS embedding,
               label
        FROM vsrc
        """
        for k in range(scale)
    )
    duckdb.sql(
        f"""
        CREATE OR REPLACE VIEW vsrc AS
        SELECT * FROM '{SRC}/embeddings.parquet';
        COPY ({replicas}) TO '{out_dir}/embeddings.parquet'
            (FORMAT PARQUET);
        """
    )


# The broadcast fan-out family (VERDICT r8 #6): the decontamination
# audit broadcasts the FIXED eval carve (vec_id % 17 == 0 of the base
# fixture) and fans each train row out against it map-side with a
# partial-MAX before the per-label shuffle. Growth = MORE TRAIN
# VECTORS ONLY: replica k > 0 drops the ids that would land in the
# eval carve, so |eval| is constant at every scale and the claim
# under test is precisely "linear in train, shuffle flat" — time
# tracks |train|×|eval| map work, shuffle bytes track the per-label
# summary, not the fan-out.
DECON_HEAVY = ["embedding_decontamination_audit"]


def build_decon_corpus(scale: int, out_dir: str) -> None:
    """embeddings.parquet with train-side-only growth: replica 0 is
    the fixture verbatim (eval carve intact); replicas k > 0 shift
    vec_id into disjoint ranges, nudge the first component, and
    EXCLUDE ids ≡ 0 (mod 17) so they contribute zero eval rows."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    parts = ["SELECT vec_id, embedding, label FROM dsrc"]
    parts += [
        f"""
        SELECT vec_id + {k}::BIGINT * 1000000000 AS vec_id,
               CAST(list_concat(
                   [embedding[1] + CAST({k} * 0.001 AS FLOAT)],
                   embedding[2:]) AS FLOAT[]) AS embedding,
               label
        FROM dsrc
        WHERE (vec_id + {k}::BIGINT * 1000000000) % 17 <> 0
        """
        for k in range(1, scale)
    ]
    replicas = " UNION ALL ".join(parts)
    duckdb.sql(
        f"""
        CREATE OR REPLACE VIEW dsrc AS
        SELECT * FROM '{SRC}/embeddings.parquet';
        COPY ({replicas}) TO '{out_dir}/embeddings.parquet'
            (FORMAT PARQUET);
        """
    )


# The media tier (VERDICT r9 item 8): tar-shard untar → media adapt →
# real decode → featurize, end to end. Growth = MORE SHARDS (the
# WebDataset landing-zone shape: a corpus grows by landing shards, and
# the shard is the unit of parallelism). Every stage is map-side
# (binaryFile scan → mapInPandas untar → mapInPandas decode/featurize)
# so the claim under test is time ≈ linear in shard count with ZERO
# shuffle growth — the whole family's 100 TB story in one measured row.
#
# Two measurement-validity choices (both learned from first cuts):
# - 1x must already saturate local[32] (64 shards = 2 task waves):
#   with fewer-than-cores shards the early scales ride idle
#   parallelism and the exponent measures machine fill-up, not the
#   algorithm (measured 0.66 with an 8-shard base);
# - per-shard DECODE work must dominate task overhead, or the curve
#   measures the scheduler (measured exponent 0.20 with ~20 ms
#   shards). Real corpora are JPEG-dominated, and the pure-python
#   codec makes JPEG the expensive tier (~44 ms per 128x128), so
#   shards carry 8 JPEGs (~0.35 s decode each) drawn from a
#   32-image pool encoded once, plus PPM/WAV/caption variety.
MEDIA_BASE_SHARDS = 64         # shards at 1x = 2 waves on 32 cores
MEDIA_JPG_POOL = 32            # distinct 128x128 noise JPEGs, enc once
MEDIA_JPG_PER_SHARD = 8        # ~0.35 s decode per shard
MEDIA_PPM_PER_SHARD = 2        # 128x128 RGB netpbm (~48 KiB each)
MEDIA_WAV_PER_SHARD = 2        # 16-bit mono PCM, 16k samples
MEDIA_TXT_PER_SHARD = 2        # caption blobs (byte-histogram path)


_MEDIA_JPG_CACHE: list = []


def _media_jpg_pool() -> list:
    """The shared JPEG pool, encoded once per process (pure-python
    encode is as expensive as decode — re-encoding per shard would
    make corpus GENERATION the bottleneck of the harness)."""
    import numpy as np

    from flight_data_pipeline_spark.operators.jpeg_codec import (
        QUANT_STD_LUM, encode_jpeg)

    if not _MEDIA_JPG_CACHE:
        for i in range(MEDIA_JPG_POOL):
            rng = np.random.default_rng(1000 + i)
            img = rng.integers(0, 256, (128, 128, 3), dtype=np.uint8)
            _MEDIA_JPG_CACHE.append(encode_jpeg(img, quant=QUANT_STD_LUM))
    return _MEDIA_JPG_CACHE


def build_media_corpus(scale: int, out_dir: str) -> None:
    """``MEDIA_BASE_SHARDS * scale`` tar shards of decodable media:
    JPEGs drawn from the shared pool (the expensive decode tier that
    dominates real corpora), PPM images, PCM WAVs and caption blobs —
    deterministic per-shard seeds, so every scale's shard k is
    byte-identical across runs."""
    import io
    import tarfile
    import wave

    import numpy as np

    os.makedirs(out_dir, exist_ok=True)
    pool = _media_jpg_pool()

    for k in range(MEDIA_BASE_SHARDS * scale):
        rng = np.random.default_rng(k)  # shard k identical at every scale
        dst = os.path.join(out_dir, f"shard-{k:05d}.tar")
        if os.path.exists(dst):
            continue
        with tarfile.open(dst, "w") as tf:
            def add(name: str, data: bytes) -> None:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))

            for i, j in enumerate(rng.choice(
                    MEDIA_JPG_POOL, MEDIA_JPG_PER_SHARD, replace=False)):
                add(f"s{k:05d}-jpg{i:03d}.jpeg", pool[j])
            for i in range(MEDIA_PPM_PER_SHARD):
                img = rng.integers(0, 256, (128, 128, 3), dtype=np.uint8)
                add(f"s{k:05d}-{i:03d}.ppm",
                    b"P6\n128 128\n255\n" + img.tobytes())
            for i in range(MEDIA_WAV_PER_SHARD):
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(16000)
                    wf.writeframes(rng.integers(
                        -32768, 32768, 16000, dtype=np.int16).tobytes())
                add(f"s{k:05d}-wav{i:03d}.wav", buf.getvalue())
            for i in range(MEDIA_TXT_PER_SHARD):
                add(f"s{k:05d}-cap{i:03d}.txt",
                    rng.bytes(400))


WBEGIN = "<!-- SCALECURVE-WARC:BEGIN (generated by scripts/scale_curve.py) -->"
WEND = "<!-- SCALECURVE-WARC:END -->"

WARC_BASE_FILES = 48          # files at 1x (file = unit of parallelism)
WARC_RECS_PER_FILE = 24       # response records per file
WARC_PARAS_PER_DOC = 70       # content paragraphs per HTML document


def build_warc_corpus(scale: int, out_dir: str) -> None:
    """``WARC_BASE_FILES * scale`` .warc.gz files (the Common Crawl
    growth axis: a crawl grows by landing segment files), each with
    ``WARC_RECS_PER_FILE`` HTTP response records of deterministic
    HTML — a nav-link boilerplate block plus ~24 KB of content
    paragraphs — rotating through the plain/chunked/gzip
    content-encoding shapes so the HTTP decode paths all run."""
    from flight_data_pipeline_spark.sources.warc_source import (
        build_http_response, write_warc)

    os.makedirs(out_dir, exist_ok=True)
    for k in range(WARC_BASE_FILES * scale):
        recs = []
        for i in range(WARC_RECS_PER_FILE):
            seed = f"{k}|{i}"
            nav = ("<div>" + "".join(
                f"<a href='/n{j}'>nav {j}</a> " for j in range(15))
                + "</div>")
            paras = "".join(
                f"<p>paragraph {j} of document {seed} carries token"
                + "".join(f" w{(j * 31 + t * 7 + i) % 997}"
                          for t in range(40))
                + ".</p>"
                for j in range(WARC_PARAS_PER_DOC))
            html = ("<html><head><title>d</title><script>var x=1;"
                    "</script></head><body>" + nav + paras
                    + "</body></html>").encode()
            recs.append({
                "block": build_http_response(
                    html, chunked=(i % 3 == 0),
                    gzip_body=(i % 3 == 1)),
                "target_uri": f"http://example.com/{seed}",
            })
        with open(os.path.join(out_dir, f"part-{k:05d}.warc.gz"),
                  "wb") as f:
            f.write(write_warc(recs))


def shuffle_write_bytes(spark) -> int:
    """Total shuffle WRITE bytes across the executed stages the UI
    still retains (diff two readings around a run to get that run's
    shuffle volume)."""
    from perfbench.counters import RestReader, job_counters

    jobs, stages, _ = RestReader(spark.sparkContext).snapshot()
    return int(sum(c.sums["shuffle_write_bytes"]
                   for c in job_counters(jobs, stages).values()))


def fit_exponent(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of log(t) over log(s)."""
    xs = [math.log(s) for s, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    from flight_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="fdps-scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        return time.time() - t0

    def measure(names: list[str], build, root: str,
                scales: list[int] = SCALES) -> dict:
        dirs = {}
        for s in scales:
            d = os.path.join(root, f"x{s}")
            build(s, d)
            dirs[s] = d
        # warmup: full 1x pass pays codegen once
        for name in names:
            run(name, dirs[1])
        timings: dict[str, dict[int, float]] = {q: {} for q in names}
        for s in scales:  # scale-major: adjacent runs share the corpus
            # touch THIS scale's corpus before timing: without it the
            # first query at each scale pays the whole corpus's parquet
            # first-touch IO and reads as a fake super-linear point
            # (measured: pagerank@8x 84.7 s cold vs ~16 s warm — the
            # other queries at the same scale were already 3-5x lower)
            for t in os.listdir(dirs[s]):
                spark.read.parquet(os.path.join(dirs[s], t)) \
                    .write.format("noop").mode("overwrite").save()
            # best-of-N (SPARK_GRAFT_CURVE_RUNS, default 1): on a
            # degraded shared-host window the 8x block shows random
            # multi-10s stalls landing on DIFFERENT queries per pass
            # (measured back-to-back: triangles@8x 3.5 s then 39.3 s,
            # pagerank@8x 84.7 then 35.4) — the min is the plan cost
            nruns = max(1, int(os.environ.get(
                "SPARK_GRAFT_CURVE_RUNS", "1")))
            for name in names:
                timings[name][s] = round(
                    min(run(name, dirs[s]) for _ in range(nruns)), 3)
        return {
            "sf_dir": SRC,
            "scales": scales,
            "queries": {
                name: {
                    "sec": {str(s): timings[name][s] for s in scales},
                    "exponent": round(
                        fit_exponent(
                            [(s, timings[name][s]) for s in scales]), 3),
                    # tail slope (2x->max) discounts fixed per-query
                    # overhead
                    "exponent_tail": round(
                        fit_exponent(
                            [(s, timings[name][s]) for s in scales[1:]]), 3),
                }
                for name in names
            },
        }

    fams = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--family=")]
    fams = fams[0].split(",") if fams else ["docs", "events", "tpch"]

    root = tempfile.mkdtemp(prefix="fdp_scale_")
    out: dict = {}
    result = events_result = tpch_result = None
    if "docs" in fams:
        out["documents"] = result = measure(
            HEAVY, build_corpus, os.path.join(root, "docs"))
    if "events" in fams:
        out["events"] = events_result = measure(
            EVENTS_HEAVY, build_events_corpus, os.path.join(root, "events"))
    if "tpch" in fams:
        out["tpch"] = tpch_result = measure(
            TPCH_HEAVY, build_tpch_corpus, os.path.join(root, "tpch"))
    sketch_result = None
    if "sketch" in fams:
        out["sketch"] = sketch_result = measure(
            SKETCH_HEAVY, build_corpus, os.path.join(root, "sketch"))
    vec_result = None
    if "vectors" in fams:
        out["vectors"] = vec_result = measure(
            VEC_HEAVY, build_vectors_corpus, os.path.join(root, "vectors"))
    cumsum_result = None
    if "cumsum" in fams:
        out["cumsum"] = cumsum_result = measure(
            CUMSUM_HEAVY, build_corpus, os.path.join(root, "cumsum"))
    graph_result = None
    if "graph" in fams:
        out["graph"] = graph_result = measure(
            GRAPH_HEAVY, build_tpch_corpus, os.path.join(root, "graph"))
    stats_result = None
    if "stats" in fams:
        out["stats"] = stats_result = measure(
            STATS_HEAVY, build_events_corpus, os.path.join(root, "stats"))
    retrieval_result = None
    if "retrieval" in fams:
        out["retrieval"] = retrieval_result = measure(
            RETRIEVAL_HEAVY, build_retrieval_corpus,
            os.path.join(root, "retrieval"))
    ml_result = None
    if "ml" in fams:
        out["ml"] = ml_result = measure(
            ML_HEAVY, build_corpus, os.path.join(root, "ml"))
    deep_result = None
    if "deep" in fams:
        out["deep"] = deep_result = measure(
            DEEP_HEAVY, build_corpus, os.path.join(root, "deep"),
            scales=DEEP_SCALES)
    decon_result = None
    if "decon" in fams:
        # same protocol as measure() (build, 1x warmup, per-scale
        # corpus touch, best-of-N) plus a shuffle-write-bytes reading
        # around each timed run — the family's claim is shuffle
        # FLATNESS, not just time linearity, so bytes are first-class
        droot = os.path.join(root, "decon")
        ddirs = {}
        for s in SCALES:
            d = os.path.join(droot, f"x{s}")
            build_decon_corpus(s, d)
            ddirs[s] = d
        name = DECON_HEAVY[0]
        run(name, ddirs[1])  # codegen warmup
        nruns = max(1, int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "1")))
        rows = {}
        for s in SCALES:
            spark.read.parquet(
                os.path.join(ddirs[s], "embeddings.parquet")) \
                .write.format("noop").mode("overwrite").save()
            n_train = spark.read.parquet(
                os.path.join(ddirs[s], "embeddings.parquet")) \
                .where("vec_id % 17 <> 0").count()
            best_sec, best_bytes = float("inf"), None
            for _ in range(nruns):
                b0 = shuffle_write_bytes(spark)
                sec = run(name, ddirs[s])
                b1 = shuffle_write_bytes(spark)
                if sec < best_sec:
                    best_sec, best_bytes = sec, b1 - b0
            rows[s] = {"sec": round(best_sec, 3),
                       "shuffle_mb": round(best_bytes / 1e6, 2),
                       "train_rows": n_train}
        out["decon"] = decon_result = {
            "sf_dir": SRC,
            "scales": SCALES,
            "rows": {str(s): rows[s] for s in SCALES},
            # exponent of time in TRAIN ROWS (not the nominal scale —
            # replicas are 1/17 smaller than the base by design)
            "exponent_train": round(fit_exponent(
                [(rows[s]["train_rows"], rows[s]["sec"])
                 for s in SCALES]), 3),
        }
    media_result = None
    if "media" in fams:
        # end-to-end tar → untar → decode → featurize (VERDICT r9
        # item 8): same protocol as decon — warmup, per-scale page-
        # cache touch, best-of-N, shuffle-write bytes around each
        # timed run. The pipeline is built inline (it takes a shard
        # DIRECTORY, not an sf_dir, so it is not a registry query).
        from flight_data_pipeline_spark.operators.multimodal import (
            extract_features)
        from flight_data_pipeline_spark.sources.tar_shards import (
            read_tar_shards, stream_tar_members, tar_members_as_media)

        # One task per shard via the path-listing reader. At
        # production shard sizes (0.5-2 GB, >= maxPartitionBytes)
        # binaryFile gives one task per shard naturally, but these
        # synthetic shards are ~0.5 MB, so binaryFile PACKS ~32 per
        # partition (openCostInBytes) and parallelism would GROW with
        # scale — 2 tasks at 1x vs 16 at 8x — making the wall-clock
        # curve measure machine fill-up again (measured 0.59 that
        # way). The path-form pins parallelism to shard count at
        # every scale, which is the claim under test.
        def run_media(path: str) -> float:
            names = sorted(os.listdir(path))
            paths = spark.createDataFrame(
                [(os.path.join(path, n),) for n in names],
                "shard_path string").repartition(len(names))
            t0 = time.time()
            extract_features(
                tar_members_as_media(stream_tar_members(paths))
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        mroot = os.path.join(root, "media")
        mdirs = {}
        for s in SCALES:
            d = os.path.join(mroot, f"x{s}")
            build_media_corpus(s, d)
            mdirs[s] = d
        run_media(mdirs[1])  # codegen + Arrow warmup
        nruns = max(1, int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "1")))
        mrows = {}
        for s in SCALES:
            # page-cache touch (binaryFile first-touch IO otherwise
            # lands on the first timed pass, same as the parquet note)
            spark.read.format("binaryFile").load(mdirs[s]) \
                .write.format("noop").mode("overwrite").save()
            n_members = read_tar_shards(spark, mdirs[s]).count()
            best_sec, best_bytes = float("inf"), None
            for _ in range(nruns):
                b0 = shuffle_write_bytes(spark)
                sec = run_media(mdirs[s])
                b1 = shuffle_write_bytes(spark)
                if sec < best_sec:
                    best_sec, best_bytes = sec, b1 - b0
            mrows[s] = {"sec": round(best_sec, 3),
                        "shuffle_mb": round(best_bytes / 1e6, 2),
                        "n_shards": MEDIA_BASE_SHARDS * s,
                        "n_members": n_members}
        out["media"] = media_result = {
            "sf_dir": "synthetic tar shards (deterministic seeds)",
            "scales": SCALES,
            "rows": {str(s): mrows[s] for s in SCALES},
            "exponent": round(fit_exponent(
                [(s, mrows[s]["sec"]) for s in SCALES]), 3),
            "exponent_tail": round(fit_exponent(
                [(s, mrows[s]["sec"]) for s in SCALES[1:]]), 3),
        }
    warc_result = None
    if "warc" in fams:
        from pyspark.sql import functions as F

        from flight_data_pipeline_spark.operators.html_text import (
            extract_html_text)
        from flight_data_pipeline_spark.sources.warc_source import (
            read_warc)

        # pin ~one file per task: the synthetic .warc.gz files are
        # ~100 KB, so the default openCostInBytes would PACK dozens
        # per partition and the wall-clock curve would measure
        # machine fill-up, not the per-file map (the media-curve
        # lesson; at production segment sizes ~1 GB the packing
        # question vanishes)
        old_cost = spark.conf.get("spark.sql.files.openCostInBytes",
                                  None)
        spark.conf.set("spark.sql.files.openCostInBytes",
                       str(128 << 20))

        def run_warc(path: str) -> float:
            t0 = time.time()
            ex = extract_html_text(
                read_warc(spark, path)
                .where(F.col("http_status") == 200),
                html_col="payload")
            (ex.select(
                F.sum("extracted.n_words").alias("w"),
                F.sum("extracted.n_chars").alias("c"),
                F.sum("extracted.n_content_blocks").alias("cb"),
                F.sum("extracted.n_boilerplate_blocks").alias("bb"))
             .write.format("noop").mode("overwrite").save())
            return time.time() - t0

        wroot = os.path.join(root, "warc")
        wdirs = {}
        for s in SCALES:
            d = os.path.join(wroot, f"x{s}")
            build_warc_corpus(s, d)
            wdirs[s] = d
        run_warc(wdirs[1])          # codegen + Arrow warmup
        nruns = max(1, int(os.environ.get(
            "SPARK_GRAFT_CURVE_RUNS", "1")))
        wrows = {}
        for s in SCALES:
            spark.read.format("binaryFile").load(wdirs[s]) \
                .write.format("noop").mode("overwrite").save()
            best_sec, best_bytes = float("inf"), None
            for _ in range(nruns):
                b0 = shuffle_write_bytes(spark)
                sec = run_warc(wdirs[s])
                b1 = shuffle_write_bytes(spark)
                if sec < best_sec:
                    best_sec, best_bytes = sec, b1 - b0
            wrows[s] = {
                "sec": round(best_sec, 3),
                "shuffle_mb": round(best_bytes / 1e6, 2),
                "n_files": WARC_BASE_FILES * s,
                "n_records": WARC_BASE_FILES * s * WARC_RECS_PER_FILE,
            }
        if old_cost is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes",
                           old_cost)
        out["warc"] = warc_result = {
            "sf_dir": "synthetic .warc.gz (deterministic content)",
            "scales": SCALES,
            "rows": {str(s): wrows[s] for s in SCALES},
            "exponent": round(fit_exponent(
                [(s, wrows[s]["sec"]) for s in SCALES]), 3),
            "exponent_tail": round(fit_exponent(
                [(s, wrows[s]["sec"]) for s in SCALES[1:]]), 3),
        }

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))

    if "--update-scale-md" in sys.argv:
        def fmt_table(res: dict, names: list[str]) -> str:
            scales = res["scales"]
            lines = [
                "| query | " + " | ".join(f"{s}x" for s in scales)
                + f" | exponent | tail (2x-{scales[-1]}x) |",
                "|---|" + "---|" * (len(scales) + 2),
            ]
            for name in names:
                q = res["queries"][name]
                cells = " | ".join(str(q["sec"][str(s)]) for s in scales)
                lines.append(
                    f"| {name} | {cells} | {q['exponent']} |"
                    f" {q['exponent_tail']} |")
            return "\n".join(lines)

        path = os.path.join(REPO, "SCALE.md")
        with open(path) as f:
            text = f.read()

        import re

        if sketch_result is not None:
            sblock = (f"{SBEGIN}\n\n"
                      f"{fmt_table(sketch_result, SKETCH_HEAVY)}\n\n{SEND}")
            if SBEGIN in text:
                text = re.sub(
                    re.escape(SBEGIN) + r".*?" + re.escape(SEND), sblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (sketch family)\n\n"
                    "The sketch tier's claim is state and shuffle\n"
                    "INDEPENDENT of corpus composition: registers,\n"
                    "counters, cells, and bloom bits stay fixed-size\n"
                    "while the corpus grows, so time should track the\n"
                    "scan. Same 1x-8x documents replication as the dedup\n"
                    "family. Seconds, single run each, local[32].\n\n"
                    + sblock + "\n"
                )

        if cumsum_result is not None:
            cblock = (f"{CBEGIN}\n\n"
                      f"{fmt_table(cumsum_result, CUMSUM_HEAVY)}\n\n{CEND}")
            if CBEGIN in text:
                text = re.sub(
                    re.escape(CBEGIN) + r".*?" + re.escape(CEND), cblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (window-cumsum family)\n\n"
                    "PPS sampling, compaction planning, and the\n"
                    "curriculum cut are each one partitioned window sort\n"
                    "per group. Corpus growth adds SOURCES (the dedup\n"
                    "family's replication), so per-partition sort size\n"
                    "stays fixture-shaped and total time must track the\n"
                    "scan + number of partitions — the production layout\n"
                    "for per-source window work. Seconds, single run\n"
                    "each, local[32].\n\n" + cblock + "\n"
                )

        if retrieval_result is not None:
            rblock = (f"{RBEGIN}\n\n"
                      f"{fmt_table(retrieval_result, RETRIEVAL_HEAVY)}\n\n{REND}")
            if RBEGIN in text:
                text = re.sub(
                    re.escape(RBEGIN) + r".*?" + re.escape(REND), rblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (retrieval family)\n\n"
                    "Growth = more documents AND more vectors in\n"
                    "lockstep (the RRF fusion needs the doc_id = vec_id\n"
                    "alignment at every scale). BM25 and the two\n"
                    "hash-proven signature constructions are explode ->\n"
                    "partial-agg shapes that must track corpus tokens;\n"
                    "the RRF adds the dense brute-force leg (linear in\n"
                    "vectors — the IVF/Hamming tiers are the documented\n"
                    "scale path) plus a candidate-sized fusion join.\n"
                    "Seconds, single run each, local[32].\n\n"
                    + rblock + "\n"
                )

        if ml_result is not None:
            MLBEGIN = ("<!-- SCALECURVE-ML:BEGIN "
                       "(generated by scripts/scale_curve.py) -->")
            MLEND = "<!-- SCALECURVE-ML:END -->"
            mblock = (f"{MLBEGIN}\n\n"
                      f"{fmt_table(ml_result, ML_HEAVY)}\n\n{MLEND}")
            if MLBEGIN in text:
                text = re.sub(
                    re.escape(MLBEGIN) + r".*?" + re.escape(MLEND), mblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (corpus-model family, r7)\n\n"
                    "Sampling + in-plan model training/scoring over\n"
                    "documents (growth = more sources). The bottom-k\n"
                    "reservoir is one per-source top-k (scan-tracking).\n"
                    "The bigram LM trains on the FIXED src0 slice while\n"
                    "eval grows — model constant, scoring join linear in\n"
                    "eval bigrams. NB trains on even doc_ids, which\n"
                    "replicate too, so model build AND scoring grow with\n"
                    "the corpus (the honest retrain-as-you-grow shape);\n"
                    "its scoring join fans out tokens x 5 classes.\n"
                    "Seconds, single run each, local[32].\n\n"
                    + mblock + "\n"
                )

        if deep_result is not None:
            DBEGIN = ("<!-- SCALECURVE-DEEP:BEGIN "
                      "(generated by scripts/scale_curve.py) -->")
            DEND = "<!-- SCALECURVE-DEEP:END -->"
            dblock = (f"{DBEGIN}\n\n"
                      f"{fmt_table(deep_result, DEEP_HEAVY)}\n\n{DEND}")
            if DBEGIN in text:
                text = re.sub(
                    re.escape(DBEGIN) + r".*?" + re.escape(DEND), dblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (deep tail, 1x-32x)\n\n"
                    "The two heaviest dedup rows pushed a decade past\n"
                    "the standard 1x-8x sweep — 32x is 160k docs across\n"
                    "1024 source blocks. Same replication (growth = more\n"
                    "sources, block shape fixed), same per-scale\n"
                    "pre-touch discipline. The point is the TAIL: a\n"
                    "posting-join or funnel stage whose cost is secretly\n"
                    "quadratic in some corpus-wide term would bend here\n"
                    "first. Seconds, single run each, local[32].\n\n"
                    + dblock + "\n"
                )

        if decon_result is not None:
            scales = decon_result["scales"]
            rows_ = decon_result["rows"]
            dlines = [
                "| scale | train rows | eval rows | sec | shuffle MB |",
                "|---|---|---|---|---|",
            ]
            n_eval = "~30 (fixed)"
            for s in scales:
                r = rows_[str(s)]
                dlines.append(
                    f"| {s}x | {r['train_rows']} | {n_eval} |"
                    f" {r['sec']} | {r['shuffle_mb']} |")
            dlines.append(
                f"\ntime exponent in TRAIN rows: "
                f"**{decon_result['exponent_train']}** "
                f"(claim: ≤1.0 — linear in train at worst, sub-linear "
                f"while fixed per-stage overhead still amortizes — "
                f"and shuffle flat)")
            dcblock = f"{DCBEGIN}\n\n" + "\n".join(dlines) + f"\n\n{DCEND}"
            if DCBEGIN in text:
                text = re.sub(
                    re.escape(DCBEGIN) + r".*?" + re.escape(DCEND), dcblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (broadcast fan-out"
                    " family)\n\n"
                    "embedding_decontamination_audit broadcasts the\n"
                    "FIXED eval carve and fans each train row out\n"
                    "against it map-side with a partial-MAX before the\n"
                    "per-label shuffle. Growth here is TRAIN-ONLY\n"
                    "(replicas exclude ids that would land in the eval\n"
                    "carve), so the measured claim is exactly the\n"
                    "production one: time linear in train, shuffle\n"
                    "bytes flat (the shuffle carries the per-label\n"
                    "summary, never the |train|x|eval| fan-out).\n"
                    "Seconds + shuffle-write bytes per timed run,\n"
                    "local[32].\n\n"
                    + dcblock + "\n"
                )

        if media_result is not None:
            mlines = [
                "| scale | shards | members | sec | shuffle MB |",
                "|---|---|---|---|---|",
            ]
            for s in media_result["scales"]:
                r = media_result["rows"][str(s)]
                mlines.append(
                    f"| {s}x | {r['n_shards']} | {r['n_members']} |"
                    f" {r['sec']} | {r['shuffle_mb']} |")
            mlines.append(
                f"\ntime exponent in SHARDS: "
                f"**{media_result['exponent']}** (tail 2x-8x: "
                f"{media_result['exponent_tail']}; claim: ≈1.0 — the "
                f"pipeline is map-side at every stage; the only "
                f"shuffled bytes are the PATH LIST feeding the "
                f"one-task-per-shard repartition, never media bytes)")
            mblock = f"{MBEGIN}\n\n" + "\n".join(mlines) + f"\n\n{MEND}"
            if MBEGIN in text:
                text = re.sub(
                    re.escape(MBEGIN) + r".*?" + re.escape(MEND), mblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (media tier, end to"
                    " end)\n\n"
                    "tar-shard untar → media adapt → REAL decode (JPEG/"
                    "PPM/WAV) → featurize, timed over 1x-8x the shard\n"
                    "count (the WebDataset growth axis). Every stage is\n"
                    "map-side; the harness pins one task per shard via\n"
                    "the path-listing reader (its synthetic shards are\n"
                    "~0.5 MB, so binaryFile would pack ~32/partition —\n"
                    "at production shard sizes one-task-per-shard is\n"
                    "binaryFile's natural behavior). Seconds +\n"
                    "shuffle-write bytes per timed run, local[32].\n\n"
                    + mblock + "\n"
                )

        if warc_result is not None:
            wlines = [
                "| scale | files | records | sec | shuffle MB |",
                "|---|---|---|---|---|",
            ]
            for s in warc_result["scales"]:
                r = warc_result["rows"][str(s)]
                wlines.append(
                    f"| {s}x | {r['n_files']} | {r['n_records']} |"
                    f" {r['sec']} | {r['shuffle_mb']} |")
            wlines.append(
                f"\ntime exponent in FILES: "
                f"**{warc_result['exponent']}** (tail 2x-8x: "
                f"{warc_result['exponent_tail']}; claim: ≈1.0 — "
                f"read_warc parses per file and extract_html_text is "
                f"per-document map work; the only shuffle is the "
                f"final four-sum aggregate, one row per task)")
            wblock = f"{WBEGIN}\n\n" + "\n".join(wlines) + f"\n\n{WEND}"
            if WBEGIN in text:
                text = re.sub(
                    re.escape(WBEGIN) + r".*?" + re.escape(WEND),
                    wblock, text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (corpus-ingest front"
                    " half: WARC → HTML → text)\n\n"
                    "read_warc (gzip members, HTTP de-chunk +\n"
                    "content-decode) → extract_html_text (block\n"
                    "segmentation + boilerplate classification) →\n"
                    "four-sum aggregate, timed over 1x-8x the FILE\n"
                    "count — the Common Crawl growth axis (a crawl\n"
                    "grows by landing ~1 GB segment files; file =\n"
                    "unit of parallelism, per-task memory bounded by\n"
                    "one file). The harness pins ~one file per task\n"
                    "via openCostInBytes because its synthetic files\n"
                    "are ~100 KB (at production sizes binaryFile does\n"
                    "this naturally). Records rotate through the\n"
                    "plain/chunked/gzip HTTP shapes. Seconds +\n"
                    "shuffle-write bytes per timed run, local[32].\n\n"
                    + wblock + "\n"
                )

        if stats_result is not None:
            stblock = (f"{STBEGIN}\n\n"
                       f"{fmt_table(stats_result, STATS_HEAVY)}\n\n{STEND}")
            if STBEGIN in text:
                text = re.sub(
                    re.escape(STBEGIN) + r".*?" + re.escape(STEND), stblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (integer-moment stats family)\n\n"
                    "Growth = more users (the events replication).\n"
                    "Every member collapses the scan to a grain —\n"
                    "(type, day), (type, day-user), or the 2x start/end\n"
                    "point set — BEFORE any window, so the windows run\n"
                    "over grain-sized frames and total time must track\n"
                    "the scan. The sweep-line shuffle carries 2 rows per\n"
                    "event and the sliding-distinct 7 per day-user pair\n"
                    "— constant factors, not growth terms. Seconds,\n"
                    "single run each, local[32].\n\n"
                    + stblock + "\n"
                )

        if graph_result is not None:
            gblock = (f"{GBEGIN}\n\n"
                      f"{fmt_table(graph_result, GRAPH_HEAVY)}\n\n{GEND}")
            if GBEGIN in text:
                text = re.sub(
                    re.escape(GBEGIN) + r".*?" + re.escape(GEND), gblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (graph family)\n\n"
                    "Growth = more orders over the same part catalog\n"
                    "(the TPC-H replication), so the co-purchase graph\n"
                    "gets DENSER: nodes fixed, edges grow toward\n"
                    "saturation. PageRank must stay per-round linear in\n"
                    "edges (the rank state is broadcast, so the loop\n"
                    "never shuffles the edge side); the 2-hop BFS is\n"
                    "bounded by frontier x basket width; the triangle\n"
                    "wedge join is Sum(outdeg^2) under the degree-ordered\n"
                    "orientation — super-linear under pure densification\n"
                    "by design, reported honestly (real corpora grow\n"
                    "nodes too, which this replication deliberately\n"
                    "does not). Seconds, single run each, local[32].\n\n"
                    + gblock + "\n"
                )

        if vec_result is not None:
            vblock = (f"{VBEGIN}\n\n"
                      f"{fmt_table(vec_result, VEC_HEAVY)}\n\n{VEND}")
            if VBEGIN in text:
                text = re.sub(
                    re.escape(VBEGIN) + r".*?" + re.escape(VEND), vblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (vector serving tiers)\n\n"
                    "Growth = more vectors (disjoint ids, first component\n"
                    "nudged per replica). Every tier is one scan + top-k,\n"
                    "so time must track the corpus with tier-proportional\n"
                    "constants: float brute force reads 256 B/vec, int8\n"
                    "64 B, the sign sketch 8 B; the cascade pays sketch\n"
                    "scan + a fixed 50-vector exact re-rank.\n"
                    "label_medoids is excluded by design — its per-group\n"
                    "O(k²·d) would be honestly quadratic under growing\n"
                    "groups; mega-groups route to centroid+shortlist.\n"
                    "Seconds, single run each, local[32].\n\n"
                    + vblock + "\n"
                )

        if tpch_result is not None:
            tblock = (f"{TBEGIN}\n\n"
                      f"{fmt_table(tpch_result, TPCH_HEAVY)}\n\n{TEND}")
            if TBEGIN in text:
                text = re.sub(
                    re.escape(TBEGIN) + r".*?" + re.escape(TEND), tblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (TPC-H join suite)\n\n"
                    "Growth = more orders over the SAME dimension\n"
                    "population (orders/lineitem replicated with shifted\n"
                    "order keys; customer/supplier/part/nation/region\n"
                    "fixture-sized) — the fact-grows-dims-don't warehouse\n"
                    "shape the broadcast-dim/shuffle-fact plans assume.\n"
                    "Seconds, single run each, local[32].\n\n"
                    + tblock + "\n"
                )

        if events_result is not None:
            eblock = (f"{EBEGIN}\n\n"
                      f"{fmt_table(events_result, EVENTS_HEAVY)}\n\n{EEND}")
            if EBEGIN in text:
                text = re.sub(
                    re.escape(EBEGIN) + r".*?" + re.escape(EEND), eblock,
                    text, flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (events interval-join /"
                    " window family)\n\n"
                    "Growth = more users (disjoint id spaces per replica):\n"
                    "per-user fan-out — session length, lookback width —\n"
                    "stays fixture-shaped, so total work must track the\n"
                    "user population. Seconds, single run each,"
                    " local[32].\n\n" + eblock + "\n"
                )

        if result is not None:
            block = f"{BEGIN}\n\n{fmt_table(result, HEAVY)}\n\n{END}"
            if BEGIN in text:
                text = re.sub(
                    re.escape(BEGIN) + r".*?" + re.escape(END), block, text,
                    flags=re.S)
            else:
                text += (
                    "\n## Measured scale curve (heavy dedup family)\n\n"
                    "Six heaviest dedup queries timed on locally-derived\n"
                    "1x/2x/4x/8x corpora (sf0.1 documents replicated into\n"
                    "per-replica source shards — block count scales, block\n"
                    "shape stays fixture-like; see scripts/scale_curve.py).\n"
                    "`exponent` fits all four points; `tail` fits 2x-8x,\n"
                    "discounting fixed per-query scheduling overhead.\n"
                    "Seconds, single run each, local[32].\n\n" + block + "\n"
                )
        with open(path, "w") as f:
            f.write(text)
        print(f"updated {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
