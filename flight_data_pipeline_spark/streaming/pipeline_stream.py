"""Structured Streaming twin of the batch pipeline (SURVEY.md §2.10).

The reference is micro-batch-by-cron (every 30 min via GitHub Actions,
etl.yml:4-6) with explicitly streaming concerns: exactly-once via
hour-bucket dedup, 2-hour freshness handling, event-time buckets, and
a run-audit trail. This module expresses the same semantics on a real
streaming runtime:

- source: a landing directory of JSON payload files (the scale form
  of S1/S2 — fetchers land payloads; executors never call HTTP);
- dedup: ``withWatermark + dropDuplicatesWithinWatermark`` on the
  hour bucket — the streaming form of D1 (etl_job.py:226-237);
- lateness: the reference *warns* on stale data but still writes it
  (etl_job.py:79-83), so the watermark is generous and staleness is a
  flag column, not a drop;
- audit: per-micro-batch rows via foreachBatch — the etl_runs
  contract (etl_job.py:168-182) at micro-batch granularity;
- cadence: every stream is one ``availableNow`` drain (:func:`_drain`);
  checkpointed offsets resume it, so the 30-min cadence is the
  scheduler that calls it (etl.yml's cron), as for the batch run.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from flight_data_pipeline_spark.operators.quality import quality_gate
from flight_data_pipeline_spark.pipeline import telemetry_checks
from flight_data_pipeline_spark.session import checkpoint_observed, local_frame
from flight_data_pipeline_spark.sinks import AuditSink, TelemetrySink
from flight_data_pipeline_spark.sources.rest_json import parse_telemetry

WATERMARK = "2 hours"  # the reference's freshness horizon (etl_job.py:80)


def read_payload_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream of raw payload lines from a landing directory. Each line
    is one JSON document carrying both API payloads:
    ``{"intensity": {...}, "generation": {...}}`` — the shape a
    driver-side fetcher lands per run."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(landing_dir)
        .withColumnRenamed("value", "payload")
    )


def _payload_rows(raw: DataFrame, *keep_cols: str) -> DataFrame:
    """The payload→record projection shared by the live stream, the
    dead-letter capture and its replay: the combined document's two
    halves (``$.intensity``, ``$.generation``) go through the batch
    path's ``parse_telemetry``, so all three share its parse and drift
    tolerance. Emits (keep_cols…, timestamp, overall_intensity,
    fuel_*_perc, int_found, mix_found); an unparseable ``from`` is a
    NULL timestamp (a stream has no single "now"). Works on streaming
    AND batch frames — the dedup/watermark stages live in the
    callers."""
    return parse_telemetry(
        raw.select(*keep_cols,
                   F.get_json_object("payload", "$.intensity")
                   .alias("int_payload"),
                   F.get_json_object("payload", "$.generation")
                   .alias("mix_payload")),
        now=F.lit(None).cast("timestamp"), keep=keep_cols)


def telemetry_stream(raw: DataFrame) -> DataFrame:
    """Raw payload lines → validated, hour-deduped telemetry stream."""
    rows = _payload_rows(raw)
    # a payload missing either half: the batch path raises (etl_job.py:
    # 102-103, 118-119 → run 'failure') and the backfill builder drops
    # it; a stream can't abort the query for one bad record, so the
    # streaming semantics is dead-letter: drop the record here —
    # quarantine_malformed captures such payload FILES for repair +
    # reprocess_dead_letters replay. Validation failures on REAL
    # records still flag-don't-drop below.
    rows = rows.where(F.col("int_found") & F.col("mix_found")) \
        .drop("int_found", "mix_found")
    gated = quality_gate(rows, telemetry_checks())
    return (
        gated.withColumn("hour_bucket", F.date_trunc("hour", "timestamp"))
        .withWatermark("hour_bucket", WATERMARK)
        .dropDuplicatesWithinWatermark(["hour_bucket"])
    )


def stream_telemetry(spark: SparkSession, landing_dir: str,
                     telemetry_path: str, audit_path: str,
                     checkpoint_dir: str) -> StreamingQuery:
    """End-to-end streaming pipeline: landing files → parse → validate
    (flag-don't-drop) → watermarked hour dedup → parquet sink + audit.

    foreachBatch writes telemetry-then-audit in micro-batch order —
    the streaming form of EP1's write discipline (telemetry first,
    audit second; etl_job.py:239-267). At scale: checkpointed offsets
    + idempotent hour-dedup give effective exactly-once into the sink.

    Each micro-batch's plan (its state-store stage included) runs
    once: the batch is checkpointed with its row count observed in the
    same job, and only a non-empty checkpoint is written. A
    micro-batch whose rows were all seen writes no file and audits
    'skipped'. Every micro-batch reads input: the query runs no
    watermark-only batch, which would audit a run that never happened
    (the next input batch advances the dedup watermark instead).
    """
    deduped = telemetry_stream(read_payload_stream(spark, landing_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        spark = batch_df.sparkSession
        # localCheckpoint truncates lineage: a lost block fails this
        # call, the micro-batch stays uncommitted, and the restarted
        # query re-runs it from its offsets
        batch_df, n = checkpoint_observed(batch_df, F.count(F.lit(1)))
        status = "success" if n else "skipped"
        if n:
            TelemetrySink(spark, telemetry_path).append(batch_df)
        AuditSink(spark, audit_path).log_run(
            status, n, int((time.time() - t0) * 1000))

    # the query reads this conf once, when it starts; the session's
    # value comes back for every other query (the attribution join's
    # outer modes need no-data batches to emit)
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = spark.conf.get(no_data)
    spark.conf.set(no_data, "false")
    try:
        return _drain(deduped.writeStream.foreachBatch(write_batch),
                      checkpoint_dir)
    finally:
        spark.conf.set(no_data, prior)


def streaming_hourly_rollup(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of the
    daily/hourly batch rollups (A1/A4): late events beyond the
    watermark age out of state; within it, windows update in place."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("win"))
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .select(F.col("win.start").alias("window_start"), "n", "avg_value")
    )


def streaming_user_sessions(events: DataFrame, ts_col: str = "ts",
                            user_col: str = "user_id",
                            gap: str = "30 minutes",
                            watermark: str = WATERMARK) -> DataFrame:
    """Streaming sessionization via NATIVE ``session_window`` — the
    streaming twin of ``operators/temporal.sessionize`` (§2.7's
    lag+cumsum batch form): per-user sessions close after ``gap`` of
    inactivity, and a session is emitted (append mode) once the
    watermark passes its end — i.e. when no event could still extend
    or merge it. State per key is the open sessions inside the
    watermark horizon, so it is bounded by activity recency, not
    history. tests/test_streaming.py pins the emitted sessions equal
    to the batch sessionize boundaries on the same events."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col),
                 F.session_window(F.col(ts_col), gap).alias("win"))
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("session_value"))
        .select(user_col,
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events", "session_value")
    )


def ewma_fold(n: int, ewma: float | None, values, alpha: float):
    """The shared per-key state transition of both custom stateful
    operators: fold ``values`` (event-time-ordered) into a running
    (count, EWMA) pair. Kept as a module-level pure function so the
    applyInPandasWithState and transformWithStateInPandas forms
    provably share one semantics and the fold is unit-testable
    without a streaming runtime (tests/test_streaming.py)."""
    for v in values:
        n += 1
        ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
    return n, ewma


def stateful_user_stats(events: DataFrame,
                        user_col: str = "user_id",
                        value_col: str = "value",
                        alpha: float = 0.3) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running count + exponentially-weighted moving average of
    ``value``, carried across micro-batches in explicit group state.

    This is the §2.10 'custom stateful operator' slot — semantics that
    neither windowed aggregation nor dropDuplicates express (EWMA is
    order-dependent and unbounded-horizon). State per key is two
    numbers, so a billion users is ~GBs of state spread across the
    cluster's state store; batches stream through Arrow in bounded
    chunks. Batch twin for oracle checking: an aggregate over the full
    history (tests compare the two).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField(user_col, T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, ewma = state.get if state.exists else (0, None)
        for pdf in pdfs:
            # event-time order within the batch for a deterministic EWMA
            n, ewma = ewma_fold(n, ewma, pdf.sort_values("ts")[value_col], alpha)
        state.update((n, ewma))
        yield pd.DataFrame({user_col: [key[0]], "n_events": [n],
                            "ewma_value": [ewma]})

    return (
        events.groupBy(user_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_doc_dedup(docs: DataFrame, ts_col: str = "ingest_ts",
                        text_col: str = "text",
                        watermark: str = "24 hours") -> DataFrame:
    """Streaming exact-dedup of a document feed — the LLM-pipeline
    dedup family's streaming member: each document gets a content
    fingerprint (sorted-token-set BoW hash, permutation-insensitive)
    and `dropDuplicatesWithinWatermark` keeps the first arrival per
    fingerprint. State is bounded: a fingerprint ages out of the
    dedup store once the watermark passes its ingest time, so state
    size tracks the dedup horizon, not the corpus — the property that
    makes continuous corpus ingestion feasible at 100 TB (for exact
    forever-dedup, land then batch-dedup against the sink instead,
    as TelemetrySink.append_dedup does for telemetry)."""
    from flight_data_pipeline_spark.operators.text import bow_fingerprint

    return (
        docs.withColumn("fingerprint", bow_fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def join_telemetry_streams(intensity: DataFrame, mix: DataFrame,
                           ts_col: str = "window_start",
                           watermark: str = WATERMARK) -> DataFrame:
    """Stream-stream inner join of the two API feeds on their
    measurement window — the J2 pairing (etl_job.py:199-200) when
    intensity and generation-mix land as SEPARATE streams rather than
    pre-zipped payloads.

    Both sides carry watermarks so the join state is bounded: a side's
    buffered rows age out once the other side's watermark passes their
    window. An unmatched window emits nothing until its partner
    arrives (within the watermark) — the streaming analogue of the
    reference failing the run when either fetch fails.
    """
    i = intensity.withWatermark(ts_col, watermark)
    m = (mix.withColumnRenamed(ts_col, "__mix_ts")
            .withWatermark("__mix_ts", watermark))
    return (
        i.join(m, F.col(ts_col) == F.col("__mix_ts"), "inner")
        .drop("__mix_ts")
    )


def make_user_stats_processor(user_col: str = "user_id",
                              value_col: str = "value",
                              alpha: float = 0.3):
    """Build the transformWithStateInPandas StatefulProcessor for
    per-user (count, EWMA). Module-level factory (rather than a class
    captured inside the operator) so the processor's state-transition
    logic is directly unit-testable against a fake
    StatefulProcessorHandle — the container lacks the python protobuf
    runtime the TWS state-server protocol needs at EXECUTION time, but
    the processor class itself has no such dependency, and
    tests/test_streaming.py drives init/handleInputRows/close through
    a dict-backed fake handle and pins the semantics to the
    applyInPandasWithState twin."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class UserStats(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("stats", "n long, ewma double")

        def handleInputRows(self, key, rows, timerValues):
            got = self._state.get()
            n, ewma = got if got is not None else (0, None)
            for pdf in rows:
                # event-time order within the batch → deterministic EWMA
                n, ewma = ewma_fold(n, ewma,
                                    pdf.sort_values("ts")[value_col], alpha)
            self._state.update((n, ewma))
            yield pd.DataFrame({user_col: [key[0]], "n_events": [n],
                                "ewma_value": [ewma]})

        def close(self) -> None:
            pass

    return UserStats()


def stateful_user_stats_tws(events: DataFrame,
                            user_col: str = "user_id",
                            value_col: str = "value",
                            alpha: float = 0.3) -> DataFrame:
    """The §2.10 custom stateful operator on Spark 4's successor API:
    ``transformWithStateInPandas`` with an explicit StatefulProcessor
    and typed ValueState — same per-user count + EWMA semantics as
    ``stateful_user_stats`` (the applyInPandasWithState form), so the
    two are batch-oracle-checked against each other in tests.

    transformWithState is the forward path for custom state: named
    state variables (value/list/map), optional TTL, timers, and the
    RocksDB state store (required — set
    ``spark.sql.streaming.stateStore.providerClass`` to
    RocksDBStateStoreProvider before starting the query). State per
    key is still two numbers; everything crosses in Arrow batches.

    Runtime requirement: the TWS state-server protocol is protobuf
    (pyspark/sql/streaming/proto), so executing this operator needs
    the python ``protobuf`` package on driver and executors — absent
    in this container (test skips with the reason), present on any
    standard cluster image.
    """
    out_schema = T.StructType([
        T.StructField(user_col, T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_value", T.DoubleType()),
    ])

    return (
        events.groupBy(user_col)
        .transformWithStateInPandas(
            statefulProcessor=make_user_stats_processor(
                user_col, value_col, alpha),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


_STATE_MARKER = "_applied_batch"


def _live_dir(root: str) -> str:
    """The live state of the store at ``root``: the dir readers load
    and :func:`_swap_in_state` replaces."""
    return os.path.join(root, "data")


def _recover_state(root: str) -> None:
    """Crash recovery for the marker+swap discipline shared by the
    foreachBatch state sinks. The swap has one non-atomic window — a
    crash between ``rename(data, old)`` and ``rename(tmp, data)``
    leaves no live dir — in which case the newest ``.old-*`` is
    restored as the live state (ROLL BACK: the interrupted batch
    replays on restart and re-applies cleanly through the marker
    check). Orphaned ``.tmp-*`` (incomplete writes) and superseded
    ``.old-*`` dirs are then removed. Without this, a crash in that
    window silently rebuilt state from empty, violating the
    replay-is-a-no-op contract."""
    if not os.path.isdir(root):
        return
    data_dir = _live_dir(root)
    olds = [e for e in os.listdir(root) if e.startswith(".old-")]
    if olds and not os.path.exists(data_dir):
        newest = max(olds, key=lambda e: int(e.rsplit("-", 1)[1]))
        os.rename(os.path.join(root, newest), data_dir)
        olds.remove(newest)
    for e in olds + [e for e in os.listdir(root) if e.startswith(".tmp-")]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def _already_applied(root: str, batch_id: int) -> bool:
    """True when ``batch_id`` is already folded into the live state
    under ``root`` (marker inside the data dir — state and marker
    travel in the same rename, so they can never disagree). Runs
    crash recovery first, so a replay after ANY crash point sees a
    consistent live dir."""
    _recover_state(root)
    marker = os.path.join(_live_dir(root), _STATE_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return batch_id <= int(fh.read().strip() or -1)
    return False


def _swap_in_state(root: str, batch_id: int, merged: DataFrame) -> None:
    """Publish ``merged`` as the new live state: write to ``.tmp-id``
    with the batch marker INSIDE it, rename the live dir aside, rename
    tmp over live, drop the old version. The only non-atomic window is
    covered by :func:`_recover_state` on the next entry. Spark ignores
    underscore-prefixed files, so the marker rides in the data dir for
    free. At 100 TB this trio is a Delta/Iceberg ``MERGE INTO`` with a
    transaction log; the version-swap here is the minimal file-system
    twin with the same replay contract."""
    data_dir = _live_dir(root)
    tmp = os.path.join(root, f".tmp-{batch_id}")
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _STATE_MARKER), "w") as fh:
        fh.write(str(batch_id))
    old = os.path.join(root, f".old-{batch_id}")
    if os.path.exists(data_dir):
        os.rename(data_dir, old)
    os.rename(tmp, data_dir)
    shutil.rmtree(old, ignore_errors=True)


def _fold_store(spark: SparkSession, root: str, batch_id: int,
                step: Callable[[DataFrame | None], DataFrame]) -> bool:
    """Fold one micro-batch into the state store at ``root`` — the
    marker + atomic-swap + crash-recovery protocol every foreachBatch
    store in this module goes through. Returns False, writing
    nothing, when ``batch_id`` is already in the live state (a
    foreachBatch replay after a crash). Otherwise publishes
    ``step(prior)`` — ``prior`` is the live state, None before the
    store's first batch — and returns True. ``step`` may first write
    the batch's own side-store dir (overwrite, so a replay rewrites
    identical bytes). A function keeping several stores folds each
    through here, so a crash between two swaps replays exactly the
    stores it missed."""
    os.makedirs(root, exist_ok=True)
    if _already_applied(root, batch_id):
        return False
    live = _live_dir(root)
    prior = spark.read.parquet(live) if os.path.exists(live) else None
    _swap_in_state(root, batch_id, step(prior))
    return True


def _append_step(delta: DataFrame) -> Callable[[DataFrame | None],
                                                DataFrame]:
    """Fold step of an append-only store: union the batch's rows in."""
    return lambda base: delta if base is None else base.unionByName(delta)


def _sum_step(delta: DataFrame, keys: tuple[str, ...],
              cols: tuple[str, ...]) -> Callable[[DataFrame | None],
                                                 DataFrame]:
    """Fold step of a SUM-mergeable store: union the batch's partials
    into the prior ones and re-sum ``cols`` per ``keys``."""
    return lambda base: delta if base is None else (
        base.unionByName(delta).groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in cols]))


def _prior_batches(root: str, batch_id: int) -> list[str]:
    """The ``batch=<id>`` side-store dirs under ``root`` written by
    every batch but ``batch_id``: excluding the current batch's dir by
    name means a replay after a crash between its side write and its
    swap never joins the batch against itself."""
    if not os.path.isdir(root):
        return []
    return [os.path.join(root, d) for d in sorted(os.listdir(root))
            if d.startswith("batch=") and d != f"batch={batch_id}"]


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` as one availableNow drain: the query processes
    every input present at start, then stops. Its checkpointed offsets
    make the next drain resume where this one ended."""
    return (writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def apply_rollup_delta(view_dir: str, batch_df: DataFrame,
                       batch_id: int) -> bool:
    """Idempotently MERGE one micro-batch's partial (day, event_type)
    rollup into the persistent view at ``view_dir``. Returns False
    when the batch was already applied (foreachBatch replay after a
    crash) — the merge is skipped, so partials never double-count.
    Store protocol: :func:`_fold_store`."""
    from flight_data_pipeline_spark.operators.relational import (
        combine_partial_aggs,
    )

    delta = (
        batch_df.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("day"),
            "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
    )
    return _fold_store(
        batch_df.sparkSession, view_dir, batch_id,
        lambda base: delta if base is None else combine_partial_aggs(
            base, delta, keys=("day", "event_type"),
            agg_cols=("n_events", "sum_value")))


def stream_rollup_upsert(events: DataFrame, view_dir: str,
                         checkpoint_dir: str) -> StreamingQuery:
    """Streaming materialized-view maintenance: each micro-batch's
    partial rollup MERGEs into a persistent (day, event_type) view —
    the streaming twin of the batch `incremental_rollup_merge` query,
    closing §2.10's state story with the view-maintenance shape every
    warehouse sink needs (counts and sums update in place; the fact
    stream is read once and never rescanned).

    foreachBatch + checkpointed offsets + the batch-id idempotence in
    :func:`apply_rollup_delta` give effective exactly-once on the
    view across restarts and replays."""
    return _drain(events.writeStream.foreachBatch(
        lambda df, bid: apply_rollup_delta(view_dir, df, bid)),
        checkpoint_dir)


def stream_enrich(events: DataFrame, dim_path: str, on: str,
                  out_path: str, checkpoint_dir: str) -> StreamingQuery:
    """Stream-static enrichment with per-batch dimension refresh: each
    micro-batch broadcast-joins the CURRENT contents of the dimension
    table — a slowly-changing dim updated between triggers is picked
    up by the next batch, which Spark's built-in stream-static join
    does not guarantee (its static plan caches file listings per
    query, so rows REPLACED in an overwritten dim can go stale).

    foreachBatch re-resolves the dim read each batch (a metadata-cost
    listing; the dim is dim-sized and rides as a broadcast, so the
    fact stream never shuffles). Left join keeps facts whose key has
    no dim row yet — late dimension arrival must not drop facts."""
    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        (
            batch_df.join(F.broadcast(dim), on, "left")
            .write.mode("append").parquet(out_path)
        )

    return _drain(events.writeStream.foreachBatch(enrich), checkpoint_dir)


def streaming_value_histogram(events: DataFrame, lo: float | None = None,
                              hi: float | None = None, bins: int | None = None,
                              value_col: str = "value") -> DataFrame:
    """Incrementally-maintained equi-width value histogram — the
    streaming side of the drift story (`value_psi_drift` documents
    that at 100 TB the PSI baseline is a PERSISTED histogram; this is
    the query that persists it): pinned bins, edge-bin clamping
    identical to the batch `event_value_histogram`, counts updating
    per trigger. State is ≤ ``bins`` rows — constant forever, no
    watermark needed (the histogram is cumulative by design; window
    it by composing with a time bucket in the groupBy when a
    bounded-horizon baseline is wanted)."""
    from flight_data_pipeline_spark.functions.scalars import (
        HIST_BINS,
        HIST_HI,
        HIST_LO,
    )

    lo = HIST_LO if lo is None else lo
    hi = HIST_HI if hi is None else hi
    bins = HIST_BINS if bins is None else bins
    raw = F.floor((F.col(value_col) - lo) * bins / (hi - lo))
    bin_col = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def apply_frequent_items_delta(summary_dir: str, batch_df: DataFrame,
                               batch_id: int, item_col: str,
                               k_counters: int = 256) -> bool:
    """Idempotently fold one micro-batch into a persistent bounded
    heavy-hitters summary: exact per-item batch counts Misra-Gries-
    merged (operators/sketches.mg_merge) into the stored ≤ k-counter
    state — unbounded stream, O(k) state, the item set never
    re-scanned. Store protocol: :func:`_fold_store`."""
    from flight_data_pipeline_spark.operators.sketches import mg_merge

    delta = (
        batch_df.select(F.col(item_col).cast("string").alias("item"))
        .groupBy("item").agg(F.count("*").alias("cnt"))
    )
    # an empty prior still bounds the first batch to k counters
    return _fold_store(
        batch_df.sparkSession, summary_dir, batch_id,
        lambda base: mg_merge(
            delta.limit(0) if base is None else base.select("item", "cnt"),
            delta, k_counters))


def stream_frequent_items(events: DataFrame, summary_dir: str,
                          checkpoint_dir: str, item_col: str,
                          k_counters: int = 256) -> StreamingQuery:
    """Streaming heavy-hitters maintenance: the mergeable-summaries
    twin of the batch `frequent_tokens_sketch` — each micro-batch's
    exact counts fold into a bounded persistent summary whose
    guarantee (every item with true count > N/(k+1) present)
    composes across arbitrarily many batches. foreachBatch +
    checkpointed offsets + batch-id idempotence give effective
    exactly-once on the summary across restarts."""
    return _drain(events.writeStream.foreachBatch(
        lambda df, bid: apply_frequent_items_delta(
            summary_dir, df, bid, item_col, k_counters)), checkpoint_dir)


def stream_attribution_matches(events: DataFrame,
                               lookback_sec: int = 86400,
                               watermark: str = "1 hour",
                               how: str = "inner") -> DataFrame:
    """Streaming half of multi-touch attribution: a WATERMARKED
    stream-stream interval join pairing each purchase with the same
    user's view/click touches in the preceding ``lookback_sec`` —
    the streaming twin of the batch query's ``range_join_binned``
    stage (plans/temporal_queries.multi_touch_attribution).

    Spark's stream-stream join with a time-range condition buckets
    state exactly like the batch operator bins (the same interval-
    join decomposition); the watermarks bound BOTH state stores:
    touch state is droppable once ``max(pts) - watermark`` passes
    ``vts + lookback_sec``, purchase state once touches can no
    longer arrive inside its window. Matches stream out
    incrementally and exactly once (append mode).

    ``how="left_outer"`` adds the WATERMARK-EXPIRY contract: a
    purchase with no touches emits ONCE, with null touch columns,
    only after the watermark passes the end of its join window —
    i.e. when no late touch can still legally arrive. That is the
    only correct time to say "organic purchase" on a stream, and it
    is exactly the state-cleanup instant, so completeness and
    bounded state are the same mechanism (tests pin the emission
    landing in the NEXT trigger after the watermark moves past).

    Deliberately emits MATCHES, not credits: U-shaped credit is a
    function of a purchase's COMPLETE touch path (first/last/middle
    shares shift with every late touch), so it is only final when
    the purchase's window expires — assign credit downstream over
    the match log (the batch credit expression applies verbatim;
    test_streaming pins stream-matches + batch-credit ==
    pure-batch attribution)."""
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("pid"),
                F.col("ts").alias("pts"))
        .withWatermark("pts", watermark)
    )
    touches = (
        events.where(F.col("event_type").isin("view", "click"))
        .select(F.col("user_id").alias("t_user"),
                F.col("event_id").alias("vid"),
                F.col("event_type").alias("touch_type"),
                F.col("ts").alias("vts"))
        .withWatermark("vts", watermark)
    )
    # literal INTERVAL syntax, not make_interval(): the stream-stream
    # join's state-watermark extraction recognizes only foldable
    # interval arithmetic in the range condition — with an opaque
    # expression the join still answers correctly but never derives a
    # state eviction bound, so outer rows would never emit and state
    # would grow without bound
    cond = (
        (F.col("p_user") == F.col("t_user"))
        & (F.col("vts")
           >= F.col("pts") - F.expr(f"INTERVAL {lookback_sec} SECOND"))
        & (F.col("vts") < F.col("pts"))
    )
    return purchases.join(touches, cond, how).drop("t_user")


def stream_attribution(events: DataFrame, match_dir: str,
                       checkpoint_dir: str,
                       lookback_sec: int = 86400,
                       watermark: str = "1 hour") -> StreamingQuery:
    """Run the attribution interval join over a stream and land the
    match log as parquet (append sink — the join is append-safe, so
    replayed batches never duplicate a match). Consumers assign
    credit over the landed log; see stream_attribution_matches."""
    return _drain(
        stream_attribution_matches(events, lookback_sec, watermark)
        .writeStream.format("parquet").option("path", match_dir),
        checkpoint_dir)


def apply_hll_delta(registers_dir: str, batch_df: DataFrame,
                    batch_id: int, item_col: str,
                    group_cols: tuple[str, ...] = ()) -> bool:
    """Idempotently fold one micro-batch into a persistent
    HyperLogLog register table — the distinct-count tier of the
    streaming-maintenance family (rollup view = SUM-mergeable,
    heavy-hitters = Misra-Gries-mergeable, this = MAX-mergeable):
    the batch's (group, bucket, rho-max) registers merge into the
    stored table by MAX, which is associative, commutative, and
    idempotent — O(m) state per group forever, any replay shape
    safe. Store protocol: :func:`_fold_store`."""
    from flight_data_pipeline_spark.operators.sketches import (
        _hll_bucket_rho,
    )

    gcols = list(group_cols)
    bucket, rho = _hll_bucket_rho(F.col(item_col))
    delta = (
        batch_df.select(*gcols, bucket.alias("b"), rho.alias("rho"))
        .groupBy(*gcols, "b")
        .agg(F.max("rho").alias("r"))
    )
    return _fold_store(
        batch_df.sparkSession, registers_dir, batch_id,
        lambda base: delta if base is None else (
            base.select(*gcols, "b", "r").unionByName(delta)
            .groupBy(*gcols, "b")
            .agg(F.max("r").alias("r"))))


def stream_distinct_registers(events: DataFrame, registers_dir: str,
                              checkpoint_dir: str, item_col: str,
                              group_cols: tuple[str, ...] = ()
                              ) -> StreamingQuery:
    """Streaming distinct-count maintenance: each micro-batch's HLL
    registers MAX-merge into a persistent register table; consumers
    read the table and apply the estimate formula
    (operators/sketches.hll_estimate over the registers) at any time
    — cardinality-over-all-history in O(m) state per group, exactly
    the shape a 100 TB dedupe/reach dashboard needs. foreachBatch +
    checkpointed offsets + batch-id idempotence give effective
    exactly-once on the registers across restarts."""
    return _drain(events.writeStream.foreachBatch(
        lambda df, bid: apply_hll_delta(
            registers_dir, df, bid, item_col, group_cols)), checkpoint_dir)


def apply_attribution_credits_delta(state_dir: str, batch_df: DataFrame,
                                    batch_id: int) -> bool:
    """Incremental maintenance of the per-purchase U-shaped credit
    table from the attribution MATCH stream — the pattern for
    non-decomposable per-entity aggregates (a purchase's credit split
    shifts whenever its touch path grows, so it can't partial-agg):
    recompute ONLY the purchases present in this batch over the full
    match log, and key-replace their rows in the stored table.

    Layout under ``state_dir``: ``matches/batch=<id>/`` holds each
    micro-batch's matches (mode=overwrite per batch dir, so a replay
    rewrites identical bytes — idempotent by construction), and
    ``credits/`` is the per-(pid, day, touch_type) credit table
    (store protocol: :func:`_fold_store`). Work per trigger is
    O(affected purchases' matches + credit-table anti join), never a
    full recompute; consumers aggregate the table to the
    (day, touch_type) view, which equals the batch
    multi_touch_attribution on the same events (pinned in tests)."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession

    def step(base: DataFrame | None) -> DataFrame:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(state_dir, "matches", f"batch={batch_id}"))
        log = spark.read.parquet(os.path.join(state_dir, "matches"))
        affected = batch_df.select("pid").distinct()
        aff = log.join(F.broadcast(affected), "pid", "left_semi")

        w = Window.partitionBy("pid")
        rk = F.row_number().over(w.orderBy("vts", "vid"))
        n = F.count("*").over(w)
        ranked = aff.select("pid", "pts", "touch_type",
                            rk.alias("rk"), n.alias("n"))
        # exact integer micro-credits — the batch query's discipline
        credit_e6 = (
            F.when(F.col("n") == 1, F.lit(1_000_000))
            .when(F.col("n") == 2, F.lit(500_000))
            .when((F.col("rk") == 1) | (F.col("rk") == F.col("n")),
                  F.lit(400_000))
            .otherwise(F.floor(F.lit(200000.0) / (F.col("n") - 2))
                       .cast("long"))
        )
        fresh = (
            ranked.groupBy(
                "pid",
                F.date_format(F.col("pts").cast("date"), "yyyy-MM-dd")
                .alias("day"),
                "touch_type")
            .agg(F.sum(credit_e6).alias("credit_e6"),
                 F.count("*").alias("n_touches"))
        )
        if base is None:
            return fresh
        return base.join(F.broadcast(affected), "pid", "left_anti") \
            .unionByName(fresh)

    return _fold_store(spark, os.path.join(state_dir, "credits"),
                       batch_id, step)


def stream_attribution_credits(events: DataFrame, state_dir: str,
                               checkpoint_dir: str,
                               lookback_sec: int = 86400,
                               watermark: str = "1 hour") -> StreamingQuery:
    """End-to-end streaming attribution: the watermarked interval
    join (stream_attribution_matches) feeds foreachBatch delta
    maintenance of the per-purchase credit table
    (apply_attribution_credits_delta). Together: matches stream
    exactly-once; credits converge to the batch answer as each
    purchase's window fills — the streaming twin of
    multi_touch_attribution with replay-safe state."""
    return _drain(
        stream_attribution_matches(events, lookback_sec, watermark)
        .writeStream.foreachBatch(
            lambda df, bid: apply_attribution_credits_delta(
                state_dir, df, bid)),
        checkpoint_dir)


def apply_lsh_dedup_delta(state_dir: str, batch_df: DataFrame,
                          batch_id: int, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 32,
                          bands: int = 8, shingle_size: int = 3) -> bool:
    """Incremental NEAR-dup detection for streaming document ingest:
    each micro-batch's MinHash band keys probe the persistent LSH
    bucket store built from every earlier batch — a new doc is
    flagged when it collides with the corpus-so-far (or with a
    smaller-id doc in its own batch), then its keys join the store.
    The streaming twin of minhash_lsh_candidates with the batch
    keep-min convention, provided ids grow with arrival order.

    State under ``state_dir``: ``buckets/batch=<id>/`` band-key
    relations (overwrite per batch dir — replay rewrites identical
    bytes; probes exclude the current batch's dir, so a replay after
    a crash between bucket write and flag swap never self-matches)
    and ``flags/`` — the cumulative (doc, n_candidates, is_near_dup)
    table (store protocol: :func:`_fold_store`).

    Scale: per trigger the probe joins batch keys against the store
    on band key — collision-bounded like the batch LSH (never
    pairs²); the store grows by one bounded relation per batch and
    its dirs compact like any append table."""
    from flight_data_pipeline_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
    )

    spark = batch_df.sparkSession

    def step(base: DataFrame | None) -> DataFrame:
        sigs = minhash_signatures(batch_df, id_col, text_col,
                                  num_hashes=num_hashes,
                                  shingle_size=shingle_size)
        keys = sigs.select(
            F.col(id_col).alias("doc"),
            F.explode(lsh_band_keys(F.col("sig"), bands,
                                    num_hashes // bands)).alias("bk"),
        ).distinct()

        bucket_root = os.path.join(state_dir, "buckets")
        prior_dirs = _prior_batches(bucket_root, batch_id)
        cross = (
            keys.join(spark.read.parquet(*prior_dirs)
                      .select(F.col("doc").alias("__prior"), "bk"), "bk")
            .select("doc", F.col("__prior").alias("partner"))
            if prior_dirs else keys.limit(0).select(
                "doc", F.col("doc").alias("partner"))
        )
        intra = (
            keys.join(keys.select(F.col("doc").alias("__other"), "bk"),
                      "bk")
            .where(F.col("__other") < F.col("doc"))
            .select("doc", F.col("__other").alias("partner"))
        )
        cands = cross.unionByName(intra).distinct()
        fresh = (
            batch_df.select(F.col(id_col).alias("doc"))
            .join(cands.groupBy("doc")
                  .agg(F.count("*").alias("n_candidates")), "doc", "left")
            .select(
                "doc",
                F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                (F.coalesce("n_candidates", F.lit(0)) > 0)
                .alias("is_near_dup"),
            )
        )
        keys.write.mode("overwrite").parquet(
            os.path.join(bucket_root, f"batch={batch_id}"))
        return fresh if base is None else base.unionByName(fresh)

    return _fold_store(spark, os.path.join(state_dir, "flags"), batch_id,
                       step)


def stream_near_dup_flags(docs: DataFrame, state_dir: str,
                          checkpoint_dir: str, **lsh_kwargs
                          ) -> StreamingQuery:
    """Run incremental LSH near-dup flagging over a document stream
    (see apply_lsh_dedup_delta). foreachBatch + checkpointed offsets
    + batch-id idempotence: every doc is flagged exactly once against
    the corpus that preceded it."""
    return _drain(docs.writeStream.foreachBatch(
        lambda df, bid: apply_lsh_dedup_delta(
            state_dir, df, bid, **lsh_kwargs)), checkpoint_dir)


def apply_corpus_intake_delta(state_dir: str, batch_df: DataFrame,
                              batch_id: int, id_col: str = "doc_id",
                              text_col: str = "text",
                              source_col: str = "source") -> bool:
    """Streaming corpus curation — the incremental counterpart of the
    batch `curated_training_mix` funnel, composed from the round's
    streaming primitives: each document batch is (1) near-dup-flagged
    against the corpus-so-far via the persistent LSH bucket store
    (apply_lsh_dedup_delta's probe, shared state layout), (2) quality
    -gated (operators/text.quality_band — flag-don't-drop), and
    (3) folded into two stores: the cumulative per-doc DECISION table
    and the per-source funnel COUNTS (SUM-mergeable, so the funnel
    is a partial-aggregate merge, never a rescan). Each of the three
    stores folds through :func:`_fold_store`, so a replay after a crash
    between two swaps completes the stores the crash left behind; a
    doc admitted once can never be retro-rejected by later arrivals
    (arrival order IS the keep-min rule — the first copy wins, its
    later near-dups are rejected, exactly the batch keep-min
    convention under arrival-ordered ids). Returns True when any
    store took the batch."""
    from flight_data_pipeline_spark.operators.text import quality_band

    spark = batch_df.sparkSession
    # near-dup flags vs corpus-so-far: reuse the LSH delta's bucket
    # store + probe by running it against a sibling root (it swaps its
    # own flags table, which then holds this batch's docs)
    lsh_state = os.path.join(state_dir, "lsh")
    applied = apply_lsh_dedup_delta(lsh_state, batch_df, batch_id,
                                    id_col=id_col, text_col=text_col)
    lsh_flags = spark.read.parquet(
        _live_dir(os.path.join(lsh_state, "flags")))
    fresh = (
        batch_df.select(
            F.col(id_col).alias("doc"),
            F.col(source_col).alias("source"),
            (quality_band(F.col(text_col)) == "good").alias("quality_ok"),
        )
        .join(lsh_flags.select("doc", "is_near_dup"), "doc")
        .select(
            "doc", "source", "quality_ok",
            F.col("is_near_dup").alias("dup"),
            (F.col("quality_ok") & ~F.col("is_near_dup"))
            .alias("accepted"),
        )
    )
    applied |= _fold_store(spark, os.path.join(state_dir, "decisions"),
                           batch_id, _append_step(fresh))

    # per-source funnel counts: SUM-mergeable partials
    delta = (
        fresh.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.when(F.col("dup"), 1).otherwise(0))
             .alias("n_dups"),
             F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0))
             .alias("n_low_quality"),
             F.sum(F.when(F.col("accepted"), 1).otherwise(0))
             .alias("n_accepted"))
    )
    applied |= _fold_store(
        spark, os.path.join(state_dir, "funnel"), batch_id,
        _sum_step(delta, ("source",),
                  ("n_docs", "n_dups", "n_low_quality", "n_accepted")))
    return applied


def stream_corpus_intake(docs: DataFrame, state_dir: str,
                         checkpoint_dir: str) -> StreamingQuery:
    """Run the incremental curation funnel over a document stream —
    see apply_corpus_intake_delta. The streaming counterpart of the
    batch curated_training_mix flagship: decisions and funnel counts
    stay current per micro-batch at delta cost, never a corpus
    rescan."""
    return _drain(docs.writeStream.foreachBatch(
        lambda df, bid: apply_corpus_intake_delta(state_dir, df, bid)),
        checkpoint_dir)



def quarantine_malformed(spark: SparkSession, landing_dir: str,
                         dlq_dir: str) -> int:
    """Dead-letter CAPTURE: copy every landing payload file the
    parser cannot extract a full record from (no intensity record, no
    generation mix, or neither) into ``dlq_dir`` with a ``.reason``
    sidecar naming the missing half or halves. The live stream DROPS
    such records (a stream can't abort for one bad file) —
    capture is what makes the reference's failed-run → fix → rerun
    loop (etl_job.py status machine) possible in file form.
    Idempotent: re-runs overwrite the same names. Returns the count
    quarantined.

    Plan: the probe is the same projection the stream parses with,
    evaluated distributively; only the quarantine-sized FILE LIST
    reaches the driver for the copies."""
    raw = (
        spark.read.format("text").option("wholetext", True)
        .load(landing_dir)
        .withColumnRenamed("value", "payload")
        .withColumn("file", F.input_file_name())
    )
    bad = (
        _payload_rows(raw, "file")
        .where(~(F.col("int_found") & F.col("mix_found")))
        .select("file", "int_found", "mix_found")
    )
    os.makedirs(dlq_dir, exist_ok=True)
    n = 0
    for row in bad.toLocalIterator():
        path = row.file.removeprefix("file:")
        name = os.path.basename(path)
        shutil.copyfile(path, os.path.join(dlq_dir, name))
        with open(os.path.join(dlq_dir, name + ".reason"), "w") as fh:
            fh.write("; ".join(
                why for why, found in (
                    ("no parseable intensity record", row.int_found),
                    ("no generation mix data", row.mix_found))
                if not found))
        n += 1
    return n


def reprocess_dead_letters(spark: SparkSession, dlq_dir: str,
                           telemetry_path: str, audit_path: str) -> dict:
    """Dead-letter REPLAY: after the payloads are repaired in place
    (or the parser fixed), run the quarantined files through the SAME
    parse → validate path as live traffic, then write through
    ``TelemetrySink.append_dedup`` like a batch run: hours already in
    the sink are skipped (a double replay is a no-op), repaired files
    for one hour keep the earliest timestamp, and only the sink's
    columns are written. Recovered files and sidecars are removed;
    still-unparseable files stay quarantined. One audit row records
    the attempt. Returns {"recovered_rows", "recovered_files",
    "still_dead"}."""
    files = [f for f in sorted(os.listdir(dlq_dir))
             if not f.endswith(".reason")]
    if not files:
        return {"recovered_rows": 0, "recovered_files": 0, "still_dead": 0}
    raw = (
        spark.read.format("text").option("wholetext", True)
        .load([os.path.join(dlq_dir, f) for f in files])
        .withColumnRenamed("value", "payload")
        .withColumn("file", F.input_file_name())
    )
    ok = _payload_rows(raw, "file") \
        .where(F.col("int_found") & F.col("mix_found"))
    recovered_files = [
        r.file.removeprefix("file:")
        for r in ok.select("file").distinct().toLocalIterator()
    ]
    n = TelemetrySink(spark, telemetry_path).append_dedup(
        quality_gate(ok, telemetry_checks()))
    AuditSink(spark, audit_path).log_run(
        "success" if n else "skipped", n, 0)
    for full in recovered_files:
        name = os.path.basename(full)
        for victim in (os.path.join(dlq_dir, name),
                       os.path.join(dlq_dir, name + ".reason")):
            try:
                os.remove(victim)
            except OSError:
                pass
    still = len([f for f in os.listdir(dlq_dir)
                 if not f.endswith(".reason")])
    return {"recovered_rows": n,
            "recovered_files": len(recovered_files),
            "still_dead": still}


def apply_join_ivm_delta(state_dir: str, batch_df: DataFrame,
                         batch_id: int) -> bool:
    """Incremental view maintenance of a two-sided JOIN aggregate —
    the delta-join algebra (ΔF ⋈ D ∪ F ⋈ ΔD ∪ ΔF ⋈ ΔD) the streaming
    tier was missing: both the fact side AND the dimension side
    arrive incrementally on one CDC-style union feed, and the
    materialized revenue-per-segment view stays equal to the full
    join recomputed over everything seen so far, without ever
    rescanning it.

    This is the case the simpler maintenance shapes can't cover:
    ``stream_rollup_upsert`` maintains a single-table aggregate, and
    ``stream_enrich`` joins facts against the dim AS OF their batch —
    a fact whose dimension row hasn't arrived yet is enriched NULL
    forever. Here that late-arriving dimension is the ``F_old ⋈ ΔD``
    term: when the dim row lands, every stored fact waiting on its
    key joins at that moment and the view catches up exactly.

    Feed schema (one stream, CDC topic-per-table collapsed with a
    tag): ``side ('fact'|'dim'), k (join key), cents (fact payload,
    NULL on dim rows), segment (dim payload, NULL on fact rows)``.
    INSERT-only deltas with unique dim keys — segment UPDATEs would
    need retraction rows (a signed ``weight`` column summed in place
    of ``count(*)``, emitting −1/−cents under the old segment and
    +1/+cents under the new); the view merge (SUM-combine) would
    carry those signed partials unchanged, but the delta aggregation
    below counts rows, so supporting retractions means switching its
    two aggregates to ``sum(weight)`` / ``sum(weight*cents)`` —
    noted here so the extension is mechanical, not archaeology.

    State under ``state_dir``: ``facts/batch=<id>/`` and
    ``dims/batch=<id>/`` side stores (overwrite per batch dir —
    replay rewrites identical bytes; the three delta terms read only
    PRIOR batch dirs, so a crash-then-replay never double-joins), and
    ``view/`` — the (segment, n_orders, cents) aggregate (store
    protocol: :func:`_fold_store`).

    Scale: per trigger the three terms shuffle only ``|ΔF| + |ΔD| +
    matched-prior rows`` on the join key (the stores are key-stored
    relations any real deployment would bucket by k, making the
    prior-side probes partition-local); the view merge is
    summary-sized. The full-history F ⋈ D is never recomputed — that
    is the point of IVM."""
    from flight_data_pipeline_spark.operators.relational import (
        combine_partial_aggs,
    )

    spark = batch_df.sparkSession
    d_facts = (batch_df.where(F.col("side") == "fact")
               .select("k", "cents"))
    d_dims = (batch_df.where(F.col("side") == "dim")
              .select("k", "segment"))

    def prior(kind: str, cols: str) -> DataFrame:
        dirs = _prior_batches(os.path.join(state_dir, kind), batch_id)
        if dirs:
            return spark.read.parquet(*dirs)
        return local_frame(spark, [], cols)

    def step(base: DataFrame | None) -> DataFrame:
        f_old = prior("facts", "k long, cents long")
        d_old = prior("dims", "k long, segment string")
        delta_join = (
            d_facts.join(d_old, "k")                  # ΔF ⋈ D_old
            .unionByName(f_old.join(d_dims, "k"))     # F_old ⋈ ΔD
            .unionByName(d_facts.join(d_dims, "k"))   # ΔF ⋈ ΔD
        )
        delta = (delta_join.groupBy("segment")
                 .agg(F.count("*").alias("n_orders"),
                      F.sum("cents").alias("cents")))

        d_facts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "facts", f"batch={batch_id}"))
        d_dims.write.mode("overwrite").parquet(
            os.path.join(state_dir, "dims", f"batch={batch_id}"))
        if base is None:
            return delta
        return combine_partial_aggs(base, delta, keys=("segment",),
                                    agg_cols=("n_orders", "cents"))

    return _fold_store(spark, os.path.join(state_dir, "view"), batch_id,
                       step)


def stream_join_ivm(feed: DataFrame, state_dir: str,
                    checkpoint_dir: str) -> StreamingQuery:
    """Run incremental join-view maintenance over a CDC union feed
    (see apply_join_ivm_delta). foreachBatch + checkpointed offsets +
    batch-id idempotence: the maintained per-segment aggregate equals
    a full recompute over every fact/dim row delivered so far, with
    late-arriving dimension rows healing their waiting facts."""
    return _drain(feed.writeStream.foreachBatch(
        lambda df, bid: apply_join_ivm_delta(state_dir, df, bid)),
        checkpoint_dir)


def apply_day_user_delta(state_dir: str, batch_df: DataFrame,
                         batch_id: int, ts_col: str = "ts",
                         user_col: str = "user_id") -> bool:
    """Idempotently fold one micro-batch into the persistent distinct
    (epoch-day, user) observation table — the EXACT state behind a
    sliding-window distinct-users metric. Distinct-over-a-window
    doesn't decompose into mergeable counters, but its MINIMAL exact
    state does: the day×user presence set, whose merge (distinct
    union) is associative, commutative, and idempotent — any replay
    shape is safe, same as the HLL register table one tier up (which
    remains the sketch alternative when |users| makes exact state too
    big). State grows with |days| × |active users/day| — the same
    grain the batch query (sliding_7d_distinct_users) reduces to
    before ITS window, so the stream holds nothing the batch plan
    wouldn't materialize anyway. Store protocol: :func:`_fold_store`."""
    from flight_data_pipeline_spark.functions.scalars import (
        to_epoch_seconds,
    )

    delta = (
        batch_df.select(
            F.expr(f"CAST({ts_col} AS TIMESTAMP)").alias("__ts"),
            F.col(user_col).alias("user_id"))
        .select(to_epoch_seconds(F.col("__ts")).alias("__es"), "user_id")
        .select(F.expr("__es div 86400").alias("d"), "user_id")
        .distinct()
    )
    return _fold_store(
        batch_df.sparkSession, state_dir, batch_id,
        lambda base: delta if base is None else
        base.select("d", "user_id").unionByName(delta).distinct())


def sliding_distinct_users_view(spark: SparkSession, state_dir: str,
                                window_days: int = 7) -> DataFrame:
    """Consumer of the day×user store: per observed day, the exact
    distinct-user count over the trailing ``window_days`` — the same
    explode-by-offset plan as the batch sliding_7d_distinct_users
    (each pair replicated to the window-end days it falls inside, one
    distinct aggregate), so stream-maintained state and batch
    recompute are pinned equal by construction, reading day-grain
    state instead of raw events."""
    du = spark.read.parquet(_live_dir(state_dir))
    days = du.select("d").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.col("d"),
                             F.col("d") + F.lit(window_days - 1)))
        .alias("wd"),
        "user_id",
    )
    return (
        contrib.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def stream_sliding_distinct(events: DataFrame, state_dir: str,
                            checkpoint_dir: str, ts_col: str = "ts",
                            user_col: str = "user_id") -> StreamingQuery:
    """Streaming maintenance of the exact sliding-distinct state:
    each micro-batch's distinct (day, user) pairs union into the
    persistent store; consumers call sliding_distinct_users_view at
    any time. foreachBatch + checkpointed offsets + batch-id
    idempotence give effective exactly-once across restarts."""
    return _drain(events.writeStream.foreachBatch(
        lambda df, bid: apply_day_user_delta(
            state_dir, df, bid, ts_col, user_col)), checkpoint_dir)


def apply_posting_delta(index_dir: str, batch_df: DataFrame,
                        batch_id: int, id_col: str = "doc_id",
                        text_col: str = "text") -> bool:
    """Idempotently fold one micro-batch of (immutable, append-only)
    documents into a persistent BM25 POSTING-LIST INDEX: two stores
    under ``index_dir`` — ``postings`` (term, doc_id, tf) and
    ``doclen`` (doc_id, dl) — each its own store
    (:func:`_fold_store`). A crash between the two swaps leaves one
    store applied; on replay, its batch-id marker makes its re-apply
    a no-op while the other catches up — the pair converges under any
    replay shape because documents are append-only (new doc_ids
    union in; nothing is ever updated in place).

    This is incremental SEARCH-INDEX maintenance: the corpus is read
    once as it arrives, and query-time work touches only the queried
    terms' posting lists — never the corpus."""
    from flight_data_pipeline_spark.operators.text import tokens

    applied = False
    toks = batch_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    for sub, delta in (
        ("postings",
         toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))),
        ("doclen",
         toks.groupBy("doc_id").agg(F.count("*").alias("dl"))),
    ):
        applied |= _fold_store(batch_df.sparkSession,
                               os.path.join(index_dir, sub), batch_id,
                               _append_step(delta))
    return applied


def bm25_topk_from_index(spark: SparkSession, index_dir: str,
                         terms: tuple[str, ...], k: int = 15) -> DataFrame:
    """Query the stream-maintained index: BM25 top-k for ``terms``
    touching ONLY those terms' posting lists (a term-keyed semi
    filter on the postings store) plus the doc-length table — the
    payoff of index maintenance: query cost is candidate-sized, not
    corpus-sized. Scoring uses the SAME integer-micro-unit expression
    as the batch scorer (operators/text.bm25_term_score_micro), so
    index-served and batch-recomputed scores are equal by
    construction (pinned in tests/test_streaming.py). Returns
    (doc_id, bm25_u, n_terms) like text_queries.bm25_doc_scores."""
    from flight_data_pipeline_spark.operators.text import (
        bm25_term_score_micro,
    )

    postings = spark.read.parquet(_live_dir(index_dir + "/postings"))
    dl = spark.read.parquet(_live_dir(index_dir + "/doclen"))
    corpus = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
    tf = postings.where(F.col("term").isin(*terms))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            bm25_term_score_micro(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n"), F.col("s")).alias("term_score_u"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score_u").alias("bm25_u"),
        F.count("*").alias("n_terms"),
    )
    return agg.orderBy(F.desc("bm25_u"), "doc_id").limit(k)


def stream_bm25_index(docs: DataFrame, index_dir: str,
                      checkpoint_dir: str, id_col: str = "doc_id",
                      text_col: str = "text") -> StreamingQuery:
    """Streaming BM25 index maintenance over an append-only document
    stream: foreachBatch + checkpointed offsets + per-store batch-id
    idempotence give effective exactly-once on both index tables
    across restarts."""
    return _drain(docs.writeStream.foreachBatch(
        lambda df, bid: apply_posting_delta(
            index_dir, df, bid, id_col, text_col)), checkpoint_dir)


def apply_rank_delta(state_dir: str, batch_df: DataFrame,
                     batch_id: int, damping: float = 0.85,
                     tol: float = 1e-9, max_rounds: int = 40) -> bool:
    """Incremental PAGERANK maintenance on an edge-delta stream — the
    streaming twin the iterative-graph family was missing (every
    other extension tier already has one: rollups, heavy hitters,
    HLL, BM25 index, LSH dedup, attribution, join-IVM).

    Two stores under ``state_dir``, each its own
    :func:`_fold_store` (the apply_posting_delta two-store shape):
    ``edges`` (s, d, w — weights summed per edge as
    deltas fold in) and ``ranks`` (v, rank — the maintained
    snapshot). Per batch: merge the edge delta, then re-run the float
    :func:`~flight_data_pipeline_spark.operators.graph.pagerank`
    rounds over the accumulated edge set WARM-STARTED from the stored
    snapshot. Damping < 1 makes the fixed point unique for any mass-1
    start, so the maintained snapshot converges to exactly what a
    batch recompute over the same edges yields (pinned in
    tests/test_streaming.py) — but a small delta typically needs 1-3
    rounds from the warm start instead of ~15 from uniform, which is
    the entire economy of maintaining state.

    Replay contract: a replayed batch whose edges are already folded
    skips the merge (marker) and whose ranks are already published
    skips the recompute — fully idempotent. A crash between the two
    swaps replays safely: edges skip, ranks re-converge over the
    already-merged edge set (same fixed point)."""
    from flight_data_pipeline_spark.operators.graph import pagerank

    spark = batch_df.sparkSession
    delta = (
        batch_df.select(F.col("src").alias("s"), F.col("dst").alias("d"),
                        F.col("w").cast("double").alias("w"))
        .groupBy("s", "d").agg(F.sum("w").alias("w"))
    )
    eroot = os.path.join(state_dir, "edges")
    applied = _fold_store(spark, eroot, batch_id,
                          _sum_step(delta, ("s", "d"), ("w",)))
    applied |= _fold_store(
        spark, os.path.join(state_dir, "ranks"), batch_id,
        lambda prev: pagerank(
            spark.read.parquet(_live_dir(eroot)), src="s", dst="d",
            weight="w", damping=damping, max_iter=max_rounds, tol=tol,
            init_ranks=prev))
    return applied


def rank_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the maintained (v, rank) PageRank snapshot — query cost is
    node-sized, never touching the edge store."""
    return spark.read.parquet(_live_dir(os.path.join(state_dir, "ranks")))


def stream_rank_maintenance(edge_deltas: DataFrame, state_dir: str,
                            checkpoint_dir: str,
                            damping: float = 0.85) -> StreamingQuery:
    """Streaming PageRank maintenance over an (src, dst, w) edge-delta
    stream: foreachBatch + checkpointed offsets + per-store batch-id
    idempotence give effective exactly-once on the rank snapshot
    across restarts and replays."""
    return _drain(edge_deltas.writeStream.foreachBatch(
        lambda df, bid: apply_rank_delta(state_dir, df, bid, damping)),
        checkpoint_dir)


def apply_cluster_map_delta(state_dir: str, batch_df: DataFrame,
                            batch_id: int, src: str = "doc_a",
                            dst: str = "doc_b") -> bool:
    """Incremental NEAR-DUP CLUSTER-MAP maintenance on a pair-delta
    stream — union-find view maintenance as pure DataFrame ops. The
    batch `near_dup_clusters` runs connected components over the full
    pair graph; at 100 TB with a live intake you cannot re-run CC per
    batch, and this is the standard fix: keep the (doc, cluster) map
    (cluster = component min doc id, the batch convention), and per
    pair-delta batch

    1. CONTRACT: map each new pair's endpoints to their current
       cluster labels (a doc not yet in the map labels itself) and
       drop self-loops — the surviving edges connect CLUSTERS, so the
       graph CC must chew is delta-sized, never corpus-sized;
    2. run :func:`~...operators.dedup.connected_components` on that
       contracted graph → old-label → new-label merge mapping
       (contracting the components of E(t-1) and adding the delta
       yields exactly the components of E(t-1) ∪ delta, and the min
       over {old labels ∪ new doc ids} IS the new component min, so
       the min-id convention is preserved without touching members);
    3. re-label the stored map through the mapping (one broadcast-
       sized join — the mapping has one row per touched cluster) and
       append the delta's new docs with their final labels.

    The maintained map is the same (doc, cluster) table
    `leakage_safe_split_materialized` reads, so the leakage-safe
    split's input stays fresh without ever re-running CC over the
    corpus (store protocol: :func:`_fold_store`); converge-to-batch
    and replay no-op are pinned in tests/test_streaming.py."""
    from flight_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    spark = batch_df.sparkSession
    delta = (batch_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .where(F.col("a") != F.col("b")).distinct())

    def step(cmap: DataFrame | None) -> DataFrame:
        if cmap is None:
            cmap = local_frame(spark, [], "doc long, cluster long")
        # contract: endpoint → current cluster (self if unmapped)
        contracted = (
            delta
            .join(cmap.select(F.col("doc").alias("a"),
                              F.col("cluster").alias("ca")), "a", "left")
            .join(cmap.select(F.col("doc").alias("b"),
                              F.col("cluster").alias("cb")), "b", "left")
            .select(F.coalesce("ca", F.col("a")).alias("s"),
                    F.coalesce("cb", F.col("b")).alias("d"))
            .where(F.col("s") != F.col("d"))
        )
        # merge mapping over the contracted (delta-sized) graph
        mapping = (connected_components(contracted, src="s", dst="d")
                   .select(F.col("v").alias("old_label"),
                           F.col("label").alias("new_label")))

        relabeled = (
            cmap.join(F.broadcast(mapping),
                      cmap.cluster == mapping.old_label, "left")
            .select("doc",
                    F.coalesce("new_label", "cluster").alias("cluster"))
        )
        new_docs = (
            delta.select(F.col("a").alias("doc"))
            .unionByName(delta.select(F.col("b").alias("doc")))
            .distinct()
            .join(cmap.select("doc"), "doc", "left_anti")
            .join(F.broadcast(mapping),
                  F.col("doc") == F.col("old_label"), "left")
            .select("doc", F.coalesce("new_label", F.col("doc"))
                    .alias("cluster"))
        )
        return relabeled.unionByName(new_docs)

    return _fold_store(spark, os.path.join(state_dir, "clusters"),
                       batch_id, step)


def cluster_map_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained (doc, cluster) map — cluster = component min doc
    id, identical to the batch connected-components labels over every
    pair folded so far."""
    return spark.read.parquet(
        _live_dir(os.path.join(state_dir, "clusters")))


def stream_cluster_map(pairs: DataFrame, state_dir: str,
                       checkpoint_dir: str, src: str = "doc_a",
                       dst: str = "doc_b") -> StreamingQuery:
    """Streaming union-find: maintain the near-dup cluster map over a
    (doc_a, doc_b) pair-delta stream (the LSH prober's output) with
    effective exactly-once across restarts and replays."""
    return _drain(pairs.writeStream.foreachBatch(
        lambda df, bid: apply_cluster_map_delta(
            state_dir, df, bid, src=src, dst=dst)), checkpoint_dir)


def apply_centroid_stats_delta(state_dir: str, batch_df: DataFrame,
                               batch_id: int, k: int = 8,
                               dim: int = 64) -> bool:
    """Incremental CLUSTERING sufficient-stats maintenance on a vector
    stream — the streaming twin of the checked
    `kmeans_assignment_round` (same md5-seeded integer milli-unit
    centroids, same quantized assignment). Per batch, each arriving
    vector is assigned to its nearest fixed centroid and folded into
    two SUM-mergeable stores:

    - ``counts``: (k, n, inertia) — members and integer inertia;
    - ``dims``: (k, pos, s) — per-dimension milli-unit sums in LONG
      format (k×dim rows, the same layout the batch `label_centroids`
      uses), so the fold is a plain groupBy merge, never an
      array-aggregate.

    Together these are exactly Lloyd's UPDATE-step input: the next
    centroid for cluster k is dims.s/counts.n per position — so a
    periodic centroid refresh is one k×dim-row job over the store,
    and the assignment loop never rescans history (mini-batch k-means
    à la Sculley, with the stats exact rather than decayed). Because
    everything is integer and SUM-mergeable, the maintained state
    equals the batch recompute over all folded vectors bit-for-bit
    (pinned in tests/test_streaming.py). Each store folds through
    :func:`_fold_store`."""
    from flight_data_pipeline_spark.operators.vectors import (
        md5_seed_centroids,
        quantized_lloyd_assignment,
    )

    spark = batch_df.sparkSession
    cents = md5_seed_centroids(spark, k, dim)
    assigned = quantized_lloyd_assignment(batch_df, cents)
    counts = assigned.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("d2").alias("inertia"))
    dims = (
        assigned.select("k", F.posexplode("q").alias("pos", "v"))
        .groupBy("k", "pos").agg(F.sum("v").alias("s"))
    )
    applied = _fold_store(spark, os.path.join(state_dir, "counts"),
                          batch_id,
                          _sum_step(counts, ("k",), ("n", "inertia")))
    applied |= _fold_store(spark, os.path.join(state_dir, "dims"),
                           batch_id, _sum_step(dims, ("k", "pos"), ("s",)))
    return applied


def centroid_stats_snapshot(spark: SparkSession,
                            state_dir: str) -> tuple[DataFrame, DataFrame]:
    """(counts, dims) — the maintained per-centroid sufficient stats;
    counts = (k, n, inertia), dims = (k, pos, s)."""
    return (
        spark.read.parquet(_live_dir(os.path.join(state_dir, "counts"))),
        spark.read.parquet(_live_dir(os.path.join(state_dir, "dims"))),
    )


def stream_centroid_stats(vectors: DataFrame, state_dir: str,
                          checkpoint_dir: str, k: int = 8,
                          dim: int = 64) -> StreamingQuery:
    """Streaming k-means sufficient-stats maintenance over a
    (vec_id, embedding) stream with effective exactly-once."""
    return _drain(vectors.writeStream.foreachBatch(
        lambda df, bid: apply_centroid_stats_delta(
            state_dir, df, bid, k=k, dim=dim)), checkpoint_dir)
