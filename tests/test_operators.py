"""Edge-semantics tests for custom operators (as-of join,
sessionization, dedup helpers) — cases the fixture-driven oracle
parity tests don't guarantee to exercise."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from flight_data_pipeline_spark.operators.dedup import exact_dedup, first_per_bucket
from flight_data_pipeline_spark.operators.relational import asof_join
from flight_data_pipeline_spark.operators.temporal import sessionize

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


class TestAsofJoin:
    def frames(self, spark):
        left = spark.createDataFrame(
            [(1, 100, ts(10)), (2, 100, ts(30)), (3, 200, ts(5))],
            "lid long, user long, ts timestamp",
        )
        right = spark.createDataFrame(
            [(11, 100, ts(0)), (12, 100, ts(10)), (13, 100, ts(20)),
             (14, 300, ts(1))],
            "rid long, user long, ts timestamp",
        )
        return left, right

    def test_inclusive_match_and_no_match(self, spark):
        left, right = self.frames(spark)
        out = {
            r.lid: r.rid_asof
            for r in asof_join(left, right, on="ts", by="user",
                               right_cols=["rid"]).collect()
        }
        assert out[1] == 12   # equal-ts right row matches (inclusive)
        assert out[2] == 13   # latest right ≤ ts(30)
        assert out[3] is None  # user 200 has no right rows → null

    def test_strict_excludes_equal_ts(self, spark):
        left, right = self.frames(spark)
        out = {
            r.lid: r.rid_asof
            for r in asof_join(left, right, on="ts", by="user",
                               right_cols=["rid"], strict=True).collect()
        }
        assert out[1] == 11   # equal-ts row excluded under strict <

    def test_tie_on_right_ts_takes_last_by_first_col(self, spark):
        left = spark.createDataFrame([(1, 100, ts(10))], "lid long, user long, ts timestamp")
        right = spark.createDataFrame(
            [(21, 100, ts(5)), (22, 100, ts(5))], "rid long, user long, ts timestamp"
        )
        row = asof_join(left, right, on="ts", by="user", right_cols=["rid"]).first()
        assert row.rid_asof == 22  # deterministic: max rid among tied ts


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        df = spark.createDataFrame(
            [(100, ts(0)), (100, ts(10)), (100, ts(50)), (100, ts(55)),
             (200, ts(0))],
            "user long, ts timestamp",
        )
        out = sessionize(df, "user", "ts", gap_minutes=30)
        sess = {(r.user, r.ts.minute): r.session_id for r in out.collect()}
        assert sess[(100, 0)] == sess[(100, 10)] == 1   # within 30 min
        assert sess[(100, 50)] == sess[(100, 55)] == 2  # 40-min gap → new
        assert sess[(200, 0)] == 1                      # per-user numbering

    def test_exact_gap_boundary_stays_in_session(self, spark):
        df = spark.createDataFrame(
            [(1, ts(0)), (1, ts(30))], "user long, ts timestamp"
        )
        out = sessionize(df, "user", "ts", gap_minutes=30).collect()
        assert {r.session_id for r in out} == {1}  # gap == 30min not > 30min


class TestDedupHelpers:
    def test_first_per_bucket_deterministic(self, spark):
        df = spark.createDataFrame(
            [(1, "a", ts(0)), (2, "a", ts(1)), (3, "b", ts(2))],
            "id long, k string, ts timestamp",
        )
        kept = first_per_bucket(df, F.col("k"), ["ts", "id"])
        assert sorted(r.id for r in kept.collect()) == [1, 3]

    def test_exact_dedup_with_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(2, "x"), (1, "x"), (5, "y")], "id long, txt string"
        )
        kept = exact_dedup(df, ["txt"], tiebreak=["id"])
        assert sorted(r.id for r in kept.collect()) == [1, 5]


class TestSkewOperators:
    def test_salted_agg_equals_plain_agg(self, spark):
        from flight_data_pipeline_spark.operators.relational import salted_groupby_agg
        # skewed: key 0 has 900 rows, keys 1-9 ten each
        data = [(0, float(i)) for i in range(900)] + \
               [(k, float(i)) for k in range(1, 10) for i in range(10)]
        df = spark.createDataFrame(data, "k long, v double")
        got = {
            r.k: (r.total, r.n, r.lo, r.hi)
            for r in salted_groupby_agg(
                df, ["k"],
                {"total": ("v", "sum"), "n": ("v", "count"),
                 "lo": ("v", "min"), "hi": ("v", "max")},
            ).collect()
        }
        want = {
            r.k: (r.total, r.n, r.lo, r.hi)
            for r in df.groupBy("k").agg(
                F.sum("v").alias("total"), F.count("v").alias("n"),
                F.min("v").alias("lo"), F.max("v").alias("hi")).collect()
        }
        assert got == want

    def test_salted_join_equals_plain_join(self, spark):
        from flight_data_pipeline_spark.operators.relational import salted_join
        big = spark.createDataFrame(
            [(i % 3, i) for i in range(300)], "k long, payload long")
        small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (9, "z")],
                                      "k long, name string")
        got = sorted((r.k, r.payload, r.name)
                     for r in salted_join(big, small, on="k").collect())
        want = sorted((r.k, r.payload, r.name)
                      for r in big.join(small, "k").collect())
        assert got == want


class TestTumblingWindow:
    def test_tumbling_window_agg(self, spark):
        from flight_data_pipeline_spark.operators.temporal import tumbling_window_agg
        import datetime as dt
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 0, m), float(v))
             for m, v in [(5, 1), (25, 2), (35, 3), (59, 4)]],
            "ts timestamp, value double")
        out = tumbling_window_agg(
            df, "ts", "30 minutes",
            F.count("*").alias("n"), F.sum("value").alias("total"))
        rows = {r.window_start.minute: (r.n, r.total) for r in out.collect()}
        assert rows == {0: (2, 3.0), 30: (2, 7.0)}
        assert all(c in out.columns for c in
                   ("window_start", "window_end", "n", "total"))


class TestMergeUpsert:
    def test_actions_and_null_update_wins(self, spark):
        from flight_data_pipeline_spark.operators.relational import merge_upsert
        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, v double")
        updates = spark.createDataFrame(
            [(2, "B", None), (4, "d", 40.0)],
            "id long, name string, v double")
        out = {r.id: r for r in
               merge_upsert(base, updates, ["id"], action_col="action")
               .collect()}
        assert set(out) == {1, 2, 3, 4}
        assert out[1].action == "carry" and out[1].v == 10.0
        # a matched update wins even when it carries NULL (presence
        # semantics, not coalesce)
        assert out[2].action == "update" and out[2].name == "B" \
            and out[2].v is None
        assert out[3].action == "carry"
        assert out[4].action == "insert" and out[4].v == 40.0

    def test_schema_matches_base(self, spark):
        from flight_data_pipeline_spark.operators.relational import merge_upsert
        base = spark.createDataFrame([(1, "x")], "id long, name string")
        upd = spark.createDataFrame([(1, "y")], "id long, name string")
        assert merge_upsert(base, upd, ["id"]).columns == base.columns


class TestScd2History:
    def test_runs_collapse_and_close(self, spark):
        from flight_data_pipeline_spark.operators.temporal import scd2_history
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, 1, "a"), (1, t0 + dt.timedelta(hours=1), 2, "a"),
            (1, t0 + dt.timedelta(hours=2), 3, "b"),
            (1, t0 + dt.timedelta(hours=3), 4, "a"),
            (2, t0, 5, None), (2, t0 + dt.timedelta(hours=1), 6, "x"),
        ]
        df = spark.createDataFrame(
            rows, "k long, ts timestamp, id long, st string")
        out = sorted(
            scd2_history(df, "k", "ts", "st", "id").collect(),
            key=lambda r: (r.k, r.valid_from))
        u1 = [r for r in out if r.k == 1]
        assert [(r.state, r.n_events) for r in u1] == \
            [("a", 2), ("b", 1), ("a", 1)]
        # each interval closes at the next run's start; last stays open
        assert u1[0].valid_to == u1[1].valid_from
        assert u1[2].valid_to is None
        # a NULL initial state still opens an interval (row_number flag)
        u2 = [r for r in out if r.k == 2]
        assert [(r.state, r.n_events) for r in u2] == [(None, 1), ("x", 1)]


class TestRemoveDuplicateSpans:
    def test_planted_boilerplate_is_cut(self, spark):
        from flight_data_pipeline_spark.operators.dedup import (
            remove_duplicate_spans,
        )
        boiler = "all rights reserved contact us today"
        rows = [
            (1, f"alpha beta gamma {boiler} delta"),
            (2, f"one two three four five six {boiler}"),
            (3, "entirely unique prose with no shared spans at all"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in remove_duplicate_spans(
            df, "doc_id", "text", n=3).collect()}
        # the shared 6-token span disappears from both docs; unique
        # prose survives untouched
        assert out[1].cleaned_text == "alpha beta gamma delta"
        assert out[1].removed_tokens == 6
        assert out[2].cleaned_text == "one two three four five six"
        assert out[3].removed_tokens == 0
        assert out[3].cleaned_text == rows[2][1]

    def test_short_doc_whole_gram(self, spark):
        from flight_data_pipeline_spark.operators.dedup import (
            remove_duplicate_spans,
        )
        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc"), (3, "other")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in remove_duplicate_spans(
            df, "doc_id", "text", n=5).collect()}
        # docs shorter than n act as one whole-document gram
        assert out[1].cleaned_text == "" and out[1].removed_tokens == 2
        assert out[3].cleaned_text == "other"


class TestTableFingerprint:
    def test_order_insensitive_and_mutation_sensitive(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            table_fingerprint,
        )
        rows = [(1, "a"), (2, "b"), (3, "c")]
        a = spark.createDataFrame(rows, "id long, s string")
        b = spark.createDataFrame(list(reversed(rows)), "id long, s string")
        cols = [F.col("id"), F.col("s")]
        fa = table_fingerprint(a, cols).first()
        fb = table_fingerprint(b.repartition(3), cols).first()
        assert (fa.n_rows, fa.fingerprint) == (fb.n_rows, fb.fingerprint)
        # one changed cell changes the sum
        c = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")],
                                  "id long, s string")
        fc = table_fingerprint(c, cols).first()
        assert fc.fingerprint != fa.fingerprint


class TestSnapshotDiff:
    def test_classifies_and_drops_unchanged(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            snapshot_diff,
        )
        old = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)],
            "id long, v double")
        new = spark.createDataFrame(
            [(1, 10.0), (2, 99.0), (3, None), (5, 50.0)],
            "id long, v double")
        out = {r.id: (r.action, r.v) for r in snapshot_diff(
            old, new, ["id"], ["v"]).collect()}
        # 1 unchanged, 3 null==null unchanged: both absent
        assert set(out) == {2, 4, 5}
        assert out[2] == ("update", 99.0)
        assert out[4] == ("delete", 40.0)   # deletes carry OLD values
        assert out[5] == ("insert", 50.0)

    def test_diff_of_merge_recovers_changes(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            merge_upsert,
            snapshot_diff,
        )
        base = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, s string")
        changes = spark.createDataFrame(
            [(2, "B"), (3, "c")], "id long, s string")
        merged = merge_upsert(base, changes, ["id"])
        got = {(r.id, r.s, r.action) for r in snapshot_diff(
            base, merged, ["id"], ["s"]).collect()}
        assert got == {(2, "B", "update"), (3, "c", "insert")}


class TestFuzzyPairs:
    def _brute(self, spark, df, d):
        from pyspark.sql import functions as F
        names = df.groupBy("name").agg(F.count("*").alias("n"))
        a = names.selectExpr("name as name_a", "n as n_a")
        b = names.selectExpr("name as name_b", "n as n_b")
        return sorted(
            (r.name_a, r.name_b, r.edit_distance, r.n_a, r.n_b)
            for r in a.crossJoin(b)
            .where(F.col("name_a") < F.col("name_b"))
            .withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
            .where(F.col("edit_distance") <= d)
            .collect()
        )

    def test_blocked_equals_bruteforce_on_part_names(self, spark):
        from flight_data_pipeline_spark.operators.fuzzy import (
            fuzzy_string_pairs_blocked,
        )
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        part = load_table(spark, "part", SF_DIR).selectExpr("p_name as name")
        got = sorted(
            (r.name_a, r.name_b, r.edit_distance, r.n_a, r.n_b)
            for r in fuzzy_string_pairs_blocked(part, "name", 2).collect()
        )
        assert got == self._brute(spark, part, 2)
        assert got, "fixture should contain at least one fuzzy pair"

    def test_multiplicities_and_threshold(self, spark):
        from flight_data_pipeline_spark.operators.fuzzy import (
            fuzzy_string_pairs_blocked,
        )
        df = spark.createDataFrame(
            [("cold bolt",), ("cold bolt",), ("old bolt",), ("red ring",),
             ("red rod",), ("unrelated widget",)],
            "name string",
        )
        rows = {(r.name_a, r.name_b): (r.edit_distance, r.n_a, r.n_b)
                for r in fuzzy_string_pairs_blocked(df, "name", 1).collect()}
        # d=1 keeps cold/old bolt (distance 1) with multiplicities 2/1
        assert rows == {("cold bolt", "old bolt"): (1, 2, 1)}

    def test_former_escape_case_now_found(self, spark):
        """The old shared-token blocking missed a pair whose edits
        touch every token ('ab cd' vs 'ax cx'); the r5 blocking
        (symmetric-delete neighborhood — both strings are short) must
        recover it, matching brute force exactly (ADVICE r4)."""
        from flight_data_pipeline_spark.operators.fuzzy import (
            fuzzy_string_pairs_blocked,
        )
        df = spark.createDataFrame([("ab cd",), ("ax cx",)], "name string")
        got = sorted(
            (r.name_a, r.name_b, r.edit_distance, r.n_a, r.n_b)
            for r in fuzzy_string_pairs_blocked(df, "name", 2).collect())
        assert got == self._brute(spark, df, 2)
        assert got == [("ab cd", "ax cx", 2, 1, 1)]


class TestOhlcTieDeterminism:
    def test_tied_timestamps_break_on_event_id(self, spark):
        """Two events sharing a timestamp must pick open/close by
        event_id (composite champion key), not by partial-agg merge
        luck — the ADVICE r4 nondeterminism fix. Pinned off-fixture
        so the property holds regardless of fixture uniqueness."""
        import os
        import tempfile

        from flight_data_pipeline_spark.plans.registry import (
            QUERIES,
            load_all,
        )

        load_all()

        rows = [
            (1, "2024-01-01 10:00:00", 5.0),
            (3, "2024-01-01 10:00:00", 7.0),   # ties with event 1
            (2, "2024-01-01 10:30:00", 6.0),
            (4, "2024-01-01 10:59:00", 9.0),
            (5, "2024-01-01 10:59:00", 1.0),   # ties with event 4
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, value double"
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts",
            "CAST(event_id AS LONG) AS user_id", "'tie' AS event_type",
            "value", "'{}' AS props",
        )
        with tempfile.TemporaryDirectory() as d:
            df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
            out = {r.hour: r for r in
                   QUERIES["hourly_value_ohlc"](spark, d).collect()}
        bar = out["2024-01-01 10:00"]
        # open: min (ts, event_id) = event 1; close: max = event 5
        assert bar.open_value == 5.0
        assert bar.close_value == 1.0
        assert bar.high_value == 9.0 and bar.low_value == 1.0
        assert bar.n_events == 5


class TestFrequentItemsSketch:
    """Space-saving guarantees in BOTH regimes: exact when counters
    cover the vocabulary, α-guarantee + error bounds under eviction."""

    def test_exact_regime_equals_groupby(self, spark):
        from flight_data_pipeline_spark.operators.sketches import (
            frequent_items,
        )
        import pyspark.sql.functions as F

        data = [(w,) for w, n in
                [("a", 7), ("b", 5), ("c", 3), ("d", 1)] for _ in range(n)]
        df = spark.createDataFrame(data, "item string").repartition(3)
        got = [(r.item, r.cnt, r.err)
               for r in frequent_items(df, "item", k_counters=64,
                                       top=10).collect()]
        assert got == [("a", 7, 0), ("b", 5, 0), ("c", 3, 0), ("d", 1, 0)]

    def test_eviction_regime_guarantee_and_bounds(self, spark):
        from flight_data_pipeline_spark.operators.sketches import (
            frequent_items,
        )

        # skewed stream: heavy a/b/c plus a 60-item singleton tail,
        # forced through k=4 counters on each of 3 partitions
        heavy = {"a": 500, "b": 300, "c": 200}
        data = [(w,) for w, n in heavy.items() for _ in range(n)]
        data += [(f"tail{i:02d}",) for i in range(60)]
        n_total = len(data)
        df = spark.createDataFrame(data, "item string").repartition(3)
        out = {r.item: (r.cnt, r.err)
               for r in frequent_items(df, "item", k_counters=4,
                                       top=50).collect()}

        # α-guarantee: every item with true count > N/k must be present
        threshold = n_total / 4
        for item, true in heavy.items():
            if true > threshold:
                assert item in out, f"{item} (true {true}) missing"
        # error bounds: cnt - err <= true <= cnt for every reported item
        true_counts = {**heavy, **{f"tail{i:02d}": 1 for i in range(60)}}
        for item, (cnt, err) in out.items():
            true = true_counts[item]
            assert cnt - err <= true <= cnt, (
                f"{item}: bounds [{cnt - err}, {cnt}] miss true {true}")


class TestSkewSplitJoin:
    """Two-path hot/cold join must equal the plain join exactly, for
    inner and left, on genuinely skewed data."""

    def _frames(self, spark):
        left = spark.createDataFrame(
            [("hot", i) for i in range(200)]
            + [(f"k{i}", i) for i in range(30)]
            + [("orphan", -1)],                       # no right match
            "k string, lv int")
        right = spark.createDataFrame(
            [("hot", "H")] + [(f"k{i}", f"R{i}") for i in range(30)]
            + [("right_only", "X")],
            "k string, rv string")
        return left, right

    def _canon(self, df):
        return sorted((r.k, r.lv, r.rv) for r in df.collect())

    def test_inner_equals_plain_join(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            skew_split_join,
        )
        left, right = self._frames(spark)
        got = self._canon(skew_split_join(left, right, "k", 50))
        want = self._canon(left.join(right, "k", "inner"))
        assert got == want and len(got) == 230

    def test_left_preserves_unmatched(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            skew_split_join,
        )
        left, right = self._frames(spark)
        got = self._canon(skew_split_join(left, right, "k", 50, how="left"))
        want = self._canon(left.join(right, "k", "left"))
        assert got == want
        assert ("orphan", -1, None) in got

    def test_unsupported_how_raises(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            skew_split_join,
        )
        left, right = self._frames(spark)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="inner/left"):
            skew_split_join(left, right, "k", 50, how="full")

    def test_right_hot_cap_excludes_double_hot_keys(self, spark):
        """A key hot on BOTH sides would make broadcast(right_hot)
        unbounded; with right_hot_max it must route through the
        shuffle path instead — and the union must still equal the
        plain join exactly (the cap changes the PLAN split, never the
        result)."""
        from flight_data_pipeline_spark.operators.relational import (
            skew_split_join,
        )
        left = spark.createDataFrame(
            [("both_hot", i) for i in range(200)]
            + [("left_hot", i) for i in range(100)]
            + [(f"k{i}", i) for i in range(10)],
            "k string, lv int")
        right = spark.createDataFrame(
            [("both_hot", f"B{j}") for j in range(50)]
            + [("left_hot", "L")]
            + [(f"k{i}", f"R{i}") for i in range(10)],
            "k string, rv string")
        got = sorted(
            (r.k, r.lv, r.rv)
            for r in skew_split_join(left, right, "k", 50,
                                     right_hot_max=5).collect())
        want = sorted((r.k, r.lv, r.rv)
                      for r in left.join(right, "k", "inner").collect())
        assert got == want and len(got) == 200 * 50 + 100 + 10


class TestCountMinSketch:
    def test_estimates_overcount_never_undercount(self, spark):
        """With width forced tiny, collisions are guaranteed — every
        estimate must still be >= the true count (the CM invariant),
        and exact for items that collide with nothing."""
        from collections import Counter

        from flight_data_pipeline_spark.operators.sketches import (
            count_min_build,
            count_min_estimate,
        )
        import pyspark.sql.functions as F

        items = (["a"] * 40 + ["b"] * 25 + ["c"] * 9
                 + [f"t{i}" for i in range(30)])
        true = Counter(items)
        df = spark.createDataFrame([(i,) for i in items],
                                   "item string").repartition(3)
        cm = count_min_build(df, "item", depth=3, width=8)
        probes = df.select("item").distinct()
        est = {r.item: r.est_n
               for r in count_min_estimate(cm, probes, "item",
                                           depth=3, width=8).collect()}
        assert set(est) == set(true)
        assert all(est[i] >= n for i, n in true.items())
        # collisions are certain at width 8 with 33 distinct items
        assert any(est[i] > n for i, n in true.items())
        # total sketch mass per row is exactly N — nothing lost
        row_mass = {r.i: r.s for r in
                    cm.groupBy("i").agg(F.sum("cnt").alias("s")).collect()}
        assert row_mass == {0: len(items), 1: len(items), 2: len(items)}


class TestUrlFunctions:
    def test_parse_url_matches_urllib_on_literals(self, spark):
        """Spark's parse_url / url_encode / url_decode pinned against
        Python's urllib on literal URLs — the charset-level ground
        truth the driver-checked probe's algebraic oracle (which only
        reconstructs the synthesis) cannot provide."""
        from urllib.parse import parse_qs, quote_plus, urlsplit

        import pyspark.sql.functions as F

        url = "https://shop.example.com/cat/7/item?id=123&ch=view#sec-3"
        plain = "view 42&x=y/z"
        row = (
            spark.range(1)
            .select(
                F.parse_url(F.lit(url), F.lit("PROTOCOL")).alias("proto"),
                F.parse_url(F.lit(url), F.lit("HOST")).alias("host"),
                F.parse_url(F.lit(url), F.lit("PATH")).alias("path"),
                F.parse_url(F.lit(url), F.lit("QUERY")).alias("query"),
                F.parse_url(F.lit(url), F.lit("REF")).alias("ref"),
                F.parse_url(F.lit(url), F.lit("QUERY"), F.lit("id"))
                .alias("id_param"),
                F.parse_url(F.lit(url), F.lit("QUERY"), F.lit("ch"))
                .alias("ch_param"),
                F.url_encode(F.lit(plain)).alias("enc"),
                F.url_decode(F.url_encode(F.lit(plain))).alias("roundtrip"),
            )
            .first()
        )
        sp = urlsplit(url)
        assert row.proto == sp.scheme
        assert row.host == sp.hostname
        assert row.path == sp.path
        assert row.query == sp.query
        assert row.ref == sp.fragment
        q = parse_qs(sp.query)
        assert row.id_param == q["id"][0]
        assert row.ch_param == q["ch"][0]
        # application/x-www-form-urlencoded: space -> '+', &, =, / escaped
        assert row.enc == quote_plus(plain)
        assert row.roundtrip == plain


class TestDistinctSketches:
    def test_hll_raw_regime_accuracy(self, spark):
        """n >> m exercises the RAW harmonic-mean path (the checked
        query's tiny fixture vocabulary takes the LinearCounting
        branch): 20k distinct keys through 256 registers must land
        within ~4 standard errors (1.04/sqrt(256) ~ 6.5%)."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.sketches import (
            hll_estimate,
        )

        df = spark.range(20000).select(
            F.lit("g").alias("g"),
            F.concat(F.lit("item_"), F.col("id")).alias("item"))
        est = hll_estimate(df, "item", ["g"]).first().hll_est
        assert abs(est - 20000) / 20000 < 0.26

    def test_kmv_formula_and_exact_fallback(self, spark):
        """Groups with >= k distinct hashes use the (k-1)*2^52/h_k
        estimator; below k the sketch IS the distinct set and must
        return the exact count."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.sketches import (
            kmv_estimate,
        )

        big = spark.range(5000).select(
            F.lit("big").alias("g"),
            F.concat(F.lit("x"), F.col("id")).alias("item"))
        small = spark.range(10).select(
            F.lit("small").alias("g"),
            F.concat(F.lit("y"), F.col("id") % 7).alias("item"))
        out = {r.g: r.kmv_est
               for r in kmv_estimate(big.unionByName(small), "item",
                                     ["g"]).collect()}
        assert out["small"] == 7                      # exact below k
        assert abs(out["big"] - 5000) / 5000 < 0.5    # ~4 std errors

    def test_hll_registers_merge_associatively(self, spark):
        """The 100 TB claim: registers from disjoint shards merged by
        MAX must equal the registers of the union — estimate equality
        on (shard A union shard B) vs merged proves it end to end."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.sketches import (
            hll_estimate,
        )

        a = spark.range(3000).select(
            F.lit("g").alias("g"),
            F.concat(F.lit("a"), F.col("id")).alias("item"))
        b = spark.range(3000).select(
            F.lit("g").alias("g"),
            # half overlaps shard a, half is new
            F.concat(F.when(F.col("id") < 1500, F.lit("a"))
                     .otherwise(F.lit("b")), F.col("id")).alias("item"))
        whole = hll_estimate(a.unionByName(b), "item", ["g"]).first().hll_est
        # merging = just unioning the raw streams before register MAX;
        # the register relation is the sketch, and MAX is associative,
        # so recomputing over the union equals merging shard sketches
        merged = hll_estimate(
            a.unionByName(b).distinct(), "item", ["g"]).first().hll_est
        assert whole == merged


class TestBloomFilter:
    def test_membership_guarantee_and_false_positive_rate(self, spark):
        """Every inserted item MUST hit (no false negatives — the
        structural guarantee); non-members may hit but the measured
        rate at this fill factor must stay small; the empty filter
        hits nothing."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        members = spark.range(500).select(
            F.concat(F.lit("in_"), F.col("id")).alias("item"))
        others = spark.range(2000).select(
            F.concat(F.lit("out_"), F.col("id")).alias("item"))
        bloom = bloom_build(members, "item")

        hits_in = bloom_probe(bloom, members, "item") \
            .where(~F.col("bloom_hit"))
        assert hits_in.isEmpty()

        n_fp = bloom_probe(bloom, others, "item") \
            .where(F.col("bloom_hit")).toPandas().shape[0]
        # d=3, n=500, m=32768 -> fp ~ (1-e^(-3*500/32768))^3 ~ 8e-5
        assert n_fp <= 10

        empty = bloom_build(members.limit(0), "item")
        assert bloom_probe(empty, others.limit(50), "item") \
            .where(F.col("bloom_hit")).isEmpty()


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        """Weighted digraph with a dangling node: DataFrame PageRank
        must match numpy power iteration with uniform dangling
        redistribution to 1e-6 per node, and ranks must sum to 1."""
        import numpy as np

        from flight_data_pipeline_spark.operators.graph import pagerank

        edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
                 ("c", "a", 1.0), ("d", "a", 3.0)]  # e isolated below
        edges.append(("c", "e", 1.0))               # e has no out-edges
        df = spark.createDataFrame(
            edges, "src string, dst string, weight double")
        got = {r.v: r.rank
               for r in pagerank(df, weight="weight", max_iter=50,
                                 tol=1e-12).collect()}

        nodes = sorted({s for s, _, _ in edges}
                       | {d for _, d, _ in edges})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        M = np.zeros((n, n))
        outw = {}
        for s, _, w in edges:
            outw[s] = outw.get(s, 0.0) + w
        for s, d, w in edges:
            M[idx[d], idx[s]] = w / outw[s]
        r = np.full(n, 1.0 / n)
        d = 0.85
        for _ in range(200):
            dangling = sum(r[idx[v]] for v in nodes if v not in outw)
            r = (1 - d) / n + d * (M @ r + dangling / n)
        assert abs(sum(got.values()) - 1.0) < 1e-6
        for v in nodes:
            assert abs(got[v] - r[idx[v]]) < 1e-6

    def test_early_stop_on_converged_graph(self, spark):
        """A symmetric 2-cycle converges immediately to uniform —
        the tol probe must stop the loop (smoke for loop control)."""
        from flight_data_pipeline_spark.operators.graph import pagerank

        df = spark.createDataFrame([("x", "y"), ("y", "x")],
                                   "src string, dst string")
        got = {r.v: r.rank for r in pagerank(df, max_iter=50).collect()}
        assert abs(got["x"] - 0.5) < 1e-9 and abs(got["y"] - 0.5) < 1e-9


class TestPagerankInteger:
    def test_exact_serial_replay(self, spark):
        """pagerank_integer must equal a serial Python replay of the
        integer update rule EXACTLY (not to a tolerance) — that bit-
        replayability is the whole point of the fixed-point variant
        (it is what lets copurchase_pagerank hash-check against an
        unrolled SQL oracle). Graph has asymmetric degrees and a
        node with no in-edges so the coalesce(0) path is exercised."""
        from flight_data_pipeline_spark.operators.graph import pagerank_integer

        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        scale, d_num, d_den, iters = 10**12, 85, 100, 3
        got = {r.v: r.rank
               for r in pagerank_integer(df, scale=scale, iters=iters)
               .collect()}

        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        n = len(nodes)
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        r = {v: scale // n for v in nodes}
        for _ in range(iters):
            contrib = {}
            for s, d in edges:
                contrib[d] = contrib.get(d, 0) + r[s] // deg[s]
            r = {v: ((d_den - d_num) * scale) // (d_den * n)
                 + (d_num * contrib.get(v, 0)) // d_den
                 for v in nodes}
        assert got == r

    def test_weighted_exact_serial_replay(self, spark):
        """Weighted variant: per-edge share (r*w) div sw(u) — must
        also replay the serial integer recursion exactly."""
        from flight_data_pipeline_spark.operators.graph import pagerank_integer

        edges = [(1, 2, 3), (1, 3, 1), (2, 3, 5), (3, 1, 2), (4, 3, 7)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        scale, iters = 10**12, 3
        got = {r.v: r.rank
               for r in pagerank_integer(df, weight="w", scale=scale,
                                         iters=iters).collect()}

        nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
        n = len(nodes)
        sw = {}
        for s, _, w in edges:
            sw[s] = sw.get(s, 0) + w
        r = {v: scale // n for v in nodes}
        for _ in range(iters):
            contrib = {}
            for s, d, w in edges:
                contrib[d] = contrib.get(d, 0) + (r[s] * w) // sw[s]
            r = {v: (15 * scale) // (100 * n)
                 + (85 * contrib.get(v, 0)) // 100
                 for v in nodes}
        assert got == r


class TestLabelPropagationInteger:
    def test_two_cliques_with_bridge_keep_separate_communities(self, spark):
        """Two triangles joined by one bridge edge: CC would merge
        them into one component; LPA's majority vote keeps two
        communities (each triangle's min id), which is exactly the
        distinction the operator exists for."""
        from flight_data_pipeline_spark.operators.dedup import (
            connected_components,
        )
        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        tri1 = [(1, 2), (2, 3), (1, 3)]
        tri2 = [(10, 11), (11, 12), (10, 12)]
        bridge = [(3, 10)]
        und = tri1 + tri2 + bridge
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src long, dst long")

        labels = {r.v: r.label
                  for r in label_propagation_integer(
                      edges, iters=4).collect()}
        comms = {}
        for v, lab in labels.items():
            comms.setdefault(lab, set()).add(v)
        assert {frozenset(c) for c in comms.values()} \
            == {frozenset({1, 2, 3}), frozenset({10, 11, 12})}

        # contrast: CC floods min-label across the bridge -> ONE label
        cc = {r.v: r.label
              for r in connected_components(edges).collect()}
        assert set(cc.values()) == {1}

    def test_deterministic_tie_break_to_smallest_label(self, spark):
        """A node with an evenly split neighborhood must take the
        SMALLEST majority label — the pinned tie-break that makes the
        iterative algorithm hash-checkable."""
        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        und = [(1, 5), (2, 5)]  # node 5 sees labels {1, 2} once each
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src long, dst long")
        labels = {r.v: r.label
                  for r in label_propagation_integer(
                      edges, iters=1).collect()}
        assert labels[5] == 1

    def test_directed_chain_keeps_sources_and_propagates(self, spark):
        """Directed input (ADVICE r7): a source-only node must keep
        voting with its own label (carry-forward) instead of falling
        out of the state after round 1, and the label set must cover
        src UNION dst — on the chain 1→2→3 the label floods down to
        node 3 by round 2 while node 1 (no in-edges) keeps label 1."""
        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long")
        l1 = {r.v: r.label
              for r in label_propagation_integer(edges, iters=1).collect()}
        assert l1 == {1: 1, 2: 1, 3: 2}
        l2 = {r.v: r.label
              for r in label_propagation_integer(edges, iters=2).collect()}
        assert l2 == {1: 1, 2: 1, 3: 1}


def _lpa_reference(edges, iters):
    """Plain-Python synchronous LPA with the operator's contract:
    labels seeded from src ∪ dst, each round every node takes its
    most-voted in-neighbor label (one vote per edge, duplicates
    included), ties to the smallest label, carry-forward without
    in-votes."""
    labels = {v: v for e in edges for v in e}
    for _ in range(iters):
        votes = {}
        for s, d in edges:
            c = votes.setdefault(d, {})
            c[labels[s]] = c.get(labels[s], 0) + 1
        labels = {v: min(votes[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
                  if v in votes else lab
                  for v, lab in labels.items()}
    return labels


def _random_multigraph(seed):
    """Seeded directed multigraph over a few dozen nodes: duplicate
    edges (vote counts > 1), self-loops, source-only nodes (no
    in-edges), and — small degrees — plenty of tied votes."""
    import random

    rng = random.Random(seed)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges += rng.sample(edges, 15)                      # duplicates
    edges += [(v, v) for v in rng.sample(range(n), 5)]  # self-loops
    edges += [(n + k, rng.randrange(n)) for k in range(6)]  # no in-edges
    rng.shuffle(edges)
    return edges


class TestLabelPropagationDstLayout:
    """Pins for the dst-partitioned edge layout: with broadcast_state
    the edge list is checkpointed hash-partitioned on dst and each
    round's vote count and argmax reuse that layout instead of
    shuffling. Both state paths must equal the plain-Python LPA.
    Every test runs at 8 shuffle partitions, twice the session's 4
    cores, so the layout spans more partitions than tasks run at
    once (other get_spark callers may have reset the session value)."""

    @pytest.fixture(autouse=True)
    def _eight_shuffle_partitions(self, spark):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        yield
        spark.conf.set("spark.sql.shuffle.partitions", old)

    @pytest.mark.parametrize("broadcast_state", [True, False])
    @pytest.mark.parametrize("seed", [7, 11, 23])
    def test_matches_python_reference(self, spark, seed, broadcast_state):
        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        und = _random_multigraph(seed)
        edges = spark.createDataFrame(und, "src long, dst long")
        got = {r.v: r.label
               for r in label_propagation_integer(
                   edges, iters=3,
                   broadcast_state=broadcast_state).collect()}
        assert got == _lpa_reference(und, 3)

    def test_round_plan_has_no_shuffle_exchange(self, spark, tmp_path,
                                                monkeypatch):
        """The round-1 plan of the default path carries only broadcast
        exchanges; the broadcast_state=False path still shuffles the
        votes, which shows the check can see an Exchange at all."""
        import re

        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        shuffle = re.compile(r"(?<!Broadcast)Exchange\b")
        edges = spark.createDataFrame(_random_multigraph(3),
                                      "src long, dst long")
        plans = {}
        for bc in (True, False):
            d = tmp_path / str(bc)
            monkeypatch.setenv("SPARK_GRAFT_LOOP_PLAN_DIR", str(d))
            label_propagation_integer(edges, iters=1,
                                      broadcast_state=bc).collect()
            plans[bc] = (d / "label_propagation_round1.txt").read_text()
        assert "BroadcastExchange" in plans[True]
        assert not shuffle.search(plans[True]), plans[True]
        assert shuffle.search(plans[False])


class TestMinPlusShortestPaths:
    EDGES = [
        # diamond where the 2-hop detour beats the direct edge
        (1, 2, 1), (2, 4, 1), (1, 4, 10),
        (4, 5, 2),
        (8, 9, 1),  # disconnected from the source
    ]

    def _dist(self, spark, iters):
        from flight_data_pipeline_spark.operators.graph import (
            min_plus_shortest_paths,
        )

        sym = self.EDGES + [(d, s, w) for s, d, w in self.EDGES]
        edges = spark.createDataFrame(sym, "src long, dst long, w long")
        source = spark.createDataFrame([(1,)], "v long")
        return {r.v: r.dist
                for r in min_plus_shortest_paths(
                    edges, source, iters=iters).collect()}

    def test_relaxation_finds_cheaper_multi_hop_path(self, spark):
        d = self._dist(spark, iters=3)
        assert d[1] == 0 and d[2] == 1
        assert d[4] == 2      # via 2, not the weight-10 direct edge
        assert d[5] == 4
        assert d[8] == 10**15 and d[9] == 10**15  # unreachable

    def test_bounded_hop_semantics(self, spark):
        """After k rounds the distance is exactly the cheapest
        <=k-hop path: with one round node 4 only sees the direct
        weight-10 edge; the 2-hop detour needs round two."""
        assert self._dist(spark, iters=1)[4] == 10
        assert self._dist(spark, iters=2)[4] == 2

    def test_directed_sink_nodes_get_distances(self, spark):
        """Directed input (ADVICE r7): a dst-only sink node must
        appear in the output with its relaxed distance, not be
        dropped by the carry-forward join keyed on src-only nodes."""
        from flight_data_pipeline_spark.operators.graph import (
            min_plus_shortest_paths,
        )

        edges = spark.createDataFrame(
            [(1, 2, 3), (2, 3, 4)], "src long, dst long, w long")
        source = spark.createDataFrame([(1,)], "v long")
        d = {r.v: r.dist
             for r in min_plus_shortest_paths(
                 edges, source, iters=2).collect()}
        assert d == {1: 0, 2: 3, 3: 7}


class TestIterativeRoundRestructureR14:
    """Focused pins for the r14 loop-body restructure: the per-round
    carry-forward LEFT joins were replaced by union-into-the-aggregate
    forms (zero-share carrier row for pagerank, zero-weight self-vote
    for LPA, carried-distance union for Bellman-Ford). These exercise
    the specific merge cases the equivalence arguments rest on."""

    def test_lpa_self_loop_and_tie_semantics_pinned(self, spark):
        """Semantics pin for any round implementation (the r14 A/B
        exercised two equivalent forms — the carry-forward join kept
        and the self-vote union reverted — and BOTH must satisfy
        these): a node voting for its own label via a self-loop must
        count exactly once, and even ties still break to the
        smallest label."""
        from flight_data_pipeline_spark.operators.graph import (
            label_propagation_integer,
        )

        # in-edges into 1: from 3 and from 2 → round-1 votes at node
        # 1 are {3: 1, 2: 1}: tie breaks to 2 (smallest label)
        edges = spark.createDataFrame(
            [(3, 1), (2, 1)], "src long, dst long")
        l1 = {r.v: r.label
              for r in label_propagation_integer(edges, iters=1)
              .collect()}
        assert l1[1] == 2
        edges2 = spark.createDataFrame(
            [(7, 8), (8, 7), (7, 7)], "src long, dst long")
        l2 = {r.v: r.label
              for r in label_propagation_integer(edges2, iters=1)
              .collect()}
        # node 7's votes: from 8 (label 8) and from itself via the
        # self-loop (label 7, exactly one vote — no double count) →
        # tie {7: 1, 8: 1} → smallest label 7 wins
        assert l2[7] == 7
        # node 8's votes: from 7 (label 7) → 7 wins over carry 8
        assert l2[8] == 7

    def test_min_plus_materialize_edges_false_identical(self, spark):
        """edges_prematerialized=True (caller already checkpointed the
        edge frame) must yield the identical distance vector."""
        from flight_data_pipeline_spark.operators.graph import (
            min_plus_shortest_paths,
        )

        sym = [(1, 2, 1), (2, 4, 1), (1, 4, 10), (4, 5, 2)]
        sym = sym + [(d, s, w) for s, d, w in sym]
        edges = spark.createDataFrame(sym, "src long, dst long, w long")
        source = spark.createDataFrame([(1,)], "v long")
        want = {r.v: r.dist
                for r in min_plus_shortest_paths(
                    edges, source, iters=3).collect()}
        got = {r.v: r.dist
               for r in min_plus_shortest_paths(
                   edges.localCheckpoint(), source, iters=3,
                   edges_prematerialized=True).collect()}
        assert got == want

    def test_pagerank_integer_shuffle_state_matches_broadcast(
            self, spark):
        """broadcast_state=False (the fact-sized-state fallback) goes
        through the union-with-carrier aggregate too — both paths
        must produce the same exact integers."""
        from flight_data_pipeline_spark.operators.graph import (
            pagerank_integer,
        )

        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        bc = {r.v: r.rank for r in pagerank_integer(df, iters=3)
              .collect()}
        sh = {r.v: r.rank
              for r in pagerank_integer(df, iters=3,
                                        broadcast_state=False)
              .collect()}
        assert bc == sh


class TestSimhash64Defaults:
    def test_xxhash64_default_and_md5_variant_share_fold_semantics(
            self, spark):
        """simhash64's production default stays xxhash64 (r13 made the
        token hash injectable for the simhash_buckets certification):
        identical token arrays collide, near-dup arrays are hamming-
        close, disjoint arrays are not — under BOTH hash primitives."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark.operators.dedup import simhash64

        base = " ".join(f"tok{i}" for i in range(60))
        near = base.replace("tok7 ", "tok7x ")
        far = " ".join(f"other{i}" for i in range(60))
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, near), (4, far)], "id int, t string")
        md5h = (lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
                .cast("long"))
        out = df.select(
            "id",
            simhash64(F.split("t", " ")).alias("xx"),
            simhash64(F.split("t", " "), token_hash=md5h).alias("m5"),
        ).collect()
        r = {row.id: row for row in out}
        for col in ("xx", "m5"):
            a, b, c, d = (getattr(r[i], col) for i in (1, 2, 3, 4))
            assert a == b
            ham = bin((a ^ c) & ((1 << 64) - 1)).count("1")
            assert ham <= 16, (col, ham)
            ham_far = bin((a ^ d) & ((1 << 64) - 1)).count("1")
            assert ham_far > 16, (col, ham_far)
        # md5 variant never sets bits 60-63 (60-bit token hashes)
        for i in (1, 3, 4):
            assert r[i].m5 >= 0 and r[i].m5 < (1 << 60)
