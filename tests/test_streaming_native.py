"""Native streaming operators: watermark+window rollup and
applyInPandasWithState latest-state — each checked for exact
equivalence against its batch counterpart (SURVEY §2.5 streaming
semantics; the engine's batch==stream invariant).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark.catalog import load
from starknet_indexer_spark.streaming.stateful import latest_state_stream
from starknet_indexer_spark.streaming.windows import sessionized, windowed_rollup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events_feed(spark, tmp_path):
    """events table split into two file chunks so the stream sees
    multiple micro-batches."""
    ev = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    feed = str(tmp_path / "feed")
    ev.filter(F.col("event_id") <= mid).write.mode("append").parquet(feed)
    ev.filter(F.col("event_id") > mid).write.mode("append").parquet(feed)
    return ev, feed


class TestWindowedRollup:
    def test_stream_equals_batch(self, spark, events_feed, tmp_path):
        ev, feed = events_feed
        stream = spark.readStream.schema(
            spark.read.parquet(feed).schema
        ).option("maxFilesPerTrigger", "1").parquet(feed)
        rolled = windowed_rollup(
            stream,
            "ts",
            ["user_id"],
            [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total")],
        )
        q = (
            rolled.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rollup_t")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (str(r["hour"]), r["user_id"], r["n"], str(r["total"]))
            for r in spark.table("rollup_t").collect()
        }
        want = {
            (str(r["hour"]), r["user_id"], r["n"], str(r["total"]))
            for r in ev.groupBy(
                F.date_trunc("hour", "ts").alias("hour"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total"))
            .collect()
        }
        assert got == want and len(got) > 0


class TestSessionized:
    def test_stream_equals_batch(self, spark, events_feed, tmp_path):
        ev, feed = events_feed
        stream = spark.readStream.schema(
            spark.read.parquet(feed).schema
        ).option("maxFilesPerTrigger", "1").parquet(feed)
        aggs = [F.count(F.lit(1)).alias("n")]
        sessions = sessionized(stream, "ts", ["user_id"], aggs)
        q = (
            sessions.writeStream.outputMode("complete")
            .format("memory")
            .queryName("sessions_t")
            .option("checkpointLocation", str(tmp_path / "ck_sess"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (str(r["session_start"]), str(r["session_end"]), r["user_id"], r["n"])
            for r in spark.table("sessions_t").collect()
        }
        # batch truth: the same session_window operator in batch mode
        batch = (
            ev.groupBy(
                F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id"
            )
            .agg(*aggs)
            .select(
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "user_id",
                "n",
            )
        )
        want = {
            (str(r["session_start"]), str(r["session_end"]), r["user_id"], r["n"])
            for r in batch.collect()
        }
        assert got == want and len(got) > 0


class TestLatestStateStream:
    def test_stream_equals_batch_argmax(self, spark, events_feed, tmp_path):
        ev, feed = events_feed
        stream = spark.readStream.schema(
            spark.read.parquet(feed).schema
        ).option("maxFilesPerTrigger", "1").parquet(feed)
        latest = latest_state_stream(
            stream.select("user_id", "event_id", "value"), "user_id"
        )
        q = (
            latest.writeStream.outputMode("update")
            .format("memory")
            .queryName("latest_t")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # update mode emits one row per changed key per batch; the last
        # emission per key is the final state
        import pandas as pd

        emitted = spark.table("latest_t").toPandas()
        final = emitted.groupby("user_id").apply(
            lambda g: g.loc[g["event_id"].idxmax()], include_groups=False
        )
        got = {
            (int(uid), int(r["event_id"]), round(float(r["value"]), 6))
            for uid, r in final.iterrows()
        }
        want = {
            (int(r["user_id"]), int(r["eid"]), round(float(r["v"]), 6))
            for r in ev.groupBy("user_id")
            .agg(
                F.max("event_id").alias("eid"),
                F.max_by("value", "event_id").alias("v"),
            )
            .collect()
        }
        assert got == want and len(got) > 0


class TestStreamingDedup:
    """dropDuplicatesWithinWatermark: a feed that re-emits every event
    (at-least-once delivery) dedups back to exactly the batch-distinct
    row set, with state bounded by the watermark, not history."""

    def test_stream_equals_batch_distinct(self, spark, tmp_path):
        ev = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
        feed = str(tmp_path / "dupfeed")
        # two chunks, each containing the full table -> every event
        # arrives twice across micro-batches
        ev.write.mode("append").parquet(feed)
        ev.write.mode("append").parquet(feed)
        from starknet_indexer_spark.streaming.dedup import deduped_stream

        stream = (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        q = (
            deduped_stream(stream, ["event_id"], "ts")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_t")
            .option("checkpointLocation", str(tmp_path / "ck_dedup"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["event_id"] for r in spark.table("dedup_t").collect()}
        want = {r["event_id"] for r in ev.collect()}
        assert got == want and len(got) > 0
        assert spark.table("dedup_t").count() == len(want)  # no double emission


class TestStreamStreamIntervalJoin:
    def test_stream_equals_batch(self, spark, tmp_path):
        """Stream-stream interval join (purchase matched to the same
        user's views within the preceding hour) must produce exactly
        the batch range-join rows once both streams drain. Both sides
        watermarked -> bounded state; same operator code runs in both
        modes (mode-agnostic DataFrame function)."""
        from starknet_indexer_spark.streaming.joins import interval_join

        ev = load(spark, SF_DIR, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        buys = ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        bdir, vdir = str(tmp_path / "buys"), str(tmp_path / "views")
        # two chunks per side -> multiple micro-batches
        mid_b = buys.approxQuantile("buy_id", [0.5], 0.0)[0]
        buys.filter(F.col("buy_id") <= mid_b).write.mode("append").parquet(bdir)
        buys.filter(F.col("buy_id") > mid_b).write.mode("append").parquet(bdir)
        mid_v = views.approxQuantile("view_id", [0.5], 0.0)[0]
        views.filter(F.col("view_id") <= mid_v).write.mode("append").parquet(vdir)
        views.filter(F.col("view_id") > mid_v).write.mode("append").parquet(vdir)

        def streamed(path, schema_src):
            return (
                spark.readStream.schema(spark.read.parquet(path).schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(path)
            )

        joined = interval_join(
            streamed(bdir, buys),
            streamed(vdir, views),
            keys=["user_id"],
            left_ts="buy_ts",
            right_ts="view_ts",
            lower="-1 hour",
            upper="0 seconds",
            watermark="2 hours",
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj_t")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["buy_id"], r["view_id"])
            for r in spark.sql("SELECT buy_id, view_id FROM ssj_t").collect()
        }

        expect = {
            (r["buy_id"], r["view_id"])
            for r in interval_join(
                buys,
                views,
                keys=["user_id"],
                left_ts="buy_ts",
                right_ts="view_ts",
                lower="-1 hour",
                upper="0 seconds",
            ).collect()
        }
        assert len(expect) > 0
        assert got == expect


class TestHeavyHittersStream:
    def test_mg_error_bound_vs_exact(self, spark, tmp_path):
        """Sharded Misra-Gries over a real multi-batch stream: for
        every key, estimate <= true count and true - estimate <=
        n_shard/(k+1); every key above that threshold is PRESENT.
        These bounds hold for ANY arrival order, which is what makes
        a sketch testable without exact replay."""
        from starknet_indexer_spark.streaming.heavy_hitters import (
            collect_heavy_hitters,
            heavy_hitters_stream,
        )

        K, SHARDS = 8, 4
        ev = load(spark, SF_DIR, "events").select(
            "event_id", F.col("user_id").cast("string").alias("item")
        )
        feed = str(tmp_path / "items")
        mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
        ev.filter(F.col("event_id") <= mid).write.mode("append").parquet(feed)
        ev.filter(F.col("event_id") > mid).write.mode("append").parquet(feed)

        stream = (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        q = (
            heavy_hitters_stream(stream, "item", k=K, n_shards=SHARDS)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("hh_t")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # latest summary per shard (update mode re-emits each batch)
        import pandas as pd

        emitted = spark.sql("SELECT * FROM hh_t").toPandas()
        latest = (
            emitted.groupby("shard", as_index=False).last()
        )
        est = collect_heavy_hitters(latest.to_dict("records"))
        shard_n = dict(zip(latest["shard"], latest["n_items"]))

        exact = {
            str(r["item"]): r["n"]
            for r in ev.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        from pyspark.sql import Row

        shard_of = {
            r["item"]: r["s"]
            for r in ev.select("item")
            .distinct()
            .select(
                "item", F.pmod(F.xxhash64(F.col("item")), F.lit(SHARDS)).alias("s")
            )
            .collect()
        }
        assert sum(shard_n.values()) == sum(exact.values())
        for item, true_n in exact.items():
            bound = shard_n[shard_of[item]] / (K + 1)
            got = est.get(item)
            if true_n > bound:
                assert got is not None, (item, true_n, bound)
            if got is not None:
                assert got <= true_n, (item, got, true_n)
                assert true_n - got <= bound, (item, got, true_n, bound)

    def test_pure_python_mg_bound(self):
        """The shared MG update obeys the textbook bound on adversarial
        orders (pure-python sanity for the kernel the stream uses)."""
        import random

        from starknet_indexer_spark.streaming.heavy_hitters import mg_update

        rng = random.Random(7)
        stream = (
            ["hot"] * 400
            + ["warm"] * 120
            + [f"cold{i}" for i in range(300)]
        )
        rng.shuffle(stream)
        k = 10
        counters = mg_update({}, stream, k)
        n = len(stream)
        assert counters.get("hot", 0) >= 400 - n / (k + 1)
        assert counters.get("warm", 0) >= 120 - n / (k + 1)
        for item, c in counters.items():
            true = 400 if item == "hot" else 120 if item == "warm" else 1
            assert c <= true

    def test_weighted_mg_bound_and_superset(self):
        """The vectorized weighted update (value_counts pairs) keeps
        the textbook bound AND surfaces every above-threshold item, on
        adversarial batch splits of the same stream."""
        import random
        from collections import Counter

        from starknet_indexer_spark.streaming.heavy_hitters import (
            mg_update_weighted,
        )

        rng = random.Random(11)
        stream = (
            ["hot"] * 400
            + ["warm"] * 120
            + [f"cold{i}" for i in range(300)]
        )
        rng.shuffle(stream)
        exact = Counter(stream)
        n = len(stream)
        k = 10
        # Replay the stream as batches of varying size, each batch
        # pre-aggregated to (item, count) pairs — the kernel's real
        # call pattern under mapInPandas/applyInPandasWithState.
        for batch_size in (1, 7, 64, len(stream)):
            counters: dict = {}
            for i in range(0, n, batch_size):
                batch = Counter(stream[i : i + batch_size])
                mg_update_weighted(
                    counters, list(batch.keys()), list(batch.values()), k
                )
            assert len(counters) <= k
            for item, true_n in exact.items():
                got = counters.get(item, 0)
                assert got <= true_n, (batch_size, item)
                assert true_n - got <= n / (k + 1), (batch_size, item)
                if true_n > n / (k + 1):
                    assert item in counters, (batch_size, item)

    def test_weighted_mg_matches_unit_arrivals_when_unweighted(self):
        """Feeding all-ones weights one item at a time reproduces the
        classic kernel exactly — the weighted form is a strict
        generalization."""
        import random

        from starknet_indexer_spark.streaming.heavy_hitters import (
            mg_update,
            mg_update_weighted,
        )

        rng = random.Random(3)
        stream = [f"i{rng.randrange(20)}" for _ in range(500)]
        classic = mg_update({}, stream, 6)
        weighted: dict = {}
        for x in stream:
            mg_update_weighted(weighted, [x], [1], 6)
        assert weighted == classic

    def test_item_named_like_internal_sentinel_survives(self):
        """Items are arbitrary user strings — one spelled '__k__' (or
        any would-be sentinel) must keep an ordinary, correct count."""
        from starknet_indexer_spark.streaming.heavy_hitters import mg_update

        counters = mg_update({}, ["__k__"] * 5 + ["other"] * 2, 4)
        assert counters["__k__"] == 5
        assert counters["other"] == 2


class TestHeavyHittersHardening:
    def test_collect_tolerates_update_mode_history(self):
        """collect_heavy_hitters fed EVERY emission (update-mode
        history) must not double-count: each emission is cumulative,
        so only the max-n_items row per shard counts."""
        from starknet_indexer_spark.streaming.heavy_hitters import (
            collect_heavy_hitters,
        )

        history = [
            # shard 0: two emissions, second is cumulative/final
            {"shard": 0, "items": ["a"], "counts": [3], "n_items": 3},
            {"shard": 0, "items": ["a", "b"], "counts": [5, 2], "n_items": 7},
            # shard 1: one emission, listed out of order vs shard 0
            {"shard": 1, "items": ["c"], "counts": [4], "n_items": 4},
        ]
        assert collect_heavy_hitters(history) == {"a": 5, "b": 2, "c": 4}
        # order-independence: reversed history gives the same answer
        assert collect_heavy_hitters(history[::-1]) == {"a": 5, "b": 2, "c": 4}

    def test_null_items_not_counted(self, spark, tmp_path):
        """Null items must be dropped, not stringified to 'None' — a
        REAL 'None' string item keeps its own exact count."""
        from starknet_indexer_spark.streaming.heavy_hitters import (
            collect_heavy_hitters,
            heavy_hitters_stream,
        )

        rows = [("None",)] * 3 + [(None,)] * 5 + [("x",)] * 2
        feed = str(tmp_path / "nulls")
        spark.createDataFrame(rows, "item string").coalesce(1).write.parquet(feed)
        stream = spark.readStream.schema("item string").parquet(feed)
        q = (
            heavy_hitters_stream(stream, "item", k=4, n_shards=2)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("hh_nulls")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = collect_heavy_hitters(
            [r.asDict() for r in spark.sql("SELECT * FROM hh_nulls").collect()]
        )
        assert got == {"None": 3, "x": 2}  # nulls contribute nothing


class TestIntervalJoinValidation:
    def test_rejects_shared_ts_name(self, spark):
        from starknet_indexer_spark.streaming.joins import interval_join

        df = spark.range(3).select("id", F.current_timestamp().alias("ts"))
        with pytest.raises(ValueError, match="left_ts and right_ts"):
            interval_join(df, df, keys=["id"], left_ts="ts", right_ts="ts",
                          lower="-1 hour", upper="0 seconds")

    def test_rejects_ambiguous_non_key_columns(self, spark):
        from starknet_indexer_spark.streaming.joins import interval_join

        left = spark.range(3).select(
            "id", F.current_timestamp().alias("lts"), F.lit(1).alias("value")
        )
        right = spark.range(3).select(
            "id", F.current_timestamp().alias("rts"), F.lit(2).alias("value")
        )
        with pytest.raises(ValueError, match="value"):
            interval_join(left, right, keys=["id"], left_ts="lts",
                          right_ts="rts", lower="-1 hour", upper="0 seconds")


class TestExactDedupStream:
    def test_duplicates_across_batches_dropped(self, spark, tmp_path):
        """Rows redelivered in a later micro-batch (within the
        watermark) must be dropped; the drained stream equals the
        batch dropDuplicates result."""
        from starknet_indexer_spark.streaming.dedup import deduped_stream

        ev = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
        feed = str(tmp_path / "feed")
        mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
        first = ev.filter(F.col("event_id") <= mid)
        second = ev.filter(F.col("event_id") > mid)
        first.write.mode("append").parquet(feed)
        # second chunk REDELIVERS half of the first (at-least-once)
        second.unionByName(first.limit(100)).write.mode("append").parquet(feed)

        stream = (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        q = (
            deduped_stream(
                stream, ["event_id"], "ts",
                # span-covering horizon: the corpus covers ~30 days and
                # maxFilesPerTrigger=1 gives no file-order guarantee, so
                # any smaller watermark could mark legitimate rows late
                # and turn this into a flaky ordering test
                watermark="3650 days",
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dds_t")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            r["event_id"] for r in spark.sql("SELECT event_id FROM dds_t").collect()
        )
        expect = sorted(
            r["event_id"]
            for r in ev.dropDuplicates(["event_id"]).select("event_id").collect()
        )
        assert got == expect
