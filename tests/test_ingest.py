"""Ingest-plane tests: decode round-trip, dimension upsert, cursor,
reorg invalidation (replay equivalence), and streaming-vs-batch
equivalence — the invariants of SURVEY.md §2.1/§2.5 and the
reference's own oracle (reorg leaves no orphans, src/dao.ts:2306-2321).
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark.ingest import (
    EVENT_SELECTORS,
    RAW_SCHEMA,
    ingest_batch,
    invalidate_from_block,
    read_cursor,
    stream_ingest,
    write_cursor,
)


def _h(v) -> str:
    return hex(v) if isinstance(v, int) else v


def swapped_data(
    locker, token0, token1, fee, tick_spacing, extension,
    amount, is_token1, limit, skip, d0, d1, sqrt_after, tick_after, liq,
):
    def i129(v):
        return [hex(abs(v)), hex(0 if v >= 0 else 1)]

    return (
        [hex(locker), hex(token0), hex(token1), hex(fee), hex(tick_spacing), hex(extension)]
        + i129(amount)
        + [hex(1 if is_token1 else 0), hex(limit), hex(0), hex(skip)]
        + i129(d0)
        + i129(d1)
        + [hex(sqrt_after), hex(0)]
        + i129(tick_after)
        + [hex(liq)]
    )


def staked_data(frm, amount, delegate):
    return [hex(frm), hex(amount), hex(delegate)]


def raw_row(block, tx, idx, event_type, data, finality="accepted"):
    import datetime

    return (
        block,
        hex(block * 7919),
        datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=block * 12),
        tx,
        idx,
        hex(block * 1000 + tx),
        "0xe0b0",
        [EVENT_SELECTORS[event_type]],
        data,
        finality,
    )


POOL = dict(token0=0xAAA, token1=0xBBB, fee=0x1000, tick_spacing=60, extension=0)


def make_raw(spark, blocks):
    rows = []
    for b in blocks:
        rows.append(
            raw_row(
                b, 0, 0, "swapped",
                swapped_data(
                    0xCAFE, **POOL, amount=100 + b, is_token1=False, limit=5, skip=0,
                    d0=10 * b, d1=-9 * b, sqrt_after=1 << 40, tick_after=-b, liq=b * 1000,
                ),
            )
        )
        rows.append(raw_row(b, 1, 0, "staker_staked", staked_data(0x11, b * 10, 0x77)))
    return spark.createDataFrame(rows, RAW_SCHEMA)


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tables")


class TestBatchIngest:
    @pytest.mark.slow
    def test_roundtrip_and_upsert(self, spark, tdir):
        raw = make_raw(spark, [1, 2, 3])
        counts = ingest_batch(spark, raw, tdir)
        assert counts["swaps"] == 3
        assert counts["staker_staked"] == 3
        assert counts["blocks"] == 3

        sw = spark.read.parquet(os.path.join(tdir, "swaps"))
        row = sw.filter(F.col("block_number") == 2).collect()[0]
        assert row["event_id"] == 2 * 2**32
        assert row["locker"] == "0xcafe"
        assert row["pool_key_hash"].startswith("0x")
        assert row["delta0"] == Decimal(20)
        assert row["delta1"] == Decimal(-18)
        assert row["tick_after"] == -2  # stored int4 (src/dao.ts:243)

        pk = spark.read.parquet(os.path.join(tdir, "pool_keys"))
        assert pk.count() == 1  # one distinct pool across all swaps

        # re-ingesting more swaps on the same pool adds no dim rows
        ingest_batch(spark, make_raw(spark, [4]), tdir)
        assert spark.read.parquet(os.path.join(tdir, "pool_keys")).count() == 1

    def test_cursor(self, tdir):
        os.makedirs(tdir, exist_ok=True)
        assert read_cursor(tdir) is None
        write_cursor(tdir, 123)
        assert read_cursor(tdir) == 123


class TestJsonFeed:
    """The Kafka-shaped path: JSON message payloads decoded with
    from_json against the explicit envelope schema must be
    row-identical to the parquet feed (format-agnostic ingest)."""

    def _write_jsonl(self, spark, raw, path):
        from pyspark.sql import functions as F

        raw.select(F.to_json(F.struct(*raw.columns)).alias("value")).coalesce(
            1
        ).write.mode("overwrite").text(path)

    def test_json_batch_equals_parquet_feed(self, spark, tmp_path):
        from starknet_indexer_spark.sources.feed import read_feed_json_batch

        raw = make_raw(spark, [1, 2])
        jdir = str(tmp_path / "jsonl")
        self._write_jsonl(spark, raw, jdir)
        got = read_feed_json_batch(spark, jdir)
        # from_json output is all-nullable; names/types must match
        assert [(f.name, f.dataType) for f in got.schema.fields] == [
            (f.name, f.dataType) for f in raw.schema.fields
        ]
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, raw.collect()))

    def test_json_malformed_rows_dropped(self, spark, tmp_path):
        from starknet_indexer_spark.sources.feed import read_feed_json_batch

        raw = make_raw(spark, [1])
        jdir = str(tmp_path / "jsonl_bad")
        self._write_jsonl(spark, raw, jdir)
        with open(os.path.join(jdir, "garbage.txt"), "w") as f:
            f.write("not json at all\n{\"half\": true\n")
        got = read_feed_json_batch(spark, jdir)
        assert got.count() == raw.count()

    def test_json_dead_letter_split(self, spark, tmp_path):
        """decode_feed_json_split must route malformed payloads to the
        dead-letter frame WITH their original bytes, while the decoded
        side equals the plain decode path — no silent drops."""
        from starknet_indexer_spark.sources.feed import (
            decode_feed_json_split,
            read_feed_json_batch,
        )

        raw = make_raw(spark, [1, 2])
        jdir = str(tmp_path / "jsonl_dl")
        self._write_jsonl(spark, raw, jdir)
        bad_lines = ["not json at all", '{"half": true']
        with open(os.path.join(jdir, "garbage.txt"), "w") as f:
            f.write("\n".join(bad_lines) + "\n")

        decoded, malformed = decode_feed_json_split(
            spark.read.text(jdir), value_col="value"
        )
        plain = read_feed_json_batch(spark, jdir)
        assert sorted(map(tuple, decoded.collect())) == sorted(
            map(tuple, plain.collect())
        )
        got_bad = sorted(r["raw_value"] for r in malformed.collect())
        assert got_bad == sorted(bad_lines)

    def test_json_stream_equals_batch(self, spark, tmp_path):
        from starknet_indexer_spark.sources.feed import read_feed_json_stream

        raw = make_raw(spark, [1, 2, 3])
        jdir = str(tmp_path / "jsonl_stream")
        self._write_jsonl(spark, raw, jdir)
        q = (
            read_feed_json_stream(spark, jdir)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("json_feed_t")
            .option("checkpointLocation", str(tmp_path / "ck_json"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table("json_feed_t").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, raw.collect()))


class TestReorg:
    @pytest.mark.slow
    def test_invalidate_suffix(self, spark, tdir):
        blocks = [995, 996, 1001, 1002, 1050, 1100]
        ingest_batch(spark, make_raw(spark, blocks), tdir)
        invalidate_from_block(spark, tdir, 1002)

        sw = spark.read.parquet(os.path.join(tdir, "swaps"))
        assert sorted(r["block_number"] for r in sw.select("block_number").collect()) == [
            995, 996, 1001,
        ]
        bl = spark.read.parquet(os.path.join(tdir, "blocks"))
        assert bl.agg(F.max("number")).collect()[0][0] == 1001
        ss = spark.read.parquet(os.path.join(tdir, "staker_staked"))
        assert ss.agg(F.max("block_number")).collect()[0][0] == 1001
        assert read_cursor(tdir) == 1001

    @pytest.mark.slow
    def test_replay_equivalence(self, spark, tmp_path):
        """ingest all -> invalidate k -> re-ingest suffix == ingest all
        (the reorg-replay invariant, SURVEY §5.2 item 3)."""
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        blocks = [995, 996, 1001, 1002, 1050]
        ingest_batch(spark, make_raw(spark, blocks), a)

        ingest_batch(spark, make_raw(spark, blocks), b)
        invalidate_from_block(spark, b, 1002)
        ingest_batch(spark, make_raw(spark, [1002, 1050]), b)

        for t in ("swaps", "staker_staked", "blocks"):
            da = spark.read.parquet(os.path.join(a, t))
            db = spark.read.parquet(os.path.join(b, t))
            assert sorted(map(str, da.collect())) == sorted(map(str, db.collect())), t


def invalidate_row(last_valid_block: int):
    """In-band reorg control message: keys=["invalidate"],
    block_number = last VALID block (the reference's invalidated
    cursor orderKey, src/index.ts:162-184)."""
    return (last_valid_block, None, None, 0, 0, None, None, ["invalidate"], [], None)


class TestInBandInvalidate:
    def test_stream_reorg_replay_equivalence(self, spark, tmp_path):
        """Feed files: [old chain] -> [invalidate marker] -> [new
        chain]; the streamed result must equal a fresh batch ingest of
        the canonical chain. This is the reference's in-stream
        `invalidate` message semantics end-to-end."""
        from starknet_indexer_spark.ingest import stream_ingest

        feed = str(tmp_path / "feed")
        a, b = str(tmp_path / "canonical"), str(tmp_path / "streamed")

        old_chain = make_raw(spark, [995, 996, 1001, 1002, 1050])
        # reorg at 1002: blocks >= 1002 replaced; new chain re-emits
        # them with different payloads (amount offset via block+1 trick
        # is enough — just use different block list ordering)
        new_suffix = make_raw(spark, [1002, 1003])
        old_chain.coalesce(1).write.mode("append").parquet(feed)
        spark.createDataFrame(
            [invalidate_row(1001)], RAW_SCHEMA
        ).coalesce(1).write.mode("append").parquet(feed)
        new_suffix.coalesce(1).write.mode("append").parquet(feed)

        q = stream_ingest(
            spark,
            feed,
            b,
            str(tmp_path / "ck"),
            trigger={"availableNow": True},
            # one file per batch: the invalidate marker must be applied
            # strictly between the old-chain and new-chain files
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

        ingest_batch(spark, make_raw(spark, [995, 996, 1001]), a)
        ingest_batch(spark, make_raw(spark, [1002, 1003]), a)

        for t in ("swaps", "staker_staked", "blocks"):
            da = spark.read.parquet(os.path.join(a, t))
            db = spark.read.parquet(os.path.join(b, t))
            assert sorted(map(str, da.collect())) == sorted(map(str, db.collect())), t
        assert read_cursor(b) == 1003

    def test_invalidate_only_batch_returns_empty_counts(self, spark, tdir):
        """An invalidate-only micro-batch must return {} (not None) so
        the daemon still refreshes views off the truncated tables."""
        from starknet_indexer_spark.ingest import ingest_micro_batch

        ingest_batch(spark, make_raw(spark, [995, 1002]), tdir)
        inv = spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA)
        out = ingest_micro_batch(spark, inv, tdir, epoch_id=3)
        assert out == {}
        sw = spark.read.parquet(os.path.join(tdir, "swaps"))
        assert [r["block_number"] for r in sw.collect()] == [995]
        assert read_cursor(tdir) == 1001


class TestCrossBatchMarkerTie:
    def test_same_tick_data_admitted_before_marker_is_reingested(
        self, spark, tmp_path
    ):
        """The finite maxFilesPerTrigger hazard: on a coarse-mtime
        store a NEW-CHAIN data file can share its invalidate marker's
        mtime tick and be admitted one trigger EARLIER (tie order is
        unspecified). Without repair the marker's invalidation deletes
        the just-ingested new-chain rows and the consumed feed file
        never replays — silent loss. The last-tick manifest must
        re-ingest the earlier batch's same-tick file after the
        invalidation, landing on the exact co-batched final state."""
        import datetime

        from starknet_indexer_spark.ingest import (
            FEED_FILE_COL,
            FEED_MTIME_COL,
            ingest_micro_batch,
        )

        tdir = str(tmp_path / "tables")
        feed = tmp_path / "feed"
        t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
        t1 = datetime.datetime(2024, 1, 1, 0, 0, 1)  # the tie tick

        def batch(df, path, mt):
            return df.select(
                "*",
                F.lit(path).alias(FEED_FILE_COL),
                F.lit(mt).cast("timestamp").alias(FEED_MTIME_COL),
            )

        # epoch 0: old chain at tick t0
        old_path = str(feed / "old.parquet")
        make_raw(spark, [995, 996, 1001, 1002, 1050]).coalesce(1).write.parquet(
            old_path
        )
        ingest_micro_batch(
            spark,
            batch(spark.read.schema(RAW_SCHEMA).parquet(old_path), old_path, t0),
            tdir,
            epoch_id=0,
            marker_ns="tie",
        )

        # epoch 1: the NEW-chain file (true order: AFTER the marker),
        # same tick t1 as the marker, admitted one trigger early
        new_path = str(feed / "new.parquet")
        make_raw(spark, [1002, 1003]).coalesce(1).write.parquet(new_path)
        ingest_micro_batch(
            spark,
            batch(spark.read.schema(RAW_SCHEMA).parquet(new_path), new_path, t1),
            tdir,
            epoch_id=1,
            marker_ns="tie",
        )

        # epoch 2: the marker (last valid = 1001) arrives at tick t1
        inv = spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA)
        ingest_micro_batch(
            spark,
            batch(inv, str(feed / "marker.parquet"), t1),
            tdir,
            epoch_id=2,
            marker_ns="tie",
        )

        # canonical chain survives: the invalidation swept old 1002/1050
        # AND the early-ingested new rows, then the manifest re-ingested
        # the same-tick new-chain file from the feed dir
        got = sorted(
            r["block_number"]
            for r in spark.read.parquet(os.path.join(tdir, "swaps")).collect()
        )
        assert got == [995, 996, 1001, 1002, 1003]
        assert read_cursor(tdir) == 1003

    def test_surviving_rows_in_same_tick_file_are_not_duplicated(
        self, spark, tmp_path
    ):
        """A same-tick earlier-trigger file can mix rows at or below the
        invalidation point (which survive invalidate_from_block(inv+1))
        with new-chain rows above it. The repair replay must re-ingest
        ONLY the rows the invalidation deleted (block > inv) — replaying
        the whole file would duplicate the surviving rows."""
        import datetime

        from starknet_indexer_spark.ingest import (
            FEED_FILE_COL,
            FEED_MTIME_COL,
            ingest_micro_batch,
        )

        tdir = str(tmp_path / "tables")
        feed = tmp_path / "feed"
        t1 = datetime.datetime(2024, 1, 1, 0, 0, 1)

        def batch(df, path, mt):
            return df.select(
                "*",
                F.lit(path).alias(FEED_FILE_COL),
                F.lit(mt).cast("timestamp").alias(FEED_MTIME_COL),
            )

        # epoch 0: one file at the tie tick mixing pre-reorg-surviving
        # rows (995, 1001) with new-chain rows (1002, 1003)
        mixed_path = str(feed / "mixed.parquet")
        make_raw(spark, [995, 1001, 1002, 1003]).coalesce(1).write.parquet(mixed_path)
        ingest_micro_batch(
            spark,
            batch(spark.read.schema(RAW_SCHEMA).parquet(mixed_path), mixed_path, t1),
            tdir,
            epoch_id=0,
            marker_ns="tie3",
        )
        # epoch 1: the marker (last valid = 1001) at the same tick
        inv = spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA)
        ingest_micro_batch(
            spark,
            batch(inv, str(feed / "marker.parquet"), t1),
            tdir,
            epoch_id=1,
            marker_ns="tie3",
        )
        got = sorted(
            r["block_number"]
            for r in spark.read.parquet(os.path.join(tdir, "swaps")).collect()
        )
        # each block exactly once: 995/1001 survived invalidation and
        # were NOT re-ingested; 1002/1003 were deleted and replayed
        assert got == [995, 1001, 1002, 1003]
        assert read_cursor(tdir) == 1003

    def test_repair_replay_cannot_regress_cursor(self, spark, tmp_path):
        """A same-tick file whose rows all sit at or below the
        invalidation point yields an empty repair replay; the cursor
        must hold at inv, not regress to the file's max block."""
        import datetime

        from starknet_indexer_spark.ingest import (
            FEED_FILE_COL,
            FEED_MTIME_COL,
            ingest_micro_batch,
        )

        tdir = str(tmp_path / "tables")
        feed = tmp_path / "feed"
        t1 = datetime.datetime(2024, 1, 1, 0, 0, 1)

        def batch(df, path, mt):
            return df.select(
                "*",
                F.lit(path).alias(FEED_FILE_COL),
                F.lit(mt).cast("timestamp").alias(FEED_MTIME_COL),
            )

        low_path = str(feed / "low.parquet")
        make_raw(spark, [995, 996]).coalesce(1).write.parquet(low_path)
        ingest_micro_batch(
            spark,
            batch(spark.read.schema(RAW_SCHEMA).parquet(low_path), low_path, t1),
            tdir,
            epoch_id=0,
            marker_ns="tie4",
        )
        inv = spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA)
        ingest_micro_batch(
            spark,
            batch(inv, str(feed / "marker.parquet"), t1),
            tdir,
            epoch_id=1,
            marker_ns="tie4",
        )
        got = sorted(
            r["block_number"]
            for r in spark.read.parquet(os.path.join(tdir, "swaps")).collect()
        )
        assert got == [995, 996]
        assert read_cursor(tdir) == 1001

    def test_strictly_older_data_is_not_reingested(self, spark, tmp_path):
        """Old-chain data at a STRICTLY earlier tick than the marker is
        genuinely pre-reorg: the invalidation must sweep it and the
        manifest must NOT resurrect it."""
        import datetime

        from starknet_indexer_spark.ingest import (
            FEED_FILE_COL,
            FEED_MTIME_COL,
            ingest_micro_batch,
        )

        tdir = str(tmp_path / "tables")
        feed = tmp_path / "feed"
        t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
        t1 = datetime.datetime(2024, 1, 1, 0, 0, 5)

        def batch(df, path, mt):
            return df.select(
                "*",
                F.lit(path).alias(FEED_FILE_COL),
                F.lit(mt).cast("timestamp").alias(FEED_MTIME_COL),
            )

        old_path = str(feed / "old.parquet")
        make_raw(spark, [995, 1002, 1050]).coalesce(1).write.parquet(old_path)
        ingest_micro_batch(
            spark,
            batch(spark.read.schema(RAW_SCHEMA).parquet(old_path), old_path, t0),
            tdir,
            epoch_id=0,
            marker_ns="tie2",
        )
        inv = spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA)
        ingest_micro_batch(
            spark,
            batch(inv, str(feed / "marker.parquet"), t1),
            tdir,
            epoch_id=1,
            marker_ns="tie2",
        )
        got = sorted(
            r["block_number"]
            for r in spark.read.parquet(os.path.join(tdir, "swaps")).collect()
        )
        assert got == [995]
        assert read_cursor(tdir) == 1001


class TestInvalidationCrashRecovery:
    def test_orphaned_staging_restored_on_next_invalidation(self, spark, tdir):
        """Crash window: survivors staged durably, boundary bucket
        deleted, then death before os.replace — the survivors are
        orphaned in the staging dir. The next invalidation must restore
        them before proceeding (data loss otherwise)."""
        import shutil as sh

        from starknet_indexer_spark.ingest import (
            BLOCK_BUCKET_SIZE,
            invalidation_staging_dir,
            recover_invalidation_staging,
        )

        blocks = [995, 996, 1001, 1002, 1050]
        ingest_batch(spark, make_raw(spark, blocks), tdir)
        bucket = 1002 // BLOCK_BUCKET_SIZE
        boundary = os.path.join(tdir, "swaps", f"block_bucket={bucket}")
        staging = invalidation_staging_dir(tdir, "swaps", bucket)
        # simulate the crash: survivors staged, boundary gone
        spark.read.parquet(boundary).filter(F.col("block_number") < 1002).write.mode(
            "overwrite"
        ).parquet(staging)
        sh.rmtree(boundary)
        pre = spark.read.parquet(os.path.join(tdir, "swaps")).count()

        restored = recover_invalidation_staging(tdir)
        assert restored == [boundary]
        assert not os.path.exists(staging)
        assert spark.read.parquet(os.path.join(tdir, "swaps")).count() > pre
        # and the table now matches a clean invalidate at the same point
        invalidate_from_block(spark, tdir, 1002)
        got = sorted(
            r["block_number"]
            for r in spark.read.parquet(os.path.join(tdir, "swaps")).collect()
        )
        assert got == [995, 996, 1001]

    def test_stale_staging_with_live_bucket_is_dropped(self, spark, tdir):
        """Crash BEFORE any delete: the boundary bucket is intact and
        authoritative; the staged filtered copy must be discarded, not
        swapped over it."""
        from starknet_indexer_spark.ingest import (
            BLOCK_BUCKET_SIZE,
            invalidation_staging_dir,
            recover_invalidation_staging,
        )

        blocks = [995, 996, 1001, 1002]
        ingest_batch(spark, make_raw(spark, blocks), tdir)
        bucket = 1002 // BLOCK_BUCKET_SIZE
        boundary = os.path.join(tdir, "swaps", f"block_bucket={bucket}")
        staging = invalidation_staging_dir(tdir, "swaps", bucket)
        spark.read.parquet(boundary).filter(F.col("block_number") < 1002).write.mode(
            "overwrite"
        ).parquet(staging)
        pre = sorted(map(str, spark.read.parquet(boundary).collect()))

        assert recover_invalidation_staging(tdir) == []
        assert not os.path.exists(staging)
        assert sorted(map(str, spark.read.parquet(boundary).collect())) == pre


    def test_orphan_under_former_hidden_name_restored(self, spark, tdir):
        """A crash under the former hidden staging name
        (``._invalidate_<table>_b<bucket>``) is still recovered."""
        import shutil as sh

        from starknet_indexer_spark.ingest import (
            BLOCK_BUCKET_SIZE,
            recover_invalidation_staging,
        )

        ingest_batch(spark, make_raw(spark, [995, 996, 1001, 1002]), tdir)
        bucket = 1002 // BLOCK_BUCKET_SIZE
        boundary = os.path.join(tdir, "swaps", f"block_bucket={bucket}")
        staging = os.path.join(tdir, f"._invalidate_swaps_b{bucket}")
        spark.read.parquet(boundary).filter(F.col("block_number") < 1002).write.mode(
            "overwrite"
        ).parquet(staging)
        want = sorted(map(str, spark.read.parquet(staging).collect()))
        sh.rmtree(boundary)
        assert recover_invalidation_staging(tdir) == [boundary]
        assert not os.path.exists(staging)
        assert sorted(map(str, spark.read.parquet(boundary).collect())) == want
        assert len(want) > 0

    def test_staging_path_passes_spark_path_filter(self, spark, tdir):
        """Spark's file listing drops hidden paths (a component starting
        with ``.``, or ``_`` without ``=``); the staging dir must not
        be one, so its reads need no leniency and log no "All paths
        were ignored" warning."""
        from starknet_indexer_spark.ingest import invalidation_staging_dir

        hadoop_fs = spark._jvm.org.apache.spark.util.HadoopFSUtils
        staging = invalidation_staging_dir(tdir, "swaps", 10)
        assert not hadoop_fs.shouldFilterOutPath(staging)
        # the helper does reject the former hidden name
        assert hadoop_fs.shouldFilterOutPath(
            os.path.join(tdir, "._invalidate_swaps_b10")
        )


class TestEpochMarkerHygiene:
    def test_markers_pruned_to_tail(self, spark, tdir):
        """One marker file per micro-batch forever is an unbounded
        driver-side dir; markers far below the committed epoch are
        pruned (redelivery can only replay recent epochs)."""
        from starknet_indexer_spark import ingest as ing

        ns_dir = os.path.join(tdir, "_applied_epochs", "nsX")
        os.makedirs(ns_dir)
        for e in range(0, 300, 50):
            open(os.path.join(ns_dir, str(e)), "w").write("applied")
        ing._prune_epoch_markers(ns_dir, committed_epoch=300)
        kept = sorted(int(x) for x in os.listdir(ns_dir))
        floor = 300 - ing._EPOCH_MARKER_TAIL
        assert kept == [e for e in range(0, 300, 50) if e >= floor]

    def test_fallback_namespace_is_checkpoint_scoped(self, tmp_path):
        """Unreadable checkpoint metadata must NOT collapse into one
        shared namespace: epoch ids restart at 0 per checkpoint
        generation, so a shared ns would let stale markers silently
        skip live batches."""
        from starknet_indexer_spark.ingest import checkpoint_marker_ns

        a = checkpoint_marker_ns(str(tmp_path / "ckpt_a"))
        b = checkpoint_marker_ns(str(tmp_path / "ckpt_b"))
        assert a != b and a.startswith("ckpt-") and b.startswith("ckpt-")
        # stable for the same path
        assert a == checkpoint_marker_ns(str(tmp_path / "ckpt_a"))


class TestStreaming:
    @pytest.mark.slow
    def test_stream_matches_batch(self, spark, tmp_path):
        feed = str(tmp_path / "feed")
        sdir = str(tmp_path / "stream_tables")
        bdir = str(tmp_path / "batch_tables")
        ckpt = str(tmp_path / "ckpt")

        raw1 = make_raw(spark, [1, 2])
        raw2 = make_raw(spark, [3])
        raw1.write.mode("append").parquet(feed)

        q = stream_ingest(spark, feed, sdir, ckpt)
        q.processAllAvailable()
        raw2.write.mode("append").parquet(feed)
        q.processAllAvailable()
        q.stop()

        ingest_batch(spark, make_raw(spark, [1, 2, 3]), bdir)

        for t in ("swaps", "staker_staked", "blocks"):
            ds = spark.read.parquet(os.path.join(sdir, t))
            db = spark.read.parquet(os.path.join(bdir, t))
            assert sorted(map(str, ds.collect())) == sorted(map(str, db.collect())), t
        assert read_cursor(sdir) == 3

    def test_pending_rows_excluded(self, spark, tmp_path):
        feed = str(tmp_path / "feed2")
        sdir = str(tmp_path / "t2")
        ckpt = str(tmp_path / "ckpt2")
        rows = [
            raw_row(1, 0, 0, "staker_staked", staked_data(0x1, 5, 0x2)),
            raw_row(2, 0, 0, "staker_staked", staked_data(0x1, 6, 0x2), finality="pending"),
        ]
        spark.createDataFrame(rows, RAW_SCHEMA).write.mode("append").parquet(feed)
        q = stream_ingest(spark, feed, sdir, ckpt)
        q.processAllAvailable()
        q.stop()
        ss = spark.read.parquet(os.path.join(sdir, "staker_staked"))
        assert ss.count() == 1
        assert read_cursor(sdir) == 1


def init_data(token0, token1, fee, tick_spacing, extension, tick, sqrt_ratio):
    def i129(v):
        return [hex(abs(v)), hex(0 if v >= 0 else 1)]

    return (
        [hex(token0), hex(token1), hex(fee), hex(tick_spacing), hex(extension)]
        + i129(tick)
        + [hex(sqrt_ratio), hex(0)]
    )


def position_updated_data(
    locker, token0, token1, fee, tick_spacing, extension,
    salt, lower, upper, liq_delta, d0, d1,
):
    def i129(v):
        return [hex(abs(v)), hex(0 if v >= 0 else 1)]

    return (
        [hex(locker), hex(token0), hex(token1), hex(fee), hex(tick_spacing), hex(extension)]
        + [hex(salt)]
        + i129(lower)
        + i129(upper)
        + i129(liq_delta)
        + i129(d0)
        + i129(d1)
    )


class TestEndToEnd:
    def test_views_run_on_ingested_tables(self, spark, tdir):
        """Raw felt arrays -> ingest -> V1/V2 views: the stored-table
        projection (to_stored) produces exactly the shape the view
        layer consumes (the reference flattens at insert the same way,
        src/dao.ts:1962-1999)."""
        from decimal import Decimal

        from starknet_indexer_spark.views import VIEWS

        rows = [
            raw_row(1, 0, 0, "pool_initialized",
                    init_data(**POOL, tick=0, sqrt_ratio=1 << 40)),
            raw_row(2, 0, 0, "position_updated",
                    position_updated_data(0xCAFE, **POOL, salt=1, lower=-100,
                                          upper=100, liq_delta=5000, d0=50, d1=-40)),
            raw_row(3, 0, 0, "swapped",
                    swapped_data(0xCAFE, **POOL, amount=10, is_token1=False, limit=5,
                                 skip=0, d0=10, d1=-9, sqrt_after=1 << 41,
                                 tick_after=-5, liq=7777)),
            raw_row(4, 0, 0, "position_updated",
                    position_updated_data(0xCAFE, **POOL, salt=2, lower=-100,
                                          upper=100, liq_delta=5000, d0=50, d1=-40)),
        ]
        ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)

        tables = {
            name: spark.read.parquet(os.path.join(tdir, name))
            for name in ("swaps", "pool_initializations", "position_updates",
                         "pool_keys", "blocks")
        }
        (state,) = VIEWS["pool_states"](tables).collect()
        assert state["tick"] == -5
        assert state["sqrt_ratio"] == Decimal(1 << 41)
        # last swap's liquidity_after + in-range update after the swap
        assert state["liquidity"] == Decimal(7777 + 5000)
        assert state["last_event_id"] == 4 * 2**32

        ticks = {
            (r["tick"], str(r["net_liquidity_delta_diff"]))
            for r in VIEWS["per_pool_per_tick_liquidity"](tables).collect()
        }
        assert ticks == {(-100, "10000"), (100, "-10000")}


def twamm_voe_data(token0, token1, fee, rate0, rate1, d0, d1):
    def i129(v):
        return [hex(abs(v)), hex(0 if v >= 0 else 1)]

    return [hex(token0), hex(token1), hex(fee), hex(rate0), hex(rate1)] + i129(d0) + i129(d1)


def twamm_order_data(owner, salt, sell, buy, fee, start, end, rate_delta):
    def i129(v):
        return [hex(abs(v)), hex(0 if v >= 0 else 1)]

    return [hex(owner), hex(salt), hex(sell), hex(buy), hex(fee), hex(start), hex(end)] + i129(
        rate_delta
    )


class TestEndToEndTwamm:
    def test_twamm_views_on_ingested_tables(self, spark, tdir):
        """Raw TWAMM felt arrays -> ingest (derived pool key, D15
        routing, u64->timestamp) -> V3/V4 views."""
        from decimal import Decimal

        from starknet_indexer_spark.views import VIEWS

        # block times: block b -> 2024-01-01 + 12b seconds (raw_row)
        base = 1704067200  # 2024-01-01 UTC epoch
        rows = [
            # last VOE at block 2 (t = base+24): rates (1000, 2000)
            raw_row(2, 0, 0, "twamm_virtual_orders_executed",
                    twamm_voe_data(0xAAA, 0xBBB, 0x30, 1000, 2000, 5, -4)),
            # order update AFTER the VOE, active window straddles t:
            # sells token0 (0xaaa < 0xbbb) at +500
            raw_row(3, 0, 0, "twamm_order_updated",
                    twamm_order_data(0xD00D, 7, 0xAAA, 0xBBB, 0x30,
                                     base, base + 3600, 500)),
            # order update NOT yet active at t (starts later): ignored by V3
            raw_row(3, 1, 0, "twamm_order_updated",
                    twamm_order_data(0xD00D, 8, 0xBBB, 0xAAA, 0x30,
                                     base + 3000, base + 7200, 900)),
        ]
        ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)

        tables = {
            name: spark.read.parquet(os.path.join(tdir, name))
            for name in ("twamm_virtual_order_executions", "twamm_order_updates",
                         "pool_keys", "blocks")
        }
        # derived pool key present in the dimension exactly once
        assert tables["pool_keys"].count() == 1

        (state,) = VIEWS["twamm_pool_states"](tables).collect()
        assert state["token0_sale_rate"] == Decimal(1500)  # 1000 + routed +500
        assert state["token1_sale_rate"] == Decimal(2000)

        # V4: the future-dated order contributes schedule deltas after t
        deltas = VIEWS["twamm_sale_rate_deltas"](tables).collect()
        assert len(deltas) > 0


def _packed(s: str) -> int:
    return int.from_bytes(s.encode(), "big")


def _bytearray_felts(s: str) -> list:
    # short ByteArray: no full 31-byte words, one pending word + len
    return [hex(0), hex(_packed(s)), hex(len(s))]


class TestEndToEndRegistryOracleLimit:
    def test_v8_token_registry_decodes_ingested_hex(self, spark, tdir):
        """V8 over ingested tables: short-string decode must accept the
        hex-felt storage form (fixtures store packed NUMERIC; ingest
        stores canonical 0x-hex because felt252 exceeds Decimal(38))."""
        from starknet_indexer_spark.views import VIEWS

        rows = [
            raw_row(1, 0, 0, "token_registration",
                    [hex(0x111), hex(_packed("Ether")), hex(_packed("ETH")),
                     hex(18), hex(10**9)]),
            raw_row(2, 0, 0, "token_registration_v3",
                    [hex(0x222)] + _bytearray_felts("Dai Stablecoin")
                    + _bytearray_felts("DAI") + [hex(18), hex(10**9)]),
            # later re-registration of ETH by a different address: the
            # symbol belongs to its FIRST registrant (dao.ts:994-1012)
            raw_row(3, 0, 0, "token_registration",
                    [hex(0x333), hex(_packed("Fake Ether")), hex(_packed("ETH")),
                     hex(18), hex(10**9)]),
        ]
        ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)
        tables = {
            name: spark.read.parquet(os.path.join(tdir, name))
            for name in ("token_registrations", "token_registrations_v3")
        }
        got = {
            (r["address"], r["name"], r["symbol"])
            for r in VIEWS["latest_token_registrations"](tables).collect()
        }
        assert got == {("0x111", "Ether", "ETH"), ("0x222", "Dai Stablecoin", "DAI")}

    def test_v9_v5_on_ingested_tables(self, spark, tdir):
        from decimal import Decimal

        from starknet_indexer_spark.views import VIEWS

        rows = [
            raw_row(1, 0, 0, "oracle_snapshot",
                    [hex(0xAAA), hex(0xBBB), hex(1), hex(1700000000), hex(42), hex(0)]),
            raw_row(2, 0, 0, "oracle_snapshot",
                    [hex(0xAAA), hex(0xBBB), hex(2), hex(1700000600), hex(50), hex(0)]),
            raw_row(3, 0, 0, "limit_order_placed",
                    [hex(0xD00D), hex(1), hex(0xAAA), hex(0xBBB)]
                    + [hex(128), hex(0)] + [hex(5000), hex(77)]),
        ]
        ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)

        tables = {
            "oracle_snapshots": spark.read.parquet(os.path.join(tdir, "oracle_snapshots")),
            "limit_order_placed": spark.read.parquet(os.path.join(tdir, "limit_order_placed")),
        }
        (o,) = VIEWS["oracle_pool_states"](tables).collect()
        assert o["last_snapshot_block_timestamp"] == Decimal(1700000600)

        tables["limit_order_closed"] = tables["limit_order_placed"].limit(0)
        (lo,) = VIEWS["limit_order_pool_states"](tables).collect()
        assert lo["last_event_id"] == 3 * 2**32


class TestGovernorSideTables:
    def test_calls_and_results_explode_to_child_tables(self, spark, tdir):
        rows = [
            # proposal with two calls (second has empty calldata)
            raw_row(1, 0, 0, "governor_proposed",
                    [hex(0xBEEF), hex(0x11),
                     hex(2),
                     hex(0xC0), hex(0x5E1), hex(2), hex(10), hex(20),
                     hex(0xC1), hex(0x5E2), hex(0),
                     hex(1)]),
            raw_row(2, 0, 0, "governor_executed",
                    [hex(0xBEEF), hex(2), hex(2), hex(7), hex(8), hex(1), hex(9)]),
        ]
        ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)

        calls = spark.read.parquet(os.path.join(tdir, "governor_proposed_calls"))
        got = {
            (r["proposal_id"], r["call_index"], r["to"], r["selector"], tuple(r["calldata"]))
            for r in calls.collect()
        }
        assert got == {
            ("0xbeef", 0, "0xc0", "0x5e1", ("0xa", "0x14")),
            ("0xbeef", 1, "0xc1", "0x5e2", ()),
        }

        results = spark.read.parquet(os.path.join(tdir, "governor_executed_results"))
        rs = {
            (r["proposal_id"], r["result_index"], tuple(r["results"]))
            for r in results.collect()
        }
        assert rs == {("0xbeef", 0, ("0x7", "0x8")), ("0xbeef", 1, ("0x9",))}

        # main table kept the scalar columns
        gp = spark.read.parquet(os.path.join(tdir, "governor_proposed"))
        assert gp.count() == 1


class TestSynthFeed:
    """The bench's synthetic feed must be a valid raw feed: every
    message decodes through the real selector dispatch and lands in
    the right stored table with consistent counts."""

    def test_synth_feed_ingests(self, spark, tdir):
        from starknet_indexer_spark.sources.synth import synth_raw_feed

        raw = synth_raw_feed(spark, "/root/testdata/sf0.001")
        n = raw.count()
        counts = ingest_batch(spark, raw, tdir)
        assert counts["swaps"] > 0 and counts["staker_staked"] > 0
        assert counts["swaps"] + counts["staker_staked"] == n
        # decoded felts are canonical and magnitudes survived round-trip
        import os as _os

        swaps = spark.read.parquet(_os.path.join(tdir, "swaps"))
        row = swaps.orderBy("event_id").first()
        assert row["delta0"] is not None and row["liquidity_after"] is not None
        # copies produce disjoint id ranges and scale linearly
        raw2 = synth_raw_feed(spark, "/root/testdata/sf0.001", copies=2)
        assert raw2.count() == 2 * n
        assert raw2.select("block_number").distinct().count() == 2 * raw.select(
            "block_number"
        ).distinct().count()


class TestCreationThresholdBreached:
    """GovernorCreationThresholdBreached rows land in the
    governor_canceled table, storing only the proposal id — the
    reference's routing (src/eventProcessors.ts:365-379)."""

    def test_routes_to_canceled_table(self, spark, tdir):
        rows = [
            raw_row(1, 0, 0, "governor_canceled", [hex(0xAB)]),
            raw_row(
                1, 1, 0, "governor_creation_threshold_breached",
                [hex(0xCD), hex(1_700_000_000)],
            ),
        ]
        counts = ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)
        assert counts["governor_canceled"] == 2
        got = {
            r["id"]
            for r in spark.read.parquet(
                os.path.join(tdir, "governor_canceled")
            ).collect()
        }
        assert got == {"0xab", "0xcd"}


class TestEpochReplayGuard:
    """foreachBatch is at-least-once: a redelivered epoch must not
    double-append fact rows (the common replay case — checkpoint
    commit failed after a successful apply)."""

    def test_replayed_epoch_is_skipped(self, spark, tdir):
        from starknet_indexer_spark.ingest import ingest_micro_batch

        raw = make_raw(spark, [1, 2])
        counts = ingest_micro_batch(spark, raw, tdir, epoch_id=7)
        assert counts and counts["swaps"] == 2
        swaps_path = os.path.join(tdir, "swaps")
        n1 = spark.read.parquet(swaps_path).count()
        # redelivery of the same epoch: no-op
        assert ingest_micro_batch(spark, raw, tdir, epoch_id=7) is None
        assert spark.read.parquet(swaps_path).count() == n1
        # a NEW epoch with new data still lands
        counts3 = ingest_micro_batch(spark, make_raw(spark, [3]), tdir, epoch_id=8)
        assert counts3 and spark.read.parquet(swaps_path).count() == n1 + 1


class TestFamilyConcurrencyGroups:
    """Concurrent ingest groups must be keyed by the FULL set of
    directories a family writes (main table + side tables) — two
    families sharing ANY directory must never run concurrently
    (parquet appends under one path clobber the shared _temporary
    committer dir)."""

    def test_groups_write_disjoint_directories(self):
        from starknet_indexer_spark import ingest as ing

        groups = ing._family_concurrency_groups()
        dirs_by_group: dict[str, set] = {}
        for et, g in groups.items():
            dirs_by_group.setdefault(g, set()).update(ing._family_write_dirs(et))
        seen: dict[str, str] = {}
        for g, dirs in dirs_by_group.items():
            for d in dirs:
                assert d not in seen, (d, g, seen[d])
                seen[d] = g

    def test_same_stored_table_families_share_group(self):
        from starknet_indexer_spark import ingest as ing

        groups = ing._family_concurrency_groups()
        by_table: dict[str, set] = {}
        for et in ing.EVENT_SELECTORS:
            t = ing.STORED_PROJECTIONS.get(et, (et, None))[0]
            by_table.setdefault(t, set()).add(groups[et])
        for t, gs in by_table.items():
            assert len(gs) == 1, (t, gs)

    def test_shared_side_table_merges_groups(self, monkeypatch):
        """A future side table reachable from two families with
        DIFFERENT main tables must pull both into one group."""
        from starknet_indexer_spark import ingest as ing

        # two families known to have different stored tables today
        a, b = "position_updated", "position_fees_collected"
        assert (
            ing.STORED_PROJECTIONS.get(a, (a, None))[0]
            != ing.STORED_PROJECTIONS.get(b, (b, None))[0]
        )
        base = ing._family_concurrency_groups()
        assert base[a] != base[b]
        shared = dict(ing.SIDE_TABLES)
        shared[a] = list(shared.get(a, ())) + [("shared_side", None)]
        shared[b] = list(shared.get(b, ())) + [("shared_side", None)]
        monkeypatch.setattr(ing, "SIDE_TABLES", shared)
        merged = ing._family_concurrency_groups()
        assert merged[a] == merged[b]


class TestMarkerBoundaryBatching:
    """In-band invalidates under UNBOUNDED file batching: a single
    micro-batch holding [old chain][marker][new chain] files must
    replay the message order by splitting at marker boundaries
    (ingest._apply_marker_batch) — the backlog catch-up path."""

    def _write(self, df, feed):
        import time as _t

        df.coalesce(1).write.mode("append").parquet(feed)
        _t.sleep(0.02)  # distinct mtimes: the feed contract's file order

    def test_reorg_mid_backlog_one_batch(self, spark, tmp_path):
        from starknet_indexer_spark.ingest import read_cursor, stream_ingest

        feed = str(tmp_path / "feed")
        a, b = str(tmp_path / "canonical"), str(tmp_path / "streamed")

        self._write(make_raw(spark, [995, 996]), feed)
        self._write(make_raw(spark, [1001, 1002, 1050]), feed)
        self._write(spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA), feed)
        self._write(make_raw(spark, [1002]), feed)
        self._write(make_raw(spark, [1003]), feed)

        q = stream_ingest(
            spark,
            feed,
            b,
            str(tmp_path / "ck"),
            trigger={"availableNow": True},
            max_files_per_trigger=None,  # all five files in one batch
        )
        q.awaitTermination(120)

        ingest_batch(spark, make_raw(spark, [995, 996, 1001]), a)
        ingest_batch(spark, make_raw(spark, [1002, 1003]), a)

        for t in ("swaps", "staker_staked", "blocks"):
            da = spark.read.parquet(os.path.join(a, t))
            db = spark.read.parquet(os.path.join(b, t))
            assert sorted(map(str, da.collect())) == sorted(map(str, db.collect())), t
        assert read_cursor(b) == 1003

    def test_two_reorgs_one_batch(self, spark, tmp_path):
        """Two invalidates inside one co-batched backlog must apply
        sequentially (each against the segment before it), not
        collapse to the deepest-first whole-batch shortcut."""
        from starknet_indexer_spark.ingest import read_cursor, stream_ingest

        feed = str(tmp_path / "feed")
        a, b = str(tmp_path / "canonical"), str(tmp_path / "streamed")

        self._write(make_raw(spark, [100, 101, 102]), feed)
        self._write(spark.createDataFrame([invalidate_row(101)], RAW_SCHEMA), feed)
        self._write(make_raw(spark, [102, 103]), feed)
        self._write(spark.createDataFrame([invalidate_row(102)], RAW_SCHEMA), feed)
        self._write(make_raw(spark, [103]), feed)

        q = stream_ingest(
            spark,
            feed,
            b,
            str(tmp_path / "ck"),
            trigger={"availableNow": True},
            max_files_per_trigger=None,
        )
        q.awaitTermination(120)

        ingest_batch(spark, make_raw(spark, [100, 101]), a)
        ingest_batch(spark, make_raw(spark, [102]), a)
        ingest_batch(spark, make_raw(spark, [103]), a)

        for t in ("swaps", "blocks"):
            da = spark.read.parquet(os.path.join(a, t))
            db = spark.read.parquet(os.path.join(b, t))
            assert sorted(map(str, da.collect())) == sorted(map(str, db.collect())), t
        assert read_cursor(b) == 103


class TestMarkerMtimeTies:
    def test_marker_applies_before_same_tick_data(self, spark, tmp_path):
        """When a marker file and a NEW-CHAIN data file share an exact
        mtime tick (coarse-mtime stores; part-file names carry no
        order), the marker must apply first — the new data survives.
        The reverse order would ingest then delete it: silent loss."""
        import time as _t

        from starknet_indexer_spark.ingest import read_cursor, stream_ingest

        feed = str(tmp_path / "feed")
        b = str(tmp_path / "streamed")

        make_raw(spark, [995, 1002, 1050]).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        old_files = {f for f in os.listdir(feed) if f.endswith(".parquet")}
        spark.createDataFrame([invalidate_row(1001)], RAW_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(feed)
        make_raw(spark, [1002, 1003]).coalesce(1).write.mode("append").parquet(feed)

        # marker + new-chain files share ONE exact mtime tick; the
        # old-chain file sits strictly earlier
        tick = _t.time()
        for f in os.listdir(feed):
            if f.endswith(".parquet"):
                t = tick - 10 if f in old_files else tick
                os.utime(os.path.join(feed, f), (t, t))

        q = stream_ingest(
            spark, feed, b, str(tmp_path / "ck"),
            trigger={"availableNow": True}, max_files_per_trigger=None,
        )
        q.awaitTermination(120)

        sw = spark.read.parquet(os.path.join(b, "swaps"))
        blocks = sorted(r["block_number"] for r in sw.collect())
        # new-chain 1002/1003 must survive the same-tick marker; the
        # old chain's 1050 (earlier tick) must be invalidated
        assert 1003 in blocks and 1002 in blocks
        assert 1050 not in blocks
        assert read_cursor(b) == 1003

    def test_marker_only_first_batch_no_tables_dir(self, spark, tmp_path):
        """A marker-only FIRST micro-batch (fresh pipeline, nothing
        ingested yet) must not crash writing a cursor into a
        nonexistent tables dir."""
        from starknet_indexer_spark.ingest import stream_ingest

        feed = str(tmp_path / "feed")
        b = str(tmp_path / "streamed")
        spark.createDataFrame([invalidate_row(100)], RAW_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(feed)
        q = stream_ingest(
            spark, feed, b, str(tmp_path / "ck"),
            trigger={"availableNow": True}, max_files_per_trigger=None,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        assert not os.path.isdir(os.path.join(b, "swaps"))


class TestTwoPhaseCommit:
    """Crash-injection coverage for the fast-path fact-append 2PC:
    whatever point the process dies at, replaying the epoch lands on
    exactly the clean single-ingest state — no lost rows, no
    duplicates."""

    def _reference_state(self, spark, tmp_path):
        ref = str(tmp_path / "ref")
        ingest_batch(spark, make_raw(spark, [1, 2, 1500]), ref)
        return ref

    def _assert_equal_tables(self, spark, got_dir, want_dir):
        for t in ("swaps", "staker_staked", "blocks", "pool_keys"):
            got = sorted(
                map(str, spark.read.parquet(os.path.join(got_dir, t)).collect())
            )
            want = sorted(
                map(str, spark.read.parquet(os.path.join(want_dir, t)).collect())
            )
            assert got == want, t

    def test_crash_during_prepare_leaves_live_untouched_then_replays(
        self, spark, tmp_path, monkeypatch
    ):
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        raw = make_raw(spark, [1, 2, 1500])

        def boom(*a, **k):
            raise RuntimeError("crash before commit point")

        monkeypatch.setattr(ing, "commit_txn", boom)
        with pytest.raises(RuntimeError):
            ing.ingest_micro_batch(spark, raw, tdir, epoch_id=0, marker_ns="t2pc_a")
        # no commit -> live tables never touched by this batch
        assert not os.path.isdir(os.path.join(tdir, "swaps"))
        monkeypatch.undo()
        counts = ing.ingest_micro_batch(
            spark, raw, tdir, epoch_id=0, marker_ns="t2pc_a"
        )
        assert counts and counts["swaps"] == 3
        self._assert_equal_tables(spark, tdir, self._reference_state(spark, tmp_path))
        assert read_cursor(tdir) == 1500
        # txn dir cleaned up after the marker landed
        assert not os.path.isdir(os.path.join(tdir, "_txn", "t2pc_a", "0"))

    def test_crash_mid_publish_rolls_forward_without_duplicates(
        self, spark, tmp_path, monkeypatch
    ):
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        raw = make_raw(spark, [1, 2, 1500])
        real_publish = ing.publish_txn

        def partial_publish(tables_dir, txn_dir, manifest):
            # move only the first staged file, then die — the worst
            # case: live state is neither old nor new
            cut = dict(manifest)
            cut["files"] = manifest["files"][:1]
            real_publish(tables_dir, txn_dir, cut)
            raise RuntimeError("crash mid-publish")

        monkeypatch.setattr(ing, "publish_txn", partial_publish)
        with pytest.raises(RuntimeError):
            ing.ingest_micro_batch(spark, raw, tdir, epoch_id=0, marker_ns="t2pc_b")
        monkeypatch.undo()
        counts = ing.ingest_micro_batch(
            spark, raw, tdir, epoch_id=0, marker_ns="t2pc_b"
        )
        # replay rolled forward from the manifest (no Spark re-ingest)
        assert counts and counts["swaps"] == 3
        self._assert_equal_tables(spark, tdir, self._reference_state(spark, tmp_path))
        assert read_cursor(tdir) == 1500

    def test_crash_after_marker_prunes_txn_dir_on_next_batch(
        self, spark, tmp_path
    ):
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        ing.ingest_micro_batch(
            spark, make_raw(spark, [1]), tdir, epoch_id=0, marker_ns="t2pc_c"
        )
        # simulate: epoch 0's txn dir survived (crash between marker
        # write and cleanup, checkpoint then committed -> no replay)
        leftover = os.path.join(tdir, "_txn", "t2pc_c", "0")
        os.makedirs(leftover, exist_ok=True)
        ing.ingest_micro_batch(
            spark, make_raw(spark, [2]), tdir, epoch_id=1, marker_ns="t2pc_c"
        )
        assert not os.path.isdir(leftover)

    def test_corrupt_manifest_is_fatal_not_reprepare(
        self, spark, tmp_path, monkeypatch
    ):
        """A present-but-unparseable MANIFEST.json (power loss journaled
        the rename but dropped the file data) must STOP the replay, not
        fall into the no-commit branch — that branch rmtree's the stage
        and re-ingests on top of files publish_txn may already have
        moved (double-append)."""
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        raw = make_raw(spark, [1, 2, 1500])

        def no_publish(*a, **k):
            raise RuntimeError("crash before publish")

        monkeypatch.setattr(ing, "publish_txn", no_publish)
        with pytest.raises(RuntimeError):
            ing.ingest_micro_batch(spark, raw, tdir, epoch_id=0, marker_ns="t2pc_f")
        monkeypatch.undo()
        txn = os.path.join(tdir, "_txn", "t2pc_f", "0")
        man_path = os.path.join(txn, "MANIFEST.json")
        assert os.path.exists(man_path)
        staged_before = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(txn)
            for f in fs
            if f.endswith(".parquet")
        )
        with open(man_path, "w") as f:
            f.write("")  # durable empty manifest after power loss
        with pytest.raises(ing.CorruptTxnManifest):
            ing.ingest_micro_batch(spark, raw, tdir, epoch_id=0, marker_ns="t2pc_f")
        # the stage was NOT wiped and the live tables NOT re-ingested
        staged_after = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(txn)
            for f in fs
            if f.endswith(".parquet")
        )
        assert staged_after == staged_before
        assert not os.path.isdir(os.path.join(tdir, "swaps"))

    def test_replayed_epoch_after_success_is_skipped(self, spark, tmp_path):
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        raw = make_raw(spark, [1, 2])
        c1 = ing.ingest_micro_batch(spark, raw, tdir, epoch_id=5, marker_ns="t2pc_d")
        assert c1
        rows1 = sorted(
            map(str, spark.read.parquet(os.path.join(tdir, "swaps")).collect())
        )
        assert (
            ing.ingest_micro_batch(spark, raw, tdir, epoch_id=5, marker_ns="t2pc_d")
            is None
        )
        rows2 = sorted(
            map(str, spark.read.parquet(os.path.join(tdir, "swaps")).collect())
        )
        assert rows1 == rows2

    def test_orphan_txn_dir_without_marker_pruned_past_horizon(
        self, spark, tmp_path
    ):
        """An orphan whose epoch marker was itself pruned must still be
        reclaimed once it falls below the marker-pruning horizon —
        otherwise a staged copy of a whole batch leaks forever."""
        import starknet_indexer_spark.ingest as ing

        tdir = str(tmp_path / "tables")
        orphan = os.path.join(tdir, "_txn", "t2pc_e", "3")
        os.makedirs(orphan, exist_ok=True)
        recent = os.path.join(tdir, "_txn", "t2pc_e", "90")
        os.makedirs(recent, exist_ok=True)
        cur = 3 + ing._EPOCH_MARKER_TAIL + 1
        ing.ingest_micro_batch(
            spark, make_raw(spark, [1]), tdir, epoch_id=cur, marker_ns="t2pc_e"
        )
        assert not os.path.isdir(orphan)  # below horizon: reclaimed
        assert os.path.isdir(recent)  # above horizon, no marker: kept
