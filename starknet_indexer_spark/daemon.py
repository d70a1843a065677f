"""The indexer daemon: the reference's main loop, Spark-native.

Reference (src/index.ts:104-288): stream events → per block, delete+
re-insert, write cursor, refresh operational matviews; on head blocks,
kick a throttled analytical refresh (5-minute cadence with a 2× overlap
window). This module composes the engine's pieces into that loop:

    Structured Streaming feed
      └─ per micro-batch (foreachBatch):
           ingest_batch      (decode → stored tables, dim upserts)
           write_cursor      (high-watermark after finalized rows)
           refresh_operational   (per-batch — the per-block tier)
           refresh_analytical    (throttled; since = as_of − 2×cadence)

Exactly-once comes from the checkpoint (replayed batches re-run the
idempotent ingest: blocks anti-join, dim anti-join, bucket overwrite);
reorgs are handled out-of-band with ingest.invalidate_from_block before
resuming the stream, exactly like the reference's invalidate message.

At scale the daemon is the only driver-side loop — every step inside it
is a distributed job. The operational tier's views are latest-state
shaped, but each refresh recomputes them over full history: load_tables
reads every stored table whole, so refresh cost grows with history, not
with the batch.
"""

from __future__ import annotations

import datetime
import os
import logging
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import runtime
from .ingest import (
    DEFAULT_MAX_FILES_PER_TRIGGER,
    checkpoint_marker_ns,
    ingest_micro_batch,
)
from .schemas import TABLE_SCHEMAS
from .session import empty_frame
from .sources.feed import read_feed_stream

ANALYTICAL_REFRESH_S = 300  # reference REFRESH_RATE_ANALYTICAL_VIEWS (.env.mainnet:21)


def load_tables(spark: SparkSession, tables_dir: str) -> dict[str, DataFrame]:
    """Every stored table under the ingest root, typed by the declared
    stored layout (``schemas.TABLE_SCHEMAS``). Event families that
    haven't produced rows yet come back as typed empty stand-ins
    (``session.empty_frame``), so a view joining a present table
    against an absent one sees consistent key types. Each stand-in is
    an empty ``LocalRelation`` built by one JVM call (a few ms; no
    Python-side RDD, no job), which the optimizer folds: a view over
    absent families only computes nothing (collecting it runs no Spark
    job), an inner join with one is empty, and a union or outer join
    drops that side. A present table is read whole, so views over it
    recompute its full history. Neither case derives a schema: a
    present table is read with the declared schema, which skips the
    footer-sampling job parquet schema inference runs per table.

    A present table's schema equals the declared one by column name and
    type only: the partition column ``block_bucket`` comes last (the
    declared envelope has it 7th), and file sources read every column
    as nullable. Views select columns by name, so neither difference
    reaches them; the test suite's read-back check compares name->type
    maps for that reason."""
    out: dict[str, DataFrame] = {}
    for name, schema in TABLE_SCHEMAS.items():
        p = os.path.join(tables_dir, name)
        if os.path.isdir(p):
            out[name] = spark.read.schema(schema).parquet(p)
        else:
            out[name] = empty_frame(spark, schema)
    return out


def _watchdog_should_stop(state: dict, timeout_s: float, now: float) -> bool:
    """Liveness decision for the no-progress watchdog (unit-testable).

    Three suspensions, each a distinct failure mode we must NOT flag:
    - not booted: the first trigger (planning + backlog file listing)
      has not reached foreachBatch yet — a healthy cold boot against a
      large backlog can legitimately take longer than the timeout;
    - in_batch: a batch is processing — batch duration is not feed
      stall;
    - fresh progress: the last non-empty batch is within the bound
      (empty batches never refresh last_progress — a dead feed still
      fires empty triggers).
    """
    return (
        state["booted"]
        and not state["in_batch"]
        and now - state["last_progress"] > timeout_s
    )


def run_indexer(
    spark: SparkSession,
    feed_dir: str,
    tables_dir: str,
    views_dir: str,
    checkpoint_dir: str,
    analytical_every_s: float = ANALYTICAL_REFRESH_S,
    trigger: dict | None = None,
    # finite default: co-batching is ordering-safe at any size
    # (marker-boundary splitting in ingest._apply_marker_batch), but
    # the crash-replay duplicate window is one batch, so the daemon
    # bounds it (see ingest.DEFAULT_MAX_FILES_PER_TRIGGER rationale);
    # None = unbounded catch-up where that window is acceptable
    max_files_per_trigger: int | None = DEFAULT_MAX_FILES_PER_TRIGGER,
    # table maintenance cadence: every maintenance_every_s seconds,
    # compact all NON-HEAD buckets (the head still receives appends)
    # and z-order the tables named in zorder_dims — small-file cleanup
    # and multi-dim clustering ride the same loop the reference uses
    # for its analytical refresh. None (default) = never.
    maintenance_every_s: float | None = None,
    zorder_dims: dict[str, list[tuple[str, str]]] | None = None,
    # liveness watchdog (reference src/index.ts:26-46, NO_BLOCKS_TIMEOUT_MS):
    # if no feed rows arrive for this many seconds the query is stopped
    # so the orchestrator can restart the process against a healthy
    # feed. None/0 = disabled, like the reference's default. on_stall
    # (if given) fires once, just before the stop.
    no_progress_timeout_s: float | None = None,
    on_stall=None,
    # extra maintenance callbacks riding the same cadence tick, AFTER
    # the built-in compaction/z-order pass: fn(spark) for each entry.
    # This is the seam auxiliary maintained state owned by THIS daemon
    # (e.g. a retrieval-index segment log it also folds) uses to ride
    # the loop — the single-writer contract is the caller's to uphold:
    # hand the daemon only state it is the sole writer of. A stream
    # with its own fold driver should use that driver's cadence
    # (stream_retrieval_index compact_every_batches) instead.
    extra_maintenance: list | None = None,
):
    """Start the full pipeline; returns the StreamingQuery. Callers
    stop it (tests drive it with processAllAvailable). A
    watchdog-stopped query reports ``query.stalled == True``."""
    state = {
        "last_analytical": None,
        "last_maintenance": None,
        "last_progress": time.monotonic(),
        "in_batch": False,
        # cold boot: planning + backlog file-listing happen INSIDE the
        # first trigger, before foreachBatch ever runs. The watchdog
        # stays suspended until boot completes — the first batch entry,
        # OR (for a feed with no new files at all, where the file
        # source never plans a micro-batch and foreachBatch is never
        # invoked) the first QueryIdleEvent, which Spark posts when a
        # trigger finishes with no data, i.e. strictly after the
        # listing. Either way a healthy-but-large backlog is never
        # misread as a stall, and a feed that is dead FROM THE START
        # still boots the timer; from then on, empty triggers never
        # reset it.
        "booted": False,
    }

    def _boot(now: float) -> None:
        # order matters: the watchdog gates on `booted`, so
        # last_progress must be fresh BEFORE booted flips or a poll
        # landing between the two assignments would see a stale timer
        # on a healthy boot
        state["last_progress"] = now
        state["booted"] = True

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        had_rows = False
        if no_progress_timeout_s:
            state["in_batch"] = True
            if not state["booted"]:
                _boot(time.monotonic())
            # the watchdog measures FEED liveness, not batch duration:
            # suspend it while a batch is processing (a slow boot
            # refresh or maintenance tick must not read as a stall),
            # and reset the timer on any received feed row (data or
            # invalidate marker — the reference's per-block
            # resetNoBlocksTimer) both at entry and, via the finally
            # below, when the batch finishes. EMPTY batches never
            # reset it: a dead feed still fires empty triggers.
            had_rows = not batch_df.isEmpty()
            if had_rows:
                state["last_progress"] = time.monotonic()
        try:
            _process_inner(batch_df, epoch_id)
        finally:
            if no_progress_timeout_s:
                if had_rows:
                    state["last_progress"] = time.monotonic()
                state["in_batch"] = False

    def _process_inner(batch_df: DataFrame, epoch_id: int) -> None:
        # shared per-batch semantics (finality filter, epoch-replay
        # skip, ingest, cursor) live in ingest.ingest_micro_batch —
        # ONE copy for the bare stream and the daemon; markers are
        # namespaced by the checkpoint's query id so a fresh
        # checkpoint (epoch ids restart at 0) never collides with a
        # previous run's markers
        applied = ingest_micro_batch(
            spark,
            batch_df,
            tables_dir,
            epoch_id=epoch_id,
            marker_ns=checkpoint_marker_ns(checkpoint_dir),
        )
        if applied is None:
            return

        tables = load_tables(spark, tables_dir)
        if not os.path.isdir(os.path.join(tables_dir, "blocks")):
            # nothing ingested yet — views have no time dimension
            return
        runtime.refresh_operational(tables, views_dir)

        now = time.monotonic()
        first = state["last_analytical"] is None
        if first or now - state["last_analytical"] >= analytical_every_s:
            as_of = tables["blocks"].agg(F.max("time")).collect()[0][0]
            # boot pass rebuilds full history (reference src/index.ts:120);
            # later passes re-aggregate a 2×-cadence overlap window
            since = (
                None
                if first
                else as_of - datetime.timedelta(seconds=2 * analytical_every_s)
            )
            runtime.refresh_analytical(spark, tables, views_dir, as_of, since=since)
            state["last_analytical"] = now

        if maintenance_every_s is not None:
            now = time.monotonic()
            last_m = state["last_maintenance"]
            if last_m is None or now - last_m >= maintenance_every_s:
                from .ingest import BLOCK_BUCKET_SIZE, read_cursor
                from .maintenance import compact_all, zorder_table

                cursor = read_cursor(tables_dir)
                if cursor is not None:
                    # only buckets strictly below the live head — it
                    # still receives appends this very loop.
                    # zorder_dims tables are excluded from plain
                    # compaction (z-order IS a compaction) and their
                    # pass is incremental: the _zordered bucket marker
                    # skips buckets untouched since the last tick, so
                    # a steady-state tick rewrites only buckets that
                    # newly went cold or were reorg-invalidated.
                    head = cursor // BLOCK_BUCKET_SIZE
                    compact_all(
                        spark,
                        tables_dir,
                        max_bucket=head - 1,
                        exclude=set(zorder_dims or ()),
                    )
                    for table, dims in (zorder_dims or {}).items():
                        zorder_table(
                            spark,
                            os.path.join(tables_dir, table),
                            dims,
                            max_bucket=head - 1,
                        )
                for fn in extra_maintenance or ():
                    fn(spark)
                state["last_maintenance"] = now

    writer = (
        read_feed_stream(spark, feed_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    query = writer.start()
    query.stalled = False

    if no_progress_timeout_s and no_progress_timeout_s > 0:
        # Boot signal #2: a file source that finds NO new files never
        # plans a micro-batch, so foreachBatch alone would leave
        # `booted` False forever and the watchdog disarmed — a feed
        # dead from the start (or a restart against a caught-up
        # checkpoint) must still stall out. Spark posts QueryIdleEvent
        # when a trigger completes with no data available — strictly
        # AFTER the backlog listing, so it cannot fire mid-listing on
        # a healthy cold boot.
        from pyspark.sql.streaming.listener import StreamingQueryListener

        class _BootListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                if str(event.id) == str(query.id) and not state["booted"]:
                    _boot(time.monotonic())

            def onQueryTerminated(self, event):
                pass

        listener = _BootListener()
        try:
            spark.streams.addListener(listener)
        except Exception as exc:  # noqa: BLE001 — watchdog still arms via foreachBatch
            # ADVICE r7: the degraded mode (no idle-event arming — a
            # feed dead FROM THE START never stalls out) must be
            # diagnosable, not silent
            import logging

            logging.getLogger(__name__).warning(
                "streaming listener registration failed (%s: %s); liveness "
                "watchdog arms only via foreachBatch — an idle-from-boot "
                "feed will not trigger the stall timeout",
                type(exc).__name__,
                exc,
            )
            listener = None

        def watch() -> None:
            poll = min(1.0, no_progress_timeout_s / 4)
            try:
                while query.isActive:
                    if _watchdog_should_stop(
                        state, no_progress_timeout_s, time.monotonic()
                    ):
                        query.stalled = True
                        try:
                            if on_stall is not None:
                                on_stall()
                        except Exception:  # noqa: BLE001
                            # the callback's failure must neither mask
                            # the stop (finally below) nor escape the
                            # thread — but a broken stall hook (dead
                            # pager URL, expired auth) must still leave
                            # a diagnostic
                            logging.getLogger(__name__).exception(
                                "on_stall callback raised; stopping the"
                                " stalled query anyway"
                            )
                        finally:
                            # a raising callback must not leave the
                            # stalled query running with a dead watchdog
                            query.stop()
                        return
                    time.sleep(poll)
            finally:
                if listener is not None:
                    try:
                        spark.streams.removeListener(listener)
                    except Exception:  # noqa: BLE001 — best-effort cleanup
                        pass

        threading.Thread(
            target=watch, name="no-progress-watchdog", daemon=True
        ).start()
    return query
