"""Generation-pointer state table: atomic multi-bucket commits for
maintained streaming state.

The bucket-pruned maintained states (tick ledger, OHLC candles) merge a
micro-batch into a handful of affected buckets. The original per-bucket
``rmtree(live); os.replace(staged, live)`` swap had an unrecoverable
window: a crash between the delete and the rename left the bucket's
ONLY copy inside the staging dir, which the next attempt's
``rmtree(staging)`` destroyed — the replayed epoch then re-merged the
batch against EMPTY bucket state, silently losing everything
accumulated before it. No per-bucket trash protocol fixes this: an
additive merge needs all-or-nothing visibility across every affected
bucket, or a replay double-applies the buckets that swapped before the
crash.

This module is the table-format answer (a metadata pointer), in plain
files:

- state lives under ``state_dir/gen-<N>/bucket=<b>/...``;
- a commit builds ``gen-<N+1>`` OFF TO THE SIDE: merged affected
  buckets are written by Spark, unaffected buckets are HARDLINKED from
  gen-<N> (one link syscall per file, no data copy), and the epoch
  token is placed inside the new generation;
- the single atomic commit point is ``os.replace`` of the ``CURRENT``
  pointer file;
- recovery is trivial because every crash point leaves CURRENT
  pointing at a complete old generation: orphan higher generations are
  deleted at the next writer entry, and a replay of an epoch whose
  flip DID land short-circuits on the token stored inside the live
  generation.

Single-writer per state_dir (one streaming query), like every
maintained state in this package. Readers resolve CURRENT to a
complete, immutable generation; GC keeps a ``retention``-generation
grace window (default 1), so a lazy reader survives that many
concurrent commits — readers further behind can race the GC (the
bounded, documented contract; raise ``retention`` to widen it, each
extra generation costing only hardlinks + the buckets that round
actually rewrote).
"""

from __future__ import annotations

import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import empty_frame

_CURRENT = "CURRENT"
_TOKEN = "_epoch"
_GEN_PREFIX = "gen-"


def _gen_path(state_dir: str, gen: int) -> str:
    return os.path.join(state_dir, f"{_GEN_PREFIX}{gen}")


def current_gen(state_dir: str) -> int | None:
    """Generation the CURRENT pointer names; None ONLY when the pointer
    genuinely does not exist. Any other read failure propagates — a
    transient OSError misread as "no state" would send recover()'s
    cleanup after the LIVE generation, the exact loss class this module
    exists to prevent. Corrupt content likewise raises (operator
    intervention beats a silent wipe)."""
    try:
        with open(os.path.join(state_dir, _CURRENT)) as f:
            raw = f.read().strip()
    except FileNotFoundError:
        _check_legacy_layout(state_dir)
        return None
    try:
        return int(raw)
    except ValueError:
        raise RuntimeError(
            f"corrupt state-table pointer {state_dir}/{_CURRENT}: {raw!r}"
        ) from None


def _check_legacy_layout(state_dir: str) -> None:
    """A state_dir holding top-level ``bucket=`` dirs but no CURRENT is
    the pre-generation layout: silently serving it as EMPTY would
    abandon all accumulated state while the checkpoint replays nothing.
    Refuse loudly; migration is one commit of the old data as gen-0."""
    try:
        entries = os.listdir(state_dir)
    except OSError:
        return
    if any(e.startswith("bucket=") for e in entries):
        raise RuntimeError(
            f"{state_dir} holds pre-generation-layout state (top-level"
            " bucket= dirs, no CURRENT pointer); migrate it by"
            " committing the old data as a generation before serving"
        )


def current_gen_dir(state_dir: str) -> str | None:
    gen = current_gen(state_dir)
    if gen is None:
        return None
    d = _gen_path(state_dir, gen)
    return d if os.path.isdir(d) else None


def applied_token(state_dir: str) -> str | None:
    """Epoch token committed with the live generation (replay guard)."""
    d = current_gen_dir(state_dir)
    if d is None:
        return None
    try:
        with open(os.path.join(d, _TOKEN)) as f:
            return f.read().strip()
    except OSError:
        return None


def read_state(spark: SparkSession, state_dir: str, empty_ddl: str) -> DataFrame:
    """Current generation as a DataFrame (typed-empty when absent)."""
    d = current_gen_dir(state_dir)
    if d is None or not any(e.startswith("bucket=") for e in os.listdir(d)):
        return empty_frame(spark, empty_ddl)
    return spark.read.parquet(d)


def recover(state_dir: str, retention: int = 1) -> None:
    """Writer-entry cleanup: delete generations the CURRENT pointer
    does not reference — half-built higher generations from a crashed
    commit, and superseded ones below the ``retention`` grace window
    whose GC was interrupted."""
    gen = current_gen(state_dir)
    try:
        entries = os.listdir(state_dir)
    except OSError:
        return
    keep_floor = None if gen is None else gen - max(1, int(retention))
    for entry in entries:
        if not entry.startswith(_GEN_PREFIX):
            continue
        try:
            n = int(entry[len(_GEN_PREFIX):])
        except ValueError:
            continue
        if gen is None or n > gen or n < keep_floor:
            # delete half-built higher generations and anything beyond
            # the retention grace window; the retained generations are
            # KEPT so a reader that resolved CURRENT up to `retention`
            # flips ago can finish its scan (commit_generation step 5)
            shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)


def _link_tree(src: str, dst: str) -> None:
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt_root = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(tgt_root, exist_ok=True)
        for fname in files:
            os.link(os.path.join(root, fname), os.path.join(tgt_root, fname))


def commit_generation(
    state_dir: str,
    merged: DataFrame,
    affected: list[int] | None = None,
    token: str | None = None,
    retention: int = 1,
) -> None:
    """Publish ``merged`` (must carry a ``bucket`` column holding ONLY
    the affected buckets' rows) as the next generation.

    ``affected`` lists every bucket the merge REPLACES — including
    buckets whose merged result is empty (all keys dropped): those
    must vanish, not carry forward. Buckets outside ``affected`` are
    hardlinked from the live generation (no data copy); the os.replace
    of CURRENT is the only commit point. ``affected=None`` means the
    merge replaces nothing (token-only commit): every old bucket
    carries forward. ``retention`` is the GC grace window: how many
    superseded generations stay on disk for lazy readers."""
    recover(state_dir, retention=retention)
    old_gen = current_gen(state_dir)
    new_gen = 0 if old_gen is None else old_gen + 1
    new_dir = _gen_path(state_dir, new_gen)
    shutil.rmtree(new_dir, ignore_errors=True)

    # 1. Spark writes the merged affected buckets into the new gen
    merged.write.mode("overwrite").partitionBy("bucket").parquet(new_dir)
    replaced = {f"bucket={b}" for b in (affected or [])}
    replaced |= {e for e in os.listdir(new_dir) if e.startswith("bucket=")}
    # 2. carry unaffected buckets forward by hardlink (no data copy)
    if old_gen is not None:
        old_dir = _gen_path(state_dir, old_gen)
        for entry in os.listdir(old_dir):
            if entry.startswith("bucket=") and entry not in replaced:
                _link_tree(
                    os.path.join(old_dir, entry), os.path.join(new_dir, entry)
                )
    # 3. the epoch token commits WITH the data (underscore-prefixed:
    # invisible to parquet readers)
    if token is not None:
        with open(os.path.join(new_dir, _TOKEN), "w") as f:
            f.write(token)

    # 4. THE commit point — fsync'd write-then-rename: without the
    # fsyncs a power loss can journal the rename but not the file
    # data, leaving a durable EMPTY pointer (which current_gen treats
    # as corruption, not as "no state")
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, _CURRENT + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(new_gen))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(state_dir, _CURRENT))
    try:
        dfd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync is best-effort on non-POSIX stores

    # 5. GC with a RETENTION-generation grace window (default 1): the
    # ``retention`` most recently superseded generations survive so a
    # reader that resolved CURRENT up to that many commits ago can
    # finish scanning (carried buckets cost nothing — hardlinks).
    # Readers further behind still race the GC; that bound is the
    # documented contract for the single-writer + lazy-reader mix.
    # Sweep everything below the window, not just one index, so a
    # retention LOWERED between runs cannot strand old generations.
    floor = new_gen - max(1, int(retention))
    for entry in os.listdir(state_dir):
        if entry.startswith(_GEN_PREFIX):
            try:
                gen_no = int(entry[len(_GEN_PREFIX):])
            except ValueError:
                continue
            if gen_no < floor:
                shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)


def merge_batch(
    spark: SparkSession,
    state_dir: str,
    batch_partials: DataFrame,
    merge_fn,
    key_cols: list[str],
    state_cols: list[str],
    bucket_expr,
    empty_ddl: str,
    token: str | None = None,
    retention: int = 1,
    affected: list | None = None,
) -> None:
    """The shared maintained-state fold: short-circuit replayed epochs,
    merge the batch's partials with the affected buckets of the live
    generation via ``merge_fn``, and commit the next generation.

    ``batch_partials`` must already be aggregated per key (one row per
    key) and is evaluated twice (affected-bucket collect + merge) — the
    caller is responsible for it being cheap or pinned.

    ``affected`` (r13): the caller may pass the distinct bucket list
    when it already computed it (retrieval_index folds it into the
    novelty check — one job instead of two per epoch); it MUST equal
    what ``bucket_expr`` over the CAST partials would produce (same
    values, same physical type — the type-stable-bucketing warning
    below applies to the caller's computation too). The partial is
    then evaluated once (the merge), so the pin-cache is skipped."""
    if token is not None and applied_token(state_dir) == token:
        return  # crash landed after the flip but before the epoch marker
    # TYPE-STABLE BUCKETING: xxhash64 hashes the physical type, not the
    # value — xxhash64(9004 as BIGINT) != xxhash64(9004 as
    # DECIMAL(38,0)). The state's types are fixed by empty_ddl (union
    # coercion pins them from the first commit), so the batch partials
    # MUST be cast to the same schema before the bucket hash or a
    # type-drifting input computes different buckets than the state it
    # needs to merge with — silent state loss.
    target = StructType.fromDDL(empty_ddl)
    partial = batch_partials.select(
        *[F.col(f.name).cast(f.dataType) for f in target]
    ).withColumn("bucket", bucket_expr)
    caller_affected = affected is not None
    if not caller_affected:
        partial = partial.cache()
    try:
        if not caller_affected:
            affected = [
                r["bucket"]
                for r in partial.select("bucket").distinct().collect()
            ]
        if not affected:
            # nothing to fold, but the token must still commit or the
            # NEXT batch would misread a replay of this one as new
            if token is not None and current_gen(state_dir) is not None:
                # bucket column included: a live generation can hold
                # ZERO bucket dirs (every key zeroed out), and the
                # empty-DDL fallback must still satisfy the
                # partitionBy("bucket") write below
                state = read_state(spark, state_dir, empty_ddl + ", bucket int")
                commit_generation(
                    state_dir,
                    state.filter(F.lit(False)),
                    affected=None,
                    token=token,
                    retention=retention,
                )
            return
        state = read_state(spark, state_dir, empty_ddl + ", bucket int")
        live_part = state.filter(F.col("bucket").isin(affected))
        merged = merge_fn(
            live_part.select(*key_cols, *state_cols).unionByName(
                partial.select(*key_cols, *state_cols)
            )
        ).withColumn("bucket", bucket_expr)
        commit_generation(
            state_dir, merged, affected=affected, token=token, retention=retention
        )
    finally:
        if not caller_affected:
            partial.unpersist()


def write_epoch_pairs(
    df: DataFrame,
    pairs_dir: str,
    epoch_token: str | None,
    partition_by: list[str] | None = None,
) -> str:
    """Epoch-keyed overwrite for discovered-pair outputs (the
    dedup/containment/media index protocol): a replayed epoch REWRITES
    its own ``epoch=<token>`` subdir instead of appending duplicates.
    ONE definition of the partition-key sanitization (code-review r10
    — three copies had grown), and it must be INJECTIVE (ADVICE r10):
    a lossy map (':' and '=' both to '-') lets two distinct epoch
    tokens collide onto one subdir, so the later epoch's overwrite
    deletes the earlier epoch's pairs. Percent-encoding is collision-
    free, path-safe (no os.sep/':'/'=' survive), and matches Spark's
    own partition-value escaping, so a partition-discovery read
    returns the raw token. A token-less direct call gets a unique
    subdir (plain at-least-once semantics — without a token there is
    nothing to make a replay idempotent against). Returns the epoch
    dir path written, so callers that commit per-segment metadata
    (retrieval_index's _committed marker) know the adhoc name too."""
    if epoch_token is not None:
        sub = urllib.parse.quote(epoch_token, safe="")
        # encoding migration (code-review r11): a replay of an epoch
        # whose pairs were written under the PRE-percent-encoding
        # sanitization must supersede that dir, not duplicate it —
        # remove the legacy-named dir when it differs
        legacy = (
            epoch_token.replace(os.sep, "_").replace(":", "-").replace("=", "-")
        )
        # gated on existence (ADVICE r11): legacy != sub for every real
        # token, so an unconditional rmtree would issue a pointless
        # filesystem delete per fold forever; the isdir check makes the
        # one-time migration free once no pre-encoding dirs remain
        if legacy != sub:
            legacy_dir = os.path.join(pairs_dir, f"epoch={legacy}")
            if os.path.isdir(legacy_dir):
                shutil.rmtree(legacy_dir, ignore_errors=True)
    else:
        sub = f"adhoc-{os.urandom(8).hex()}"
    writer = df.write.mode("overwrite")
    if partition_by:
        # segment-internal layout (e.g. the retrieval index's
        # term_bucket): probes prune sub-partitions of every epoch
        # segment; the epoch dir itself stays the overwrite unit
        writer = writer.partitionBy(*partition_by)
    epoch_dir = os.path.join(pairs_dir, f"epoch={sub}")
    writer.parquet(epoch_dir)
    return epoch_dir


def stream_maintain_with(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    apply_fn,
    schema=None,
    select_cols=None,
    max_files_per_trigger: int | None = None,
):
    """Shared Structured Streaming driver for token-committed maintained
    states: schema fallback, checkpoint-namespaced epoch token, and the
    epoch-marker wrapper in ONE place. ``apply_fn(batch_df, token)``
    folds the batch (token = "<checkpoint-ns>:<epoch>"; bodies whose
    idempotence rides the epoch marker alone may ignore it).
    ``select_cols`` projects in the STREAM plan so column pruning
    reaches the scan; ``max_files_per_trigger`` bounds batch size (and
    forces genuine multi-batch behavior under test)."""
    from ..ingest import checkpoint_marker_ns
    from .epochs import epoch_idempotent

    if schema is None:
        # a file-source stream needs a schema up front; inferring it
        # from an empty/missing feed dir must fail as a clear contract
        # error in the SHARED driver, not per caller (code-review r11
        # generalizing the r10 ADVICE fix)
        try:
            schema = spark.read.parquet(feed_dir).schema
        except Exception as exc:
            raise RuntimeError(
                f"stream_maintain_with: cannot infer the feed schema "
                f"from {feed_dir!r} (empty or missing at stream start). "
                f"Pass schema= explicitly to start before the first "
                f"feed file lands."
            ) from exc
    reader = spark.readStream
    reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(feed_dir)
    if select_cols:
        stream = stream.select(*select_cols)

    def _fold(batch_df, epoch_id):
        apply_fn(batch_df, f"{checkpoint_marker_ns(checkpoint_dir)}:{epoch_id}")

    process = epoch_idempotent(state_dir, checkpoint_dir, _fold)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
