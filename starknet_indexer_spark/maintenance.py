"""Table maintenance: small-file compaction for block-bucketed tables.

Streaming ingest appends one file set per micro-batch; at one batch
per block interval a bucket accumulates hundreds of small files, and
at 100 TB the scan cost becomes file-open-bound. Compaction rewrites a
bucket's files into few large ones — contents unchanged, so it can run
any time (the parquet analogue of Delta OPTIMIZE; with table formats
this is a metadata-transactional operation).

Only buckets older than the active head should be compacted in a live
pipeline (the head bucket is still receiving appends); callers pass
``max_bucket`` for that.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def _bucket_dirs(table_dir: str) -> list[str]:
    return sorted(
        d for d in os.listdir(table_dir) if d.startswith("block_bucket=")
    )


def recover_bucket_swaps(table_dir: str) -> None:
    """Crash repair for the per-bucket rewrite protocol: a process
    death between ``os.replace(bdir, trash)`` and
    ``os.replace(staging, bdir)`` leaves the bucket's ONLY copy in
    ``{table}._old_b<N>`` and the bucket missing from the table.
    Restore it; remove leftovers of completed swaps and incomplete
    staging writes. Runs at the top of every rewrite entry point, so
    the window self-heals on the next maintenance pass."""
    import re

    parent = os.path.dirname(os.path.abspath(table_dir)) or "."
    base = os.path.basename(os.path.abspath(table_dir))
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if not entry.startswith(base + "._"):
            continue
        m = re.match(r"^\._([a-z]+)_b(\d+)$", entry[len(base):])
        if not m:
            continue
        kind, bucket = m.group(1), m.group(2)
        full = os.path.join(parent, entry)
        bdir = os.path.join(table_dir, f"block_bucket={bucket}")
        if kind == "old":
            if not os.path.isdir(bdir):
                os.replace(full, bdir)  # mid-swap crash: restore
            else:
                shutil.rmtree(full, ignore_errors=True)  # swap completed
        else:
            shutil.rmtree(full, ignore_errors=True)  # incomplete staging


def _rewrite_buckets(
    spark: SparkSession,
    table_dir: str,
    tag: str,
    plan_fn,
    max_bucket: int | None,
    target_file_bytes: int,
    min_files: int,
    done_marker: str | None = None,
) -> dict[str, tuple[int, int]]:
    """Shared per-bucket rewrite protocol (compaction and z-order use
    the same durability order; only the layout transform differs).
    ``plan_fn(df, n_out) -> DataFrame`` produces the rewritten frame.

    Staging/trash live OUTSIDE the table dir: a crash leftover inside
    it would be discovered as a partition by every read
    (double-counted rows, string-typed bucket column) and would break
    the next pass's int() parse of bucket dir names.
    ``recover_bucket_swaps`` runs first, so a previous crash anywhere
    in the protocol is repaired before new work starts.

    ``done_marker``: name of an underscore-prefixed flag file (hidden
    from Spark/parquet data discovery, like ``_SUCCESS``) written into
    each rewritten bucket AFTER its swap completes. A bucket already
    carrying the marker is skipped — since non-head buckets only
    change by whole-directory rewrite (reorg invalidation, another
    maintenance pass), which deletes the marker, "marker present"
    means "unchanged since this layout pass last ran". That keeps a
    periodic maintenance loop from re-clustering every cold bucket on
    every tick. Crash between swap and marker write just re-clusters
    once — contents are unaffected."""
    out: dict[str, tuple[int, int]] = {}
    if not os.path.isdir(table_dir):
        return out
    recover_bucket_swaps(table_dir)
    for d in _bucket_dirs(table_dir):
        bucket = int(d.split("=")[1])
        if max_bucket is not None and bucket > max_bucket:
            continue
        bdir = os.path.join(table_dir, d)
        if done_marker and os.path.exists(os.path.join(bdir, done_marker)):
            continue
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        if len(files) < min_files:
            continue
        size = sum(os.path.getsize(os.path.join(bdir, f)) for f in files)
        n_out = max(1, round(size / target_file_bytes))
        df = spark.read.parquet(bdir)
        staging = f"{table_dir}._{tag}_b{bucket}"
        trash = f"{table_dir}._old_b{bucket}"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        plan_fn(df, n_out).write.mode("overwrite").parquet(staging)
        os.replace(bdir, trash)
        os.replace(staging, bdir)
        shutil.rmtree(trash, ignore_errors=True)
        if done_marker:
            with open(os.path.join(bdir, done_marker), "w"):
                pass
        out[d] = (
            len(files),
            len([f for f in os.listdir(bdir) if f.endswith(".parquet")]),
        )
    return out


def compact_table(
    spark: SparkSession,
    table_dir: str,
    max_bucket: int | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict[str, tuple[int, int]]:
    """Compact every bucket of one table with two or more data files.
    Returns {bucket_dir: (files_before, files_after)}."""
    return _rewrite_buckets(
        spark,
        table_dir,
        "compact",
        lambda df, n_out: df.coalesce(n_out),
        max_bucket,
        target_file_bytes,
        min_files=2,
    )


def compact_all(
    spark: SparkSession,
    tables_dir: str,
    max_bucket: int | None = None,
    exclude: set[str] | None = None,
) -> dict[str, dict]:
    """Compact every stored table under the ingest root. ``exclude``
    names tables another layout pass owns (e.g. z-ordered tables —
    z-ordering IS a compaction, so compacting first would be a wasted
    full rewrite of the same buckets every tick)."""
    results = {}
    for name in sorted(os.listdir(tables_dir)):
        if exclude and name in exclude:
            continue
        p = os.path.join(tables_dir, name)
        if os.path.isdir(p):
            r = compact_table(spark, p, max_bucket=max_bucket)
            if r:
                results[name] = r
    return results


def sort_layout(
    spark: SparkSession,
    table_dir: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Rewrite a parquet directory range-partitioned + sorted by
    ``sort_cols`` — the Delta/Iceberg OPTIMIZE ZORDER analogue for a
    single clustering dimension.

    Why it matters at 100 TB: parquet row-group min/max statistics only
    prune when values are clustered. After an ingest that appends in
    arrival order, a point or range predicate on a non-time key (e.g.
    ``user_id``) overlaps every row group and the scan reads the whole
    table; after ``sort_layout`` the same predicate touches the one
    row group whose [min,max] covers it. ``repartitionByRange`` keeps
    files globally disjoint on the key (not just sorted within files),
    so file-level pruning composes with row-group pruning.

    Contents are unchanged (pure reorder); ``layout_overlap_fraction``
    measures the effect and tests/test_maintenance.py locks it.
    """
    trash0 = table_dir.rstrip("/") + "._old"
    if not os.path.isdir(table_dir) and os.path.isdir(trash0):
        os.replace(trash0, table_dir)  # crash between the two swaps
    elif os.path.isdir(trash0):
        # Crash AFTER os.replace(staging, table_dir) but BEFORE the
        # final rmtree: the swap completed, the trash copy is stale.
        # Without this branch the next pass's os.replace(table_dir,
        # trash) would hit the non-empty dir and raise ENOTEMPTY.
        shutil.rmtree(trash0, ignore_errors=True)
    df = spark.read.parquet(table_dir)
    n = n_files or df.rdd.getNumPartitions()
    staging = table_dir.rstrip("/") + "._sorted"
    shutil.rmtree(staging, ignore_errors=True)
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(staging)
    )
    trash = table_dir.rstrip("/") + "._old"
    os.replace(table_dir, trash)
    os.replace(staging, table_dir)
    shutil.rmtree(trash, ignore_errors=True)


def layout_overlap_fraction(table_dir: str, column: str) -> float:
    """Mean fraction of row groups a uniformly-placed point predicate
    on ``column`` must read, computed from parquet min/max metadata.

    1.0 = every row group overlaps every point (no pruning possible);
    1/n_groups = perfectly disjoint clustering. This is the direct
    proxy for scan cost under selective predicates — no query
    execution involved, only footer metadata (what a cluster's scan
    planner reads anyway).
    """
    import pyarrow.parquet as pq

    spans: list[tuple[float, float]] = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = idx[column]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or st.min is None:
                    return 1.0  # no stats -> assume unprunable
                spans.append((float(st.min), float(st.max)))
    if not spans:
        return 1.0
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    width = (hi - lo) or 1.0
    # Probability a uniform point in [lo,hi] falls inside a span,
    # averaged over spans, = mean normalized span width.
    return sum((b - a) / width for a, b in spans) / len(spans)


def _zdim_expr(column: str, kind: str):
    """Numeric view of a clustering dimension. kind 'int' casts;
    'hex' maps a 0x-prefixed hex string to the integer of its first
    15 hex digits — enough to cluster equal/nearby keys together
    (point-predicate row groups end up with min==max on the stored
    string column, which is what prunes)."""
    from pyspark.sql import functions as F

    if kind == "int":
        return F.col(column).cast("bigint")
    if kind == "hex":
        # first 15 hex digits only: 60 bits fits a signed BIGINT
        # (felt-sized keys overflow conv under ANSI otherwise)
        return F.conv(
            F.substring(F.regexp_replace(F.col(column), "^0x", ""), 1, 15), 16, 10
        ).cast("bigint")
    raise ValueError(f"unknown z-dim kind {kind!r} (use 'int' or 'hex')")


def zorder_table(
    spark: SparkSession,
    table_dir: str,
    dims: list[tuple[str, str]],
    bits_per_dim: int = 12,
    max_bucket: int | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
    done_marker: str | None = "_zordered",
) -> dict[str, tuple[int, int]]:
    """Compaction with multi-dimensional clustering: rewrite each
    block bucket laid out by the Morton key of ``dims`` (list of
    (column, kind) with kind 'int' or 'hex').

    ``done_marker`` (default ``_zordered``) makes the pass
    incremental: a bucket that still carries the marker from a prior
    pass is skipped, so a periodic maintenance loop only pays for
    buckets rewritten since (new cold buckets, reorg-invalidated
    ones). Pass ``None`` to force a full re-cluster.

    Ingest appends files in ARRIVAL order, so row-group min/max is
    tight on block_number and useless on every other column — a
    pool-key predicate reads the whole bucket. Z-ordering the bucket
    on (block_number, pool_key_hash) makes BOTH predicates prune
    (operators/layout.py has the bit math and the width rule; each
    dim is min-max normalized to ``bits_per_dim`` bits here, so no
    dimension owns the top bits).

    Shares compact_table's rewrite protocol (_rewrite_buckets:
    staging outside the table, atomic bucket swap, crash recovery on
    entry) — contents unchanged, so reorg invalidation and replay
    semantics are unaffected (locked by tests/test_maintenance.py).
    Buckets above ``max_bucket`` (the live head) are left alone."""
    from pyspark.sql import functions as F

    from .operators.layout import zorder_key_expr

    def plan_fn(df, n_out):
        exprs = [_zdim_expr(c, kind) for c, kind in dims]
        stats = df.agg(
            *[F.min(e).alias(f"mn{i}") for i, e in enumerate(exprs)],
            *[F.max(e).alias(f"mx{i}") for i, e in enumerate(exprs)],
        ).collect()[0]
        norm = []
        top = (1 << bits_per_dim) - 1
        for i, e in enumerate(exprs):
            mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
            if mn is None or mx is None or int(mx) == int(mn):
                norm.append(F.lit(0).cast("bigint"))
                continue
            span = int(mx) - int(mn)
            norm.append(
                F.floor(
                    (F.coalesce(e, F.lit(int(mn))) - F.lit(int(mn)))
                    * F.lit(top / span)
                ).cast("bigint")
            )
        keyed = df.withColumn("__z", zorder_key_expr(norm, bits_per_dim))
        return (
            keyed.repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

    return _rewrite_buckets(
        spark,
        table_dir,
        "zorder",
        plan_fn,
        max_bucket,
        target_file_bytes,
        min_files=1,
        done_marker=done_marker,
    )


def row_groups_matching_all(
    table_dir: str, preds: list[tuple[str, object]]
) -> tuple[int, int]:
    """(row groups the CONJUNCTION of point predicates must read,
    total row groups) from parquet footer min/max only — exactly the
    pruning decision a scan planner makes. Works for string and
    numeric columns (stats compare in the column's own order)."""
    import pyarrow.parquet as pq

    matching = total = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                total += 1
                hit = True
                for column, value in preds:
                    st = md.row_group(g).column(idx[column]).statistics
                    if st is None or st.min is None:
                        continue  # no stats -> unprunable on this col
                    if not (st.min <= value <= st.max):
                        hit = False
                        break
                if hit:
                    matching += 1
    return matching, total


def row_groups_matching(table_dir: str, column: str, value) -> tuple[int, int]:
    """Single-predicate convenience over ``row_groups_matching_all``."""
    return row_groups_matching_all(table_dir, [(column, value)])
