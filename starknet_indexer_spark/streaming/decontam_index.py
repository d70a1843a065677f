"""Streaming decontamination-index maintenance: the train split's
n-gram set as ONE additive state table serving BOTH decontamination
screens.

State rows are (gh, cnt): the 60-bit hash of each distinct-per-doc
train n-gram, with cnt = how many train docs contributed it. Per-doc
distinct grams partition cleanly across micro-batches (each doc
arrives in exactly one batch), so cnt is a purely ADDITIVE sufficient
statistic — the same mergeable-state fold as the NB model and the
drift histograms (state_table generation dirs, epoch-token idempotent
replay), and the state after any stream prefix EQUALS the batch
aggregate over the rows seen so far.

One maintained relation powers two deployment-shaped probes:

- ``exact_containment``: the decontamination_ngram join against the
  maintained gram set (exact, shuffle join at scale).
- ``bloom_screen``: derive the k-hash Bloom SET-BIT relation from the
  gram state (map-only explode + distinct), collect it into the packed
  bitset, and probe map-only — the bloom_decontamination query with
  the filter's build side coming from the stream instead of the stored
  corpus artifact. Deriving bits at read time (rather than maintaining
  a bit-level state) keeps the state exact: cnt supports retraction,
  and stream==batch holds for the downstream BITSET by construction
  because OR-folding distincts is order-insensitive.

At 100 TB this is the live-benchmark-protection shape: eval suites
are fixed, the training feed grows continuously, and every new batch
must be screened against the train history WITHOUT rescanning it —
exactly what an incrementally maintained gram index provides. The
Bloom derivation is O(m) bits regardless of state cardinality and
ships inside any scoring job's probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.pipeline_dedup import BLOOM_K, BLOOM_M_BITS, EVAL_SOURCE
from ..silver import build_decontam_grams
from . import state_table

N_BUCKETS = 8

_EMPTY_DDL = "gh bigint, cnt bigint"
_KEY = ["gh"]


def _bucket(*cols) -> Column:
    return F.pmod(F.xxhash64(*cols), F.lit(N_BUCKETS)).cast("int")


def _merge(df: DataFrame) -> DataFrame:
    return df.groupBy("gh").agg(F.sum("cnt").cast("bigint").alias("cnt"))


def _train_partials(docs: DataFrame) -> DataFrame:
    grams = build_decontam_grams(docs).filter(F.col("source") != EVAL_SOURCE)
    return grams.groupBy("gh").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))


def apply_batch(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    epoch_token: str | None = None,
) -> None:
    """Fold one batch of (doc_id, source, text) rows into the train
    gram index. Eval-split rows are ignored (they are the PROBE side);
    docs are assumed exactly-once across epochs."""
    state_table.merge_batch(
        spark,
        state_dir,
        _train_partials(docs),
        _merge,
        _KEY,
        ["cnt"],
        _bucket(*_KEY),
        _EMPTY_DDL,
        token=epoch_token,
    )


def read_train_grams(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained distinct train-gram relation (gh) — equals
    build_decontam_grams(all train rows folded so far).select(gh)
    .distinct()."""
    return state_table.read_state(spark, state_dir, _EMPTY_DDL).filter(
        F.col("cnt") > 0
    ).select("gh")


def exact_containment(
    spark: SparkSession, state_dir: str, docs: DataFrame
) -> DataFrame:
    """decontamination_ngram against the MAINTAINED train set: per
    eval doc, the fraction of its distinct n-grams present in the
    train history (identical math and rounding to the registered
    query)."""
    train = read_train_grams(spark, state_dir)
    ev = (
        build_decontam_grams(docs)
        .filter(F.col("source") == EVAL_SOURCE)
        .select("doc_id", "gh")
    )
    hit = F.sum(F.when(F.col("t_gh").isNotNull(), 1).otherwise(0)).cast("bigint")
    return (
        ev.join(train.select(F.col("gh").alias("t_gh")), ev.gh == F.col("t_gh"), "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_ngrams"), hit.alias("n_hit"))
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit",
            (
                F.floor(F.col("n_hit").cast("double") / F.col("n_ngrams") * 1e6 + 0.5)
                / 1e6
            ).alias("containment"),
        )
    )


def bloom_screen(
    spark: SparkSession, state_dir: str, docs: DataFrame
) -> DataFrame:
    """bloom_decontamination with the filter built from the maintained
    gram state: derive the set-bit relation (map-only, <= 2^20 rows),
    collect it into the packed bitset (one Spark job, when called: the
    state changes every epoch, so there is no stored artifact), and
    probe each eval doc's distinct grams against it. Identical output
    to the registered batch query once the full train split has
    folded."""
    from ..operators.sketches import bloom_bitset, bloom_build, bloom_probe_hits

    train = read_train_grams(spark, state_dir)
    bitset = bloom_bitset(
        bloom_build(train, F.col("gh").cast("string"), BLOOM_K, BLOOM_M_BITS),
        BLOOM_M_BITS,
    )
    ev = (
        build_decontam_grams(docs)
        .filter(F.col("source") == EVAL_SOURCE)
        .select("doc_id", "gh")
        .distinct()
    )
    # same map-only bitset probe as the registered batch query
    # (shared-code equality)
    hits = bloom_probe_hits(
        ev, F.col("gh").cast("string"), bitset, BLOOM_K, BLOOM_M_BITS
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_hit"),
    )


def stream_maintain(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming driver: document rows arriving in
    ``feed_dir`` extend the train gram index per micro-batch (shared
    state_table.stream_maintain_with scaffolding — epoch-marker +
    in-generation token idempotence)."""
    return state_table.stream_maintain_with(
        spark,
        feed_dir,
        state_dir,
        checkpoint_dir,
        lambda batch_df, token: apply_batch(
            spark, batch_df, state_dir, epoch_token=token
        ),
        schema=schema,
        select_cols=["doc_id", "source", "text"],
        max_files_per_trigger=max_files_per_trigger,
    )
