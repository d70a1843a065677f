"""Near-duplicate detection operators: MinHash+LSH and SimHash.

Training-data-pipeline surface (no reference analogue — the reference
is an AMM indexer; these are the ops a 100 TB pretraining corpus needs
on top of the relational engine).

Design for scale:

- Everything is JVM-side column expressions over token/shingle arrays
  (``transform`` / ``aggregate`` / ``array_min`` run inside whole-stage
  codegen) — no Python UDFs, no driver-side loops.
- The pairwise comparison never runs on the full corpus. Candidate
  generation is an equi-join on (band, band_key) — only documents that
  collide in at least one LSH band are ever compared. At 100 TB the
  shuffle key is the band hash, bucket sizes are bounded by banding
  width, and a hot band (boilerplate text) can be salted or capped
  upstream without touching the verify stage.
- Hash functions are engine-portable by construction: the base hash is
  a 60-bit (or 32-bit) prefix of ``md5(utf8)`` — identical in Spark and
  DuckDB — and the permutations are fixed ``(a*h + b) mod P`` literals,
  so every stage has an exact SQL oracle.

MinHash math: P = 2^31 - 1 (prime), a,b < P, h < 2^60 reduced mod P
before multiply, so a*(h%P)+b < 2^62 — no BIGINT overflow on either
engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus of the universal-hash family.
MINHASH_P = 2_147_483_647

# 16 fixed (a, b) pairs — one permutation per signature slot. Literal
# constants (not runtime-random) so the Spark plan and the DuckDB
# oracle compute byte-identical signatures.
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1_203_114_875, 306_246_109),
    (655_063_538, 1_962_551_177),
    (961_447_917, 1_257_332_800),
    (854_245_889, 1_837_185_311),
    (297_714_111, 1_211_919_011),
    (1_736_813_627, 472_901_939),
    (2_010_741_919, 925_333_133),
    (490_995_517, 1_329_939_857),
    (1_426_050_863, 130_217_219),
    (788_064_527, 1_982_263_421),
    (314_159_257, 1_618_033_981),
    (1_414_213_561, 271_828_171),
    (693_147_179, 1_098_612_287),
    (577_215_661, 1_732_050_797),
    (1_049_389_231, 862_997_779),
    (235_711_131, 1_719_232_507),
]

N_HASHES = len(MINHASH_PARAMS)
ROWS_PER_BAND = 2
N_BANDS = N_HASHES // ROWS_PER_BAND  # 8 bands of 2 rows: s ≈ (1/8)^(1/2) ≈ 0.35

SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS  # 4 bands: catches hamming <= 3 for sure


def tokens_expr(text: Column) -> Column:
    """Word tokens: lowercase, non-alphanumerics to spaces, split,
    drop empties. Mirrors the tokenizer of ``ngram_similar_pairs`` so
    every text operator agrees on token identity."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )


def word_ngrams_expr(tokens: Column, n: int) -> Column:
    """Contiguous word n-grams as ``zip_with`` over n shifted slices.

    NOT the ``transform(sequence(...), i -> element_at(...))``
    formulation: when that array feeds ``explode``, whole-stage codegen
    re-evaluates the lambda chain per *output* row — measured ~9x
    slower at sf0.1. zip_with walks each slice once, O(1) per element,
    regardless of the consumer. Rows with fewer than ``n`` tokens
    yield an empty array (callers filter them; the expression itself
    is total, so speculative evaluation cannot throw)."""
    length = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    out = F.slice(tokens, 1, length)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens, j + 1, length), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def word_shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (requires size(tokens) >= n)."""
    return F.array_distinct(word_ngrams_expr(tokens, n))


def token_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens array<string>) — the tokenization step alone,
    exposed so a pipeline needing BOTH shingles and other token-level
    derivations (span postings, quality flags) tokenizes once and
    feeds every consumer."""
    return docs.select("doc_id", tokens_expr(F.col("text")).alias("tokens"))


def shingle_relation(docs: DataFrame, tokens: DataFrame | None = None) -> DataFrame:
    """THE shared shingle/fingerprint derivation (VERDICT r10 mandate
    #4): (doc_id, shingles array<string>, h array<bigint>) for a batch
    of (doc_id, text) rows. One tokenize -> shingle -> 60-bit-hash
    chain feeds every consumer — the MinHash index derives signatures
    from ``h`` and verifies on ``shingles``; the containment index
    derives its sorted-distinct hash sets from ``h`` — so a pipeline
    folding a batch into several indexes computes the expensive text
    pass ONCE (cache this relation), and stream == batch holds by
    shared code, not by parallel re-derivation. ``tokens`` — optional
    pre-derived ``token_relation`` for the same batch."""
    toks = tokens if tokens is not None else token_relation(docs)
    sh = toks.filter(F.size("tokens") >= 3).select(
        "doc_id", word_shingles_expr(F.col("tokens")).alias("shingles")
    )
    # projection collapse inlines shingles into h; whole-stage codegen's
    # subexpression elimination evaluates the shared subtree once
    return sh.withColumn("h", F.transform("shingles", md5_hash60_expr))


def md5_hash60_expr(s: Column) -> Column:
    """60-bit integer hash: first 15 hex chars of md5. Engine-portable
    (DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def md5_hash32_expr(s: Column) -> Column:
    """32-bit integer hash: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def minhash_signature_exprs(shingle_hashes: Column) -> list[Column]:
    """One min-hash per (a,b) permutation over the 60-bit shingle
    hashes; each is an ``array_min(transform(...))`` — codegen'd, no
    shuffle, no UDF."""
    return [
        F.array_min(
            F.transform(
                shingle_hashes,
                lambda h: (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P,
            )
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_key) rows — the LSH bucketing relation. band_key
    concatenates the ROWS_PER_BAND signature slots of the band; docs
    sharing (band, band_key) are candidate near-duplicates."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"sig_{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def cap_hot_bands(
    bands: DataFrame,
    max_bucket_size: int,
    id_col: str = "doc_id",
    key_cols: tuple[str, ...] = ("band", "band_key"),
    via: str = "window",
) -> DataFrame:
    """Drop blocking buckets whose population exceeds
    ``max_bucket_size``. ``key_cols`` names the bucket key — LSH band
    buckets by default; PPJoin prefix-token buckets pass
    ``("token",)`` (pipeline_setjoin) — the capping rule is the same
    for any blocking relation.

    Boilerplate text (license headers, templated pages) collapses into
    a handful of bucket keys; one such mega-bucket of size m
    contributes m^2/2 candidate pairs and a single straggler reduce
    task — the blocking-join scale-killer at 100 TB. Capping trades
    bounded recall for a hard O(cap^2) bound per bucket: a pair
    dropped here is one whose ONLY collisions are inside mega-buckets
    — for LSH, near-boilerplate that still collides in its cooler
    bands; for prefix tokens, pairs whose every shared rare token is
    corpus-crowded.

    ``via`` picks the physical strategy for the same logical filter:

    - ``"window"``: one window count partitioned on ``key_cols``.
      Right when the downstream candidate join SHUFFLES on the same
      key (the LSH pipeline) — the window's exchange is the join's
      exchange, so the cap is free.
    - ``"antijoin"``: aggregate the (tiny, by definition) over-cap
      key list and broadcast LEFT-ANTI join it out. Right when the
      downstream join is BROADCAST-only (the prefix-token pipeline):
      a window would force a full shuffle of a relation that
      otherwise never shuffles; the anti-join costs one count
      aggregation and keeps the broadcast-only shape.

    Monotone either way: output pairs are always a subset of the
    uncapped pairs (exactness-tested), and a corpus with no bucket
    above the cap is passed through unchanged."""
    if via == "antijoin":
        hot = (
            bands.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > max_bucket_size)
            .select(*key_cols)
        )
        return bands.join(F.broadcast(hot), list(key_cols), "left_anti")
    if via != "window":
        raise ValueError(f"unknown cap_hot_bands via={via!r} (use 'window' or 'antijoin')")
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*key_cols)
    return (
        bands.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .drop("__bucket_n")
    )


def lsh_candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (a_id < b_id) pairs colliding in >= 1 band. The join is
    an equi-join on the band bucket — the only shuffle of the candidate
    stage, keyed on (band, band_key)."""
    a = bands.select(F.col(id_col).alias("a_id"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("b_id"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def simhash_fingerprint_tokens(
    docs: DataFrame, tokens: Column, id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash per document over an arbitrary token-array
    expression (word tokens, char n-grams of a binary payload's hex —
    anything): per-bit majority vote over the 32-bit md5 hashes of the
    tokens (multiplicity = weight). One explode + one groupBy — a
    single shuffle on the document id, with map-side partial
    aggregation doing most of the work."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens).alias("token")
    ).withColumn("th", md5_hash32_expr(F.col("token")))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy(id_col).agg(*bit_votes)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("bigint")
        fp = term if fp is None else fp + term
    return votes.select(id_col, fp.alias("fingerprint"))


def simhash_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Word-token SimHash (the text near-dup shape)."""
    return simhash_fingerprint_tokens(docs, tokens_expr(F.col(text_col)), id_col)


def simhash_bands(
    fps: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = SIMHASH_N_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> DataFrame:
    """Pigeonhole blocking: split the fingerprint into ``n_bands``
    ``band_bits``-wide bands; any pair within hamming distance
    < n_bands agrees on at least one band, so the per-band equi-join
    finds it. Defaults are the 32-bit text-SimHash geometry; the
    63-bit pHash fingerprint passes (4, 16)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("fingerprint"), j * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("band_val"),
            )
            for j in range(n_bands)
        ]
    )
    return fps.select(id_col, "fingerprint", F.explode(band_structs).alias("bk")).select(
        id_col,
        "fingerprint",
        F.col("bk.band").alias("band"),
        F.col("bk.band_val").alias("band_val"),
    )


def simhash_near_pairs(
    fps: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    n_bands: int = SIMHASH_N_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> DataFrame:
    """(a_id, b_id, hamming) for pairs within ``max_hamming`` bits that
    collide in >= 1 band. Exact for max_hamming < n_bands (pigeonhole);
    high-recall heuristic above that — the standard SimHash trade.

    The fingerprint relation feeds BOTH sides of the band self-join,
    and the b-side comes back as a broadcast — no exchange reuse
    fires, so without a cut the whole fingerprint subtree (the
    expensive pass: a per-bit vote aggregation or a Python pHash
    kernel) would execute twice. One lazy localCheckpoint pins it to
    one evaluation; it materializes on first execution, so building
    the query runs no job."""
    fps = fps.localCheckpoint(eager=False)
    bands = simhash_bands(fps, id_col, n_bands, band_bits)
    a = bands.select(
        F.col(id_col).alias("a_id"), F.col("fingerprint").alias("a_fp"), "band", "band_val"
    )
    b = bands.select(
        F.col(id_col).alias("b_id"), F.col("fingerprint").alias("b_fp"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- shared curation decision exprs -----------------------------------
# ONE definition for the drop-list decision chain and the survivor
# tie-break, consumed by the batch queries (pipeline_curation.
# dedup_drop_list, pipeline_dedup.dedup_survivors) AND the streaming
# derive-on-read (streaming/drop_list.py): the stream==batch equality
# contract is only as strong as these staying bit-identical, so they
# live in exactly one place (code-review r10).

def survivor_fold_expr(n_chars: Column, doc_id: Column) -> Column:
    """Single-BIGINT argmax key for near-dup survivor selection:
    longest member wins, smallest doc_id on ties. Valid while
    doc_id < 1e12 and n_chars * 1e12 < 2^63 (any test SF; both
    oracles hard-code the same 1e12 fold)."""
    return n_chars * F.lit(10**12) + (F.lit(10**12) - doc_id)


def drop_decision_exprs(
    doc_id: Column, canonical: Column, survivor: Column, container: Column
) -> tuple[Column, Column]:
    """(reason, kept_by) for the dedup drop list — priority
    exact_dup > near_dup > contained > kept; ``container`` may be
    NULL (no containing doc)."""
    reason = (
        F.when(canonical != doc_id, "exact_dup")
        .when(survivor != doc_id, "near_dup")
        .when(container.isNotNull(), "contained")
        .otherwise("kept")
    )
    kept_by = (
        F.when(canonical != doc_id, canonical)
        .when(survivor != doc_id, survivor)
        .when(container.isNotNull(), container)
        .otherwise(doc_id)
    )
    return reason, kept_by
