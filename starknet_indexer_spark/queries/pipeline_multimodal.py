"""Multimodal pipeline queries: binary payload + typed metadata,
Arrow-batched Python decode stubs (functions.multimodal).

Oracle strategy: metadata and frame sampling are replayed exactly by
DuckDB (byte lengths via octet_length, frame fingerprints in the
uppercase-hex domain); the feature extractor is genuinely non-SQL
(per-byte numeric folds over BLOBs) and registers rows-only, with a
pure-python equivalence test in tests/test_multimodal.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.multimodal import (
    MAX_SAMPLED_FRAMES,
    extract_features,
    media_expr,
    metadata_exprs,
    modality_expr,
    sample_frames,
)
from .registry import register

_META_SQL = """
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             hex(encode(text)) AS hx
      FROM documents
"""


@register(
    "multimodal_metadata",
    oracle="""
    WITH m AS (
      SELECT doc_id, source, encode(text) AS media FROM documents
    )
    SELECT doc_id,
           CASE ('0x' || substr(md5(source), 1, 2))::BIGINT % 3
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           octet_length(media)::BIGINT AS n_bytes,
           (32 + octet_length(media) % 97)::BIGINT AS width,
           (32 + (octet_length(media) // 97) % 97)::BIGINT AS height,
           (1 + octet_length(media) % 16)::BIGINT AS n_frames
    FROM m
    """,
    doc="Typed metadata over an opaque binary media column: modality "
    "tag + byte length + (stub-)decoded dimensions. JVM-side "
    "projection — the filter/prune layer that runs BEFORE any Python "
    "decode cost at 100 TB.",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = media_expr(F.col("text"))
    meta = metadata_exprs(media)
    return docs.select(
        "doc_id",
        modality_expr(F.col("source")).alias("modality"),
        *[c.alias(k) for k, c in meta.items()],
    )


def _frame_oracle() -> str:
    # replay _frame_geometry per k: idx = (k*n_frames)//n_samp,
    # n_samp = least(n_frames, MAX); frame bytes via hex-substring
    selects = []
    for k in range(MAX_SAMPLED_FRAMES):
        selects.append(f"""
      SELECT doc_id,
             ({k} * n_frames) // n_samp AS frame_idx,
             (({k} * n_frames) // n_samp) * frame_len AS byte_offset,
             frame_len,
             md5(substr(hx, (({k} * n_frames) // n_samp) * frame_len * 2 + 1,
                 frame_len * 2)) AS frame_md5
      FROM geo WHERE {k} < n_samp""")
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH m AS ({_META_SQL}),
    geo AS (
      SELECT doc_id, hx,
             (1 + n_bytes % 16)::BIGINT AS n_frames,
             GREATEST(n_bytes // (1 + n_bytes % 16), 1)::BIGINT AS frame_len,
             LEAST((1 + n_bytes % 16), {MAX_SAMPLED_FRAMES})::BIGINT AS n_samp
      FROM m
    )
    SELECT doc_id, frame_idx::BIGINT AS frame_idx, byte_offset::BIGINT AS byte_offset,
           frame_len, frame_md5 FROM (
{union}
    )
    """


@register(
    "multimodal_frame_sample",
    oracle=_frame_oracle(),
    doc="Frame sampling via mapInPandas: up to 4 evenly-spaced frames "
    "per video payload, each fingerprinted (md5 over hex domain). The "
    "Arrow-batched Python stage is the real plumbing a video decoder "
    "drops into; the oracle replays the identical geometry in SQL.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = media_expr(F.col("text"))
    n_frames = metadata_exprs(media)["n_frames"]
    return sample_frames(
        docs.select("doc_id", media.alias("media"), n_frames.alias("n_frames"))
    )


def _feature_oracle() -> str:
    """Per-chunk byte means as DuckDB list folds. The corpus text is
    pure ASCII (asserted at all scale factors), so ord(char) == byte
    and the BLOB fold is expressible over the string form — which
    upgrades this query from rows-only to a full value-hash check."""
    cols = []
    for i in range(8):
        lo = f"{i} * step"
        hi = f"LEAST(({i} + 1) * step, n)"
        mean = (
            f"ROUND(list_sum([ord(text[p + 1]) FOR p IN range({lo}, {hi})])"
            f" / (255.0 * ({hi} - {lo})), 6)"
        )
        cols.append(f"CASE WHEN {lo} < n THEN {mean} ELSE 0.0 END AS f{i}")
    sel = ",\n           ".join(cols)
    return f"""
    WITH g AS (
      SELECT doc_id, length(text) AS n,
             GREATEST(length(text) // 8, 1) AS step, text
      FROM documents
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           {sel}
    FROM g
    """


@register(
    "multimodal_feature_extract",
    oracle=_feature_oracle(),
    doc="Feature extraction stub via mapInPandas: 8 chunk byte-mean "
    "features per payload — the embedding-model stand-in (Arrow-batched "
    "vectorized Python, the shape a real encoder forward pass uses). "
    "Features are emitted as scalar columns so the driver value-hash "
    "covers them; exact equivalence vs a pure-python reference is "
    "additionally pinned in tests/test_multimodal.py.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = media_expr(F.col("text"))
    feats = extract_features(docs.select("doc_id", media.alias("media")))
    return feats.select(
        "doc_id",
        "n_bytes",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    )


# ---------------------------------------------------------------------------
# Binary near-dup: SimHash over the payload's byte shingles
# ---------------------------------------------------------------------------

_BIN_GRAM = 8  # hex chars = 4 bytes per shingle


def _binary_simhash_oracle() -> str:
    from .pipeline_dedup import MAX_HAMMING, SIMHASH_BAND_BITS, SIMHASH_BITS, SIMHASH_N_BANDS

    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)::BIGINT"
        for i in range(SIMHASH_BITS)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, fingerprint, {j} AS band, "
        f"(fingerprint >> {j * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        " AS band_val FROM fps"
        for j in range(SIMHASH_N_BANDS)
    )
    return f"""
    WITH media AS (
      SELECT doc_id, hex(encode(text)) AS hx FROM documents
    ),
    toks AS (
      SELECT doc_id,
             [substr(hx, i, {_BIN_GRAM})
              for i in range(1, GREATEST(length(hx) - {_BIN_GRAM - 1}, 0) + 1,
                             {_BIN_GRAM})]
               AS tokens
      FROM media WHERE length(hx) >= {_BIN_GRAM}
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id, UNNEST(tokens) AS token FROM toks)
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM th GROUP BY doc_id
    ),
    fps AS (SELECT doc_id, {fp} AS fingerprint FROM votes),
    bands AS (
{band_selects}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.fingerprint AS a_fp, b.fingerprint AS b_fp
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, bit_count(xor(a_fp, b_fp)) AS hamming
    FROM pairs WHERE bit_count(xor(a_fp, b_fp)) <= {MAX_HAMMING}
    """


@register(
    "multimodal_binary_near_dup",
    oracle=_binary_simhash_oracle(),
    doc="Near-duplicate detection over the OPAQUE binary media column "
    "— the media analogue of text SimHash (the stand-in for image "
    "perceptual-hash dedup; a real pHash replaces the shingle "
    "fingerprint behind the same banding/verify plumbing): "
    "non-overlapping 4-byte blocks of the payload's hex (block "
    "fingerprinting — 8x fewer shingles than a dense slide; real "
    "pHash works in the decoded pixel domain anyway) -> 32-bit "
    "SimHash majority vote "
    "(one map-side-combined shuffle) -> byte-band pigeonhole blocking "
    "-> exact hamming verify on colliding pairs only. Everything is "
    "JVM-side column work over BinaryType — no Python decode in the "
    "pipeline; at 100 TB the fingerprint pass is scan-fused and the "
    "only join touches band-colliding candidates.",
)
def multimodal_binary_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_fingerprint_tokens, simhash_near_pairs
    from .pipeline_dedup import MAX_HAMMING

    docs = load(spark, sf_dir, "documents")
    hx = F.hex(media_expr(F.col("text")))
    # non-overlapping full _BIN_GRAM-char blocks of the hex string.
    # regexp_extract_all, NOT transform(sequence(...), i -> substr(...)):
    # the higher-order lambda is interpreted per element and measured 7x
    # slower on the exploded corpus (r12; the word_ngrams_expr trap).
    # Value-equal by construction — consecutive (.{8}) matches are
    # exactly the step-8 substrings, and a trailing partial block is
    # dropped by both formulations (verified 0 diffs over the corpus).
    grams = F.regexp_extract_all(hx, F.lit(f"(.{{{_BIN_GRAM}}})"), 1)
    fps = simhash_fingerprint_tokens(
        docs.filter(F.length(hx) >= _BIN_GRAM), grams
    )
    return simhash_near_pairs(fps, MAX_HAMMING)


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup: pooled stub-decode -> integer 8x8 DCT ->
# median-threshold 63-bit hash -> pigeonhole-banded Hamming join
# ---------------------------------------------------------------------------

import math as _math

#: quantized DCT-II basis: B[u][r] = round(1e6 * cos((2r+1)*u*pi/16)).
#: Integerizing the basis makes every DCT coefficient an exact BIGINT,
#: so Spark and DuckDB agree bit-for-bit (a float basis would make the
#: 64-term dot product order-sensitive).
_PHASH_BASIS: list[tuple[int, int, int]] = [
    (u, r, round(1_000_000 * _math.cos((2 * r + 1) * u * _math.pi / 16)))
    for u in range(8)
    for r in range(8)
]
_PHASH_SIDE = 32  # stub-decoded grayscale resolution (32x32)
_PHASH_POOL = 4  # 4x4 average pooling -> 8x8 before the DCT
#: exact for <= PHASH_N_BANDS-1 = 3 bit flips (pigeonhole)
PHASH_MAX_HAMMING = 3
_PHASH_N_BANDS = 4
_PHASH_BAND_BITS = 16


def _phash_oracle() -> str:
    basis_rows = ", ".join(f"({u}, {r}, {w})" for u, r, w in _PHASH_BASIS)
    n_px = _PHASH_SIDE * _PHASH_SIDE
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, fingerprint, {j} AS band,"
        f" (fingerprint >> {j * _PHASH_BAND_BITS}) & {(1 << _PHASH_BAND_BITS) - 1}"
        " AS band_val FROM fps"
        for j in range(_PHASH_N_BANDS)
    )
    return f"""
    WITH m AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents WHERE octet_length(encode(text)) >= 1
    ),
    px AS (
      SELECT doc_id, (k // {_PHASH_SIDE}) // {_PHASH_POOL} AS r,
             (k % {_PHASH_SIDE}) // {_PHASH_POOL} AS c,
             ('0x' || substr(hx, 2 * (k % nb) + 1, 2))::BIGINT AS v
      FROM m, UNNEST(range(0, {n_px})) AS u(k)
    ),
    pooled AS (
      SELECT doc_id, r, c, CAST(SUM(v) AS BIGINT) AS s
      FROM px GROUP BY doc_id, r, c
    ),
    basis(u, r, w) AS (VALUES {basis_rows}),
    coefs AS (
      SELECT p.doc_id, b1.u AS u, b2.u AS v,
             CAST(SUM(p.s * b1.w * b2.w) AS BIGINT) AS coef
      FROM pooled p
      JOIN basis b1 ON b1.r = p.r
      JOIN basis b2 ON b2.r = p.c
      GROUP BY p.doc_id, b1.u, b2.u
    ),
    ac AS (SELECT * FROM coefs WHERE NOT (u = 0 AND v = 0)),
    rn AS (
      SELECT doc_id, coef,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
      FROM ac
    ),
    med AS (
      SELECT doc_id, MAX(CASE WHEN rn = 32 THEN coef END) AS med
      FROM rn GROUP BY doc_id
    ),
    fps AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.coef > md.med
                  THEN (CAST(1 AS BIGINT) << (a.u * 8 + a.v - 1))
                  ELSE 0 END) AS BIGINT) AS fingerprint
      FROM ac a JOIN med md ON md.doc_id = a.doc_id
      GROUP BY a.doc_id
    ),
    bands AS (
{band_selects}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.fingerprint AS a_fp, b.fingerprint AS b_fp
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, bit_count(xor(a_fp, b_fp)) AS hamming
    FROM pairs WHERE bit_count(xor(a_fp, b_fp)) <= {PHASH_MAX_HAMMING}
    """


def phash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): 63-bit perceptual hash of the stub-decoded
    payload, computed MAP-ONLY: pooling, the integer DCT, the median
    threshold, and the bit-pack are all nested array expressions over
    each row, so the fingerprint pass fuses into the scan with ZERO
    shuffles (the first exchange in the query is the band join). The
    real-image path swaps only the byte-sampling innermost expression
    (a mapInPandas decode emitting the same 8x8 pooled sums); DCT,
    median, and banding are unchanged.

    Implementation note (two rejected shapes): (a) explode + broadcast
    basis join + (doc,u,v) aggregate — correct but shuffles
    1024x-corpus pixel rows and 64x-corpus coefficient rows (9.8 s at
    sf0.1); (b) pure nested higher-order array expressions — correct
    and shuffle-free, but Catalyst interprets HOF lambdas per element
    (~13k element-ops/doc at ~1 us each = 68 s at sf0.1), and chained
    projections are unusable anyway because CollapseProject inlines
    each stage's expression into every element_at reference inside the
    next lambda (the 1024-sample pooling re-evaluates per aggregate
    element). The per-doc kernel is genuinely numeric — exactly what
    the multimodal family's Arrow-batched mapInPandas convention is
    for (the real decode stage is Python regardless), and the int64
    numpy matmul (B @ pooled @ B.T) is exact integer math identical to
    the oracle's BIGINT sums. 1.05 s at sf0.1 (fingerprints
    materialized once for the band self-join)."""
    import numpy as np
    import pandas as pd

    media = media_expr(F.col("text"))
    m = docs.filter(F.octet_length(media) >= 1).select(
        "doc_id", media.alias("media")
    )
    basis = np.zeros((8, 8), dtype=np.int64)
    for u, r, w in _PHASH_BASIS:
        basis[u, r] = w
    n_px = _PHASH_SIDE * _PHASH_SIDE
    side, pool = _PHASH_SIDE, _PHASH_POOL

    def batch_fn(batches):
        shifts = np.arange(63, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, mb in zip(pdf["doc_id"], pdf["media"]):
                b = np.frombuffer(mb, dtype=np.uint8).astype(np.int64)
                img = b[np.arange(n_px) % len(b)].reshape(side, side)
                pooled = img.reshape(8, pool, 8, pool).sum(axis=(1, 3))
                ac = (basis @ pooled @ basis.T).reshape(-1)[1:]
                med = np.sort(ac)[31]  # lower median of 63
                bits = (ac > med).astype(np.uint64)
                fps.append(int((bits << shifts).sum(dtype=np.uint64)))
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return m.mapInPandas(batch_fn, "doc_id long, fingerprint long")


@register(
    "multimodal_phash_near_dup",
    oracle=_phash_oracle(),
    doc="Perceptual-hash (pHash) near-duplicate detection over the "
    "binary media column — the actual image-dedup transform, run on "
    "the deterministic stub decode (pixel (r,c) = payload byte at "
    "(r*32+c) mod n_bytes; a real decoder swaps only that stage): "
    "32x32 grayscale -> 4x4 average pooling (integer block sums) -> "
    "8x8 DCT-II with a MICRO-QUANTIZED integer basis (every "
    "coefficient an exact BIGINT, so both engines agree bit-for-bit; "
    "a float basis would make the 64-term dot product "
    "order-sensitive) -> threshold the 63 AC coefficients at their "
    "lower median -> 63-bit fingerprint -> 16-bit-band pigeonhole "
    f"blocking (exact for hamming <= {PHASH_MAX_HAMMING}) -> verified "
    "Hamming distance on colliding pairs. Scale shape: the whole "
    "fingerprint is ONE Arrow-batched mapInPandas pass (map-only, "
    "fuses with the scan — the real decoder lives in the same batch "
    "function), so the first exchange in the plan is the band join "
    "over band-colliding candidates — the same banding/verify "
    "plumbing as SimHash with the fingerprint swapped for the "
    "pixel-domain transform. The DuckDB oracle recomputes the full "
    "pipeline (byte sampling via hex substrings, pooling, integer "
    "DCT, median, bit-pack) in SQL, value-hash-proving the numpy "
    "kernel's integer math each run.",
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_pairs

    docs = load(spark, sf_dir, "documents")
    # the shared pigeonhole banding/verify machinery, parameterized to
    # the 63-bit pHash geometry (4 bands x 16 bits); it checkpoints the
    # fingerprints, which the band self-join reads on BOTH sides, so
    # the Python pHash pass and the corpus scan run once
    return simhash_near_pairs(
        phash_fingerprints(docs),
        PHASH_MAX_HAMMING,
        n_bands=_PHASH_N_BANDS,
        band_bits=_PHASH_BAND_BITS,
    )


# ---------------------------------------------------------------------------
# Resize: stub-decode -> integer average-pool downsample -> checksum
# ---------------------------------------------------------------------------

_RESIZE_OUT = 16  # 32x32 stub decode -> 16x16 via 2x2 pooling
_RESIZE_POOL = _PHASH_SIDE // _RESIZE_OUT


def _resize_oracle() -> str:
    n_px = _PHASH_SIDE * _PHASH_SIDE
    return f"""
    WITH m AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents WHERE octet_length(encode(text)) >= 1
    ),
    px AS (
      SELECT doc_id, nb,
             (k // {_PHASH_SIDE}) // {_RESIZE_POOL} AS r,
             (k % {_PHASH_SIDE}) // {_RESIZE_POOL} AS c,
             ('0x' || substr(hx, 2 * (k % nb) + 1, 2))::BIGINT AS v
      FROM m, UNNEST(range(0, {n_px})) AS u(k)
    ),
    pooled AS (
      SELECT doc_id, nb, r, c, CAST(SUM(v) AS BIGINT) AS s
      FROM px GROUP BY doc_id, nb, r, c
    )
    SELECT doc_id,
           CAST(MAX(nb) AS BIGINT) AS n_bytes,
           CAST({_RESIZE_OUT} AS BIGINT) AS out_w,
           CAST({_RESIZE_OUT} AS BIGINT) AS out_h,
           md5(string_agg(s::VARCHAR, ',' ORDER BY r, c)) AS resize_md5
    FROM pooled GROUP BY doc_id
    """


@register(
    "multimodal_resize",
    oracle=_resize_oracle(),
    doc="Media resize over the opaque binary column: the stub decode's "
    f"32x32 grayscale average-pools 2x2 to {_RESIZE_OUT}x{_RESIZE_OUT} "
    "(integer block sums — no float resampling, so the output is "
    "engine-exact), emitted as dimensions + an md5 checksum of the "
    "row-major pooled matrix (the driver-hashable stand-in for the "
    "resized pixel payload a real pipeline would write). Like the "
    "frame sampler and the pHash fingerprint, the whole transform is "
    "one Arrow-batched mapInPandas pass — map-only, the real decoder "
    "swaps in at the byte-sampling step — and the DuckDB oracle "
    "replays it from hex substrings, value-hash-proving the kernel. "
    "Completes the decode/metadata/resize/frame-sample/feature-extract "
    "multimodal surface.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    media = media_expr(F.col("text"))
    m = docs.filter(F.octet_length(media) >= 1).select(
        "doc_id", media.alias("media")
    )
    n_px = _PHASH_SIDE * _PHASH_SIDE
    side, pool, out = _PHASH_SIDE, _RESIZE_POOL, _RESIZE_OUT

    def batch_fn(batches):
        for pdf in batches:
            ids, nbs, sums = [], [], []
            for doc_id, mb in zip(pdf["doc_id"], pdf["media"]):
                b = np.frombuffer(mb, dtype=np.uint8).astype(np.int64)
                img = b[np.arange(n_px) % len(b)].reshape(side, side)
                pooled = img.reshape(out, pool, out, pool).sum(axis=(1, 3))
                digest = hashlib.md5(
                    ",".join(map(str, pooled.reshape(-1))).encode()
                ).hexdigest()
                ids.append(doc_id)
                nbs.append(len(b))
                sums.append(digest)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": nbs,
                    "out_w": [out] * len(ids),
                    "out_h": [out] * len(ids),
                    "resize_md5": sums,
                }
            )

    return m.mapInPandas(
        batch_fn,
        "doc_id long, n_bytes long, out_w long, out_h long, resize_md5 string",
    )


# ---------------------------------------------------------------------------
# Cross-modal dedup consistency audit (VERDICT r9 mandate #5)
# ---------------------------------------------------------------------------


def _cross_modal_oracle() -> str:
    from .pipeline_dedup import _minhash_oracle

    return f"""
    WITH text_pairs AS (
      SELECT a_id, b_id, jaccard FROM ({_minhash_oracle()})
    ),
    media_pairs AS (
      SELECT a_id, b_id, hamming FROM ({_phash_oracle()})
    )
    SELECT COALESCE(t.a_id, m.a_id) AS a_id,
           COALESCE(t.b_id, m.b_id) AS b_id,
           COALESCE(t.jaccard, -1.0) AS jaccard,
           CAST(COALESCE(m.hamming, -1) AS BIGINT) AS hamming,
           CASE WHEN t.a_id IS NOT NULL AND m.a_id IS NOT NULL
                THEN 'agree_dup'
                WHEN t.a_id IS NOT NULL THEN 'text_only'
                ELSE 'media_only' END AS verdict
    FROM text_pairs t
    FULL OUTER JOIN media_pairs m
      ON t.a_id = m.a_id AND t.b_id = m.b_id
    """


def cross_modal_classify(
    text_pairs: DataFrame, media_pairs: DataFrame
) -> DataFrame:
    """The ONE cross-modal classification: full-outer pair-keyed join
    of (a_id, b_id, jaccard) text pairs with (a_id, b_id, hamming)
    media pairs, verdict in {agree_dup, text_only, media_only},
    absent-side metrics pinned to -1. Shared by the batch query and
    the streaming derive-on-read (streaming/media_index.py) — their
    stream==batch equality contract is only as strong as this staying
    one definition."""
    t, m = text_pairs.alias("t"), media_pairs.alias("m")
    return (
        t.join(
            m,
            (F.col("t.a_id") == F.col("m.a_id"))
            & (F.col("t.b_id") == F.col("m.b_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("t.a_id"), F.col("m.a_id")).alias("a_id"),
            F.coalesce(F.col("t.b_id"), F.col("m.b_id")).alias("b_id"),
            F.coalesce(F.col("t.jaccard"), F.lit(-1.0)).alias("jaccard"),
            F.coalesce(F.col("m.hamming"), F.lit(-1))
            .cast("bigint")
            .alias("hamming"),
            F.when(
                F.col("t.a_id").isNotNull() & F.col("m.a_id").isNotNull(),
                F.lit("agree_dup"),
            )
            .when(F.col("t.a_id").isNotNull(), F.lit("text_only"))
            .otherwise(F.lit("media_only"))
            .alias("verdict"),
        )
    )


@register(
    "cross_modal_dedup_audit",
    oracle=_cross_modal_oracle(),
    doc="Cross-modal dedup consistency audit: full-outer join of the "
    "TEXT near-dup pair set (MinHash+LSH verified Jaccard, reading the "
    "silver shingle/band relations) with the MEDIA near-dup pair set "
    "(pHash banding + verified Hamming) over the same documents, "
    "classifying every pair as agree_dup (both modalities say "
    "duplicate), text_only (text says duplicate, media distinct — a "
    "re-captioned or re-encoded asset), or media_only (same media "
    "under different text — a boilerplate/watermark wrapper). This is "
    "the audit a multimodal curation run consults BEFORE dropping "
    "rows: dropping on text evidence alone silently discards distinct "
    "media (and vice versa). Absent-side metrics are pinned to -1 "
    "sentinels so the relation stays integer/double-exact for the "
    "driver hash. Scale shape: both inputs are the already-verified "
    "banded pair relations (pair-sized, not corpus-sized); the audit "
    "itself is one pair-keyed full-outer join — broadcast-sized at "
    "any corpus scale. Pairs are (a_id < b_id)-normalized on both "
    "sides, so the join key is canonical.",
)
def cross_modal_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_dedup import minhash_lsh_dedup_silver

    text_pairs = minhash_lsh_dedup_silver(spark, sf_dir).select(
        "a_id", "b_id", "jaccard"
    )
    media_pairs = multimodal_phash_near_dup(spark, sf_dir).select(
        "a_id", "b_id", F.col("hamming").cast("bigint").alias("hamming")
    )
    return cross_modal_classify(text_pairs, media_pairs)
