"""Exact set-similarity join with prefix filtering (PPJoin-style).

The dedup family so far has two candidate-generation shapes: the full
inverted index (`ngram_similar_pairs` — every shared shingle emits a
candidate) and MinHash/SimHash banding (approximate). Prefix filtering
is the third classic, and the only one that is BOTH subquadratic and
exact: order the token universe by ascending document frequency, keep
only each set's first ``|d| - ceil(t*|d|) + 1`` tokens (its "prefix" —
the rarest ones), and join on prefix tokens alone. The guarantee
(Chaudhuri/Bayardo, SIGMOD'06/WWW'07): any two sets with Jaccard >= t
MUST share at least one prefix token under a global token order, so
the blocking is LOSSLESS — the verified output equals the exact
all-pairs answer while the candidate join touches only rare tokens
(a ubiquitous stopword never makes it into a prefix, which is exactly
the mega-bucket that hurts the plain inverted index).

The driver oracle computes the same result through a completely
different plan — a full shared-token inverted index with exact
Jaccard — so the hash check proves the losslessness claim on real
data, not just the textbook theorem.

Scale shape: token-frequency ranking is one aggregation over distinct
(doc, token) pairs plus a sort of the token VOCABULARY (not the
corpus); prefix explosion carries ~(1-t) of each set's tokens into
the join; verification joins the candidate PAIRS (already pruned)
back to the token arrays. A size filter (|B| >= t*|A|) prunes
length-incompatible pairs inside the join condition. At 100 TB the
vocabulary rank table is either broadcast (real vocabularies fit) or
bucket-joined; everything else is standard shuffle machinery.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..operators.dedup import (
    cap_hot_bands,
    md5_hash60_expr,
)
from .registry import REGISTRY, register

SETJOIN_THRESHOLD = 0.5
# prefix-token bucket cap for the capped variant: a prefix token
# shared by more docs than this is dropped from blocking (see
# setjoin_prefix_jaccard_capped)
SETJOIN_TOKEN_CAP = 10


def _t_frac(t: float) -> tuple[int, int]:
    """Exact (num, den) for a DECIMAL threshold literal (0.8 -> (4, 5)).

    All threshold comparisons in this module are integer-rational:
    ``ceil(t*n)`` in IEEE doubles is correct only by a sub-half-ulp
    margin at some (t, n) (at t=0.8 the product's relative error
    ~2^-54.17 sits just under the minimum half-ulp 2^-54), so a future
    threshold could shorten the prefix by one token and silently break
    the losslessness theorem. ``Fraction(str(t))`` recovers the decimal
    the source literal denotes, not its binary approximation.

    Guard: a non-decimal t (e.g. 1/3 passed as a float) would yield a
    ~1e16 denominator whose integer products overflow int64 — refuse
    loudly rather than silently wrap in the join predicates."""
    f = Fraction(str(t))
    if f.denominator > 10**6:
        raise ValueError(
            f"setjoin threshold {t!r} is not a short decimal; "
            "pass a decimal literal (int64 product overflow guard)"
        )
    return f.numerator, f.denominator


def ranked_sets(sets: DataFrame, t: float) -> DataFrame:
    """Per-doc rank-sorted element arrays with prefix lengths for
    threshold ``t``: (doc_id, ordered, hset, n, prefix_len). Shared by
    the symmetric (Jaccard) and asymmetric (containment) prefix joins
    — prefix_len = n - ceil(t*n) + 1 is the same formula in both
    theorems; only the candidate-join shape downstream differs.

    Global element order: ascending document frequency, ties by the
    element string — ANY total order shared across docs satisfies
    the prefix guarantee, so (df, token) structs are used directly:
    no dense-rank window (a single-partition sort of the whole
    vocabulary) and no driver-side anything. sort_array on structs
    orders by df first, token second — deterministic. The df table
    is vocabulary-sized and broadcast (ranked is consumed three
    times downstream; a shuffle join here would be recomputed each
    time) — at vocabularies beyond broadcast size, bucket-join
    df and localCheckpoint ranked instead.
    Set elements are 60-bit md5 hashes, not strings: the ordered
    arrays, the candidate join key, and the verify intersection all
    become int64 work (strings made the verify stage ~10x slower).
    The DISTINCT after hashing makes the HASH SET the set being
    joined on BOTH engines — so if two distinct shingles of one doc
    ever collide (O(n^2/2^61)), sizes, intersections, and jaccards
    still agree bit-for-bit with the oracle (which dedups the same
    hashes), instead of Spark deduping while the oracle counts
    multiplicity."""
    num, den = _t_frac(t)
    # per-doc hash-set dedup happens MAP-SIDE inside the array
    # (array_distinct over the hashed elements) instead of the former
    # explode -> .distinct() — same set (duplicate toks AND same-doc
    # hash collisions collapse identically), one less full shuffle of
    # the exploded corpus-token relation (r12, guide §2.4). The
    # remaining exchanges are the vocabulary count (map-side combined,
    # token-sized) and the per-doc collect.
    # A pre-hashed ``h`` column (silver doc_shingles stores the
    # md5_hash60 array the ingest build already computes, positionally
    # aligned with the shingle strings) skips the per-query md5 pass:
    # array_distinct(h) == array_distinct(transform(toks, md5_hash60))
    # elementwise, because h IS that transform evaluated at ingest
    # (r12, guide §2.4).
    if "h" in sets.columns:
        hs = sets.select("doc_id", F.col("h").alias("hs"))
    else:
        hs = sets.select(
            "doc_id", F.transform("toks", md5_hash60_expr).alias("hs")
        )
    ex = hs.filter(F.size("hs") > 0).select(
        "doc_id",
        F.explode(F.array_distinct("hs")).alias("token"),
    )
    vocab = ex.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    ranked = (
        ex.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "token"))).alias("ordered"),
            # plain int64 array for the verify intersection:
            # array_intersect on struct arrays falls off the
            # specialized primitive hash-set path (~10x slower)
            F.sort_array(F.collect_list("token")).alias("hset"),
        )
        .withColumn("n", F.size("hset"))
        # prefix_len = n - ceil(t*n) + 1, computed EXACTLY in integer
        # arithmetic with t = num/den: ceil(n*num/den) == (n*num+den-1)
        # div den. See _t_frac for why doubles are not trusted here.
        .withColumn(
            "prefix_len",
            F.expr(f"n - ((n * {num} + {den - 1}) div {den}) + 1"),
        )
    )
    # ranked feeds FOUR subtrees (both candidate-join sides, both
    # verify sides); without materialization each recomputes the full
    # tokenize->explode->join->collect_list chain (~4x wall). Lazy
    # local checkpoint = one materialization, no eager extra job.
    return ranked.localCheckpoint(eager=False)


def prefix_candidates(
    sets: DataFrame,
    t: float = SETJOIN_THRESHOLD,
    max_token_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(ranked, candidates): per-doc rank-sorted element arrays and
    the prefix-blocked candidate pair set (a_id, b_id). Exposed so
    tests can quantify the pruning independently of the verify
    stage. ``max_token_bucket``: drop prefix tokens appearing in more
    than this many docs' prefixes before the candidate join
    (cap_hot_bands over ("token",) buckets) — bounds per-token
    candidate work at O(cap^2) at the cost of bounded recall."""
    ranked = ranked_sets(sets, t)

    # pos = the token's 1-based rank in the doc's global order (the
    # prefix is a prefix of that order, so slice positions ARE ranks)
    # — carried for the PPJoin positional filter below
    prefix = ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("ordered", 1, F.col("prefix_len"))).alias("p0", "p"),
    ).select(
        "doc_id", "n", (F.col("p0") + 1).alias("pos"),
        F.col("p.token").alias("token"),
    )
    if max_token_bucket is not None:
        # the capped path does not use the positional filter (see the
        # uncapped branch below) — drop pos so the capped relation /
        # checkpoint keep their former shape
        prefix = prefix.drop("pos")
        # one row per (doc, prefix token), so bucket population ==
        # docs carrying the token in their prefix. via="antijoin":
        # this pipeline's candidate join is broadcast-only, so the
        # cap must not force a window shuffle of the prefix relation
        # — the over-cap token list aggregates small and anti-joins
        # broadcast-side, preserving the shuffle-free shape
        prefix = cap_hot_bands(
            prefix, max_token_bucket, key_cols=("token",), via="antijoin"
        )
        # both candidate-join sides consume the capped prefix; without
        # materialization each side recomputes the over-cap aggregation
        # + anti-join (same one-materialization pattern as `ranked`)
        prefix = prefix.localCheckpoint(eager=False)

    # candidates: shared prefix token + size compatibility, exact-once.
    # Size predicates in integer rationals (t = num/den): b.n*t <= a.n
    # <=> b.n*num <= a.n*den — no float rounding at the boundary.
    num, den = _t_frac(t)
    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (
        (F.col("a.token") == F.col("b.token"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.n") * F.lit(num) <= F.col("a.n") * F.lit(den))
        & (F.col("a.n") * F.lit(num) <= F.col("b.n") * F.lit(den))
    )
    if max_token_bucket is None:
        # PPJoin positional filter (optimization r12, lossless): a
        # token match at ranks (pa, pb) bounds the overlap of a pair
        # whose FIRST shared token this is by 1 + min(n_a-pa, n_b-pb);
        # J >= t requires overlap >= alpha = ceil(t/(1+t)*(na+nb)).
        # For any TRUE pair its first shared token (a) lies in both
        # prefixes (the prefix theorem) and (b) passes this bound
        # (nothing shared precedes it, so the bound is >= the true
        # overlap >= alpha) — so pruning failing token-matches keeps
        # every qualifying pair while cutting verify input ~2.5x
        # (sf0.1: 310k -> 125k candidates). Exact integer rational:
        # t/(1+t) = num/(den+num). NOT applied to the capped variant:
        # its oracle's reachability rule ("shares a below-cap prefix
        # token") admits pairs whose below-cap match is not the first
        # shared token, where this bound is not a valid pruner.
        alpha = F.expr(
            f"(({num} * (a.n + b.n)) + {den + num - 1}) div {den + num}"
        )
        cond = cond & (
            F.lit(1)
            + F.least(
                F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
            )
            >= alpha
        )
    candidates = (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    return ranked, candidates


def prefix_jaccard_pairs(
    sets: DataFrame,
    t: float = SETJOIN_THRESHOLD,
    max_token_bucket: int | None = None,
) -> DataFrame:
    """All pairs with set Jaccard >= ``t`` — exact result,
    prefix-filtered candidate generation. ``sets``: (doc_id, toks)
    where ``toks`` is the distinct element array (the query below
    feeds word 3-gram shingle sets; any set-valued column works).
    With ``max_token_bucket`` the result is the capped SUBSET (pairs
    reachable through a below-cap prefix token only)."""
    ranked, candidates = prefix_candidates(sets, t, max_token_bucket)

    # exact verification on the full ordered arrays (struct equality)
    ra = ranked.select(
        F.col("doc_id").alias("a_id"),
        F.col("hset").alias("a_hs"),
        F.col("n").alias("a_n"),
    )
    rb = ranked.select(
        F.col("doc_id").alias("b_id"),
        F.col("hset").alias("b_hs"),
        F.col("n").alias("b_n"),
    )
    inter = F.size(F.array_intersect("a_hs", "b_hs"))
    jac = inter / (F.col("a_n") + F.col("b_n") - inter)
    # Filter on the EXACT jaccard comparison in integer rationals
    # (J >= t <=> inter*den >= union*num with t = num/den): the
    # prefix-blocking losslessness theorem covers pairs with TRUE
    # J >= t only. Filtering on the 6dp-rounded value would also admit
    # pairs with J in [t-5e-7, t), which can legitimately share no
    # prefix token — Spark would then miss a pair the oracle (which
    # must mirror the exact filter) could include. ROUND stays as an
    # output column only, for cross-engine float display stability.
    num, den = _t_frac(t)
    return (
        candidates.join(ra, "a_id")
        .join(rb, "b_id")
        .filter(
            inter * F.lit(den)
            >= (F.col("a_n") + F.col("b_n") - inter) * F.lit(num)
        )
        .select(
            "a_id",
            "b_id",
            inter.cast("bigint").alias("inter"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# Shared oracle fragments: the shingle-hash-set derivation (words ->
# toks -> ex) and the exact-Jaccard final SELECT are byte-identical in
# both setjoin oracles; the PAIR DERIVATION in between deliberately
# differs (full inverted index vs prefix+cap replica) — that
# difference is the losslessness/capping proof.
_SETJOIN_EX_SQL = """words AS (
      SELECT doc_id,
             list_filter(
               string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> x <> '') AS tokens
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                            for i in range(1, len(tokens) - 1)]) AS toks
      FROM words WHERE len(tokens) >= 3
    ),
    ex AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(UNNEST(toks)), 1, 15))::BIGINT AS token
      FROM toks WHERE len(toks) > 0
    )"""

# threshold as exact integers for the oracle's rational comparisons
_SJ_NUM, _SJ_DEN = _t_frac(SETJOIN_THRESHOLD)

_SETJOIN_FINAL_SQL = f"""SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
           ROUND(CAST(inter AS DOUBLE) / (a_n + b_n - inter), 6) AS jaccard
    FROM pair_inter
    WHERE inter * {_SJ_DEN} >= (a_n + b_n - inter) * {_SJ_NUM}"""


def _silver_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) shingle sets from the MATERIALIZED silver
    doc_shingles relation (silver.ensure_silver — built once at
    ingest). All three setjoin variants read this instead of
    re-deriving shingle sets from raw text (VERDICT r8 mandate #3: the
    re-derivation made base/capped the two most expensive headline
    queries at ~6.7 s vs 4.0 s for the silver-reading twin). The
    DuckDB oracles still derive from raw text, so every run re-proves
    silver's shingle derivation equals the from-scratch one."""
    import os

    from ..silver import ensure_silver

    root = ensure_silver(spark, sf_dir)
    # select h (the ingest-computed 60-bit hash array) alongside the
    # shingle strings: ranked_sets consumes h directly and never
    # re-runs the md5 pass; Catalyst prunes the unused string column
    # from the scan
    return read_parquet(spark, os.path.join(root, "doc_shingles")).select(
        "doc_id", F.col("shingles").alias("toks"), "h"
    )


@register(
    "setjoin_prefix_jaccard",
    oracle=f"""
    WITH {_SETJOIN_EX_SQL},
    sized AS (
      SELECT doc_id, token,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM ex
    ),
    pair_inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n AS a_n, b.n AS b_n, COUNT(*) AS inter
      FROM sized a JOIN sized b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n, b.n
    )
    {_SETJOIN_FINAL_SQL}
    """,
    doc=f"Exact shingle-set Jaccard >= {SETJOIN_THRESHOLD} join via "
    "prefix filtering: tokens globally ordered by ascending document "
    "frequency (word 3-gram shingle sets — token sets are too "
    "coarse on template-generated corpora), candidates from each set's "
    "|d|-ceil(t|d|)+1 rarest tokens (plus a size-compatibility "
    "predicate), then exact verification on the full sets. The "
    "blocking is provably lossless, and the DuckDB oracle proves it "
    "on real data by computing the same answer through a full "
    "inverted index instead. The prefix never contains ubiquitous "
    "tokens — the skew bucket that hurts a plain shared-token join — "
    "which is what makes this the exact-dedup scale path alongside "
    "the approximate MinHash/SimHash family.",
)
def setjoin_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_jaccard_pairs(_silver_shingle_sets(spark, sf_dir),
                                SETJOIN_THRESHOLD)


@register(
    "setjoin_prefix_jaccard_capped",
    oracle=f"""
    WITH {_SETJOIN_EX_SQL},
    tdf AS (SELECT token, COUNT(*) AS df FROM ex GROUP BY token),
    ordered AS (
      SELECT e.doc_id, e.token,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.token) AS rn,
             COUNT(*) OVER (PARTITION BY e.doc_id) AS n
      FROM ex e JOIN tdf d ON d.token = e.token
    ),
    prefix AS (
      SELECT doc_id, token, n FROM ordered
      WHERE rn <= n - ((n * {_SJ_NUM} + {_SJ_DEN - 1}) // {_SJ_DEN}) + 1
    ),
    kept AS (
      SELECT token FROM prefix
      GROUP BY token HAVING COUNT(*) <= {SETJOIN_TOKEN_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM prefix a
      JOIN kept k ON k.token = a.token
      JOIN prefix b ON b.token = a.token AND a.doc_id < b.doc_id
                   AND b.n * {_SJ_NUM} <= a.n * {_SJ_DEN}
                   AND a.n * {_SJ_NUM} <= b.n * {_SJ_DEN}
    ),
    pair_inter AS (
      SELECT c.a_id, c.b_id, MIN(oa.n) AS a_n, MIN(ob.n) AS b_n,
             COUNT(*) AS inter
      FROM cand c
      JOIN ordered oa ON oa.doc_id = c.a_id
      JOIN ordered ob ON ob.doc_id = c.b_id AND ob.token = oa.token
      GROUP BY c.a_id, c.b_id
    )
    {_SETJOIN_FINAL_SQL}
    """,
    doc=f"Prefix-filtered Jaccard >= {SETJOIN_THRESHOLD} join with "
    f"hot-token capping: prefix tokens carried by more than "
    f"{SETJOIN_TOKEN_CAP} docs' prefixes are dropped from blocking "
    "(cap_hot_bands over ('token',) buckets — the same operator that "
    "caps LSH band mega-buckets). SCALE.md §6h measured prefix "
    "crowding on template-generated corpora (candidates/doc 1.7 -> 62 "
    "at 10x); the cap bounds per-token candidate work at O(cap^2) "
    "regardless of corpus growth, trading the losslessness theorem "
    "for a deterministic, oracle-mirrorable recall rule: a pair "
    "survives iff it shares at least one BELOW-CAP prefix token. The "
    "DuckDB oracle replicates the full prefix derivation (df rank, "
    "per-doc prefix, cap, size filter) through window functions, so "
    "the capping rule itself is value-hash-checked. Subset-of-uncapped "
    "and cap-bound properties are pinned in tests/test_operators.py.",
)
def setjoin_prefix_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_jaccard_pairs(
        _silver_shingle_sets(spark, sf_dir),
        SETJOIN_THRESHOLD,
        max_token_bucket=SETJOIN_TOKEN_CAP,
    )


@register(
    "setjoin_prefix_jaccard_silver",
    oracle=REGISTRY["setjoin_prefix_jaccard"].oracle,
    doc="The exact prefix-filtered set-similarity join reading the "
    "MATERIALIZED silver doc_shingles relation (silver.ensure_silver, "
    "built once at ingest) instead of re-deriving shingle sets from "
    "raw text — the second consumer of the silver layer next to "
    "minhash_lsh_dedup_silver, same output and oracle as "
    "setjoin_prefix_jaccard by construction (one derivation in "
    "silver.build_silver_relations). At 100 TB every dedup-family "
    "query starts from these clustered relations; raw text is touched "
    "only at ingest.",
)
def setjoin_prefix_jaccard_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_jaccard_pairs(_silver_shingle_sets(spark, sf_dir),
                                SETJOIN_THRESHOLD)


#: bump when the verified-pair derivation changes (cache invalidation)
SETJOIN_PAIRS_VERSION = "v1"


def ensure_exact_pairs(spark: SparkSession, sf_dir: str, t: float) -> DataFrame:
    """The verified exact Jaccard >= ``t`` pair set as a content-keyed
    persisted relation — keyed by (corpus digest, t as an exact
    rational, derivation version), the same artifact discipline as the
    k-means centroids and PQ codebooks (silver.ensure_artifact).

    VERDICT r9 mandate #3: lsh_dedup_recall_eval re-ran the full
    prefix join for its truth side every bench run although the pair
    set is a pure function of (corpus, t). At deployment scale the
    verified pair set IS a curation output (the relation dedup-drop
    decisions read), so persisting it next to the silver shingle
    relations is the honest 100 TB shape — consumers (acceptance
    evals, drop-list builders, the cross-modal consistency audit) do
    pair-keyed reads, and only a corpus change re-runs the join.
    setjoin_prefix_jaccard itself stays a live computation: its
    oracle re-proves the losslessness theorem each run."""
    import os

    from ..silver import SILVER_VERSION, ensure_artifact

    num, den = _t_frac(t)

    def writer(d: str) -> None:
        prefix_jaccard_pairs(_silver_shingle_sets(spark, sf_dir), t).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "pairs"))

    # params fold in SILVER_VERSION (code-review r10): the pairs derive
    # from the silver doc_shingles relation, so a silver derivation
    # change must invalidate this artifact too — without it a
    # SILVER_VERSION bump would keep serving pairs computed under the
    # old shingle derivation.
    root = ensure_artifact(
        os.path.join(sf_dir, "documents.parquet"),
        "setjoin_pairs",
        f"t={num}/{den}:{SETJOIN_PAIRS_VERSION}:silver={SILVER_VERSION}",
        writer,
    )
    return read_parquet(spark, os.path.join(root, "pairs"))


# -- asymmetric containment join ------------------------------------

#: minimum containment |A∩B|/|A| for the contained side
CONTAINMENT_THRESHOLD = 0.8
_CT_NUM, _CT_DEN = _t_frac(CONTAINMENT_THRESHOLD)
#: ignore sets smaller than this on the contained side — sub-5-shingle
#: docs are near-empty and handled by exact dedup; without the floor a
#: one-shingle doc is "contained" in every doc sharing that shingle
CONTAINMENT_MIN_SET = 5


def containment_pairs(
    sets: DataFrame,
    t: float = CONTAINMENT_THRESHOLD,
    min_set: int = CONTAINMENT_MIN_SET,
    probe_pred=None,
    index_pred=None,
) -> DataFrame:
    """All ORDERED pairs (a contained-in b) with set containment
    |A∩B|/|A| >= ``t`` and |A| >= ``min_set`` — exact result through
    asymmetric prefix filtering.

    The asymmetric prefix guarantee: if |A∩B| >= t|A| then at least
    one of A's first |A| - ceil(t|A|) + 1 tokens (under ANY global
    token order) is in B — otherwise A∩B fits inside A's remaining
    ceil(t|A|) - 1 tokens, contradiction. So the candidate join is
    A-PREFIX tokens against B's FULL token relation (containment puts
    no upper bound on |B|, so B cannot be prefix-pruned), plus the
    size predicate |B| >= t|A| (the intersection can't exceed |B|).
    At t=0.8 the probe prefix carries ~20% of each set's tokens and
    consists of its RAREST tokens, so the full-index postings it
    touches are short — the same frequency-ordering insight PPJoin
    uses, applied one-sided.

    ``probe_pred`` / ``index_pred``: optional doc_id -> Column
    predicates restricting the contained (A) and container (B) sides
    — the incremental crawl-refresh shape probes only the NEW batch
    against the corpus index while the token order (df ranks) stays
    global over both, preserving the prefix guarantee.
    """
    ranked = ranked_sets(sets, t)
    a_ranked = (
        ranked.filter(probe_pred(F.col("doc_id"))) if probe_pred else ranked
    )
    b_ranked = (
        ranked.filter(index_pred(F.col("doc_id"))) if index_pred else ranked
    )
    prefix = a_ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("ordered", 1, F.col("prefix_len"))).alias("p0", "p"),
    ).select(
        "doc_id", "n", (F.col("p0") + 1).alias("pos"),
        F.col("p.token").alias("token"),
    )
    # B side: the full (doc, token) relation, rebuilt from the ranked
    # arrays (already materialized) instead of re-deriving from text;
    # posexplode of `ordered` (not hset) so each token carries its
    # rank in B's global order for the positional filter below
    full = b_ranked.select(
        F.col("doc_id").alias("b_id"),
        F.col("n").alias("b_n"),
        F.posexplode("ordered").alias("p0", "p"),
    ).select(
        "b_id", "b_n", (F.col("p0") + 1).alias("b_pos"),
        F.col("p.token").alias("token"),
    )
    num, den = _t_frac(t)
    pa = prefix.filter(F.col("n") >= min_set).alias("pa")
    fb = full.alias("fb")
    # one-sided positional filter (optimization r12, lossless — same
    # first-shared-token argument as the symmetric join): a match at
    # ranks (pa, pb) bounds |A∩B| by 1 + min(n_a-pa, n_b-pb) when it
    # is the pair's first shared token under the global order; the
    # containment requirement is overlap >= alpha = ceil(t * n_a).
    # Every TRUE pair's first shared token lies in A's prefix (prefix
    # theorem) and passes the bound, so pruning failing matches keeps
    # the result identical while shrinking the verify input.
    alpha = F.expr(f"((pa.n * {num}) + {den - 1}) div {den}")
    candidates = (
        pa.join(
            fb,
            (F.col("pa.token") == F.col("fb.token"))
            & (F.col("pa.doc_id") != F.col("fb.b_id"))
            & (F.col("fb.b_n") * F.lit(den) >= F.col("pa.n") * F.lit(num))
            & (
                F.lit(1)
                + F.least(
                    F.col("pa.n") - F.col("pa.pos"),
                    F.col("fb.b_n") - F.col("fb.b_pos"),
                )
                >= alpha
            ),
        )
        .select(F.col("pa.doc_id").alias("a_id"), F.col("fb.b_id").alias("b_id"))
        .distinct()
    )
    ra = a_ranked.select(
        F.col("doc_id").alias("a_id"),
        F.col("hset").alias("a_hs"),
        F.col("n").alias("a_n"),
    )
    rb = b_ranked.select(
        F.col("doc_id").alias("b_id"), F.col("hset").alias("b_hs")
    )
    inter = F.size(F.array_intersect("a_hs", "b_hs"))
    # filter on the EXACT containment comparison in integer rationals
    # (same reasoning as the Jaccard variant: the losslessness theorem
    # covers TRUE c >= t; t = num/den so c >= t <=> inter*den >= a_n*num)
    return (
        candidates.join(ra, "a_id")
        .join(rb, "b_id")
        .filter(inter * F.lit(den) >= F.col("a_n") * F.lit(num))
        .select(
            "a_id",
            "b_id",
            F.col("a_n").cast("bigint").alias("a_n"),
            inter.cast("bigint").alias("inter"),
            F.round(inter / F.col("a_n"), 6).alias("containment"),
        )
    )


@register(
    "setjoin_containment",
    oracle=f"""
    WITH {_SETJOIN_EX_SQL},
    sized AS (
      SELECT doc_id, token,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM ex
    ),
    pair_inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n AS a_n, COUNT(*) AS inter
      FROM sized a JOIN sized b ON a.token = b.token
                 AND a.doc_id <> b.doc_id
      WHERE a.n >= {CONTAINMENT_MIN_SET}
      GROUP BY a.doc_id, b.doc_id, a.n
    )
    SELECT a_id, b_id, CAST(a_n AS BIGINT) AS a_n,
           CAST(inter AS BIGINT) AS inter,
           ROUND(CAST(inter AS DOUBLE) / a_n, 6) AS containment
    FROM pair_inter
    WHERE inter * {_CT_DEN} >= a_n * {_CT_NUM}
    """,
    doc=f"Exact asymmetric containment join: every ordered doc pair "
    f"where >= {CONTAINMENT_THRESHOLD} of the contained doc's shingle "
    f"set appears in the container's (|A| >= {CONTAINMENT_MIN_SET}) — "
    "the sub-document inclusion case (quoted articles, boilerplate "
    "wrappers, partial copies) that symmetric Jaccard structurally "
    "misses: a doc fully quoted inside one 3x its size has "
    "containment 1.0 but Jaccard 0.33. Candidates come from the "
    "one-sided prefix theorem (A's |A|-ceil(t|A|)+1 rarest tokens "
    "must hit B's full set; B is not prefix-prunable because "
    "containment has no upper size bound), verified exactly on the "
    "full hash sets. The DuckDB oracle computes the same answer "
    "through a full inverted index, so the asymmetric losslessness "
    "claim is value-hash-proven each run. Scale shape: probe side "
    "carries ~(1-t) of corpus tokens (the rare ones -> short "
    "postings); index side is the plain token relation read from the "
    "already-materialized ranked arrays; verification joins candidate "
    "pairs back to int64 hash arrays.",
)
def setjoin_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(_silver_shingle_sets(spark, sf_dir))


#: "newly crawled batch" convention shared with minhash_dedup_incremental
CONTAINMENT_NEW_MOD = 5


@register(
    "containment_incremental",
    oracle=f"""
    WITH {_SETJOIN_EX_SQL},
    sized AS (
      SELECT doc_id, token,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM ex
    ),
    pair_inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n AS a_n, COUNT(*) AS inter
      FROM sized a JOIN sized b ON a.token = b.token
      WHERE a.doc_id % {CONTAINMENT_NEW_MOD} = 0
        AND b.doc_id % {CONTAINMENT_NEW_MOD} <> 0
        AND a.n >= {CONTAINMENT_MIN_SET}
      GROUP BY a.doc_id, b.doc_id, a.n
    )
    SELECT a_id, b_id, CAST(a_n AS BIGINT) AS a_n,
           CAST(inter AS BIGINT) AS inter,
           ROUND(CAST(inter AS DOUBLE) / a_n, 6) AS containment
    FROM pair_inter
    WHERE inter * {_CT_DEN} >= a_n * {_CT_NUM}
    """,
    doc=f"Incremental containment screen (crawl-refresh shape): ONLY "
    f"the new document batch (deterministic 1-in-{CONTAINMENT_NEW_MOD} "
    "of doc_ids, the minhash_dedup_incremental convention) probes the "
    "existing corpus for subsumption — 'is this newly crawled page "
    "just a quote/wrapper of something we already have?' — never "
    "corpus-vs-corpus. The probe side (new docs' prefix tokens) is "
    "tiny and the token order (df ranks) stays global over corpus + "
    "batch, preserving the one-sided prefix guarantee; at 100 TB the "
    "corpus token index is a persisted silver relation and the probe "
    "is a broadcast map-side join. Same exact verify and full-"
    "inverted-index oracle as setjoin_containment, restricted to "
    "new-vs-corpus ordered pairs.",
)
def containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        _silver_shingle_sets(spark, sf_dir),
        probe_pred=lambda d: d % CONTAINMENT_NEW_MOD == 0,
        index_pred=lambda d: d % CONTAINMENT_NEW_MOD != 0,
    )
