"""Vectorized (numpy int64) kernels for the quantized k-means / PQ
assignment folds — the one production implementation of every
quantized assignment: the registered queries, the k-means / PQ /
IVF-PQ trainers (``operators.clustering.kmeans_centroids``) and the
streaming SemDeDup twin all run them.

Written as Spark higher-order functions (``F.aggregate(F.zip_with(
...))`` per centroid), the same argmin runs INTERPRETED per array
element (no codegen), so one map-only assignment pass costs rows x K x
dim x ~4 interpreted expression evaluations. These kernels hand the
same arithmetic to numpy as ONE integer GEMM per Arrow batch (guide
§4.2 "do the heavy lifting in native code inside the UDF"), via
``mapInPandas`` with the centroid / codebook relations collected once
per call (they are K-row artifact reads — the control-plane-scalar
shape, same as the repo's bucket-list collects). The expression
formulation survives only as the test reference
(tests/reference_ops.py) that pins kernel == expression.

BIT-EXACTNESS CONTRACT (what makes this a safe swap under the hash
oracle): every input is an int64 micro-unit vector (``quantize_expr``)
and every output is an int64 distance / index, so there is NO
summation-order sensitivity — ``||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2``
computed by GEMM equals the elementwise fold exactly, in any order.
Overflow headroom is asserted per batch (components must stay below
2^27, vs ~2e6 for unit-scale embeddings; 64 * (2*2^27)^2 < 2^63).
Argmin tie-breaks replicate the expression form's struct-max order:
centroid/codebook rows are sorted ascending by id and numpy argmin
returns the FIRST minimum — i.e. the smallest id — exactly the
``(neg_d, neg_id)`` struct-max rule.

The FLOAT (cosine) assignment paths (``operators.similarity``) are
deliberately NOT kernelized: a GEMM accumulates doubles in a different
order than the sequential fold, which can flip a last-ulp rounding the
hash oracle would catch. Only the integer-exact quantized family is
safe, and it is the expensive one.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: overflow guard: with |component| < 2^27 every GEMM term fits int64
#: (64 * (2^28)^2 = 2^64 / 2 > max |d2| contribution actually used;
#: see module docstring) — unit-scale embeddings quantize to ~2e6,
#: a 64x margin
_MAX_ABS = 1 << 27


def _collect_matrix(rel: DataFrame, id_col: str, vec_col: str, what: str):
    """Collect a tiny (id, vector) relation to a numpy int64 matrix,
    rows sorted ascending by id (the argmin tie-break order). An empty
    relation has no nearest row to assign to: ``ValueError`` naming
    ``what``."""
    import numpy as np

    rows = rel.select(id_col, vec_col).collect()
    if not rows:
        raise ValueError(f"{what} relation is empty: nothing to assign to")
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype="int64")
    mat = np.array([r[1] for r in rows], dtype="int64")
    if mat.size and abs(mat).max() >= _MAX_ABS:
        raise ValueError("centroid component exceeds int64 GEMM headroom")
    return ids, mat


def _stack(series) -> "object":
    import numpy as np

    arr = np.array(series.tolist(), dtype="int64")
    if arr.size and abs(arr).max() >= _MAX_ABS:
        raise ValueError("vector component exceeds int64 GEMM headroom")
    return arr


def _d2_all(v, c):
    """Exact squared-L2 distance matrix (n x K) between int64 row
    matrices — GEMM form, exact by integrality (module docstring)."""
    return (
        (v * v).sum(axis=1, keepdims=True)
        - 2 * (v @ c.T)
        + (c * c).sum(axis=1, keepdims=True).T
    )


def kmeans_assign_kernel(
    vecs: DataFrame,
    cents: DataFrame,
    include_qv: bool = True,
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only nearest-centroid assignment as one numpy GEMM per
    Arrow batch. ``vecs``: (``id_col``, qv); ``cents``: (cluster_id,
    cv). Returns (``id_col``, qv, cluster, d2): int64 distances, ties
    -> smallest cluster_id via argmin over id-sorted rows. Raises
    ``ValueError`` when ``cents`` is empty. ``include_qv=False``
    drops the vector from the output so consumers that never read it
    (the plain assignment query) don't pay its Python->JVM transfer
    (guide §4.1: pass only the columns the function needs — in both
    directions)."""
    import pandas as pd

    ids, C = _collect_matrix(cents, "cluster_id", "cv", "centroid")

    out_cols = [id_col] + (["qv"] if include_qv else []) + ["cluster", "d2"]
    schema = ", ".join(
        {
            id_col: f"{id_col} bigint",
            "qv": "qv array<bigint>",
            "cluster": "cluster bigint",
            "d2": "d2 bigint",
        }[c]
        for c in out_cols
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack(pdf["qv"])
            d2 = _d2_all(v, C)
            j = d2.argmin(axis=1)
            out = {id_col: pdf[id_col].to_numpy()}
            if include_qv:
                out["qv"] = pdf["qv"]
            out["cluster"] = ids[j]
            out["d2"] = d2[np.arange(len(j)), j]
            yield pd.DataFrame(out)

    return vecs.select(id_col, "qv").mapInPandas(run, schema)


def silhouette_kernel(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-vector (cluster, a2, b2): own-cluster and second-nearest
    squared distances to the trained centroids — the
    ``cluster_silhouette`` scan pass as one GEMM + partial sort.
    Tie-break identical to the expression path: distances carry the
    centroid id as secondary key ((d2, cid) struct order), replicated
    here by lexsort-free argpartition over (d2, id-sorted rows) —
    numpy argmin/argpartition on id-ordered rows break d2 ties toward
    the smaller id, matching array_min's struct order."""
    import pandas as pd

    ids, C = _collect_matrix(cents, "cluster_id", "cv", "centroid")
    if len(ids) < 2:
        # ADVICE r12: with one centroid the expression path's b2 is
        # NULL (array_min of an empty filtered array), which the
        # int64-max sentinel below would silently misreport — refuse
        # loudly instead (every in-repo caller trains K=16)
        raise ValueError("silhouette_kernel requires >= 2 centroids")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack(pdf["qv"])
            d2 = _d2_all(v, C)
            n = len(v)
            j1 = d2.argmin(axis=1)
            rows = np.arange(n)
            a2 = d2[rows, j1]
            # second-best: mask the winner with +inf-like sentinel
            # (int64 max), re-argmin — ties again break to smaller id
            d2m = d2.copy()
            d2m[rows, j1] = np.iinfo("int64").max
            j2 = d2m.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "cluster": ids[j1],
                    "a2": a2,
                    "b2": d2m[rows, j2],
                }
            )

    return vecs.select("qv").mapInPandas(run, "cluster bigint, a2 bigint, b2 bigint")


def pq_kernel(
    vecs: DataFrame,
    books: list[DataFrame],
    dim: int,
    cells: DataFrame | None = None,
    emit_codes: bool = False,
    emit_err: bool = False,
    emit_cluster: bool = False,
    id_col: str = "vec_id",
) -> DataFrame:
    """The PQ corpus pass — (optional) coarse assignment + residual,
    then the per-subspace codebook argmin — fused into ONE map pass
    (guide §2.4: the expression formulation ran assignment and encode
    as separate crossJoin+fold projections).

    Emits, per input row and in this column order: ``id_col``,
    ``cluster`` (when ``emit_cluster``; requires ``cells``),
    ``code_0..code_{M-1}`` (when ``emit_codes``), ``err`` (when
    ``emit_err``: the total quantization error). Ties break to the
    smaller code id. Raises ``ValueError`` when ``cells`` or a
    codebook is empty."""
    import pandas as pd

    m_sub = len(books)
    sub_len = dim // m_sub
    book_mats = [
        _collect_matrix(b, "cluster_id", "cv", f"codebook {m}")
        for m, b in enumerate(books)
    ]
    cell_mat = (
        _collect_matrix(cells, "cluster_id", "cv", "IVF cell")
        if cells is not None
        else None
    )

    cols = [f"{id_col} bigint"]
    if emit_cluster:
        cols.append("cluster bigint")
    if emit_codes:
        cols += [f"code_{m} int" for m in range(m_sub)]
    if emit_err:
        cols.append("err bigint")
    schema = ", ".join(cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack(pdf["qv"])
            n = len(v)
            rows = np.arange(n)
            out = {id_col: pdf[id_col].to_numpy()}
            x = v
            if cell_mat is not None:
                cids, CC = cell_mat
                dc = _d2_all(v, CC)
                jc = dc.argmin(axis=1)
                if emit_cluster:
                    out["cluster"] = cids[jc]
                x = v - CC[jc]
                # residual headroom (ADVICE r12): inputs are < 2^27
                # but the difference can reach ~2^28, outside the
                # input guard — re-assert here so the documented
                # every-GEMM-term-fits-int64 invariant holds for the
                # residual GEMMs too: sub_len * (2*2^28)^2 = 2^62
                # < 2^63 at the max sub_len=16 this operator admits
                if x.size and abs(x).max() >= (1 << 28):
                    raise ValueError(
                        "residual component exceeds int64 GEMM headroom"
                    )
            err = np.zeros(n, dtype="int64") if emit_err else None
            for m in range(m_sub):
                bids, B = book_mats[m]
                xs = x[:, m * sub_len : (m + 1) * sub_len]
                d2 = _d2_all(xs, B)
                j = d2.argmin(axis=1)
                if emit_codes:
                    out[f"code_{m}"] = bids[j].astype("int32")
                if emit_err:
                    err += d2[rows, j]
            if emit_err:
                out["err"] = err
            yield pd.DataFrame(out)

    return vecs.select(id_col, "qv").mapInPandas(run, schema)
