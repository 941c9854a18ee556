"""SemDeDup-style semantic deduplication over an embedding column.

The published method (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", public
arXiv): k-means-cluster the embedding space, compare pairs only
WITHIN a cluster, and drop every document whose cosine similarity to
a lower-id cluster-mate exceeds the threshold.  The clustering is
the candidate generator — the LSH-free counterpart of
operators/similarity.embedding_neardup_pairs, preferred when the
corpus already needs cluster structure (curriculum mixing, per-topic
caps) or when duplicates are semantic rather than near-verbatim.

Spark-first shape (100 TB posture; physical plan reworked r8 —
bit-identical results, pinned by tests/test_semdedup_opt.py parity):

- k-means = operators/ivf.train_kmeans — the bit-deterministic
  fixed-shape reduction tree already used by the IVF index, so the
  DuckDB oracle can recompute identical centroids driver-side
  (ivf.train_kmeans_mirror) and mirror the assignment exactly;
- assignment is one vectorized Arrow batch pass
  (ivf.assign_clusters_pd — same left-fold IEEE distance as the JVM
  expression); vectors cross exactly one Exchange (the per-cluster
  groupBy);
- a flooded cluster (boilerplate embeddings all at one point) is
  capped by the partial-agg flood sampler (operators/floodcap.py),
  never a rank window; clusters at or under the cap are EXACT;
- the within-cluster prune is ONE applyInPandas group per cluster
  instead of a cluster self-join exploding ~m^2/2 candidate rows
  through interpreted per-pair lambdas: a float32 GEMM prefilter
  with a proven error margin nominates candidate pairs, and only
  those are recomputed with the exact float64 sequential fold the
  SQL expression performed — every output value is bit-identical
  (see _cluster_prune_fn).  Parallelism = k clusters (the join had
  the same key fan-out); peak memory per group is ~m^2 float32 +
  2 bool masks (~100 MB at the 4096 cap) — size max_cluster to the
  worker.

Returns the REMOVED rows: (id, kept_id, cosine) where kept_id is
the lowest-id qualifying cluster-mate (deterministic witness).

Rows whose cosine evaluates NaN (zero-norm embeddings) follow
Spark/DuckDB NaN ordering (NaN >= threshold is TRUE) and are emitted
with a NULL cosine (NaN crosses the Arrow boundary as pandas NA); the
previous ANSI-mode SQL division simply errored on such rows, so this
is strictly more tolerant.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F

from .floodcap import cap_flooded_buckets
from .ivf import assign_clusters_pd, train_kmeans


def _spark_round6(x: float) -> float:
    """Replicate Spark's ``round(x, 6)`` on doubles bit-for-bit:
    BigDecimal.valueOf(x) (shortest decimal repr — same value as
    Python ``repr``) rounded HALF_UP at 6 decimals; NaN/inf pass
    through unchanged."""
    if math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


#: prefilter slack: float32 GEMM cosine error is bounded by
#: ~gamma_dim(f32) = dim * 2^-24 relative (any summation order, with
#: or without FMA, via |fl(dot) - dot| <= gamma * sum|a_i b_i| and
#: Cauchy-Schwarz sum|a_i b_i| <= ||a|| ||b||), i.e. ~4e-6 at
#: dim=64, ~6e-5 at dim=1024.  1e-3 is a >15x safety margin: every
#: pair whose EXACT cosine reaches the threshold is guaranteed into
#: the candidate set, and every candidate is re-decided by the exact
#: fold — so the float32 pass (and BLAS summation-order freedom)
#: cannot change the output.
_PREFILTER_MARGIN = 1e-3

#: exact-recheck chunk: bounds the (pairs x dim) float64 temporaries
#: when a capped flood makes the candidate set quadratic.
_RECHECK_CHUNK = 1 << 18


def _cluster_prune_fn(threshold: float, id_col: str):
    """applyInPandas body: per-cluster pairwise cosine prune.

    Two-phase, output bit-identical to the previous SQL self-join:

    1. float32 GEMM cosine over the whole group (one sgemm — the
       m^2 x dim work runs at BLAS speed instead of 64 strided
       numpy passes) keeps every pair with approx cosine >=
       threshold - _PREFILTER_MARGIN (plus non-finite entries);
    2. candidates only are recomputed EXACTLY: float64 sequential
       left-fold over dims (np.cumsum == the SQL aggregate(zip_with)
       order), cosine = dot / (na * nb) as IEEE doubles; NaN
       qualifies (Spark NaN ordering); witness = lowest qualifying
       lower id; round replicates Spark HALF_UP."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame({id_col: pd.array([], dtype="int64"),
                              "kept_id": pd.array([], dtype="int64"),
                              "cosine": pd.array([], dtype="float64")})
        if m < 2:
            return empty
        ids_raw = pdf["_id"].to_numpy(np.int64)
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64)
             for v in pdf["_v"].to_numpy()[order]], dtype=np.float64)
        # exact norms: sqrt of the sequential left-fold of squares
        n64 = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])

        # ---- phase 1: float32 prefilter (see docstring for bound)
        m32 = mat.astype(np.float32)
        g = m32 @ m32.T
        n32 = n64.astype(np.float32)
        with np.errstate(divide="ignore", invalid="ignore"):
            g /= np.multiply.outer(n32, n32)
        cand = (g >= np.float32(threshold - _PREFILTER_MARGIN)) \
            | ~np.isfinite(g)
        cand &= np.tri(m, m, -1, dtype=bool).T   # strictly upper: i<j
        ii, jj = np.nonzero(cand)
        if len(ii) == 0:
            return empty

        # ---- phase 2: exact recheck of candidates only
        keep_i, keep_j, keep_c = [], [], []
        for lo in range(0, len(ii), _RECHECK_CHUNK):
            ci = ii[lo:lo + _RECHECK_CHUNK]
            cj = jj[lo:lo + _RECHECK_CHUNK]
            # sequential left-fold over dims == SQL aggregate(zip_with)
            dots = np.cumsum(mat[ci] * mat[cj], axis=1)[:, -1]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (n64[ci] * n64[cj])
            ok = (cos >= threshold) | np.isnan(cos)
            keep_i.append(ci[ok])
            keep_j.append(cj[ok])
            keep_c.append(cos[ok])
        ii = np.concatenate(keep_i)
        if len(ii) == 0:
            return empty
        jj = np.concatenate(keep_j)
        cc = np.concatenate(keep_c)
        srt = np.lexsort((ii, jj))
        ii, jj, cc = ii[srt], jj[srt], cc[srt]
        ju, first = np.unique(jj, return_index=True)
        cosv = np.fromiter(
            (_spark_round6(float(c)) for c in cc[first]),
            dtype=np.float64, count=len(first))
        return pd.DataFrame({id_col: ids[ju],
                             "kept_id": ids[ii[first]],
                             "cosine": cosv})

    return fn


def semantic_dedup(df: DataFrame, k: int = 8, iters: int = 3,
                   threshold: float = 0.95,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int = 4096,
                   centroids: list[list[float]] | None = None,
                   ) -> DataFrame:
    """Cluster-then-prune semantic dedup; see module docstring.

    ``centroids`` lets callers reuse an already-trained IVF
    codebook (index build + dedup in one pass over the corpus).  The
    scalar output is materialized and the internal cache released
    before returning (the LSH pair ops' contract)."""
    if centroids is None:
        centroids = train_kmeans(df, k=k, iters=iters,
                                 id_col=id_col, vec_col=vec_col)
    assigned = assign_clusters_pd(
        df.select(id_col, vec_col), centroids, vec_col,
    ).select(
        "cluster", F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    ).persist()    # flood-count pass + the prune groupBy read this

    capped = cap_flooded_buckets(assigned, ["cluster"], "_id",
                                 max_cluster)
    out = capped.groupBy("cluster").applyInPandas(
        _cluster_prune_fn(threshold, id_col),
        f"{id_col} long, kept_id long, cosine double",
    )
    out = out.localCheckpoint(eager=True)
    assigned.unpersist()
    return out
