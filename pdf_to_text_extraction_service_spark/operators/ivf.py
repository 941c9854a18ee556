"""IVF (inverted-file) approximate nearest neighbor — the trained
scale path beyond hyperplane LSH (operators/similarity.py).

Coarse quantizer = k-means trained with DataFrame-only Lloyd
iterations (posexplode → per-(cluster, dim) means → re-broadcast), so
training is fully distributed; centroids are tiny and come back to
the driver only between iterations (k × dim floats). The index is the
vector table with a ``cluster`` column — at 100 TB you write it
partitioned by cluster so a query scans nprobe/k of the data.

Determinism: initial centroids are the k lowest-id vectors; no RNG,
no wall clock.  Since round 3 the per-(cluster, dim) means are
BIT-deterministic too: instead of ``avg`` (whose float sum follows
Spark's nondeterministic partition order), values fold through a
fixed-shape reduction tree — left-fold in ``vec_id`` order inside
fixed id-blocks of 4096, then left-fold the block sums in block
order.  The tree shape depends only on the ids, never on the
physical partitioning, so the same corpus yields the same IEEE-754
centroid on every run, on any cluster size — which is what lets a
DuckDB/numpy oracle mirror the index exactly
(``train_kmeans_mirror`` below).  Block folds are bounded
(``collect_list`` ≤ 4096 structs), so the shape survives scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import brute_force_topk


def _dist2_expr(vec_col: str, centroid: list[float]) -> str:
    arr = "array(" + ",".join(f"cast({float(v)} as double)" for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def assign_clusters(df: DataFrame, centroids: list[list[float]],
                    vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment as one JVM expression (argmin over
    k squared distances via struct-least).

    Reference implementation: interpreted higher-order functions cost
    k x dim lambda evaluations per row; the vectorized Arrow path
    (:func:`assign_clusters_pd`, bit-identical — pinned by
    tests/test_ivf.py) is the hot-path variant."""
    structs = ", ".join(
        f"struct({_dist2_expr(vec_col, c)} as d, {i} as c)"
        for i, c in enumerate(centroids)
    )
    return df.withColumn(
        "cluster", F.expr(f"array_min(array({structs})).c")
    )


def _argmin_dist2(mat, cents):
    """(rows, k) argmin of the SEQUENTIAL left-fold squared distance —
    the exact IEEE sum `aggregate(zip_with(...))` computes (np.cumsum
    is defined sequentially; np.sum is pairwise and would differ in
    the last bits).  First minimum == lowest cluster, matching
    array_min over struct(d, c)."""
    d2 = np.empty((mat.shape[0], len(cents)), dtype=np.float64)
    for c in range(len(cents)):
        diff2 = (mat - cents[c][None, :]) ** 2
        d2[:, c] = np.cumsum(diff2, axis=1)[:, -1]
    return np.argmin(d2, axis=1)


def assign_clusters_pd(df: DataFrame, centroids: list[list[float]],
                       vec_col: str = "embedding") -> DataFrame:
    """Vectorized nearest-centroid assignment (Arrow pandas_udf) —
    bit-identical to :func:`assign_clusters` (same left-fold squared
    distance per `_argmin_dist2`, ties to the lowest cluster), one
    numpy pass per batch instead of k x dim interpreted lambdas per
    row (guide §4.2)."""
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        vals = vs.to_numpy()
        mask = np.array([v is not None for v in vals])
        if not mask.any():
            return pd.Series([None] * len(vals))
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vals[mask]],
            dtype=np.float64)
        assign = _argmin_dist2(mat, cents)
        if mask.all():
            return pd.Series(assign.astype(np.int32))
        out = np.full(len(vals), None, dtype=object)
        out[mask] = [int(a) for a in assign]
        return pd.Series(out)

    return df.withColumn("cluster", _assign(F.col(vec_col)))


#: id-block width of the deterministic reduction tree — values fold
#: left-to-right inside a block, block sums fold in block order.
FOLD_BLOCK = 4096


def train_kmeans(df: DataFrame, k: int = 16, iters: int = 5,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[float]]:
    """Distributed Lloyd iterations; returns k centroids.

    The per-(cluster, dim) mean uses the fixed-shape reduction tree
    described in the module docstring, so the result is bit-identical
    across runs and across cluster sizes (mirrored by
    ``train_kmeans_mirror`` for the DuckDB oracle).

    Physical shape (r8 — guide §2.4/§4.2; bit-identical to the
    previous posexplode implementation, kept as the parity reference
    ``train_kmeans_reference`` in tests/reference/ivf.py and pinned
    by tests/test_semdedup_opt.py):

    - the vector table is aggregated ONCE into one vid-sorted member
      list per FOLD_BLOCK id-block (a DECLARED groupBy — see the
      inline note on why physical repartition co-location is not a
      grouping contract under AQE) and cached: one Exchange of the
      vectors total, vs 2 shuffles of n x dim exploded rows per
      iteration before;
    - each iteration is one Arrow mapInPandas pass (numpy assignment
      + per-(cluster, block) ordered-fold block sums — np.cumsum is
      a sequential fold, matching the SQL aggregate exactly) plus a
      tiny shuffle of (cluster, blk, bsum) rows — ~n/FOLD_BLOCK x k
      scalar-array rows, independent of corpus width;
    - per-cluster block-sum folds (blk ascending) run in
      applyInPandas, k rows come back to the driver per iteration.

    Ids are assumed unique (the callers' contract: vec_id keys /
    xxhash64-deduped doc ids); duplicate ids would make the fold
    order within a block underspecified in BOTH implementations.
    """
    init = (
        df.orderBy(id_col).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in init]
    if not centroids:
        return centroids
    k_eff = len(centroids)

    # one row per FOLD_BLOCK id-block via a DECLARED aggregation
    # (collect_list bounded by the block width; sort_array orders
    # members by vid — unique — so every block row carries its
    # members in fold order).  A physical repartition by _blk is NOT
    # a co-location contract: AQE can rewrite the shuffle read to
    # local mode under MapInPandas (observed on the SimHash bucket
    # pass — see neardup._simhash_bucket_pairs_fn), which would
    # split id-blocks across tasks and break the bit-deterministic
    # fold.  The aggregation makes each block row self-contained.
    prep = df.select(
        F.col(id_col).alias("_vid"),
        (F.col(id_col) / F.lit(FOLD_BLOCK)).cast("long").alias("_blk"),
        F.col(vec_col).alias("_v"),
    ).groupBy("_blk").agg(
        F.sort_array(F.collect_list(F.struct("_vid", "_v")))
        .alias("_rows")
    ).persist()

    def _block_sums(cents):
        carr = np.asarray(cents, dtype=np.float64)

        def fn(it):
            for pdf in it:
                out_c, out_b, out_n, out_s = [], [], [], []
                for blk, members in zip(pdf["_blk"], pdf["_rows"]):
                    mat = np.asarray(
                        [np.asarray(r["_v"], dtype=np.float64)
                         for r in members], dtype=np.float64)
                    assign = _argmin_dist2(mat, carr)
                    for c in np.unique(assign):
                        sel = assign == c       # keeps vid order
                        # ordered fold inside the id-block: cumsum is
                        # the sequential left-fold of the SQL aggregate
                        out_s.append(
                            np.cumsum(mat[sel], axis=0)[-1].tolist())
                        out_c.append(int(c))
                        out_b.append(int(blk))
                        out_n.append(int(sel.sum()))
                if out_c:
                    yield pd.DataFrame({
                        "cluster": np.asarray(out_c, dtype=np.int32),
                        "blk": np.asarray(out_b, dtype=np.int64),
                        "bn": np.asarray(out_n, dtype=np.int64),
                        "bsum": out_s,
                    })

        return fn

    def _fold_cluster(pdf):
        pdf = pdf.sort_values("blk")
        m = np.asarray([np.asarray(b, dtype=np.float64)
                        for b in pdf["bsum"]], dtype=np.float64)
        tot = np.cumsum(m, axis=0)[-1]   # blk-ascending ordered fold
        n = int(pdf["bn"].sum())
        return pd.DataFrame({
            "cluster": [int(pdf["cluster"].iloc[0])],
            "centroid": [(tot / np.float64(n)).tolist()],
        })

    try:
        for _ in range(iters):
            rows = (
                prep.mapInPandas(
                    _block_sums(centroids),
                    "cluster int, blk long, bn long, bsum array<double>")
                .groupBy("cluster")
                .applyInPandas(_fold_cluster,
                               "cluster int, centroid array<double>")
                .collect()
            )
            new = {r["cluster"]: [float(v) for v in r["centroid"]]
                   for r in rows}
            centroids = [new.get(i, centroids[i]) for i in range(k_eff)]
    finally:
        prep.unpersist()
    return centroids


def train_kmeans_mirror(ids, vecs, k: int = 16,
                        iters: int = 5) -> list[list[float]]:
    """Driver-side bit-exact mirror of :func:`train_kmeans` (numpy;
    no Spark).  Used by the DuckDB oracle to recompute the centroids
    the engine trained, and by tests to pin the determinism claim.

    ``ids``/``vecs``: parallel sequences (any order) of vec ids and
    float32-or-float64 vectors.  Every float op replicates the Spark
    expression: values cast to double, distances folded left-to-right
    over dims, sums folded through the same FOLD_BLOCK reduction
    tree in id order."""
    import numpy as np

    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")
    ids_s = np.asarray(ids, dtype=np.int64)[order]
    mat = np.asarray(
        [vecs[i] for i in order], dtype=np.float64)  # float32 -> double, exact
    n, dim = mat.shape
    centroids = [list(map(float, mat[i])) for i in range(min(k, n))]
    blk = ids_s // FOLD_BLOCK
    for _ in range(iters):
        cmat = np.asarray(centroids, dtype=np.float64)
        # per-(vec, centroid) squared distance with a SEQUENTIAL
        # left-fold over dims (np.cumsum is defined sequentially) —
        # same IEEE sum as Spark's aggregate(zip_with(...)).
        diff2 = (mat[:, None, :] - cmat[None, :, :]) ** 2
        d2 = np.cumsum(diff2, axis=2)[:, :, -1]
        assign = np.argmin(d2, axis=1)  # first minimum = lowest cluster
        new = []
        for c in range(len(centroids)):
            sel = assign == c
            if not sel.any():
                new.append(centroids[c])
                continue
            sub = mat[sel]
            sub_blk = blk[sel]
            cent = []
            for d in range(dim):
                tot = 0.0
                for b in np.unique(sub_blk):  # ascending block order
                    col = sub[sub_blk == b, d]
                    bsum = float(np.cumsum(col)[-1]) if len(col) else 0.0
                    tot += bsum
                cent.append(tot / float(len(sub)))
            new.append(cent)
        centroids = new
    return centroids


def build_ivf_index(df: DataFrame, k: int = 16, iters: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Returns (indexed_df, centroids). Persist indexed_df partitioned
    by ``cluster`` for pruned scans at scale."""
    centroids = train_kmeans(df, k, iters, id_col, vec_col)
    return assign_clusters(df, centroids, vec_col), centroids


def write_ivf_index(df: DataFrame, path: str, k: int = 16,
                    iters: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build ONCE, query many: persist the clustered vector table
    partitioned by ``cluster`` (so a query's nprobe filter becomes
    parquet partition PRUNING — untouched clusters are never read)
    plus the k centroids as a tiny side table. At 100 TB this is the
    index build job; queries never retrain."""
    indexed, centroids = build_ivf_index(df, k, iters, id_col, vec_col)
    indexed.write.mode("overwrite").partitionBy("cluster") \
        .parquet(f"{path}/vectors")
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(spark, path: str):
    """Returns (indexed_df, centroids). The vectors df is the
    partition-pruned parquet scan; centroids come back to the driver
    (k x dim floats — tiny)."""
    indexed = spark.read.parquet(f"{path}/vectors")
    rows = spark.read.parquet(f"{path}/centroids").collect()
    by_cluster = {r["cluster"]: [float(v) for v in r["centroid"]]
                  for r in rows}
    centroids = [by_cluster[i] for i in range(len(by_cluster))]
    return indexed, centroids


def ivf_topk(indexed: DataFrame, centroids: list[list[float]],
             query_vec: list[float], topk: int = 10, nprobe: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Scan only the nprobe nearest clusters; exact rerank inside."""
    q = [float(v) for v in query_vec]
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum((x - y) ** 2 for x, y in zip(centroids[i], q)),
    )
    probe = order[:nprobe]
    cand = indexed.filter(F.col("cluster").isin(probe))
    return brute_force_topk(cand, q, topk, id_col, vec_col)
