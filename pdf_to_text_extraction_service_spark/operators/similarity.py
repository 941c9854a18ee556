"""Similarity search over embedding columns (array<float>).

Two paths (prompt mandate):
- brute_force_topk: exact cosine top-k — the correctness baseline.
  Dot products are one JVM ``aggregate(zip_with(...))`` expression per
  row (whole-stage codegen; no Python). One shuffle for the global
  top-k (rank window over a single ordered column set).
- lsh_topk: the scale path — random-hyperplane LSH buckets; the query
  only scans its own bucket (and optionally multi-probe neighbors).
  At 100 TB the bucketed table is precomputed + partitioned by bucket,
  so a query touches 1/2^bits of the data; the brute path stays as
  the recall oracle.

An IVF variant (k-means coarse quantizer) would need an iterative
trainer; random-hyperplane LSH gives the same pruning shape without
iterative state, so it is the round-1 scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .floodcap import cap_flooded_buckets


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(F.expr(
        f"aggregate({a}, cast(0.0 as double), (acc, v) -> "
        f"acc + cast(v as double) * cast(v as double))"
    ))


def with_cosine(df: DataFrame, query_vec: list[float],
                vec_col: str = "embedding") -> DataFrame:
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = df.withColumn("_q", q)
    return (
        df.withColumn(
            "cosine",
            _dot(vec_col, "_q")
            / (_norm(vec_col) * _norm("_q")),
        )
        .drop("_q")
    )


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k, deterministic tiebreak on id.

    orderBy().limit(k) expresses TakeOrderedAndProject directly —
    each partition keeps its local top-k and only k rows ever reach
    the driver-side merge — rather than a partition-less row_number
    window that relies on the WindowGroupLimit pushdown."""
    scored = with_cosine(df, query_vec, vec_col)
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


def hyperplane_bucket(vec_col: str, planes: list[list[float]]):
    """LSH bucket id: sign bits against fixed random hyperplanes."""
    bits = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"cast({v} as double)" for v in p) + ")"
        bits.append(
            f"(case when aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> cast(x as double) * y), cast(0.0 as double), "
            f"(acc, v) -> acc + v) >= 0 then {1 << i} else 0 end)"
        )
    return F.expr(" + ".join(bits))


def make_planes(dim: int, bits: int = 4, seed: int = 7) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(bits)]


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             bits: int = 4, seed: int = 7) -> DataFrame:
    """Approximate top-k: scan only the query's hyperplane bucket."""
    planes = make_planes(len(query_vec), bits, seed)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qbits |= 1 << i
    bucketed = df.withColumn("_bkt", hyperplane_bucket(vec_col, planes))
    cand = bucketed.filter(F.col("_bkt") == qbits)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def hyperplane_buckets_pd(all_planes: list[list[list[float]]]):
    """All LSH-table bucket ids in ONE Arrow pass: returns an
    array<int> column (one bucket per table).  Bit-identical to
    :func:`hyperplane_bucket` per table — the per-plane dot folds
    sequentially over dims (np.cumsum == the SQL aggregate order)
    and the sign test is the same ``>= 0`` on the identical IEEE
    double, so every bucket bit matches the interpreted JVM
    expression (pinned by tests/test_similarity_opt.py)."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(p, dtype=np.float64) for p in all_planes]

    @pandas_udf("array<int>")
    def _bkts(vs: pd.Series) -> pd.Series:
        vals = vs.to_numpy()
        mask = np.array([v is not None for v in vals])
        if not mask.any():
            return pd.Series([None] * len(vals))
        mat = np.asarray([np.asarray(v, dtype=np.float64)
                          for v in vals[mask]], dtype=np.float64)
        per_table = []
        for planes in mats:
            bits_val = np.zeros(mat.shape[0], dtype=np.int32)
            for i in range(planes.shape[0]):
                # sequential left-fold over dims == SQL aggregate
                dot = np.cumsum(mat * planes[i][None, :],
                                axis=1)[:, -1]
                bits_val |= np.where(dot >= 0.0,
                                     np.int32(1 << i), np.int32(0))
            per_table.append(bits_val)
        stacked = np.stack(per_table, axis=1)   # (rows, tables)
        if mask.all():
            return pd.Series(list(stacked))
        out = np.full(len(vals), None, dtype=object)
        out[mask] = list(stacked)
        return pd.Series(out)

    return _bkts


def _bucket_pairs_fn(threshold: float):
    """applyInPandas body for embedding_neardup_pairs: all verified
    pairs within one (table, bucket) group.

    Same two-phase shape as semdedup._cluster_prune_fn: a float32
    GEMM cosine prefilter with an error-bounded margin nominates
    candidates, the exact float64 sequential fold (== the SQL
    ``_dot/_norm`` expressions) decides — so every emitted cosine is
    bit-identical to the interpreted per-pair path, while the
    ~bucket^2/2 non-duplicate pairs never leave the group (the old
    shape shipped 13M candidate rows through a dropDuplicates
    Exchange and two vector-attach joins at sf1.0 for a 20k-pair
    result).  NaN cosines (zero-norm vectors) qualify, matching
    Spark/DuckDB NaN ordering (the interpreted path raised an ANSI
    divide-by-zero on such rows)."""
    from .semdedup import _PREFILTER_MARGIN

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                              "id_b": pd.array([], dtype="int64"),
                              "cosine": pd.array([], dtype="float64")})
        if m < 2:
            return empty
        ids_raw = pdf["_id"].to_numpy(np.int64)
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64)
             for v in pdf["_v"].to_numpy()[order]], dtype=np.float64)
        n64 = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        m32 = mat.astype(np.float32)
        g = m32 @ m32.T
        n32 = n64.astype(np.float32)
        with np.errstate(divide="ignore", invalid="ignore"):
            g /= np.multiply.outer(n32, n32)
        cand = (g >= np.float32(threshold - _PREFILTER_MARGIN)) \
            | ~np.isfinite(g)
        cand &= np.tri(m, m, -1, dtype=bool).T
        ii, jj = np.nonzero(cand)
        if len(ii) == 0:
            return empty
        dots = np.cumsum(mat[ii] * mat[jj], axis=1)[:, -1]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (n64[ii] * n64[jj])
        ok = (cos >= threshold) | np.isnan(cos)
        ii, jj, cos = ii[ok], jj[ok], cos[ok]
        return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj],
                             "cosine": cos})

    return fn


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.99,
                            tables: int = 4, bits: int = 8,
                            seed: int = 11,
                            max_bucket: int = 256) -> DataFrame:
    """Embedding-cosine NEAR-DUP pairs (the dedup counterpart of
    lsh_topk's search): multi-table random-hyperplane blocking, then
    exact cosine verification inside buckets only — never all-pairs.

    Returns (id_a, id_b, cosine) with id_a < id_b and cosine >=
    threshold. Recall math: a pair at angle θ splits on one plane
    with p = θ/π, shares one table's bucket with (1-p)^bits, and is
    missed entirely with (1-(1-p)^bits)^tables — for true near-dups
    (cosine >= 0.99 → θ <= 8.1°, p <= 0.045) that is < 2e-5 at
    (4 tables × 8 bits). False bucket-mates are removed by the exact
    cosine check, so the output equals the quadratic truth w.h.p.;
    max_bucket caps the per-bucket self-join exactly like the MinHash
    banding cap (boilerplate/zero-vector floods at web scale):
    buckets at or under the cap are exact, flooded buckets keep a
    deterministic hash-prefix sample (operators/floodcap.py) — the
    exact verify means sampling only loses flood-internal pairs,
    never fabricates them.

    The scalar pair output is materialized and the vector/banded
    caches released before returning (minhash_lsh_pairs' contract).
    """
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        return df.sparkSession.createDataFrame(
            [], f"id_a long, id_b long, cosine double")
    dim = dim_row["d"]
    # hash-repartition on the id (deterministic — guide §2.5) so the
    # bucket UDF and the verify joins are not serialized on the
    # scan's few parquet splits
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_v")) \
        .repartition(par, F.col("_id")).persist()
    # all LSH tables in ONE vectorized Arrow pass; the banded
    # relation carries (id, table, bucket) SCALARS only — the old
    # shape both evaluated tables x bits interpreted dot-folds per
    # vector and carried the vector through banding, the candidate
    # join and the pair dropDuplicates (r8: vectors now cross only
    # the two verify joins, after the pair dedup)
    all_planes = [make_planes(dim, bits, seed + t)
                  for t in range(tables)]
    banded = base.select(
        "_id",
        F.posexplode(hyperplane_buckets_pd(all_planes)(F.col("_v")))
        .alias("_tbl", "_bkt"),
    ).persist()
    capped = cap_flooded_buckets(
        banded.join(base, "_id"), ["_tbl", "_bkt"], "_id", max_bucket)
    # per-bucket verified pairs (GEMM prefilter + exact fold inside
    # the group — see _bucket_pairs_fn); only qualifying pairs reach
    # the cross-table dropDuplicates, with their bit-exact cosine
    pairs = capped.groupBy("_tbl", "_bkt").applyInPandas(
        _bucket_pairs_fn(threshold),
        "id_a long, id_b long, cosine double")
    out = (
        pairs.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
    out = out.localCheckpoint(eager=True)
    banded.unpersist()
    base.unpersist()
    return out
