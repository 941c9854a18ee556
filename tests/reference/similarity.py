"""Parity reference for ``operators/similarity.py``: the standalone
Arrow exact-cosine UDF, checked against the SQL ``_dot`` / ``_norm``
fold that the engine's in-group pair verifiers reproduce."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def cosine_exact_pd(va_col: str, vb_col: str):
    """Exact pairwise cosine as one vectorized Arrow pass —
    bit-identical to ``_dot(a, b) / (_norm(a) * _norm(b))`` (same
    sequential folds, same IEEE division).  Zero-norm pairs yield
    NaN, which crosses the Arrow boundary as NULL.  This matches the
    engine's pair verifiers (``similarity._bucket_pairs_fn``,
    ``semdedup._cluster_prune_fn``): there a NaN cosine qualifies
    (Spark/DuckDB NaN ordering, NaN >= threshold) and the pair is
    emitted with a NULL cosine.  The interpreted path raised an ANSI
    DIVIDE_BY_ZERO error on such rows."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.asarray([np.asarray(v, dtype=np.float64) for v in va],
                       dtype=np.float64)
        b = np.asarray([np.asarray(v, dtype=np.float64) for v in vb],
                       dtype=np.float64)
        if a.size == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        dots = np.cumsum(a * b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dots / (na * nb))

    return _cos(F.col(va_col), F.col(vb_col))
