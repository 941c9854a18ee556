"""Parity references for ``operators/neardup.py``: the pure-JVM
shingle/MinHash/SimHash expressions and the chained per-stage Arrow
UDFs that ``minhash_prep_fn`` and ``simhash64_text_udf`` replaced."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.neardup import (
    _MERSENNE,
    SIM_MIX,
    SIM_PRIME,
    _perm_coeffs,
    _shingle_ids_chunk,
)

# ------------------------------------------------------------- shingling


def word_shingles(text_col: str, n: int = 3):
    """Word n-gram shingles as an array<string> expression (JVM-side:
    transform over a sequence of start offsets)."""
    return F.expr(
        f"transform(sequence(0, greatest(size(split({text_col}, ' ')) - {n}, 0)), "
        f"i -> array_join(slice(split({text_col}, ' '), i + 1, {n}), ' '))"
    )


# --------------------------------------------------------------- minhash


def shingle_hashes(shingle_col: str):
    """Shingle strings → 31-bit xxhash ids (ONE string-hash pass; the
    k permutations then run integer arithmetic only)."""
    return F.expr(
        f"transform({shingle_col}, s -> xxhash64(s) & {_MERSENNE}L)"
    )


def minhash_signature(hash_col: str, k: int = 64, seed: int = 1):
    """k-permutation MinHash over pre-hashed shingle ids
    (shingle_hashes) — pure-JVM variant.

    h_i(x) = (a_i * x + b_i) mod M31, one JVM expression per
    permutation; array_min folds each. Seeds derive deterministically
    from ``seed`` (no wall clock anywhere). Kept as the reference
    implementation / cross-check for minhash_signature_udf; k
    interpreted HOF passes make it the slower path for large k.
    """
    mins = [
        F.array_min(
            F.expr(
                f"transform({hash_col}, x -> "
                f"(({a}L * x + {b}L) % {_MERSENNE}L))"
            )
        )
        for a, b in _perm_coeffs(k, seed)
    ]
    return F.array(*mins)


def minhash_signature_udf(k: int = 64, seed: int = 1):
    """Vectorized MinHash signatures: one Arrow-batched pandas_udf
    computing all k permutations with a single numpy matmul-shaped
    pass ((k x 1) * (1 x N) broadcast, then per-row segment min).

    Bit-identical to minhash_signature (same coefficients, same
    int64 arithmetic: a, x < 2^31 so a*x + b < 2^62 never overflows),
    but ~one numpy kernel per batch instead of k interpreted HOF
    passes per row. The signature is the ONLY Python hop in the LSH
    pipeline; shingle string-hashing stays JVM-side (xxhash64).
    """
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(k, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    @pandas_udf("array<bigint>")
    def _sig(xs: pd.Series) -> pd.Series:
        arrs = [np.asarray(v, dtype=np.int64) for v in xs]
        lens = np.array([len(v) for v in arrs], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([None] * len(arrs))
        flat = np.concatenate([v for v in arrs if len(v)]) \
            if len(arrs) else np.empty(0, np.int64)
        m = (A * flat[None, :] + B) % _MERSENNE  # k x N, one pass
        out, lo = [], 0
        for n in lens:
            if n == 0:
                out.append(None)  # array_min([]) is null in the JVM path
                continue
            out.append(m[:, lo:lo + n].min(axis=1))
            lo += n
        return pd.Series(out)

    return _sig


def shingle_hash_ids_udf(n: int = 3):
    """text -> DISTINCT 31-bit shingle-hash ids in one Arrow batch
    pass — bit-identical to the JVM chain
    ``array_distinct(shingle_hashes(array_distinct(
    shingles_from_tokens(split(text, ' '), n))))`` (pinned by
    tests/test_minhash_opt.py):

    - split/slice/array_join replicated with Python string ops
      (identical semantics for the literal-space split, the
      whole-array shingle when the text has fewer than n tokens,
      and first-occurrence distinct);
    - the per-shingle ``xxhash64(s) & M31`` runs through the
      vectorized XXH64 (operators/xxh64np.py, seed 42 — Spark's) on
      the whole batch instead of building every shingle string with
      interpreted ``array_join(slice(...))`` lambdas and hashing
      row-at-a-time (the dominant cost of dedup_minhash_lsh);
    - NULL text -> [42]: the JVM chain builds a single NULL shingle
      (slice of a NULL token array), and ``xxhash64(NULL)`` returns
      the seed — replicated literally so null rows band identically.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _ids(texts: pd.Series) -> pd.Series:
        return pd.Series(_shingle_ids_chunk(texts.tolist(), n))

    return _ids


# --------------------------------------------------------------- simhash


def _sim_tokhash(base: int, mult: int, add: int) -> str:
    # acc < 2^31, so acc*41 + c < 2^37; h*mult < 2^62 — safe in
    # BIGINT both engines (no overflow under Spark ANSI mode).
    return (f"(aggregate(filter(split(t, ''), c -> c <> ''), 0L, "
            f"(acc, c) -> (acc * {base}L + ascii(c)) % {SIM_PRIME}L) "
            f"* {mult}L + {add}L) % {SIM_PRIME}L")


def simhash64(text_col: str):
    """64-bit SimHash over whitespace tokens — single hashing pass.

    The token-hash array is the ``aggregate`` INPUT, so each token is
    hashed exactly once (previously: re-split + re-hashed per bit,
    64x redundant). The merge lambda updates all 64 counters per
    token (zip_with over the counter array); the finish lambda folds
    counters into sign bits.
    """
    th = (f"transform(split({text_col}, ' '), t -> "
          "array(" + ", ".join(_sim_tokhash(*m) for m in SIM_MIX) + "))")
    return F.expr(
        f"aggregate({th}, "
        "array_repeat(0, 64), "
        "(acc, h) -> zip_with(acc, sequence(0, 63), (a, bit) -> a + "
        "(case when (shiftright(element_at(h, cast(bit div 31 as int) + 1), "
        "bit % 31) & 1) = 1 then 1 else -1 end)), "
        "acc -> aggregate(zip_with(acc, sequence(0, 63), (c, bit) -> "
        "case when c >= 0 then shiftleft(1L, bit) else 0L end), "
        "0L, (s, v) -> s + v))"
    )


def sim_token_hashes(text_col: str):
    """The per-token 3-hash arrays (the simhash64 aggregate input) as
    a standalone column expression — hashing stays JVM-side so the
    DuckDB oracle can mirror it character-for-character."""
    return F.expr(
        f"transform(split({text_col}, ' '), t -> "
        "array(" + ", ".join(_sim_tokhash(*m) for m in SIM_MIX) + "))"
    )


def simhash64_udf():
    """Vectorized bit-fold: one Arrow batch in, signatures out. Takes
    the sim_token_hashes column; per row computes the (tokens x 64)
    sign matrix with numpy broadcasting instead of 64 interpreted
    counter updates per token. Bit-identical to simhash64 (same
    hashes, same count>=0 rule, empty token array → all bits set)."""
    from pyspark.sql.functions import pandas_udf

    bits = np.arange(64)
    idx = bits // 31
    sh = bits % 31
    weights = (np.uint64(1) << bits.astype(np.uint64))

    @pandas_udf("bigint")
    def _sig(ths: pd.Series) -> pd.Series:
        out = np.empty(len(ths), dtype=np.int64)
        for r, row in enumerate(ths):
            if row is None or len(row) == 0:
                out[r] = -1  # all-zero counters → every bit set
                continue
            h = np.asarray(list(row), dtype=np.int64)      # (T, 3)
            b = (h[:, idx] >> sh) & 1                      # (T, 64)
            counts = (2 * b - 1).sum(axis=0)
            sig = (weights[counts >= 0]).sum(dtype=np.uint64)
            out[r] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    return _sig
