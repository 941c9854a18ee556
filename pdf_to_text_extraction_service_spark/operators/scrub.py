"""PII scrubbing + deterministic stratified sampling — two staples of
a web-scale training-data pipeline that sit between extraction and
training (the ROOTS/RedPajama-style prep stages).

Both are pure JVM expressions:
- scrub_pii: ordered regexp_replace passes (email → ip → phone). The
  patterns are written in the common subset of Java regex and RE2 so
  the DuckDB oracle matches them byte-for-byte.
- stratified_sample: per-stratum keep rates decided by a cross-engine
  rolling hash of the key column (operators/textstats.polyhash) —
  deterministic, resumable (re-running selects the same rows, unlike
  rand()-based sampling), and seedable via ``salt``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import FP_MOD, polyhash

# poly*mult < 1e9 * 1.8e9 < 2^61 — safe in BIGINT in both engines.
_MIX_MULT = 1812433253
_MIX_ADD = 104729

# Ordered (pattern, replacement) passes. Java-regex/RE2 common subset:
# no backrefs, no lookaround.
PII_PASSES: tuple[tuple[str, str], ...] = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d[\d() -]{7,}\d", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text",
              out_col: str = "scrubbed") -> DataFrame:
    col = F.col(text_col)
    for pat, repl in PII_PASSES:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out_col, col)


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 1.0,
                      salt: int = 0, denom: int = 1_000_000) -> DataFrame:
    """Keep each row iff hash(key, salt) % denom < rate[stratum] *
    denom. The hash is the cross-engine polyhash, salted by prefixing
    the key — so both engines (and any rerun) select identical rows,
    and changing ``salt`` draws an independent sample."""
    keyed = f"concat('{salt}:', {key_col})"
    # Affine finalizer: a bare rolling hash of a SHORT key is nearly
    # sequential in the key (no modulus wrap), which would make the
    # sample a contiguous id range; the multiply-mod permutation
    # spreads consecutive hashes across the whole space (same fix as
    # neardup.SIM_MIX).
    h = ((polyhash(keyed) * F.lit(_MIX_MULT) + F.lit(_MIX_ADD))
         % F.lit(FP_MOD)) % denom
    rate = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        thresh = F.lit(int(r * denom))
        rate = F.when(cond, thresh) if rate is None \
            else rate.when(cond, thresh)
    rate = (rate.otherwise(F.lit(int(default_rate * denom)))
            if rate is not None else F.lit(int(default_rate * denom)))
    return df.filter(h < rate)


def stratified_sample_sql(key_expr: str, strata_expr: str,
                          rates: dict[str, float],
                          default_rate: float = 1.0, salt: int = 0,
                          denom: int = 1_000_000) -> str:
    """DuckDB WHERE-clause mirror of stratified_sample."""
    keyed = f"('{salt}:' || {key_expr})"
    h = (
        "((list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(list_filter(string_split_regex({keyed}, ''), "
        "c -> c <> ''), c -> unicode(c)::BIGINT)), "
        f"(a, c) -> (a * 31 + c) % {FP_MOD}) "
        f"* {_MIX_MULT} + {_MIX_ADD}) % {FP_MOD})"
    )
    branches = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN {int(r * denom)}"
        for s, r in sorted(rates.items())
    )
    rate = f"(CASE {branches} ELSE {int(default_rate * denom)} END)"
    return f"(({h}) % {denom}) < {rate}"


def normalize_nfc(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  out_col: str = "nfc_text") -> DataFrame:
    """Unicode NFC normalization — the standard pre-dedup cleaning
    stage (combining sequences → composed forms, so 'cafe'+U+0301 and
    'café' hash identically downstream). Spark has no built-in
    normalizer, so this is an Arrow-batched pandas UDF over
    unicodedata.normalize; DuckDB's nfc_normalize mirrors it (both
    implement UAX #15)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda t: unicodedata.normalize("NFC", t)
                     if t is not None else None)

    return df.withColumn(out_col, _nfc(F.col(text_col)))
