"""Text-analysis operators: language-ID, token counting, quality
scoring, document fingerprinting (prompt mandate).

Everything except the quality scorer is pure JVM expressions so both
Spark and the DuckDB oracle can evaluate the identical formula; the
quality scorer reuses the byte-parity kernel (kernel/quality.py)
through a pandas UDF (it is pinned by its own parity fixtures, not a
SQL oracle).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd
else:  # runtime: pandas_udf type-hint resolution needs pd in
    import pandas as pd  # module globals (PEP 563 annotations)

# Tiny per-language stopword anchors for the n-gram/stopword heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "une"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "una"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

# BPE-ish token regex: letter runs, digit runs, or single
# punctuation/symbol — identical semantics in Spark and DuckDB RE2-ish
# engines (ASCII classes only).
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens",
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(TOKEN_REGEX), 0)),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic argmax over stopword scores (ties → lexicographic
    first language), plus 'und' (undetermined) when all scores are 0.

    Vectorized (r8): one Arrow pass with a token->languages dict
    instead of 5 interpreted filter/array_contains lambdas per row —
    bit-identical to the original pure-JVM expression ``lang_id_jvm``
    (integer counts, same first-language tie rule, NULL text ->
    'und'), which lives in tests/reference/textstats.py; parity
    pinned by tests/test_textstats_opt.py."""
    from pyspark.sql.functions import pandas_udf

    langs = sorted(STOPWORDS)
    lookup: dict[str, list[int]] = {}
    for i, lg in enumerate(langs):
        for w in STOPWORDS[lg]:
            lookup.setdefault(w, []).append(i)

    @pandas_udf("string")
    def _guess(texts: pd.Series) -> pd.Series:
        out = []
        nl = len(langs)
        for t in texts:
            if t is None:
                out.append("und")
                continue
            counts = [0] * nl
            for tok in t.split(" "):
                li = lookup.get(tok)
                if li is not None:
                    for i in li:
                        counts[i] += 1
            m = max(counts)
            out.append(langs[counts.index(m)] if m > 0 else "und")
        return pd.Series(out)

    return df.withColumn("lang_guess", _guess(F.col(text_col)))


# ------------------------------------------------------ fingerprinting

FP_MOD = 1000000007
FP_BASE = 31


_POLY = (f"aggregate(filter(split(%s, ''), c -> c <> ''), 0L, "
         f"(acc, c) -> (acc * {FP_BASE}L + ascii(c)) %% {FP_MOD}L)")


def polyhash(expr: str):
    """Rolling polynomial hash of a string, evaluable identically in
    Spark and DuckDB: fold (acc*31 + codepoint) % 1e9+7 over chars.
    (The empty-string filter guards Spark's trailing '' from
    split-by-empty-pattern; DuckDB's char split has no empties.)"""
    return F.expr(_POLY % expr)


def fingerprint_udf(n: int = 4):
    """Vectorized fingerprint: one Arrow-batched pandas_udf, numpy
    column-wise prefix-hash fold (same pattern as the MinHash
    signature UDF). Bit-identical to the pure-JVM HOF expression
    ``doc_fingerprint_jvm`` in tests/reference/textstats.py:

    - an n-gram of single-space-joined tokens is EXACTLY a substring
      of the original text (split-on-' ' then join-with-' ' is the
      identity, including runs of spaces via empty tokens), so every
      gram hash is recoverable from per-character PREFIX hashes:
      H(s..e) = (h[e] - h[s] * 31^(e-s)) mod p — exact integer math,
      same value as the JVM left fold (which never goes negative);
    - prefix hashes for the whole batch fold column-wise over a
      padded (rows x maxlen) codepoint matrix — ~maxlen vectorized
      numpy steps per batch instead of rows x chars interpreted ops;
    - products stay under 2^63: both factors < p ~ 1e9.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _fp(texts: pd.Series) -> pd.Series:
        rows = [
            None if s is None else
            np.frombuffer(s.encode("utf-32-le"), np.uint32)
            .astype(np.int64)
            for s in texts
        ]
        lens = [0 if r is None else len(r) for r in rows]
        maxlen = max(lens, default=0)
        nrows = len(rows)
        mat = np.full((nrows, maxlen), -1, np.int64)
        for i, r in enumerate(rows):
            if r is not None and len(r):
                mat[i, :len(r)] = r
        # column-wise fold -> full prefix-hash matrix
        h = np.zeros((nrows, maxlen + 1), np.int64)
        acc = np.zeros(nrows, np.int64)
        for j in range(maxlen):
            col = mat[:, j]
            acc = np.where(col >= 0, (acc * FP_BASE + col) % FP_MOD,
                           acc)
            h[:, j + 1] = acc
        pow31 = np.empty(maxlen + 1, np.int64)
        pow31[0] = 1
        for d in range(maxlen):
            pow31[d + 1] = (pow31[d] * FP_BASE) % FP_MOD
        out = []
        space = ord(" ")
        for i, r in enumerate(rows):
            if r is None:
                out.append(None)
                continue
            # token boundaries; gram g spans tokens [g, g+n-1]
            starts = np.concatenate(
                ([0], np.flatnonzero(r == space) + 1))
            ends = np.concatenate(
                (np.flatnonzero(r == space), [len(r)]))
            k = len(starts)
            g = max(k - n, 0) + 1
            gs = starts[:g]
            ge = ends[np.minimum(np.arange(g) + n - 1, k - 1)]
            vals = (h[i, ge] - h[i, gs] * pow31[ge - gs]) % FP_MOD
            out.append(int(vals.min()))
        return pd.Series(out, dtype="object")

    return _fp


def doc_fingerprint(df: DataFrame, text_col: str = "text",
                    n: int = 4) -> DataFrame:
    """Default fingerprint path: vectorized numpy prefix-hash UDF
    (bit-identical to the ``doc_fingerprint_jvm`` reference in
    tests/reference/textstats.py — cross-checked in
    tests/test_training_ops.py)."""
    return df.withColumn("fingerprint",
                         fingerprint_udf(n)(F.col(text_col)))


# ------------------------------------------------------ quality scoring

QUALITY_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("quality", DoubleType()),
    StructField("needs_ocr", BooleanType()),
    StructField("maybe_ocr", BooleanType()),
    StructField("word_count", IntegerType()),
])


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 20) -> DataFrame:
    """Kernel quality scorer (quality.go parity) over a table — the
    graft's "text-density/quality classification over batched byte
    streams" (pandas UDF: Arrow batches, kernel loop per doc)."""

    def _score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from pdf_to_text_extraction_service_spark.kernel import quality

        for batch in batches:
            out = {"doc_id": [], "quality": [], "needs_ocr": [],
                   "maybe_ocr": [], "word_count": []}
            for did, text in zip(batch[id_col], batch[text_col]):
                d = quality.score(text if text is not None else "",
                                  min_words)
                out["doc_id"].append(did)
                out["quality"].append(d.quality)
                out["needs_ocr"].append(d.needs_ocr)
                out["maybe_ocr"].append(d.maybe_ocr)
                out["word_count"].append(d.word_count)
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(
        _score, schema=QUALITY_SCHEMA
    )


# ------------------------------------------------- repetition signals

def _max_run_expr(arr: str) -> str:
    """Longest run in a SORTED string array = highest frequency of any
    element — one JVM fold, no shuffle (the array-local alternative to
    explode+groupBy at 100 TB)."""
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', '', 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', if(x = acc.prev, acc.run + 1, 1), "
        "'best', greatest(acc.best, if(x = acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public methodology): duplicate-line fraction, fraction of word
    bigrams taken by the single most frequent bigram, duplicate word
    trigram fraction. Pure JVM expressions per document — at corpus
    scale the signals feed a filter threshold exactly like
    quality_scores."""
    toks = f"split({text_col}, ' ')"
    g2 = (f"transform(sequence(0, greatest(size({toks}) - 2, 0)), "
          f"i -> array_join(slice(_rs_t, i + 1, 2), ' '))")
    g3 = (f"transform(sequence(0, greatest(size({toks}) - 3, 0)), "
          f"i -> array_join(slice(_rs_t, i + 1, 3), ' '))")
    return (
        df.withColumn("_rs_t", F.split(F.col(text_col), " "))
        .withColumn("_rs_l", F.split(F.col(text_col), "\n"))
        .withColumn("_rs_g2", F.expr(g2))
        .withColumn("_rs_g3", F.expr(g3))
        .select(
            id_col,
            F.round(
                (F.size("_rs_l") - F.size(F.array_distinct("_rs_l")))
                .cast("double") / F.size("_rs_l"), 6
            ).alias("dup_line_frac"),
            F.round(
                F.expr(_max_run_expr("_rs_g2")).cast("double")
                / F.size("_rs_g2"), 6
            ).alias("top_bigram_frac"),
            F.round(
                (F.size("_rs_g3") - F.size(F.array_distinct("_rs_g3")))
                .cast("double") / F.size("_rs_g3"), 6
            ).alias("dup_trigram_frac"),
        )
    )
