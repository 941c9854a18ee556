"""Vectorized extraction UDF: the Spark-side wrapper of the kernel
router.

One ``mapInPandas`` stage = the reference's whole request path
(download → sniff → resolve → kernel → backfill, router.go:27-93)
applied to an Arrow batch of rows. mapInPandas (not a scalar
pandas_udf) because the output is a wide struct-per-row and because
iterator form lets Arrow stream bounded batches of multi-MiB binary
payloads (SURVEY.md §2.9).

A document is atomic — the kernel loop is per-document inside the
batch — but batching amortizes JVM↔Python Arrow transfer, which is the
"vectorized pandas/Arrow UDFs, no per-row Python" requirement of
BASELINE.json: no Python ↔ JVM round trip per row, and all
post-extraction operators (dedup, aggregation, joins) stay JVM-side on
the extracted columns.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    import pandas as pd

PAGE_SCHEMA = StructType([
    StructField("page_number", IntegerType()),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("word_count", IntegerType()),
])

# Output row schema — reference Result struct (result.go:12-30) plus
# the carried-through identity/partition columns and the dispatch
# format column.
EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("format", StringType()),
    StructField("success", BooleanType(), False),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("file_type", StringType()),
    StructField("mime_type", StringType()),
    StructField("pages", ArrayType(PAGE_SCHEMA)),
    StructField("metadata", MapType(StringType(), StringType())),
    StructField("word_count", IntegerType()),
    StructField("char_count", IntegerType()),
    StructField("error", StringType()),
])


def _envelope_batches(batches: Iterator["pd.DataFrame"], extract_one,
                      keep_pages: bool) -> Iterator["pd.DataFrame"]:
    """The batch → envelope loop shared by extract() and preview():
    ``extract_one(url, payload, coding_error)`` returns the kernel's
    ``(Result, format)`` for one document, and each batch comes back
    as the EXTRACTED_SCHEMA columns.  ``keep_pages=False`` writes
    ``pages = NULL`` (preview emits no per-page rows)."""
    # Imports inside the worker process.
    import pandas as pd

    for batch in batches:
        n = len(batch)

        def col(name):
            return batch[name].tolist() if name in batch else [None] * n

        urls, payloads = col("url"), col("html")
        ts, langs, cerrs = col("warc_ts"), col("lang"), col("coding_error")
        out: dict[str, list] = {f.name: [] for f in EXTRACTED_SCHEMA}
        for i, url in enumerate(urls):
            payload = payloads[i]
            if payload is not None and not isinstance(payload, bytes):
                payload = bytes(payload)
            res, fmt = extract_one(url, payload, cerrs[i])
            out["url"].append(url)
            out["warc_ts"].append(ts[i])
            out["lang"].append(langs[i])
            out["format"].append(fmt)
            out["success"].append(res.success)
            out["text"].append(res.text)
            out["method"].append(res.method)
            out["file_type"].append(res.file_type)
            out["mime_type"].append(res.mime_type)
            out["pages"].append(
                None if not keep_pages or res.pages is None else [
                    {"page_number": p.page_number, "text": p.text,
                     "method": p.method, "word_count": p.word_count}
                    for p in res.pages
                ]
            )
            out["metadata"].append(res.metadata)
            out["word_count"].append(res.word_count)
            out["char_count"].append(res.char_count)
            out["error"].append(res.error)
        yield pd.DataFrame(out)


def _extract_one(url, payload, coding_error):
    from pdf_to_text_extraction_service_spark.kernel import router

    if coding_error:
        # undecodable HTTP content coding (WARC reader boundary,
        # sources/warc.py): a br/zstd/compress body must not reach
        # extension-first routing as raw compressed bytes —
        # failure-coded envelope, mirroring the reference's
        # success=false philosophy
        return router.Result(success=False,
                             error=str(coding_error)), "unknown"
    return router.extract_document(url, payload)


def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    return _envelope_batches(batches, _extract_one, keep_pages=True)


def preview(pages_df: DataFrame,
            max_chars: int = 20000,
            max_pages: int = 8) -> DataFrame:
    """Preview-mode pipeline: same batching as extract(), but the
    cost-bounded early-exit kernel (kernel/preview.py — reference
    /api/preview semantics: allowlist, PDF text-layer only, byte
    truncation + '...').  ``coding_error`` is not read."""

    def _preview_one(url, payload, _coding_error):
        from pdf_to_text_extraction_service_spark.kernel import (
            preview as kpreview,
        )

        return kpreview.preview_document(
            url, payload, max_chars=max_chars, max_pages=max_pages,
        )

    def _preview_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        return _envelope_batches(batches, _preview_one, keep_pages=False)

    cols = [c for c in ("url", "warc_ts", "html", "lang")
            if c in pages_df.columns]
    return pages_df.select(*cols).mapInPandas(
        _preview_batches, schema=EXTRACTED_SCHEMA
    )


def extract(pages_df: DataFrame) -> DataFrame:
    """Run the extraction kernel over a pages DataFrame.

    Input requires columns (url, html) and carries (warc_ts, lang)
    through when present. The ``html`` payload column is consumed here
    and never appears downstream — early projection keeps the binary
    bytes out of every subsequent shuffle (SURVEY.md §4: the single
    biggest lever for scaling efficiency).
    """
    cols = [c for c in ("url", "warc_ts", "html", "lang",
                        "coding_error")
            if c in pages_df.columns]
    return pages_df.select(*cols).mapInPandas(
        _extract_batches, schema=EXTRACTED_SCHEMA
    )
