"""Aggregations over the per-page results array (SURVEY.md §2.5).

The reference tallies page methods doc-side (countOCRPages /
TextLayerPages / CostSavingsPercent, hybrid.go:136-138,377-392). Here
they are JVM array expressions over the ``pages``
array<struct> column — no Python, no explode, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.rowmap import map_rows


def pdf_page_stats(extracted: DataFrame) -> DataFrame:
    """Per-document page tallies for rows that carry a pages array.

    cost_savings_percent = int(text_layer / total * 100)
    (hybrid.go:387-392; TextLayerPages = len(pages) - OCRPages per
    hybrid.go:137)."""
    df = extracted.filter(F.col("pages").isNotNull())
    total = F.size("pages")
    ocr = F.size(F.filter("pages", lambda p: p["method"] == "ocr"))
    needs = F.size(F.filter("pages", lambda p: p["method"] == "needs-ocr"))
    text_layer = total - ocr
    return df.select(
        "url",
        total.alias("total_pages"),
        text_layer.alias("text_layer_pages"),
        ocr.alias("ocr_pages"),
        needs.alias("needs_ocr_pages"),
        F.when(total == 0, F.lit(0))
        .otherwise((text_layer.cast("double") / total * 100).cast("int"))
        .alias("cost_savings_percent"),
        F.aggregate(
            F.transform("pages", lambda p: p["word_count"]),
            F.lit(0),
            lambda acc, w: acc + w,
        ).alias("sum_page_words"),
    )


PDF_IMAGE_STATS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("total_pages", IntegerType()),
    StructField("needs_ocr_pages", IntegerType()),
    StructField("blank_pages", IntegerType()),
    StructField("n_images", IntegerType()),
    StructField("img_pixels", LongType()),
    StructField("ink_samples", LongType()),
    StructField("sum_luma", LongType()),
])


def pdf_image_ocr_stats(pages_df: DataFrame,
                        url_col: str = "url",
                        payload_col: str = "html") -> DataFrame:
    """Per-document embedded-image statistics + the pixel-driven OCR
    decision (kernel/pdfk.page_image_stats / self_blank_page): for
    each PDF payload, decode every image XObject (DCTDecode baseline
    and progressive via kernel/imgcodec.py) and inline image, and
    tally which textless pages escalate to OCR vs prune as blank
    paper.

    Scale shape: one Arrow-batched per-row hop (functions/rowmap,
    the same budget as extract()); only the two input columns reach
    the Python worker and only eight scalar columns come back —
    map-only, no shuffle."""

    def _row(url, payload) -> dict:
        from pdf_to_text_extraction_service_spark.kernel import pdfk

        payload = bytes(payload) if payload is not None else b""
        row = dict.fromkeys(PDF_IMAGE_STATS_SCHEMA.fieldNames()[1:], 0)
        try:
            doc = pdfk.PDFDoc(payload)
            res = pdfk.extract_pdf(payload, "application/pdf", doc=doc)
            for p in (res.pages or []):
                row["total_pages"] += 1
                if p.method == "needs-ocr":
                    row["needs_ocr_pages"] += 1
                elif p.method == "blank":
                    row["blank_pages"] += 1
                st = doc.page_image_stats(p.page_number)
                row["n_images"] += st["n_images"]
                row["img_pixels"] += st["pixels"]
                row["ink_samples"] += st["ink_samples"]
                row["sum_luma"] += st["sum_luma"]
        except Exception:
            # error docs report zeros, never raise — drop anything
            # accumulated before the failure so a doc that dies at
            # page k is not mistaken for a genuine (k-1)-page document
            row = dict.fromkeys(row, 0)
        return {"url": url, **row}

    return map_rows(pages_df, [url_col, payload_col],
                    PDF_IMAGE_STATS_SCHEMA, _row)
