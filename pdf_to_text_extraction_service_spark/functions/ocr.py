"""Spark operators over externally-produced OCR / transcription
output.

The reference's image/audio extractors call network backends (Mistral
OCR, Groq Whisper — internal/image/image.go:115-263,
internal/extractors/audio/transcribe.go:40-100); offline, the router
failure-codes those rows (kernel/router.py). But everything AFTER the
backend call is pure post-processing, and at 100 TB that is exactly
the shape of a real pipeline: an OCR/ASR service (or a GPU fleet)
writes page-markdown / segment sidecar columns, and Spark owns the
combine → clean → quality-gate → count stage. These operators run
that stage over Arrow batches with the byte-parity kernel
(kernel/ocrclean.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .rowmap import map_rows

OCR_RESULT_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("success", BooleanType()),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("word_count", IntegerType()),
    StructField("char_count", IntegerType()),
    StructField("error", StringType()),
])


def _result(mid, text: str, method: str, err: str | None) -> dict:
    """One OCR_RESULT_SCHEMA row; counts are BuildCounts over ``text``."""
    from pdf_to_text_extraction_service_spark.kernel import runes

    wc, cc = runes.build_counts(text)
    return {"media_id": mid, "success": err is None, "text": text,
            "method": method, "word_count": wc, "char_count": cc,
            "error": err}


def ocr_clean_results(df: DataFrame, id_col: str = "media_id",
                      pages_col: str = "ocr_pages") -> DataFrame:
    """processOCROnly over a sidecar column of OCR page markdown
    (image.go:218-263): combine pages → clean → meaningfulness gate;
    garbage OCR fails explicitly rather than passing through, with
    the reference's exact error strings."""

    def _row(mid, pages) -> dict:
        from pdf_to_text_extraction_service_spark.kernel import ocrclean

        text, err = ocrclean.ocr_text_from_pages(
            list(pages) if pages is not None else [])
        return _result(mid, text, "ocr", err)

    return map_rows(df, [id_col, pages_col], OCR_RESULT_SCHEMA, _row)


def transcript_results(df: DataFrame, id_col: str = "media_id",
                       segments_col: str = "segments",
                       timestamps: bool = True) -> DataFrame:
    """Audio-transcript assembly over a sidecar column of Whisper-style
    segments array<struct<start double, text string>>
    (transcribe.go:80-112): with timestamps each non-empty segment
    becomes "[MM:SS] text" ([HH:MM:SS] past the hour) joined by blank
    lines; an empty transcript is the reference's exact failure
    ("groq transcription returned empty transcript",
    transcribe.go:84-87); counts are BuildCounts."""

    def _row(mid, segs) -> dict:
        from pdf_to_text_extraction_service_spark.kernel import ocrclean

        segs = list(segs) if segs is not None else []
        if timestamps and segs:
            text = ocrclean.format_timestamped_transcript(
                [(s["start"], s["text"]) for s in segs]
            )
        else:
            text = ocrclean._trim_space(
                " ".join(s["text"] for s in segs if s["text"] is not None)
            )
        err = None
        if text == "":
            err = "groq transcription returned empty transcript"
        return _result(mid, text, "groq", err)

    return map_rows(df, [id_col, segments_col], OCR_RESULT_SCHEMA, _row)
