"""The one per-row Arrow loop (functions/rowmap.map_rows) and the
payload operators' row guard (functions/multimodal._payload_row)."""

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pdf_to_text_extraction_service_spark.functions.multimodal import (
    _payload_row,
)
from pdf_to_text_extraction_service_spark.functions.rowmap import map_rows

SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n", LongType()),
    StructField("tag", StringType()),
    StructField("error", StringType()),
])


def _media(spark):
    return spark.createDataFrame(
        [(1, b"abc"), (2, None), (3, b"boom")],
        "media_id long, payload binary")


def test_key_left_out_is_null(spark):
    out = map_rows(_media(spark), ["media_id"], SCHEMA,
                   lambda mid: {"media_id": mid, "n": mid * 10})
    assert out.schema == SCHEMA
    assert sorted(out.collect()) == [
        (1, 10, None, None), (2, 20, None, None), (3, 30, None, None)]


def test_key_outside_schema_fails_the_task(spark):
    out = map_rows(_media(spark), ["media_id"], SCHEMA,
                   lambda mid: {"media_id": mid, "n": 1, "extra": 2})
    with pytest.raises(Exception, match="extra"):
        out.collect()


def test_payload_guard_reads_null_payload_as_empty_bytes(spark):
    def fn(payload):
        assert type(payload) is bytes
        return {"n": len(payload), "tag": payload.decode() or "empty"}

    out = map_rows(_media(spark).filter("media_id < 3"),
                   ["media_id", "payload"], SCHEMA, _payload_row(fn))
    assert sorted(out.collect()) == [
        (1, 3, "abc", None), (2, 0, "empty", None)]


def test_payload_guard_turns_exception_into_error_row(spark):
    def fn(payload):
        if payload == b"boom":
            raise ValueError("cannot decode boom")
        return {"n": len(payload), "tag": "ok"}

    out = map_rows(_media(spark), ["media_id", "payload"], SCHEMA,
                   _payload_row(fn))
    assert sorted(out.collect()) == [
        (1, 3, "ok", None), (2, 0, "ok", None),
        (3, None, None, "cannot decode boom")]
