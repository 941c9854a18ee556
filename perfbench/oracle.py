"""Spark-independent output check for the extraction job.

The oracle calls ``kernel.router.extract_document`` directly on each
url's latest capture and digests every output column.  The check reads
the committed output and manifest with pyarrow, never through Spark:

- each input url appears exactly once;
- each row's digest equals the oracle's (so its text sha256 does too);
- the manifest has one row per bucket, and its ``row_count`` matches
  the output, bucket by bucket and in total.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pdf_to_text_extraction_service_spark.kernel import router

from workloads import scan_kind, ts_micros

# The job drops the per-page column (keep_pages_col=False).
OUT_COLUMNS = ["url", "warc_ts", "lang", "format", "success", "text",
               "method", "file_type", "mime_type", "metadata",
               "word_count", "char_count", "error", "bucket"]


def row_digest(r: dict) -> str:
    meta = None if r["metadata"] is None else sorted(r["metadata"])
    key = (r["warc_ts"], r["lang"], r["format"], r["success"], r["text"],
           r["method"], r["file_type"], r["mime_type"], meta,
           r["word_count"], r["char_count"], r["error"])
    return hashlib.sha256(repr(key).encode()).hexdigest()


def latest_captures(rows: list[tuple]) -> list[tuple]:
    """One (url, ts, payload, lang) per url: the max-warc_ts capture."""
    best: dict[str, tuple] = {}
    for url, ts, payload, _text, lang in rows:
        cur = best.get(url)
        if cur is not None and cur[1] == ts and cur[2] != payload:
            raise ValueError(f"tied captures with different payloads: {url}")
        if cur is None or ts > cur[1]:
            best[url] = (url, ts, payload, lang)
    return list(best.values())


def _expect_one(capture: tuple) -> tuple:
    url, ts, payload, lang = capture
    t0 = time.perf_counter()
    res, fmt = router.extract_document(url, payload)
    elapsed = time.perf_counter() - t0
    row = {
        "warc_ts": ts_micros(ts), "lang": lang, "format": fmt,
        "success": res.success, "text": res.text, "method": res.method,
        "file_type": res.file_type, "mime_type": res.mime_type,
        "metadata": None if res.metadata is None
        else list(res.metadata.items()),
        "word_count": res.word_count, "char_count": res.char_count,
        "error": res.error,
    }
    return url, row_digest(row), res.success, scan_kind(url) or fmt, elapsed


def expected(captures: list[tuple]) -> list[tuple]:
    """(url, digest, success, format, seconds) per capture, computed in
    this process: the seconds are single-threaded kernel times."""
    return [_expect_one(c) for c in captures]


def read_output(path: str, bucket: bool = True) -> list[dict]:
    table = ds.dataset(path, format="parquet",
                       partitioning="hive" if bucket else None).to_table()
    ts = table.column("warc_ts").cast(pa.timestamp("us")).cast(pa.int64())
    table = table.set_column(table.schema.get_field_index("warc_ts"),
                             "warc_ts", ts)
    return table.select(OUT_COLUMNS if bucket else OUT_COLUMNS[:-1]) \
        .to_pylist()


def read_manifest(path: str) -> list[dict]:
    return pq.ParquetDataset(path).read().to_pylist()


def compare(expect: list[tuple], out_rows: list[dict]) -> dict:
    """expect: (url, digest, ...) tuples."""
    want = {url: digest for url, digest, *_ in expect}
    seen = Counter(r["url"] for r in out_rows)
    bad = {r["url"] for r in out_rows
           if want.get(r["url"]) != row_digest(r)}
    missing = [u for u in want if u not in seen]
    duplicated = [u for u, n in seen.items() if n > 1]
    wrong = bad | set(missing) | set(duplicated)
    return {"urls": len(want), "missing": len(missing),
            "duplicated": len(duplicated), "mismatched": len(bad),
            "mismatch_share": len(wrong) / max(1, len(want))}


def check_manifest(manifest: list[dict], out_rows: list[dict],
                   buckets: int, snapshot: str) -> list[str]:
    rows = [m for m in manifest if m["source_snapshot"] == snapshot]
    errors = []
    per_bucket = Counter(m["bucket"] for m in rows)
    if sorted(per_bucket) != list(range(buckets)) \
            or set(per_bucket.values()) != {1}:
        errors.append(f"manifest: {len(rows)} rows over "
                      f"{len(per_bucket)} buckets, want one per bucket")
    out_per_bucket = Counter(r["bucket"] for r in out_rows)
    for m in rows:
        if m["row_count"] != out_per_bucket.get(m["bucket"], 0):
            errors.append(f"manifest: bucket {m['bucket']} row_count "
                          f"{m['row_count']} != output "
                          f"{out_per_bucket.get(m['bucket'], 0)}")
    distinct = len({r["url"] for r in out_rows})
    if sum(m["row_count"] for m in rows) != distinct:
        errors.append("manifest: row_count sum != distinct urls")
    return errors


def check_job(expect: list[tuple], out_dir: str, manifest_dir: str,
              buckets: int, snapshot: str) -> tuple[dict, list[dict]]:
    out_rows = read_output(out_dir)
    result = compare(expect, out_rows)
    result["errors"] = check_manifest(read_manifest(manifest_dir),
                                      out_rows, buckets, snapshot)
    return result, out_rows


def resume_errors(committed: dict, out_dir: str) -> list[str]:
    """A resumed job must write only the pending buckets: every file of
    a committed bucket stays as it was, and no file appears there.
    ``committed`` is ``tree_files`` of the output before the resume."""
    def bucket(p: str) -> str | None:
        return p.split("/")[0] if p.startswith("bucket=") else None

    done = {bucket(p) for p in committed} - {None}
    after = tree_files(out_dir)
    touched = [p for p in set(committed) | set(after)
               if bucket(p) in done and committed.get(p) != after.get(p)]
    return [f"resume touched {len(touched)} files of committed buckets"] \
        if touched else []


def self_test(expect: list[tuple], out_rows: list[dict]) -> bool:
    """The check must catch one row whose text was altered."""
    altered = [dict(r) for r in out_rows]
    victim = next(i for i, r in enumerate(altered) if r["text"])
    altered[victim]["text"] = altered[victim]["text"] + " "
    return compare(expect, altered)["mismatched"] == 1


def parquet_files(path: str) -> dict[str, int]:
    """relative path -> size of every parquet file under path."""
    return {p: size for p, (size, _m) in tree_files(path).items()
            if p.endswith(".parquet")}


def parquet_bytes(path: str) -> int:
    return sum(parquet_files(path).values())


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) for every file under path."""
    files = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            st = os.stat(full)
            files[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return files
