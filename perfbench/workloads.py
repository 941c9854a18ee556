"""Seeded input tables for the extraction-job benchmark.

Every workload is a parquet pages table with the Iceberg input schema
``(url, warc_ts, html, text, lang)``, written with pyarrow so the
engine receives only files on disk.  The same seed gives byte-identical
tables.

- ``crawl_html``: thin HTML crawl pages (``generate_corpus_rows`` with
  ``nonhtml_rate=0``): boilerplate, a skew tail, ~12 % repeat captures.
- ``doc_mix``: the 17 non-HTML formats of ``generate_corpus_rows`` with
  ``nonhtml_rate=1.0`` plus image-bearing PDFs: JPEG scans, CCITT G4
  fax scans, text pages over blank scans, and a ~1 % tail of
  multi-page searchable scans above the 1 MiB salt threshold.
- ``resume_half`` reads ``crawl_html``'s table.

Each table also carries a fixed number of undecodable payloads
(``FAIL_ROWS_PER_1000``) in place of the generator's randomly drawn
ones, so ``fail_share`` measures the program and not the seed's draw.
"""

from __future__ import annotations

import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_to_text_extraction_service_spark.kernel import ccitt, imgcodec
from pdf_to_text_extraction_service_spark.sources import pdfgen
from pdf_to_text_extraction_service_spark.sources.corpus import (
    BASE_URL,
    generate_corpus_rows,
)

EPOCH = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
FAIL_ROWS_PER_1000 = 4
INPUT_FILES = 8

CRAWL_PAGES = 4000
MIX_DOCS = 1020           # 60 per generator format
SCAN_JPEG_DOCS = 32
SCAN_G4_DOCS = 32
SCAN_HYBRID_DOCS = 96
SCAN_TAIL_DOCS = 12       # ~1 % of the doc_mix rows, each > 1 MiB

# Scan kinds are told apart by url path; the kernel reports all of
# them as "pdf".
SCAN_KINDS = ("scan_jpeg", "scan_g4", "scan_hybrid")

_WORDS = ("scan page ledger invoice statement account record archive "
          "letter memo report summary total balance entry").split()


def scan_kind(url: str) -> str | None:
    for kind in SCAN_KINDS:
        if f"/{kind}/" in url:
            return kind
    return None


def _fail_rows(rng: random.Random, n: int, tag: str) -> list[tuple]:
    return [(f"{BASE_URL}/blobs/{tag}{i}.xyz", (i * 53) % 86400,
             bytes([0, 1, 2, 3]) + rng.randbytes(64), None, "en")
            for i in range(n)]


def _n_fail(n_rows: int) -> int:
    return max(1, n_rows * FAIL_ROWS_PER_1000 // 1000)


def crawl_rows(seed: int) -> list[tuple]:
    rows = [r for r in generate_corpus_rows(CRAWL_PAGES, seed=seed,
                                            nonhtml_rate=0)
            if "/blobs/" not in r[0]]
    return rows + _fail_rows(random.Random(seed), _n_fail(len(rows)),
                             "crawl")


def _ink_page(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Gray page with dark word-shaped strokes on white paper."""
    page = np.full((h, w), 255, np.uint8)
    for top in range(12, h - 12, 18):
        left = 10
        while left < w - 30:
            width = int(rng.integers(8, 30))
            page[top:top + 6, left:left + width] = int(rng.integers(0, 90))
            left += width + int(rng.integers(4, 12))
    return page


def _text_lines(rng: random.Random, n: int) -> list[str]:
    return [" ".join(rng.choice(_WORDS) for _ in range(9))
            for _ in range(n)]


def scan_rows(seed: int) -> list[tuple]:
    """Image-bearing PDFs, built from a few seeded page images that the
    documents share (encoding is the costly part of generation)."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    jpeg_pages = [imgcodec.encode_jpeg(_ink_page(nrng, 216, 168))
                  for _ in range(4)]
    g4_pages = []
    for _ in range(4):
        bits = _ink_page(nrng, 800, 640) < 128
        g4_pages.append(pdfgen.ccitt_image_entry(
            ccitt.encode_g4(bits), 640, 800))
    blank = imgcodec.encode_jpeg(np.full((440, 340), 255, np.uint8))
    # High-entropy page image: large in bytes, and never decoded
    # because its page has a text layer.
    noisy = imgcodec.encode_jpeg(
        nrng.integers(0, 256, (720, 720), dtype=np.uint8))

    rows: list[tuple] = []

    def add(kind: str, i: int, pages) -> None:
        url = f"{BASE_URL}/{kind}/doc{i}.pdf"
        ts = (i * 41) % 86400
        payload = pdfgen.build_pdf_jpeg_pages(pages)
        rows.append((url, ts, payload, None, "en"))
        if rng.random() < 0.12:
            rows.append((url, ts + 7200, payload, None, "en"))

    for i in range(SCAN_JPEG_DOCS):
        add("scan_jpeg", i, [([], [rng.choice(jpeg_pages)])])
    for i in range(SCAN_G4_DOCS):
        add("scan_g4", i, [([], [rng.choice(g4_pages)])])
    for i in range(SCAN_HYBRID_DOCS):
        add("scan_hybrid", i,
            [(pdfgen.single_column_page(_text_lines(rng, 8)), [blank])
             for _ in range(2)])
    for i in range(SCAN_TAIL_DOCS):
        n_pages = 5 + rng.randrange(3)
        add("scan_hybrid", SCAN_HYBRID_DOCS + i,
            [(pdfgen.single_column_page(_text_lines(rng, 8)), [noisy])
             for _ in range(n_pages)])
    return rows


def mix_rows(seed: int) -> list[tuple]:
    rows = generate_corpus_rows(MIX_DOCS, seed=seed, nonhtml_rate=1.0)
    rows += scan_rows(seed)
    return rows + _fail_rows(random.Random(seed), _n_fail(len(rows)), "mix")


def rows_for(workload: str, seed: int) -> list[tuple]:
    if workload in ("crawl_html", "resume_half"):
        return crawl_rows(seed)
    if workload == "doc_mix":
        return mix_rows(seed)
    raise ValueError(f"unknown workload {workload!r}")


def ts_micros(offset_s: int) -> int:
    return int((EPOCH.timestamp() + offset_s) * 1_000_000)


def write_table(rows: list[tuple], path: str, seed: int) -> int:
    """Write rows as INPUT_FILES parquet files in a seeded row order.
    Returns the payload bytes written."""
    order = list(range(len(rows)))
    random.Random(seed ^ 0x5EED).shuffle(order)
    rows = [rows[i] for i in order]
    table = pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([ts_micros(r[1]) for r in rows],
                            pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[2] for r in rows], pa.binary()),
        "text": pa.array([r[3] for r in rows], pa.string()),
        "lang": pa.array([r[4] for r in rows], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    return sum(len(r[2]) for r in rows)
