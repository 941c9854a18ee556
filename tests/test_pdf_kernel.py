"""PDF text-layer kernel tests: span assembly, reading order, column
detection, hybrid quality gating (FIXTURES.md §4 pdf_* fixtures)."""

from __future__ import annotations

from pdf_to_text_extraction_service_spark.kernel import pdfk
from pdf_to_text_extraction_service_spark.sources import pdfgen

GOOD_LINES = [
    "The quick brown fox jumps over the lazy dog near the river bank.",
    "Morning light settles across the quiet valley while birds gather.",
    "Seasoned travelers often remark on the gentle slope of these hills.",
]


class TestReader:
    def test_page_count(self):
        pdf = pdfgen.simple_pdf([GOOD_LINES, GOOD_LINES])
        assert pdfk.page_count(pdf) == 2

    def test_not_a_pdf(self):
        try:
            pdfk.page_count(b"not a pdf")
            raise AssertionError("expected PDFError")
        except pdfk.PDFError:
            pass

    def test_single_page_text(self):
        pdf = pdfgen.simple_pdf([["Hello world", "Second line"]])
        assert pdfk.extract_page_text(pdf, 1) == "Hello world\nSecond line"

    def test_escapes_in_strings(self):
        pdf = pdfgen.simple_pdf([["paren (x) and \\ back"]])
        assert pdfk.extract_page_text(pdf, 1) == "paren (x) and \\ back"

    def test_reading_order_two_columns(self):
        # Right column physically higher than left start, but the left
        # column must be read first (column, -y, x).
        pdf = pdfgen.build_pdf([
            pdfgen.two_column_page(["L1", "L2"], ["R1", "R2"]),
        ])
        assert pdfk.extract_page_text(pdf, 1) == "L1\nL2\nR1\nR2"

    def test_same_line_spans_joined(self):
        spans = [(72.0, 700.0, "left"), (150.0, 700.0, "right")]
        pdf = pdfgen.build_pdf([spans])
        # 150-72 < COLUMN_GAP → same column, same y → joined by space
        assert pdfk.extract_page_text(pdf, 1) == "left right"


class TestHybrid:
    def test_all_text_layer(self):
        pdf = pdfgen.simple_pdf([GOOD_LINES, GOOD_LINES])
        r = pdfk.extract_pdf(pdf, "application/pdf")
        assert r.success
        assert r.method == "hybrid"
        assert len(r.pages) == 2
        assert all(p.method == "text-layer" for p in r.pages)
        assert "\n\n---\n\n" in r.text
        assert r.file_type == "document/pdf"

    def test_garbage_page_needs_ocr(self):
        garbage = ["@#$% ^&*()!! ~~ ||", "#### !!!! @@@@ $$$$"]
        pdf = pdfgen.simple_pdf([GOOD_LINES, garbage])
        r = pdfk.extract_pdf(pdf, "application/pdf")
        assert r.success
        p2 = r.pages[1]
        assert p2.method == "needs-ocr"
        assert p2.text == ""  # hybrid.go:267-271 empties the page text
        # combined text only contains the good page
        assert "quick brown fox" in r.text
        assert "@#$%" not in r.text

    def test_flate_compressed_streams(self):
        spans = [pdfgen.single_column_page(GOOD_LINES)] * 2
        plain = pdfgen.build_pdf(spans, compress=False)
        packed = pdfgen.build_pdf(spans, compress=True)
        assert b"/FlateDecode" in packed
        r1 = pdfk.extract_pdf(plain, "application/pdf")
        r2 = pdfk.extract_pdf(packed, "application/pdf")
        assert r2.success
        assert r2.text == r1.text  # identical text either encoding

    def test_corrupt_flate_is_failure_not_crash(self):
        spans = [pdfgen.single_column_page(GOOD_LINES)]
        packed = bytearray(pdfgen.build_pdf(spans, compress=True))
        i = packed.find(b"stream\n") + 10
        packed[i] ^= 0xFF  # corrupt the deflate data
        r = pdfk.extract_pdf(bytes(packed), "application/pdf")
        # per-page PDFError → needs-ocr page, doc still succeeds
        assert r.success
        assert r.pages[0].method == "needs-ocr"

    def test_page_subset_and_markers(self):
        # HybridProcessorOptions knobs: Pages subset (hybrid.go:89-95),
        # IncludePageNumbers (format.go:34-38), custom separator
        pdf = pdfgen.simple_pdf([GOOD_LINES, GOOD_LINES, GOOD_LINES])
        r = pdfk.extract_pdf(pdf, "application/pdf",
                             page_list=[3, 1],
                             page_separator="\n\n===\n\n",
                             include_page_nums=True)
        assert [p.page_number for p in r.pages] == [3, 1]
        assert r.text.startswith("[Page 3]\n\n")
        assert "\n\n===\n\n[Page 1]\n\n" in r.text

    def test_word_counts_per_page(self):
        pdf = pdfgen.simple_pdf([GOOD_LINES])
        r = pdfk.extract_pdf(pdf, "application/pdf")
        # quality.CountWords over cleaned page text
        expected = sum(len(l.split()) for l in GOOD_LINES)
        assert r.pages[0].word_count == expected


class TestModernLayouts:
    """PDF 1.5 layouts: xref stream + object streams (pdfk._read_xref
    / _expand_objstm), PNG Up-predictor, indirect /Length — the
    default output of modern writers (poppler.go handles these
    natively)."""

    def _classic_and_modern(self, **kw):
        pages = [GOOD_LINES, GOOD_LINES + ["extra line two three"]]
        spans = [pdfgen.single_column_page(l) for l in pages]
        return pdfgen.build_pdf(spans), pdfgen.build_pdf_modern(spans, **kw)

    def test_xref_stream_objstm_text_identical(self):
        classic, modern = self._classic_and_modern()
        assert pdfk.page_count(modern) == pdfk.page_count(classic) == 2
        for p in (1, 2):
            assert pdfk.extract_page_text(modern, p) == \
                pdfk.extract_page_text(classic, p)

    def test_no_predictor_variant(self):
        classic, modern = self._classic_and_modern(predictor=False)
        assert pdfk.extract_page_text(modern, 1) == \
            pdfk.extract_page_text(classic, 1)

    def test_indirect_length_variant(self):
        classic, modern = self._classic_and_modern(indirect_length=True)
        for p in (1, 2):
            assert pdfk.extract_page_text(modern, p) == \
                pdfk.extract_page_text(classic, p)

    def test_full_extract_pdf_parity_across_layouts(self):
        classic, modern = self._classic_and_modern()
        a = pdfk.extract_pdf(classic, "application/pdf")
        b = pdfk.extract_pdf(modern, "application/pdf")
        assert b.success and b.text == a.text
        assert [p.method for p in b.pages] == [p.method for p in a.pages]

    def test_broken_startxref_falls_back_to_scan(self):
        # classic layout with a lying startxref: offset-based loading
        # fails, the regex scan fallback must still read it
        pages = [pdfgen.single_column_page(GOOD_LINES)]
        pdf = pdfgen.build_pdf(pages)
        broken = pdf.replace(b"startxref\n", b"startxref\n9", 1)
        assert pdfk.extract_page_text(broken, 1) == \
            pdfk.extract_page_text(pdf, 1)

    def test_modern_corrupt_objstm_is_failure_not_crash(self):
        spans = [pdfgen.single_column_page(GOOD_LINES)]
        packed = bytearray(pdfgen.build_pdf_modern(spans))
        i = packed.find(b"/ObjStm")
        j = packed.find(b"stream\n", i) + 10
        packed[j] ^= 0xFF  # corrupt the ObjStm deflate data
        r = pdfk.extract_pdf(bytes(packed), "application/pdf")
        # catalog/pages are unreachable → structured failure result
        assert not r.success and r.error is not None

    def test_png_unpredict_filters(self):
        # round-trip every filter type through the decoder
        import random
        rng = random.Random(5)
        cols = 7
        rows = [bytes(rng.randrange(256) for _ in range(cols))
                for _ in range(6)]
        enc = bytearray()
        prev = bytes(cols)
        for ft, row in zip((0, 1, 2, 3, 4, 2), rows):
            if ft == 0:
                filt = row
            elif ft == 1:
                filt = bytes((row[i] - (row[i - 1] if i else 0)) & 0xFF
                             for i in range(cols))
            elif ft == 2:
                filt = bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
            elif ft == 3:
                filt = bytes((row[i] - (((row[i - 1] if i else 0)
                                         + prev[i]) >> 1)) & 0xFF
                             for i in range(cols))
            else:
                def paeth(a, b, c):
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    return a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                filt = bytes((row[i] - paeth(row[i - 1] if i else 0,
                                             prev[i],
                                             prev[i - 1] if i else 0)) & 0xFF
                             for i in range(cols))
            enc += bytes([ft]) + filt
            prev = row
        assert pdfk._png_unpredict(bytes(enc), cols) == b"".join(rows)


class TestCMapFonts:
    """Font-encoded text via /ToUnicode CMaps (pdfk._parse_tounicode,
    hex-string tokenization, Tf font tracking) — a former PDF parity
    gap: subsetted real-world fonts show glyph
    CODES, not characters."""

    def test_cmap_text_identical_to_literal(self):
        pages = [GOOD_LINES, ["page two content here"]]
        spans = [pdfgen.single_column_page(l) for l in pages]
        classic = pdfgen.build_pdf(spans)
        cmapped = pdfgen.build_pdf_cmap(spans)
        for p in (1, 2):
            assert pdfk.extract_page_text(cmapped, p) == \
                pdfk.extract_page_text(classic, p)

    def test_full_extract_parity(self):
        spans = [pdfgen.single_column_page(GOOD_LINES)]
        a = pdfk.extract_pdf(pdfgen.build_pdf(spans), "application/pdf")
        b = pdfk.extract_pdf(pdfgen.build_pdf_cmap(spans),
                             "application/pdf")
        assert b.success and b.text == a.text
        assert b.pages[0].method == a.pages[0].method == "text-layer"

    def test_parse_tounicode_bfchar_and_bfrange(self):
        cmap = (b"begincodespacerange\n<0000> <ffff>\n"
                b"endcodespacerange\n"
                b"2 beginbfchar\n<0041> <0058>\n<0042> <00590059>\n"
                b"endbfchar\n"
                b"1 beginbfrange\n<0050> <0052> <0061>\nendbfrange\n"
                b"1 beginbfrange\n<0060> <0061> [<007a> <0077>]\n"
                b"endbfrange\n")
        width, mp = pdfk._parse_tounicode(cmap)
        assert width == 2
        assert mp[0x41] == "X"
        assert mp[0x42] == "YY"          # multi-char destination
        assert (mp[0x50], mp[0x51], mp[0x52]) == ("a", "b", "c")
        assert (mp[0x60], mp[0x61]) == ("z", "w")  # array destination

    def test_two_byte_code_mapping(self):
        font = (2, {0x0102: "A", 0x0304: "B"})
        s = "\x01\x02\x03\x04"  # latin-1-decoded code bytes
        assert pdfk._map_codes(s, font) == "AB"

    def test_hex_string_without_cmap_is_latin1(self):
        # hex strings in a font with no ToUnicode map byte-identity
        toks = pdfk._tokenize(b"BT <48656c6c6f> Tj ET")
        assert "Hello" in toks

    def test_inline_dict_skipped(self):
        # BDC property lists must not derail the tokenizer
        spans = pdfk._parse_content_spans(
            b"BT /P <</MCID 0>> BDC 1 0 0 1 72 720 Tm (x) Tj EMC ET")
        assert spans == [(72.0, 720.0, "x")]


class TestStreamFilters:
    """/Filter decode stages beyond FlateDecode: ASCIIHex, ASCII85,
    RunLength, LZW, chained-filter arrays; unsupported image filters
    fail to needs-ocr rather than emitting garbage."""

    def _pdf_with_filtered_content(self, encoded: bytes,
                                   filters: str) -> bytes:
        classic = pdfgen.build_pdf(
            [pdfgen.single_column_page(GOOD_LINES)])
        # splice the encoded body + filter spec into the content obj
        raw = pdfgen.page_content(
            pdfgen.single_column_page(GOOD_LINES))
        i = classic.find(b"<< /Length ")
        j = classic.find(b"endstream", i) + len(b"endstream")
        new_obj = (b"<< /Length %d /Filter %s >>\nstream\n%s\nendstream"
                   % (len(encoded), filters.encode(), encoded))
        out = classic[:i] + new_obj + classic[j:]
        # classic xref offsets are now lies → exercised via scan
        # fallback (startxref points mid-file, _load_objects recovers)
        return out

    def test_ascii85_content(self):
        import base64
        raw = pdfgen.page_content(pdfgen.single_column_page(GOOD_LINES))
        enc = base64.a85encode(raw) + b"~>"
        pdf = self._pdf_with_filtered_content(enc, "/ASCII85Decode")
        want = pdfk.extract_page_text(
            pdfgen.build_pdf([pdfgen.single_column_page(GOOD_LINES)]), 1)
        assert pdfk.extract_page_text(pdf, 1) == want

    def test_asciihex_flate_chain(self):
        import zlib
        raw = pdfgen.page_content(pdfgen.single_column_page(GOOD_LINES))
        enc = zlib.compress(raw).hex().encode() + b">"
        pdf = self._pdf_with_filtered_content(
            enc, "[/ASCIIHexDecode /FlateDecode]")
        want = pdfk.extract_page_text(
            pdfgen.build_pdf([pdfgen.single_column_page(GOOD_LINES)]), 1)
        assert pdfk.extract_page_text(pdf, 1) == want

    def test_runlength_roundtrip(self):
        data = b"aaaaaaaabcdefgg" + bytes(range(40)) * 2
        enc = bytearray()
        i = 0
        while i < len(data):
            run = 1
            while i + run < len(data) and run < 128 \
                    and data[i + run] == data[i]:
                run += 1
            if run >= 2:
                enc += bytes([257 - run, data[i]])
                i += run
            else:
                j = i + 1
                while j < len(data) and j - i < 128 \
                        and (j + 1 >= len(data) or data[j] != data[j + 1]):
                    j += 1
                enc += bytes([j - i - 1]) + data[i:j]
                i = j
        enc.append(128)
        assert pdfk._rl_decode(bytes(enc)) == data

    def test_lzw_roundtrip(self):
        # encoder mirror of the PDF LZW spec (early change = 1)
        def enc(data: bytes) -> bytes:
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
            bits = []
            def put(code, w):
                bits.extend(int(b) for b in format(code, f"0{w}b"))
            put(256, width)  # clear
            w = b""
            for ch in data:
                wc = w + bytes([ch])
                if wc in table:
                    w = wc
                else:
                    put(table[w], width)
                    table[wc] = next_code
                    next_code += 1
                    if next_code + 1 - 1 >= (1 << width) and width < 12:
                        width += 1
                    w = bytes([ch])
            if w:
                put(table[w], width)
            put(257, width)  # EOD
            while len(bits) % 8:
                bits.append(0)
            return bytes(int("".join(map(str, bits[i:i + 8])), 2)
                         for i in range(0, len(bits), 8))

        data = (b"the quick brown fox jumps over the lazy dog " * 8
                + bytes(range(64)))
        assert pdfk._lzw_decode(enc(data)) == data

    def test_unsupported_filter_is_needs_ocr(self):
        pdf = self._pdf_with_filtered_content(b"\xff\xd8\xff junk",
                                              "/DCTDecode")
        r = pdfk.extract_pdf(pdf, "application/pdf")
        assert r.success
        assert r.pages[0].method == "needs-ocr"


class TestPDFMutationFuzz:
    """Task-safety on corrupted PDFs: byte-flip valid documents of
    every layout and require a structured Result — never an
    exception (the never-raise contract extends through the new
    xref/objstm/CMap/filter paths)."""

    def test_byte_flips_never_raise(self):
        import random
        rng = random.Random(11)
        spans = [pdfgen.single_column_page(GOOD_LINES),
                 pdfgen.single_column_page(["second page words here"])]
        bases = [
            pdfgen.build_pdf(spans),
            pdfgen.build_pdf(spans, compress=True),
            pdfgen.build_pdf_modern(spans),
            pdfgen.build_pdf_modern(spans, indirect_length=True),
            pdfgen.build_pdf_cmap(spans),
        ]
        for base in bases:
            for _ in range(40):
                b = bytearray(base)
                for _ in range(rng.randrange(1, 4)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                r = pdfk.extract_pdf(bytes(b), "application/pdf")
                assert r.success in (True, False)
                assert isinstance(r.text, str)

    def test_truncations_never_raise(self):
        spans = [pdfgen.single_column_page(GOOD_LINES)]
        for base in (pdfgen.build_pdf(spans),
                     pdfgen.build_pdf_modern(spans),
                     pdfgen.build_pdf_cmap(spans)):
            for frac in (0.15, 0.4, 0.7, 0.95):
                cut = base[:int(len(base) * frac)]
                r = pdfk.extract_pdf(cut, "application/pdf")
                assert r.success in (True, False)


class TestIncrementalUpdate:
    """Newest-section-wins must apply to DELETIONS too: a newer xref
    section's free entry shadows an older /Prev section's in-use
    entry (no resurrection of deleted objects)."""

    @staticmethod
    def _with_deletion(base: bytes, obj_num: int) -> bytes:
        import re

        prev = int(re.search(rb"startxref\s+(\d+)", base).group(1))
        out = bytearray(base)
        new_xref = len(out)
        out += b"xref\n%d 1\n0000000000 00001 f \n" % obj_num
        out += (b"trailer\n<< /Size 8 /Root 1 0 R /Prev %d >>\n"
                b"startxref\n%d\n%%%%EOF\n" % (prev, new_xref))
        return bytes(out)

    def test_free_entry_shadows_prev_section(self):
        base = pdfgen.simple_pdf([["Page one text"], ["Page two text"]])
        # object 6 is page 2's content stream (1 catalog, 2 pages,
        # 3/4 page1+content, 5/6 page2+content, 7 font)
        assert b"Page two text" in base
        deleted = self._with_deletion(base, 6)
        assert pdfk.page_count(deleted) == 2
        assert pdfk.extract_page_text(deleted, 1) == "Page one text"
        assert pdfk.extract_page_text(deleted, 2) == ""

    def test_replacement_still_wins(self):
        # sanity: an in-use entry in the newer section (replacement)
        # keeps winning over /Prev, as before
        base = pdfgen.simple_pdf([["Page one text"]])
        assert pdfk.extract_page_text(base, 1) == "Page one text"


class TestEncryptedPDF:
    """Standard security handler with EMPTY user password — the
    common "protected" web PDF that poppler opens silently
    (poppler.go path). RC4-40 (V1/R2), RC4-128 (V2/R3), AES-128
    (V4/R4 AESV2)."""

    BASE = None

    @classmethod
    def _base(cls):
        if cls.BASE is None:
            cls.BASE = pdfgen.simple_pdf(
                [GOOD_LINES, GOOD_LINES[:2]])
        return cls.BASE

    def test_all_modes_match_plaintext(self):
        want1 = pdfk.extract_page_text(self._base(), 1)
        want2 = pdfk.extract_page_text(self._base(), 2)
        for v, r, bits in [(1, 2, 40), (2, 3, 128), (4, 4, 128)]:
            enc = pdfgen.encrypt_pdf(self._base(), v, r, bits)
            assert pdfk.page_count(enc) == 2, (v, r)
            assert pdfk.extract_page_text(enc, 1) == want1, (v, r)
            assert pdfk.extract_page_text(enc, 2) == want2, (v, r)

    def test_encrypt_dict_key_order_and_subdicts(self):
        # ADVICE r3: /U must not match inside /UE when /UE precedes it,
        # and the crypt-filter sub-dict's /Length 16 must never shadow
        # the top-level /Length (pdfcrypt._dict_int depth preference).
        from pdf_to_text_extraction_service_spark.kernel import pdfcrypt
        body = (b"<< /Filter /Standard /V 5 /R 6 /UE <0102> /U (uval) "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/OE <0304> /O (oval) /Length 256 /P -4 >>")
        assert pdfcrypt.pdf_string_after(body, b"U") == b"uval"
        assert pdfcrypt.pdf_string_after(body, b"UE") == b"\x01\x02"
        assert pdfcrypt.pdf_string_after(body, b"O") == b"oval"
        assert pdfcrypt.pdf_string_after(body, b"OE") == b"\x03\x04"
        assert pdfcrypt._dict_int(body, b"Length", 40) == 256
        body2 = (b"<< /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                 b"/Filter /Standard /V 4 /R 4 /Length 128 /P -4 >>")
        assert pdfcrypt._dict_int(body2, b"Length", 40) == 128
        assert pdfcrypt._dict_int(body2, b"V", 0) == 4

    def test_flate_then_decrypt(self):
        base = pdfgen.build_pdf(
            [pdfgen.single_column_page(GOOD_LINES)], compress=True)
        enc = pdfgen.encrypt_pdf(base, 2, 3, 128)
        assert pdfk.extract_page_text(enc, 1) == \
            pdfk.extract_page_text(base, 1)

    def test_real_user_password_is_failure_not_crash(self):
        # corrupt /U so the empty-password check fails -> the doc
        # behaves like a truly password-protected file
        enc = bytearray(pdfgen.encrypt_pdf(self._base(), 2, 3, 128))
        i = bytes(enc).find(b"/U <")
        enc[i + 4:i + 8] = b"0000"
        r = pdfk.extract_pdf(bytes(enc), "application/pdf")
        assert not r.success
        assert "password" in (r.error or "")

    def test_extract_pdf_full_envelope(self):
        enc = pdfgen.encrypt_pdf(self._base(), 4, 4, 128)
        r = pdfk.extract_pdf(enc, "application/pdf")
        assert r.success and "quick brown fox" in r.text

    def test_aes256_v5_modes(self):
        # PDF 2.0 AES-256: R6 (Algorithm 2.B iterated hash) and the
        # deprecated Adobe R5 (single SHA-256)
        want1 = pdfk.extract_page_text(self._base(), 1)
        for r in (5, 6):
            enc = pdfgen.encrypt_pdf(self._base(), 5, r, 256)
            assert pdfk.extract_page_text(enc, 1) == want1, r
            res = pdfk.extract_pdf(enc, "application/pdf")
            assert res.success and "quick brown fox" in res.text

    def test_aes256_wrong_password_is_failure(self):
        enc = bytearray(pdfgen.encrypt_pdf(self._base(), 5, 6, 256))
        i = bytes(enc).find(b"/U <")
        enc[i + 4:i + 8] = b"0000"
        r = pdfk.extract_pdf(bytes(enc), "application/pdf")
        assert not r.success and "password" in (r.error or "")

    def test_malformed_v5_dict_is_failure(self):
        enc = pdfgen.encrypt_pdf(self._base(), 2, 3, 128)
        enc = enc.replace(b"/V 2 /R 3", b"/V 5 /R 6")  # no /UE
        r = pdfk.extract_pdf(enc, "application/pdf")
        assert not r.success and "/UE" in (r.error or "")

    def test_mutation_fuzz_encrypted(self):
        import random
        rng = random.Random(99)
        enc = pdfgen.encrypt_pdf(self._base(), 4, 4, 128)
        for _ in range(60):
            blob = bytearray(enc)
            for _ in range(rng.randint(1, 12)):
                blob[rng.randrange(len(blob))] = rng.randrange(256)
            r = pdfk.extract_pdf(bytes(blob), "application/pdf")
            assert r.success in (True, False)


class TestEncryptionDetectionScope:
    def test_stray_encrypt_bytes_in_stream_ignored(self):
        # an unencrypted PDF whose CONTENT mentions '/Encrypt 12 0 R'
        # (e.g. an embedded attachment) must not be misdetected
        base = pdfgen.simple_pdf(
            [GOOD_LINES + ["A spec note mentions /Encrypt 12 0 R "
                           "inline here."]])
        assert b"/Encrypt 12 0 R" in base
        r = pdfk.extract_pdf(base, "application/pdf")
        assert r.success and "quick brown fox" in r.text
        assert "spec note" in r.text

    def test_incremental_update_removes_encryption(self):
        # newest trailer has no /Encrypt: the old encrypted state
        # must not apply (objects in the update are plaintext)
        import re

        base = pdfgen.simple_pdf([GOOD_LINES])
        enc = pdfgen.encrypt_pdf(base, 2, 3, 128)
        # append an incremental update: plaintext replacement content
        # object + new xref/trailer WITHOUT /Encrypt
        content = pdfgen.page_content(pdfgen.single_column_page(
            ["Now the update holds entirely different plain prose "
             "about rivers and quiet valleys in the morning light."]))
        out = bytearray(enc)
        obj_off = len(out)
        out += (b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\n"
                b"endobj\n" % (len(content), content))
        prev = int(re.search(rb"startxref\s+(\d+)", enc).group(1))
        xref_off = len(out)
        out += b"xref\n4 1\n%010d 00000 n \n" % obj_off
        out += (b"trailer\n<< /Size 8 /Root 1 0 R /Prev %d >>\n"
                b"startxref\n%d\n%%%%EOF\n" % (prev, xref_off))
        r = pdfk.extract_pdf(bytes(out), "application/pdf")
        assert r.success, r.error
        assert "entirely different plain prose" in r.text

    def test_zero_length_encrypted_stream_degrades_alone(self):
        # one truncated/empty AES stream must not fail the document
        base = pdfgen.simple_pdf([GOOD_LINES, GOOD_LINES[:2]])
        enc = bytearray(pdfgen.encrypt_pdf(base, 4, 4, 128))
        # truncate object 6's stream (page 2 content) to zero bytes
        import re
        m = re.search(rb"6 0 obj\n<< /Length (\d+)", bytes(enc))
        length = int(m.group(1))
        start = bytes(enc).find(b"stream\n", m.start()) + len(b"stream\n")
        del enc[start:start + length]
        patched = bytes(enc).replace(
            b"6 0 obj\n<< /Length %d" % length,
            b"6 0 obj\n<< /Length 0", 1)
        r = pdfk.extract_pdf(patched, "application/pdf")
        # page 1 must still extract; page 2 degrades
        assert "quick brown fox" in (r.text or ""), r.error


class TestInlineImages:
    """BI…ID…EI inline images and DCTDecode XObjects inside content
    streams must never corrupt extracted text (poppler.go behavior:
    non-text streams are skipped; VERDICT r3 #4)."""

    def test_text_identical_with_interleaved_images(self):
        spans = [pdfgen.single_column_page(GOOD_LINES),
                 pdfgen.single_column_page(GOOD_LINES[:3])]
        plain = pdfgen.build_pdf(spans)
        imgs = pdfgen.build_pdf_with_images(spans)
        assert pdfk.page_count(imgs) == 2
        for p in (1, 2):
            assert pdfk.extract_page_text(imgs, p) == \
                pdfk.extract_page_text(plain, p)

    def test_hostile_binary_never_tokenizes(self):
        # raw inline data containing parens, << >>, Tj lookalikes and
        # a non-delimited EI — none of it may surface as text
        content = (b"BI /W 2 /H 2 /CS /G /BPC 8 ID "
                   b"(not text) Tj <<BT>> EIX\x00\xff EI\n"
                   b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (real) Tj ET")
        spans = pdfk._parse_content_spans(content)
        assert [s[2] for s in spans] == ["real"]

    def test_missing_ei_consumes_rest(self):
        content = (b"BT /F1 12 Tf (before) Tj ET\n"
                   b"BI /W 2 /H 2 ID \x01\x02\x03\x04 no terminator")
        spans = pdfk._parse_content_spans(content)
        assert [s[2] for s in spans] == ["before"]

    def test_delimiter_adjacent_id(self):
        content = (b"BI /W 2 /H 2 /F[/AHx]ID 00ff11ee> EI\n"
                   b"BT /F1 12 Tf (after) Tj ET")
        spans = pdfk._parse_content_spans(content)
        assert [s[2] for s in spans] == ["after"]

    def test_mutation_fuzz_with_images(self):
        import random

        rnd = random.Random(99)
        base = pdfgen.build_pdf_with_images(
            [pdfgen.single_column_page(GOOD_LINES)])
        for _ in range(60):
            blob = bytearray(base)
            for _ in range(rnd.randint(1, 6)):
                blob[rnd.randrange(len(blob))] = rnd.randrange(256)
            try:
                pdfk.extract_page_text(bytes(blob), 1)
            except pdfk.PDFError:
                pass  # failure envelope is fine; crashes are not


class TestEmbeddedImageStats:
    """Pixel-driven needs-ocr: DCTDecode XObjects and inline images
    decode through kernel/imgcodec.py; flat all-ones-quant JPEGs
    round-trip exactly, so the stats are closed-form."""

    def _flat_jpeg(self, w, h, v):
        import numpy as np
        from pdf_to_text_extraction_service_spark.kernel import imgcodec
        return imgcodec.encode_jpeg(
            np.full((h, w), v, np.uint8),
            quant=np.ones(64, dtype=np.int64))

    def test_flat_jpeg_xobject_stats_closed_form(self):
        spans = pdfgen.single_column_page(GOOD_LINES)
        pdf = pdfgen.build_pdf_jpeg_pages([
            (spans, []),
            ([], [self._flat_jpeg(16, 16, 64)]),
            ([], [self._flat_jpeg(32, 24, 255)]),
        ])
        doc = pdfk.PDFDoc(pdf)
        assert doc.page_image_stats(1) == {
            "n_images": 0, "n_decoded": 0, "pixels": 0,
            "n_samples": 0, "ink_samples": 0, "sum_luma": 0}
        dark = doc.page_image_stats(2)
        assert dark["n_images"] == dark["n_decoded"] == 1
        assert dark["n_samples"] == 256
        assert dark["ink_samples"] == 256          # 64 < 250
        assert dark["sum_luma"] == 64 * 256
        blank = doc.page_image_stats(3)
        assert blank["ink_samples"] == 0           # 255 >= 250
        assert blank["sum_luma"] == 255 * 32 * 24

    def test_blank_image_page_pruned_from_ocr_queue(self):
        spans = pdfgen.single_column_page(GOOD_LINES)
        pdf = pdfgen.build_pdf_jpeg_pages([
            (spans, []),
            ([], [self._flat_jpeg(16, 16, 64)]),    # inked
            ([], [self._flat_jpeg(32, 24, 255)]),   # blank paper
            ([], []),                                # no text, no images
        ])
        res = pdfk.extract_pdf(pdf, "application/pdf")
        methods = {p.page_number: p.method for p in res.pages}
        assert methods == {1: "text-layer", 2: "needs-ocr",
                           3: "blank", 4: "needs-ocr"}

    def test_progressive_jpeg_xobject_decodes(self):
        import numpy as np
        from pdf_to_text_extraction_service_spark.kernel import imgcodec
        img = np.full((8, 8), 200, np.uint8)
        prog = imgcodec.encode_jpeg_progressive(
            img, quant=np.ones(64, dtype=np.int64))
        pdf = pdfgen.build_pdf_jpeg_pages([([], [prog])])
        st = pdfk.PDFDoc(pdf).page_image_stats(1)
        assert st["n_decoded"] == 1 and st["sum_luma"] == 200 * 64

    def test_inline_and_garbage_dct_images(self):
        spans = pdfgen.single_column_page(GOOD_LINES)
        pdf = pdfgen.build_pdf_with_images([spans])
        imgs = pdfk.PDFDoc(pdf).page_images(1)
        by_kind = sorted((s.kind, s.decoded) for s in imgs)
        # garbage DCT XObject -> size-only; both inline images decode
        assert by_kind == [("inline", True), ("inline", True),
                           ("xobject", False)]
        # text extraction is unaffected (r4 behavior preserved)
        res = pdfk.extract_pdf(pdf, "application/pdf")
        assert res.pages[0].method == "text-layer"

    def test_image_mutation_fuzz_never_raises(self):
        import random
        rnd = random.Random(1234)
        base = pdfgen.build_pdf_jpeg_pages([
            ([], [self._flat_jpeg(16, 16, 64)])])
        for _ in range(80):
            blob = bytearray(base)
            for _ in range(rnd.randint(1, 8)):
                blob[rnd.randrange(len(blob))] = rnd.randrange(256)
            try:
                doc = pdfk.PDFDoc(bytes(blob))
                doc.page_image_stats(1)
            except pdfk.PDFError:
                pass  # failure envelope fine; other exceptions are not

    def test_inline_raw_rgb_reports_pixel_width(self):
        content = (b"q\nBI /W 2 /H 2 /CS /RGB /BPC 8 ID "
                   + bytes(12) + b" EI\nQ\n")
        imgs = [
            pdfk._decode_image_payload(
                "inline", head, data, pdfk._img_filters(head))
            for head, data in pdfk._iter_inline_images(content)
        ]
        assert len(imgs) == 1
        s = imgs[0]
        # width is PIXELS (2), not samples-per-row (6)
        assert (s.width, s.height, s.n_samples) == (2, 2, 12)
        assert s.ink_samples == 12  # all zero bytes are ink


class TestRawSubByteImages:
    def test_1bit_gray_and_imagemask(self):
        import numpy as np

        from pdf_to_text_extraction_service_spark.kernel import pdfk
        from pdf_to_text_extraction_service_spark.sources import pdfgen

        h, w = 8, 10
        bits = np.ones((h, w), np.uint8)
        bits[:3] = 0                       # top 3 rows sample 0
        payload = np.packbits(bits, axis=1).tobytes()
        for head, ink in (
                (b"/Width 10 /Height 8 /BitsPerComponent 1 "
                 b"/ColorSpace /DeviceGray", 30),
                # ImageMask stencil: sample 0 paints (ink)
                (b"/Width 10 /Height 8 /ImageMask true", 30)):
            pdf = pdfgen.build_pdf_jpeg_pages([([], [(head, payload)])])
            st = pdfk.PDFDoc(pdf).page_image_stats(1)
            assert st["n_decoded"] == 1 and st["ink_samples"] == ink
            assert st["sum_luma"] == (h * w - ink) * 255

    def test_4bit_gray_scaling(self):
        import numpy as np

        from pdf_to_text_extraction_service_spark.kernel import pdfk
        from pdf_to_text_extraction_service_spark.sources import pdfgen

        # 5 columns of 4-bit value 15 (white) over 2 rows, then 0s
        img4 = np.zeros((4, 5), np.uint8)
        img4[:2] = 15
        rows = []
        for r in img4:
            bits = np.unpackbits(r[:, None], axis=1)[:, 4:].flatten()
            bits = np.concatenate(
                [bits, np.zeros((-len(bits)) % 8, np.uint8)])
            rows.append(np.packbits(bits).tobytes())
        payload = b"".join(rows)
        head = (b"/Width 5 /Height 4 /BitsPerComponent 4 "
                b"/ColorSpace /DeviceGray")
        pdf = pdfgen.build_pdf_jpeg_pages([([], [(head, payload)])])
        st = pdfk.PDFDoc(pdf).page_image_stats(1)
        assert st["sum_luma"] == 2 * 5 * 255
        assert st["ink_samples"] == 2 * 5


def test_tiff_lzw_round_trip_and_predictor():
    import numpy as np

    from pdf_to_text_extraction_service_spark.kernel import imgcodec

    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (12, 33), np.uint8)
    rgb = rng.integers(0, 256, (7, 19, 3), np.uint8)
    grad = np.tile(np.arange(256, dtype=np.uint8), 40).reshape(40, 256)
    for img in (gray, rgb, grad):
        for pred in (False, True):
            t = imgcodec.encode_tiff(img, lzw=True, predictor=pred,
                                     rows_per_strip=5)
            assert np.array_equal(imgcodec.decode_tiff(t), img)
    # incompressible payload crosses the 4094-entry table clear
    noise = rng.integers(0, 256, (60, 256), np.uint8)
    t = imgcodec.encode_tiff(noise, lzw=True)
    assert np.array_equal(imgcodec.decode_tiff(t), noise)
