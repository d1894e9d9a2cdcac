"""PDF source: dialect round-trips, content-operator semantics, xref
damage recovery, the flag-mode census contract (never raises), bomb
ceilings, and the Spark reader. The parser is engine-new capability
built from the public ISO 32000-1 spec (the reference takes caller
strings only, /root/reference/src/ParseHTML.php:136-149)."""

import random
import zlib

import pytest

from parse_html_spark.sources.pdf import (
    PdfError,
    _Doc,
    _parse_object,
    _png_unpredict,
    _parse_tounicode,
    encode_pdf,
    layout_doc,
    parse_pdf_spans,
    spans_to_text,
    wrap_lines,
)

TEXT = ("The quick brown fox jumps over the lazy dog near the river "
        "bank. " * 8).strip()

DIALECTS = [
    {},
    {"compress": True},
    {"kerning": True},
    {"cmap": True},
    {"objstm": True},
    {"compress": True, "kerning": True, "cmap": True, "objstm": True},
]


def _expected(text):
    return "\n".join(wrap_lines(text))


def _raw_pdf(content: bytes, extra_objs=(), resources=None) -> bytes:
    """Minimal classic single-page PDF around a literal content stream,
    for operator-level tests. extra_objs: list of raw object bodies
    (bytes) appended as objects 6, 7, ...; resources: raw bytes for
    the page /Resources value (default: F1 -> object 5)."""
    if resources is None:
        resources = b"<< /Font << /F1 5 0 R >> >>"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources " + resources + b" /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n" % len(content) + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ] + list(extra_objs)
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref))
    return bytes(out)


# -- dialect round-trips ----------------------------------------------------


@pytest.mark.parametrize("kw", DIALECTS)
def test_roundtrip_dialects(kw):
    data = encode_pdf(layout_doc(TEXT), **kw)
    spans, status, n_pages = parse_pdf_spans(data)
    assert status == "ok"
    assert n_pages == 1
    assert spans_to_text(spans) == _expected(TEXT)
    # single text span, offset 0
    assert [s[0] for s in spans] == ["text"]
    assert spans[0][3] == 0


def test_encoder_deterministic():
    for kw in DIALECTS:
        a = encode_pdf(layout_doc(TEXT), **kw)
        b = encode_pdf(layout_doc(TEXT), **kw)
        assert a == b


def test_two_page_image_interleave():
    from parse_html_spark.functions.jpeg import encode_jpeg
    import numpy as np

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[::2] = 200
    jpeg = encode_jpeg(img)
    pages = layout_doc(TEXT, two_pages=True, image=(jpeg, 8, 8, "Im1"))
    for kw in ({}, {"objstm": True, "compress": True, "cmap": True}):
        data = encode_pdf(pages, **kw)
        spans, status, n_pages = parse_pdf_spans(data)
        assert status == "ok"
        assert n_pages == 2
        assert [s[0] for s in spans] == ["text", "media", "text"]
        assert spans[1][2] == "pdf:Im1:8x8"
        # media offset == chars of preceding text span; following text
        # span resumes at the same offset
        assert spans[1][3] == len(spans[0][1])
        assert spans[2][3] == spans[1][3]
        joined = spans[0][1] + "\n" + spans[2][1]
        assert joined == _expected(TEXT)


def test_empty_doc_and_empty_page():
    data = encode_pdf([[]])
    spans, status, n_pages = parse_pdf_spans(data)
    assert (spans, status, n_pages) == ([], "ok", 1)


# -- content operator semantics ----------------------------------------------


def test_tj_gap_threshold():
    """Kerning gaps <= -180/1000 em insert a space; smaller gaps don't."""
    content = (b"BT /F1 12 Tf 1 0 0 1 72 720 Tm "
               b"[ (AB) -60 (CD) -200 (EF) ] TJ ET")
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert status == "ok"
    assert spans_to_text(spans) == "ABCD EF"


def test_quote_ops_and_leading():
    """' and \" advance one leading like T*; TL sets the leading."""
    content = (b"BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm "
               b"(first) Tj (second) ' 1 2 (third) \" ET")
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert status == "ok"
    assert spans_to_text(spans) == "first\nsecond\nthird"


def test_td_vs_tstar_equivalent_layout():
    a = encode_pdf([[("text", ["l1", "l2", "l3"], 72.0, 720.0, "td")]])
    b = encode_pdf([[("text", ["l1", "l2", "l3"], 72.0, 720.0, "tstar")]])
    assert spans_to_text(parse_pdf_spans(a)[0]) == "l1\nl2\nl3"
    assert spans_to_text(parse_pdf_spans(b)[0]) == "l1\nl2\nl3"


def test_indirect_ref_in_content_folds_to_one_operand():
    """'N G R' inside a content stream must fold into ONE _Ref operand
    (as the generic object parser does), never become an unknown 'R'
    operator that clears the stack (review r7): here the ref sits
    between Td's real arguments, so a stack clear would skip the Td
    and merge both shows onto one row."""
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a) Tj "
               b"0 1 0 R -20 Td (b) Tj ET")
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert status == "ok"
    assert spans_to_text(spans) == "a\nb"


def test_row_clustering_x_order():
    """Two show ops at the same y merge into one row, left-to-right,
    regardless of emission order."""
    content = (b"BT /F1 12 Tf 1 0 0 1 200 700 Tm (right) Tj ET "
               b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (left ) Tj ET")
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert spans_to_text(spans) == "left right"


def test_cm_graphics_stack():
    """q/Q save/restore the CTM; cm translation moves the text origin
    so rows cluster by device-space y."""
    content = (b"q 1 0 0 1 0 -600 cm "
               b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (low) Tj ET Q "
               b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (high) Tj ET")
    spans, _, _ = parse_pdf_spans(_raw_pdf(content))
    assert spans_to_text(spans) == "high\nlow"


def test_inline_image_censused_and_skipped():
    content = (b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (above) Tj ET "
               b"q 1 0 0 1 72 650 cm BI /W 3 /H 2 /BPC 8 /CS /RGB ID "
               b"\x00\x01\x02\x03(\\\xff garbage)\x05 EI Q "
               b"BT /F1 12 Tf 1 0 0 1 72 600 Tm (below) Tj ET")
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert status == "ok"
    assert [s[0] for s in spans] == ["text", "media", "text"]
    assert spans[1][2] == "pdf:inline:3x2"
    assert spans[0][1] == "above" and spans[2][1] == "below"


def test_form_xobject_recursion():
    form = (b"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 0 -100] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Length 48 >>\n"
            b"stream\nBT /F1 12 Tf 1 0 0 1 72 700 Tm (inner text) Tj ET"
            b"\nendstream")
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (outer) Tj ET /Fx Do")
    res = (b"<< /Font << /F1 5 0 R >> /XObject << /Fx 6 0 R >> >>")
    data = _raw_pdf(content, extra_objs=[form], resources=res)
    spans, status, _ = parse_pdf_spans(data)
    assert status == "ok"
    assert spans_to_text(spans) == "outer\ninner text"


def test_differences_encoding():
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ 65 /eacute /bullet 97 /uni00E7 ] >> >>")
    res = b"<< /Font << /F1 6 0 R >> >>"
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (ABa!) Tj ET"
    data = _raw_pdf(content, extra_objs=[font], resources=res)
    spans, status, _ = parse_pdf_spans(data)
    assert status == "ok"
    assert spans_to_text(spans) == "é•ç!"


def test_differences_digit_glyphs():
    """AGL digit glyph names are 'zero'..'nine', not '0'..'9'."""
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ 65 /zero /nine /five ] >> >>")
    res = b"<< /Font << /F1 6 0 R >> >>"
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (ABC!) Tj ET"
    data = _raw_pdf(content, extra_objs=[font], resources=res)
    spans, status, _ = parse_pdf_spans(data)
    assert spans_to_text(spans) == "095!"


def test_short_decodeparms_array_does_not_truncate_filters():
    """/Filter [/AHx /Fl] with a one-element literal /DecodeParms must
    still apply BOTH filters (zip used to drop the second)."""
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (both filters) Tj ET"
    body = zlib.compress(content).hex().encode() + b">"
    obj4 = (b"<< /Filter [/ASCIIHexDecode /FlateDecode] "
            b"/DecodeParms [null] /Length %d >>\nstream\n" % len(body)
            + body + b"\nendstream")
    data = _raw_pdf(b"unused")
    start = data.index(b"4 0 obj\n") + 8
    end = data.index(b"\nendobj", start)
    patched = data[:start] + obj4 + data[end:]
    spans, status, _ = parse_pdf_spans(patched)
    assert spans_to_text(spans) == "both filters"


def test_sloppy_19_byte_xref_entries():
    """Xref tables with 1-byte EOLs (19-byte entries) must not drift."""
    data = encode_pdf(layout_doc(TEXT))
    i = data.index(b"xref\n")
    j = data.index(b"trailer")
    table = data[i:j].replace(b" \n", b"\n")
    assert len(table) < j - i  # actually shrank
    shift = (j - i) - len(table)
    # startxref still points at 'xref' (unmoved); entries' stored
    # offsets are unchanged since objects precede the table
    patched = data[:i] + table + data[j:]
    spans, status, _ = parse_pdf_spans(patched)
    assert status == "ok", status
    assert spans_to_text(spans) == _expected(TEXT)
    assert shift > 0


def _png_unpredict_per_byte(data, columns, colors, bpc):
    """The per-byte predictor loop that _png_unpredict replaced by the
    defilter it shares with the PNG decoder, kept as the reference."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    stride = rowlen + 1
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data) - stride + 1, stride):
        ft = data[r]
        row = bytearray(data[r + 1 : r + 1 + rowlen])
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                cc = prev[i - bpp] if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise PdfError(f"unknown PNG predictor filter type {ft}")
        out += row
        prev = row
    return bytes(out)


# (Colors, BitsPerComponent): bpp 1..8, sub-byte samples, and rows
# that are not a whole number of bpp-byte pixels (3 x 4 bits, odd
# Columns: 2-byte pixels in a 5-byte row)
@pytest.mark.parametrize(
    "colors,bpc",
    [(1, 1), (1, 2), (1, 4), (1, 8), (2, 8), (3, 8), (4, 8), (5, 8),
     (3, 16), (7, 8), (4, 16), (3, 4), (3, 2), (5, 4)],
)
def test_png_unpredict_matches_per_byte_loop(colors, bpc):
    rng = random.Random(colors * 100 + bpc)
    for _ in range(60):
        columns = rng.randrange(1, 14)
        rowlen = (columns * colors * bpc + 7) // 8
        data = bytearray()
        for _ in range(rng.randrange(0, 7)):
            data.append(rng.randrange(5))
            data += rng.randbytes(rowlen)
        data += rng.randbytes(rng.randrange(rowlen + 1))  # partial row
        data = bytes(data)
        assert _png_unpredict(data, columns, colors, bpc) == (
            _png_unpredict_per_byte(data, columns, colors, bpc)
        )


def test_png_unpredict_bad_filter_keeps_census_text():
    good, bad = b"\x02" + bytes(4), b"\x07" + bytes(4)
    data = good + bad + b"\x09" + bytes(4)
    for fn in (_png_unpredict, _png_unpredict_per_byte):
        with pytest.raises(
            PdfError, match=r"^unknown PNG predictor filter type 7$"
        ):
            fn(data, 4, 1, 8)


def test_macroman_encoding():
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding /MacRomanEncoding >>")
    res = b"<< /Font << /F1 6 0 R >> >>"
    # 0x8E is e-acute in MacRoman, z-caron-ish elsewhere
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (caf\\216) Tj ET"
    data = _raw_pdf(content, extra_objs=[font], resources=res)
    spans, status, _ = parse_pdf_spans(data)
    assert spans_to_text(spans) == "café"


def test_no_font_selected_latin1_fallback():
    content = b"BT 1 0 0 1 72 720 Tm (plain) Tj ET"
    spans, status, _ = parse_pdf_spans(_raw_pdf(content))
    assert spans_to_text(spans) == "plain"


# -- object lexer -------------------------------------------------------------


def test_litstring_escapes():
    data = br"( a\(b\)c \\ \n\t \101 \x nested (deep) end \
cont )"
    s, pos = _parse_object(data, 0)
    assert s == b" a(b)c \\ \n\t A x nested (deep) end cont "
    assert pos == len(data)


def test_hexstring_and_names():
    assert _parse_object(b"<48656C 6C6F>", 0)[0] == b"Hello"
    assert _parse_object(b"<48656>", 0)[0] == b"He`"  # odd: pad 0
    name, _ = _parse_object(b"/A#20B#2Fc", 0)
    assert name == "A B/c"


def test_refs_and_numbers():
    obj, _ = _parse_object(b"12 0 R", 0)
    assert obj.num == 12
    assert _parse_object(b"12 0 Road", 0)[0] == 12  # R must be bounded
    assert _parse_object(b"-3.5", 0)[0] == -3.5
    assert _parse_object(b"+7", 0)[0] == 7
    d, _ = _parse_object(b"<< /A [1 2 0 R true] /B null >>", 0)
    assert d["A"][0] == 1 and d["A"][1].num == 2 and d["A"][2] is True
    assert d["B"] is None


def test_comments_skipped():
    obj, _ = _parse_object(b"% c\n [1 % mid\n 2]", 0)
    assert obj == [1, 2]


def test_tounicode_bfrange_forms():
    body = (b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar <0001> <0041> <0002> <00E90301> endbfchar\n"
            b"1 beginbfrange <0010> <0012> <0061> endbfrange\n"
            b"1 beginbfrange <0020> <0021> [<005A> <0079>] endbfrange\n")
    widths, table = _parse_tounicode(body)
    assert widths == (2,)
    assert table[(2, 1)] == "A"
    assert table[(2, 2)] == "é́"
    assert [table[(2, c)] for c in (0x10, 0x11, 0x12)] == ["a", "b", "c"]
    assert table[(2, 0x20)] == "Z" and table[(2, 0x21)] == "y"


# -- xref damage / recovery ----------------------------------------------------


def test_xref_reconstruction_bad_startxref():
    data = encode_pdf(layout_doc(TEXT))
    i = data.rindex(b"startxref")
    broken = data[:i] + b"startxref\n999999999\n%%EOF\n"
    spans, status, n_pages = parse_pdf_spans(broken)
    assert status.startswith("ok_with_warnings:")
    assert n_pages == 1
    assert spans_to_text(spans) == _expected(TEXT)


def test_xref_reconstruction_missing_startxref():
    data = encode_pdf(layout_doc(TEXT))
    broken = data[: data.rindex(b"startxref")]
    spans, status, _ = parse_pdf_spans(broken)
    assert status.startswith("ok_with_warnings:")
    assert spans_to_text(spans) == _expected(TEXT)


def test_xref_reconstruction_objstm_dialect():
    """With the xref stream clobbered, reconstruction must still find
    the Root via the XRef stream dict scan."""
    data = encode_pdf(layout_doc(TEXT), objstm=True)
    i = data.rindex(b"startxref")
    broken = data[:i] + b"startxref\n1\n%%EOF\n"
    spans, status, _ = parse_pdf_spans(broken)
    assert status.startswith("ok_with_warnings:")
    # text objects live in the ObjStm; reconstruction reaches them
    # through the XRef-stream-dict Root + ObjStm entries
    assert spans_to_text(spans) == _expected(TEXT)


def test_incremental_update_prev_chain():
    """A second revision replaces the page object (5 in encode_pdf's
    layout; 3 is the font) via an xref with /Prev; newest entry wins."""
    base = encode_pdf(layout_doc("old text gone"))
    newpage = (b"5 0 obj\n<< /Type /Page /Parent 2 0 R "
               b"/MediaBox [0 0 612 792] "
               b"/Resources << /Font << /F1 3 0 R >> >> "
               b"/Contents 6 0 R >>\nendobj\n")
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (new text) Tj ET"
    newstream = (b"6 0 obj\n<< /Length %d >>\nstream\n" % len(content)
                 + content + b"\nendstream\nendobj\n")
    prev_xref = int(base[base.rindex(b"startxref") + 9:
                         base.rindex(b"%%EOF")].strip())
    out = bytearray(base)
    off5 = len(out)
    out += newpage
    off6 = len(out)
    out += newstream
    xref = len(out)
    out += (b"xref\n5 1\n%010d 00000 n \n6 1\n%010d 00000 n \n"
            % (off5, off6))
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (prev_xref, xref))
    spans, status, n_pages = parse_pdf_spans(bytes(out))
    assert status == "ok"
    assert spans_to_text(spans) == "new text"


# -- flag/raise contract + bombs ----------------------------------------------


def test_flag_contract_corrupt_inputs():
    for data, frag in [
        (b"", "missing %PDF header"),
        (b"hello world", "missing %PDF header"),
        (b"%PDF-1.4\nnothing else", "no document catalog"),
        (12345, "input is not bytes"),
    ]:
        spans, status, n_pages = parse_pdf_spans(data)
        assert spans == [] and n_pages == 0
        assert status.startswith("pdf_error:") and frag in status


def test_encrypted_censused_not_garbled():
    data = encode_pdf(layout_doc(TEXT))
    i = data.index(b"/Root")
    patched = data[:i] + b"/Encrypt 9 0 R " + data[i:]
    spans, status, n_pages = parse_pdf_spans(patched)
    assert spans == [] and n_pages == 0
    assert status == "pdf_error:encrypted document"


def test_raise_mode(spark, tmp_path):
    with pytest.raises(PdfError):
        parse_pdf_spans(b"%PDF-1.4\nbroken", on_error="raise")
    with pytest.raises(ValueError):
        parse_pdf_spans(b"", on_error="bogus")
    # every on_error entry point rejects a bad value on the driver, with
    # one message, before any Spark job runs
    from parse_html_spark.functions.media import extract_media_features
    from parse_html_spark.sources.pdf import read_pdf_media, read_span_docs_pdf
    from parse_html_spark.sources.readers import read_span_docs_warc

    media = spark.createDataFrame([], "media_ref string, payload binary")
    for call in (
        lambda: extract_media_features(media, on_error="bogus"),
        lambda: read_span_docs_warc(spark, str(tmp_path), on_error="bogus"),
        lambda: read_pdf_media(spark, str(tmp_path), on_error="bogus"),
        lambda: read_span_docs_pdf(spark, str(tmp_path), on_error="bogus"),
        lambda: parse_pdf_spans(b"", on_error="bogus"),
    ):
        with pytest.raises(
            ValueError, match=r"^on_error must be 'raise' or 'flag': 'bogus'$"
        ):
            call()


def test_flate_bomb_page_content_degrades():
    """A content stream decompressing past the 64 MiB cap must not
    MemoryError: the page degrades to a warning."""
    bomb = zlib.compress(b"\x00" * (1 << 27), 9)  # 128 MiB decoded
    content_obj = (b"<< /Filter /FlateDecode /Length %d >>\nstream\n"
                   % len(bomb)) + bomb + b"\nendstream"
    data = _raw_pdf(b"unused")
    # swap object 4's body for the bomb
    start = data.index(b"4 0 obj\n") + 8
    end = data.index(b"\nendobj", start)
    patched = data[:start] + content_obj + data[end:]
    # xref offsets are now wrong past object 4 -> reconstruction path;
    # either way the contract is: no MemoryError, no raise in flag mode
    spans, status, _ = parse_pdf_spans(patched)
    assert isinstance(status, str)
    assert spans_to_text(spans) == ""


def test_document_decode_budget(monkeypatch):
    """The per-stream cap alone doesn't bound a document (many streams
    or a re-executed form multiply it); the shared per-document budget
    must trip and census, not OOM."""
    import parse_html_spark.sources.pdf as pdfmod

    pages = [[("text", [f"page {i} line"], 72.0, 720.0, "td")]
             for i in range(6)]
    data = encode_pdf(pages, compress=True)
    spans, status, _ = parse_pdf_spans(data)
    assert status == "ok" and len(spans) == 1
    monkeypatch.setattr(pdfmod, "_MAX_DOC_DECODED", 100)
    spans, status, n_pages = parse_pdf_spans(data)
    # structural xref/objstm decode still small enough; the six page
    # content decodes overrun the budget and degrade per-page
    assert status.startswith(("ok_with_warnings:", "pdf_error:"))
    assert "budget" in status


def test_fuzz_mutations_never_raise():
    rng = random.Random(42)
    bases = [encode_pdf(layout_doc(TEXT), **kw) for kw in DIALECTS]
    for base in bases:
        for _ in range(40):
            data = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                i = rng.randrange(len(data))
                data[i] = rng.randrange(256)
            spans, status, n_pages = parse_pdf_spans(bytes(data))
            assert isinstance(status, str)
            assert isinstance(n_pages, int)
        for _ in range(10):
            cut = rng.randrange(len(base))
            spans, status, _ = parse_pdf_spans(base[:cut])
            assert isinstance(status, str)


def test_fuzz_media_extraction_never_raises():
    """extract_pdf_media shares parse_pdf_spans' census contract:
    mutations of image-bearing PDFs never raise in flag mode."""
    from parse_html_spark.functions.jpeg import encode_jpeg
    import numpy as np

    from parse_html_spark.sources.pdf import extract_pdf_media

    rng = random.Random(11)
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[::2] = 200
    jpeg = encode_jpeg(img)
    pages = layout_doc(TEXT, two_pages=True, image=(jpeg, 8, 8, "Im1"))
    for base in (encode_pdf(pages), encode_pdf(pages, objstm=True)):
        for _ in range(30):
            data = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            media, status, n_pages = extract_pdf_media(bytes(data))
            assert isinstance(status, str) and isinstance(n_pages, int)
            for it in media:
                assert isinstance(it["payload"], (bytes, bytearray))
        for _ in range(8):
            media, status, _ = extract_pdf_media(
                base[: rng.randrange(len(base))]
            )
            assert isinstance(status, str)


def test_fuzz_random_bytes_never_raise():
    rng = random.Random(7)
    for _ in range(60):
        n = rng.randrange(0, 4000)
        blob = bytes(rng.randrange(256) for _ in range(n))
        if rng.random() < 0.5:
            blob = b"%PDF-1.4\n" + blob
        spans, status, _ = parse_pdf_spans(blob)
        assert isinstance(status, str)


# -- helpers ------------------------------------------------------------------


def test_wrap_lines():
    assert wrap_lines("") == []
    assert wrap_lines("ab", 2) == ["ab"]
    assert wrap_lines("abc", 2) == ["ab", "c"]
    t = "x" * 130
    assert wrap_lines(t) == ["x" * 64, "x" * 64, "xx"]


# -- Spark reader --------------------------------------------------------------


def test_read_span_docs_pdf(spark, tmp_path):
    texts = {}
    for i in range(6):
        t = f"Spark pdf reader doc {i} with filler body text. " * 3
        texts[i] = "\n".join(wrap_lines(t.strip()))
        kw = DIALECTS[i]
        (tmp_path / f"{i:04d}.pdf").write_bytes(
            encode_pdf(layout_doc(t.strip()), **kw)
        )
    (tmp_path / "9999.pdf").write_bytes(b"%PDF-1.4\nbroken")
    (tmp_path / "ignored.txt").write_bytes(b"not a pdf")

    from parse_html_spark.sources.pdf import read_span_docs_pdf

    rows = {
        r["doc_id"].rsplit("/", 1)[-1]: r
        for r in read_span_docs_pdf(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 7  # glob filter keeps only *.pdf
    for i in range(6):
        r = rows[f"{i:04d}.pdf"]
        assert r["status"] == "ok"
        assert r["n_pages"] == 1
        assert r["spans"][0]["text"] == texts[i]
        assert r["n_chars"] == len(texts[i])
    bad = rows["9999.pdf"]
    assert bad["status"].startswith("pdf_error:")
    assert bad["spans"] == [] and bad["n_chars"] == 0

    with pytest.raises(Exception):
        read_span_docs_pdf(spark, str(tmp_path), on_error="raise").collect()


def test_extract_pdf_media_roundtrip():
    """Embedded DCT image payloads come back byte-identical to the
    JPEG that went in, once per distinct XObject, with span-joinable
    media_ref labels."""
    from parse_html_spark.functions.jpeg import decode_jpeg, encode_jpeg
    import numpy as np

    from parse_html_spark.sources.pdf import extract_pdf_media

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[::2] = 200
    jpeg = encode_jpeg(img)
    pages = layout_doc(TEXT, two_pages=True, image=(jpeg, 8, 8, "Im1"))
    for kw in ({}, {"objstm": True, "compress": True}):
        data = encode_pdf(pages, **kw)
        media, status, n_pages = extract_pdf_media(data)
        assert status == "ok" and n_pages == 2
        assert len(media) == 1
        it = media[0]
        assert it["media_ref"] == "pdf:Im1:8x8"
        assert it["codec"] == "dct"
        assert bytes(it["payload"]) == jpeg
        # the package's own decoder reads the payload
        decoded = decode_jpeg(bytes(it["payload"]))
        assert decoded.shape == (8, 8, 3)
    # corrupt input censuses, never raises in flag mode
    media, status, _ = extract_pdf_media(b"%PDF-1.4\nbroken")
    assert media == [] and status.startswith("pdf_error:")


def test_read_pdf_media_feeds_media_features(spark, tmp_path):
    """Spark loop: PDFs -> read_pdf_media -> extract_media_features
    (fake=False, the real JPEG decode path) -- the multimodal columns
    story end-to-end from a document container."""
    from parse_html_spark.functions.jpeg import encode_jpeg
    from parse_html_spark.functions.media import extract_media_features
    import numpy as np

    from parse_html_spark.sources.pdf import read_pdf_media

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[1::2] = 180
    jpeg = encode_jpeg(img)
    for i in range(3):
        pages = layout_doc(
            f"media doc {i} " * 30, two_pages=True,
            image=(jpeg, 8, 8, "Im1"),
        )
        (tmp_path / f"{i}.pdf").write_bytes(encode_pdf(pages))
    (tmp_path / "broken.pdf").write_bytes(b"%PDF-1.4\nbroken")

    media = read_pdf_media(spark, str(tmp_path))
    rows = media.collect()
    ok = [r for r in rows if r["status"] == "ok"]
    bad = [r for r in rows if r["status"].startswith("pdf_error:")]
    assert len(ok) == 3 and len(bad) == 1
    assert all(r["codec"] == "dct" and bytes(r["payload"]) == jpeg
               for r in ok)
    feats = extract_media_features(
        media.filter("codec = 'dct'").select("media_ref", "payload"),
        fake=False,
    ).collect()
    assert len(feats) == 3
    for f in feats:
        assert f["media_type"] == "image"
        assert f["n_bytes"] == len(jpeg)
        assert f["feature"] is not None and len(f["feature"]) > 0


def test_pdf_source_feeds_training_ops(spark, tmp_path):
    """The PDF source emits the same span-doc shape as WARC/WET/JSONL,
    so the training-data layer composes on it unchanged: flatten the
    text spans and run annotate_quality + lang_id in one projection."""
    import pyspark.sql.functions as F

    from parse_html_spark.functions.textfn import annotate_quality, lang_id
    from parse_html_spark.sources.pdf import read_span_docs_pdf

    body = ("the quick brown fox jumps over the lazy dog and then "
            "the dog chases the fox around the river bank again ") * 6
    for i in range(4):
        (tmp_path / f"{i}.pdf").write_bytes(
            encode_pdf(layout_doc(body.strip()))
        )
    df = read_span_docs_pdf(spark, str(tmp_path))
    flat = df.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text"),
    )
    out = annotate_quality(flat).withColumn("lang", lang_id(F.col("text")))
    rows = out.collect()
    assert len(rows) == 4
    for r in rows:
        assert r["bpe_tokens"] > 50
        assert r["split"] in ("train", "val", "test")
        assert r["lang"] == "en"
        assert isinstance(r["keep"], bool)
