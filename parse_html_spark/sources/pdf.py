"""PDF source: from-scratch ISO 32000 text/layout span extraction.

The north rule names "PDF/layout parse" alongside HTML boilerplate
strip as part of the interleaved-document extraction surface; the
reference engine is HTML-only (takes caller strings,
/root/reference/src/ParseHTML.php:136-149), so this module is
engine-new capability built from the public ISO 32000-1 spec, the
same way readers.py implements RFC 9110/9112 and ISO 28500.

Three public surfaces, mirroring the WARC layer's shape:

- ``encode_pdf(pages, ...)``: a deterministic PDF writer (fixture
  generator -- no timestamps, no /ID, byte-stable) covering four
  structural dialects: classic xref + uncompressed content streams,
  FlateDecode content + TJ kerning arrays, PDF 1.5 cross-reference
  streams + object streams (with PNG Up predictor), and Type0 fonts
  with 2-byte ToUnicode CMaps (hex-string show ops). Images embed as
  DCTDecode XObjects (the package's own encode_jpeg output).
- ``parse_pdf_spans(data)``: pure function bytes -> interleaved span
  sequence (kind/text/media_ref/offset -- the BASELINE.json span
  model). Never raises in flag mode: corrupt files degrade to a
  ``pdf_error:*`` status the census can query, exactly like the WARC
  reader's contract.
- ``read_span_docs_pdf(spark, path)``: DataFrame source over
  ``binaryFile`` + mapInArrow, one task per PDF (PDFs are inherently
  one-document files; parallelism comes from file count, which at
  corpus scale is millions).

Parser scope (documented, tested):

- object lexer: literal strings (nesting, all escapes, octal, line
  continuations, EOL normalization), hex strings, names with #xx,
  numbers, dicts, arrays, refs, comments;
- xref: classic tables (+ /Prev chains), PDF 1.5 xref streams
  (/W fields, /Index, FlateDecode + PNG predictors 10-15), object
  streams (/ObjStm), and a scan-the-file reconstruction fallback when
  the xref is damaged;
- content interpreter: q/Q/cm graphics stack, BT/ET, Tf/TL/Td/TD/Tm/
  T*, Tj/TJ/'/", Do (image + form XObjects, depth-capped), inline
  images (BI..ID..EI, skipped with size census);
- fonts: /ToUnicode CMaps (codespacerange widths, bfchar, bfrange
  incl. array form), WinAnsi/MacRoman simple encodings with
  /Differences overrides; unmapped codes decode to U+FFFD, never a
  crash;
- layout: text runs anchored at (text matrix x CTM) origin, clustered
  into rows by device-space y (2pt tolerance), rows ordered top-down,
  runs within a row left-to-right; rows join with newlines into text
  spans, image XObjects interrupt the text into separate media spans
  (the interleaved model). Glyph-width metrics are NOT consulted:
  each show op is one run, and intra-TJ kerning gaps below -180/1000
  em insert a single space (the standard metric-free heuristic).

Bomb/robustness ceilings (same policy as readers.py / codecs.py):
every FlateDecode stream is capped (64 MiB), object resolution,
page-tree walks, content ops, and CMap sizes are all bounded, and the
lexer is monotonic (a non-advancing position is an error, not a
hang). Fuzzed in tests/test_pdf.py: random mutations never raise in
flag mode.
"""

from __future__ import annotations

import re
import struct
import zlib

from ..functions.codecs import _png_defilter
from ..session import _batch_map, _on_error_columns
from .readers import SPAN_DOC_SCHEMA, _bounded_inflate

# ---------------------------------------------------------------------------
# limits (bomb ceilings -- census, never MemoryError/hang an executor)
# ---------------------------------------------------------------------------

_MAX_STREAM_DECODED = 1 << 26  # 64 MiB per decoded stream
_MAX_DOC_DECODED = 1 << 28  # 256 MiB total decoded bytes per document
_MAX_PAGES = 50_000
_MAX_CONTENT_OPS = 500_000  # per page
_MAX_RESOLVE_DEPTH = 32
_MAX_PARSE_DEPTH = 64
_MAX_CMAP_ENTRIES = 1 << 16
_MAX_FORM_DEPTH = 8
_MAX_OBJECTS = 1 << 20

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class PdfError(ValueError):
    """Structural PDF failure. flag mode converts these (and any other
    exception) into a ``pdf_error:*`` status; raise mode propagates."""


class _Ref(tuple):
    """Indirect reference (num, gen)."""

    __slots__ = ()

    def __new__(cls, num, gen):
        return tuple.__new__(cls, (num, gen))

    @property
    def num(self):
        return self[0]


class _Kw(str):
    """Bare keyword token (content-stream operator, true/false/null
    already materialized before this is produced)."""


class _Name(str):
    """PDF name (/Foo -> _Name('Foo'))."""


class _Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d, raw):
        self.dict = d
        self.raw = raw


# ---------------------------------------------------------------------------
# lexer / object parser
# ---------------------------------------------------------------------------


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to EOL
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_KW_RE = re.compile(rb"[A-Za-z'\"*]{1,32}")


def _parse_number(data: bytes, pos: int):
    m = _NUM_RE.match(data, _skip_ws(data, pos))
    if not m:
        raise PdfError(f"expected number at byte {pos}")
    t = m.group()
    if b"." in t:
        return float(t), m.end()
    return int(t), m.end()


def _parse_name(data: bytes, pos: int):
    # pos at '/'
    pos += 1
    n = len(data)
    out = bytearray()
    while pos < n:
        c = data[pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and pos + 2 < n:  # #xx
            try:
                out.append(int(data[pos + 1 : pos + 3], 16))
                pos += 3
                continue
            except ValueError:
                pass
        out.append(c)
        pos += 1
    return _Name(out.decode("latin-1")), pos


_ESC = {
    0x6E: b"\n",
    0x72: b"\r",
    0x74: b"\t",
    0x62: b"\b",
    0x66: b"\f",
    0x28: b"(",
    0x29: b")",
    0x5C: b"\\",
}


_LIT_SPECIAL = re.compile(rb"[\\()\r]")


def _parse_litstring(data: bytes, pos: int):
    # pos at '('. Bulk slice copies between special bytes (regex scan)
    # rather than a per-byte loop: literal strings are the show-op hot
    # path and most contain no escapes at all.
    pos += 1
    n = len(data)
    out = bytearray()
    depth = 1
    while True:
        m = _LIT_SPECIAL.search(data, pos)
        if m is None:
            raise PdfError("unterminated literal string")
        e = m.start()
        if e > pos:
            out += data[pos:e]
        c = data[e]
        pos = e + 1
        if c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos
            out.append(c)
        elif c == 0x0D:  # unescaped EOL -> \n per spec
            out.append(0x0A)
            if pos < n and data[pos] == 0x0A:
                pos += 1
        else:  # backslash
            if pos >= n:
                raise PdfError("unterminated literal string")
            c2 = data[pos]
            if c2 in _ESC:
                out += _ESC[c2]
                pos += 1
            elif 0x30 <= c2 <= 0x37:  # octal, 1-3 digits
                v = 0
                k = 0
                while k < 3 and pos < n and 0x30 <= data[pos] <= 0x37:
                    v = v * 8 + (data[pos] - 0x30)
                    pos += 1
                    k += 1
                out.append(v & 0xFF)
            elif c2 in b"\r\n":  # line continuation: drop EOL
                pos += 1
                if c2 == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:  # unknown escape: the char itself
                out.append(c2)
                pos += 1


def _parse_hexstring(data: bytes, pos: int):
    # pos at '<' (single)
    end = data.find(b">", pos + 1)
    if end < 0:
        raise PdfError("unterminated hex string")
    hx = data[pos + 1 : end].translate(None, _WS)
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("latin-1")), end + 1
    except ValueError as exc:
        raise PdfError(f"bad hex string: {exc}") from None


def _is_boundary(data: bytes, pos: int) -> bool:
    return pos >= len(data) or data[pos] in _WS or data[pos] in _DELIM


def _parse_object(data: bytes, pos: int, depth: int = 0):
    """Parse one object at pos -> (obj, new_pos). Bare keywords come
    back as _Kw (the content interpreter's operators); 'int int R'
    folds into _Ref."""
    if depth > _MAX_PARSE_DEPTH:
        raise PdfError("object nesting too deep")
    pos = _skip_ws(data, pos)
    n = len(data)
    if pos >= n:
        raise PdfError("unexpected end of data")
    c = data[pos]
    if c == 0x2F:
        return _parse_name(data, pos)
    if c == 0x28:
        return _parse_litstring(data, pos)
    if c == 0x3C:
        if data[pos : pos + 2] == b"<<":
            pos += 2
            d = {}
            while True:
                pos = _skip_ws(data, pos)
                if data[pos : pos + 2] == b">>":
                    return d, pos + 2
                if pos >= n:
                    raise PdfError("unterminated dict")
                if data[pos] != 0x2F:
                    # corrupt key: consume one object and move on
                    _, pos = _parse_object(data, pos, depth + 1)
                    continue
                key, pos = _parse_name(data, pos)
                val, pos = _parse_object(data, pos, depth + 1)
                d[key] = val
        return _parse_hexstring(data, pos)
    if c == 0x5B:
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(data, pos)
            if pos >= n:
                raise PdfError("unterminated array")
            if data[pos] == 0x5D:
                return arr, pos + 1
            item, pos = _parse_object(data, pos, depth + 1)
            arr.append(item)
    if c in b"0123456789+-.":
        num, pos2 = _parse_number(data, pos)
        if isinstance(num, int) and num >= 0:
            p = _skip_ws(data, pos2)
            if p < n and data[p] in b"0123456789":
                m = _NUM_RE.match(data, p)
                if m and b"." not in m.group():
                    gen = int(m.group())
                    p2 = _skip_ws(data, m.end())
                    if data[p2 : p2 + 1] == b"R" and _is_boundary(
                        data, p2 + 1
                    ):
                        return _Ref(num, gen), p2 + 1
        return num, pos2
    m = _KW_RE.match(data, pos)
    if m:
        kw = m.group()
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        return _Kw(kw.decode("latin-1")), m.end()
    raise PdfError(f"unparsable byte 0x{c:02x} at {pos}")


# ---------------------------------------------------------------------------
# stream filters
# ---------------------------------------------------------------------------


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """PNG predictors 10-15 (per-row filter byte, types 0-4), the form
    xref streams and flate DecodeParms use. A trailing partial row is
    dropped."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen < 1:  # negative /Columns, /Colors or /BitsPerComponent
        return b""
    stride = rowlen + 1
    rows = len(data) // stride
    # checked here, in the census's own words; the shared defilter then
    # sees only valid filter types
    bad = data[: rows * stride : stride].translate(None, bytes(range(5)))
    if bad:
        raise PdfError(f"unknown PNG predictor filter type {bad[0]}")
    return _png_defilter(data, rows, rowlen, bpp).tobytes()


_IMAGE_FILTERS = frozenset(
    ("DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF", "JBIG2Decode")
)


def _decode_stream(stream: _Stream, resolve, budget=None) -> bytes:
    """Apply the /Filter chain. Image codecs (DCT etc.) are terminal:
    the raw compressed pixels come back untouched (spans only need the
    dict's /Width //Height, never the pixels).

    ``budget``: a one-element mutable list holding the document's
    remaining total decode allowance. The per-stream cap alone does
    not bound a document: 1024 content parts x 64 MiB, or one form
    XObject re-executed by many Do ops, multiplies into an executor
    OOM; the shared budget keeps the whole document's decoded bytes
    under one ceiling."""
    filters = resolve(stream.dict.get("Filter"))
    if filters is None:
        return stream.raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(stream.dict.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # a short literal /DecodeParms array must not zip-truncate the
        # filter chain (review r7: that returned still-compressed bytes
        # as 'decoded')
        parms = parms + [None] * (len(filters) - len(parms))
    data = stream.raw
    for f, pm in zip(filters, parms):
        f = resolve(f)
        pm = resolve(pm) or {}
        if f in ("FlateDecode", "Fl"):
            d = zlib.decompressobj()
            try:
                out, over = _bounded_inflate(d, data, _MAX_STREAM_DECODED)
            except zlib.error as exc:
                raise PdfError(f"corrupt flate stream: {exc}") from None
            if over:
                raise PdfError(
                    f"stream exceeds decode cap ({_MAX_STREAM_DECODED} B)"
                )
            data = bytes(out)
            if budget is not None:
                budget[0] -= len(data)
                if budget[0] < 0:
                    raise PdfError("document decode budget exceeded")
            pred = resolve(pm.get("Predictor", 1)) or 1
            if pred >= 10:
                data = _png_unpredict(
                    data,
                    int(resolve(pm.get("Columns", 1)) or 1),
                    int(resolve(pm.get("Colors", 1)) or 1),
                    int(resolve(pm.get("BitsPerComponent", 8)) or 8),
                )
            elif pred != 1:
                raise PdfError(f"unsupported predictor {pred}")
        elif f in ("ASCIIHexDecode", "AHx"):
            body = data.split(b">", 1)[0]
            hx = bytes(c for c in body if c not in _WS)
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("latin-1"))
        elif f in _IMAGE_FILTERS:
            return data
        else:
            raise PdfError(f"unsupported stream filter {f!r}")
    return data


# ---------------------------------------------------------------------------
# document: xref + object access
# ---------------------------------------------------------------------------


class _Doc:
    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple] = {}  # num -> ("f", off) | ("o", stm, i)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self.warnings: list[str] = []
        self.decode_budget = [_MAX_DOC_DECODED]
        self.font_decoders: dict = {}  # _Ref -> bytes->str decoder
        self._load_xref()

    # -- xref -------------------------------------------------------------

    def _load_xref(self):
        data = self.data
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            self.warnings.append("no startxref; reconstructing")
            self._reconstruct()
            return
        try:
            self._load_xref_chain(int(m.group(1)))
        except (PdfError, ValueError, KeyError, IndexError) as exc:
            self.warnings.append(f"xref damaged ({exc}); reconstructing")
            self._reconstruct()
            return
        if "Root" not in self.trailer:
            self.warnings.append("trailer lacks /Root; reconstructing")
            self._reconstruct()

    def _load_xref_chain(self, offset: int):
        seen = set()
        while offset is not None and offset not in seen:
            seen.add(offset)
            if len(seen) > 64:
                raise PdfError("xref /Prev chain too long")
            pos = _skip_ws(self.data, offset)
            if self.data[pos : pos + 4] == b"xref":
                trailer = self._load_xref_table(pos + 4)
            else:
                trailer = self._load_xref_stream(pos)
            # newest-first walk: earlier (newer) entries win
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            offset = int(prev) if isinstance(prev, (int, float)) else None

    def _load_xref_table(self, pos: int) -> dict:
        data = self.data
        while True:
            pos = _skip_ws(data, pos)
            if data[pos : pos + 7] == b"trailer":
                t, _ = _parse_object(data, pos + 7)
                if not isinstance(t, dict):
                    raise PdfError("trailer is not a dict")
                # hybrid-reference file: entries in the XRefStm
                # supplement the table (table entries win on conflict)
                if "XRefStm" in t:
                    try:
                        self._load_xref_stream(
                            _skip_ws(data, int(t["XRefStm"]))
                        )
                    except (PdfError, ValueError) as exc:
                        self.warnings.append(f"bad XRefStm: {exc}")
                return t
            start, pos = _parse_number(data, pos)
            count, pos = _parse_number(data, pos)
            pos = _skip_ws(data, pos)
            for i in range(int(count)):
                ent = data[pos : pos + 20]
                if len(ent) < 18:
                    raise PdfError("truncated xref entry")
                off = int(ent[0:10])
                typ = ent[17:18]
                num = int(start) + i
                if num not in self.xref and typ == b"n":
                    self.xref[num] = ("f", off)
                # spec entries are exactly 20 bytes (2-byte EOL: ' \n',
                # ' \r' or '\r\n'); sloppy writers emit 19 with a bare
                # 1-byte EOL. Detect per entry: EOL at ent[18] followed
                # by a non-EOL byte means the next entry (or 'trailer')
                # already starts at +19 (review r7: the old expression
                # always advanced 20 and drifted on such files)
                if ent[18:19] in (b"\r", b"\n") and ent[19:20] not in (
                    b"\n", b"\r", b" ",
                ):
                    pos += 19
                else:
                    pos += 20

    def _load_xref_stream(self, pos: int) -> dict:
        num, gen, stream = self._parse_indirect_at(pos)
        if not isinstance(stream, _Stream):
            raise PdfError("xref stream object has no stream")
        d = stream.dict
        body = _decode_stream(stream, self._resolve_simple)
        w = [int(x) for x in d.get("W", [])]
        if len(w) != 3:
            raise PdfError("xref stream /W malformed")
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        index = [int(x) for x in index]
        rowlen = sum(w)
        if rowlen <= 0:
            raise PdfError("xref stream zero row width")
        p = 0
        for k in range(0, len(index) - 1, 2):
            start, count = index[k], index[k + 1]
            for i in range(count):
                if p + rowlen > len(body):
                    raise PdfError("xref stream body too short")
                row = body[p : p + rowlen]
                p += rowlen
                f1 = int.from_bytes(row[: w[0]], "big") if w[0] else 1
                f2 = int.from_bytes(row[w[0] : w[0] + w[1]], "big")
                f3 = int.from_bytes(row[w[0] + w[1] :], "big")
                onum = start + i
                if onum in self.xref:
                    continue
                if f1 == 1:
                    self.xref[onum] = ("f", f2)
                elif f1 == 2:
                    self.xref[onum] = ("o", f2, f3)
                # f1 == 0: free -- skip
        return d

    def _reconstruct(self):
        """Scan-the-file fallback: index every 'N G obj' header (last
        occurrence wins -- later in the file = newer revision) and
        find the catalog by type."""
        self.xref = {}
        for m in re.finditer(rb"(?<![0-9])(\d{1,10})\s+(\d{1,5})\s+obj\b",
                             self.data):
            self.xref[int(m.group(1))] = ("f", m.start())
        if len(self.xref) > _MAX_OBJECTS:
            raise PdfError("too many objects")
        # objects packed in object streams have no 'N G obj' header:
        # index every scanned ObjStm's contents too (file entries win)
        for num in sorted(self.xref):
            try:
                obj = self.get_object(num)
            except PdfError:
                continue
            if isinstance(obj, _Stream) and obj.dict.get("Type") == "ObjStm":
                try:
                    _body, _first, pairs = self._load_objstm(num)
                except (PdfError, ValueError):
                    continue
                for k, (onum, _off) in enumerate(pairs):
                    self.xref.setdefault(onum, ("o", num, k))
        if "Root" not in self.trailer:
            for num in sorted(self.xref):
                try:
                    obj = self.get_object(num)
                except PdfError:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = _Ref(num, 0)
                    break
                if (
                    isinstance(obj, _Stream)
                    and obj.dict.get("Type") == "XRef"
                    and "Root" in obj.dict
                ):
                    self.trailer.setdefault("Root", obj.dict["Root"])
        if "Root" not in self.trailer:
            # last resort: trailer dict anywhere in the tail
            for m in re.finditer(rb"trailer", self.data):
                try:
                    t, _ = _parse_object(self.data, m.end())
                except PdfError:
                    continue
                if isinstance(t, dict) and "Root" in t:
                    self.trailer["Root"] = t["Root"]
        if "Root" not in self.trailer:
            raise PdfError("no document catalog found")

    # -- objects ----------------------------------------------------------

    def _parse_indirect_at(self, pos: int):
        data = self.data
        pos = _skip_ws(data, pos)
        num, pos = _parse_number(data, pos)
        gen, pos = _parse_number(data, pos)
        pos = _skip_ws(data, pos)
        if data[pos : pos + 3] != b"obj":
            raise PdfError(f"expected 'obj' at byte {pos}")
        obj, pos = _parse_object(data, pos + 3)
        pos = _skip_ws(data, pos)
        if data[pos : pos + 6] == b"stream":
            if not isinstance(obj, dict):
                raise PdfError("stream keyword after non-dict")
            pos += 6
            if data[pos : pos + 2] == b"\r\n":
                pos += 2
            elif data[pos : pos + 1] in (b"\n", b"\r"):
                pos += 1
            length = self._resolve_simple(obj.get("Length"))
            raw = None
            if isinstance(length, (int, float)) and length >= 0:
                end = pos + int(length)
                probe = _skip_ws(data, end)
                if data[probe : probe + 9] == b"endstream":
                    raw = data[pos:end]
            if raw is None:  # /Length wrong or unresolvable: search
                end = data.find(b"endstream", pos)
                if end < 0:
                    raise PdfError("unterminated stream")
                raw = data[pos:end].rstrip(b"\r\n")
            obj = _Stream(obj, raw)
        return int(num), int(gen), obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            return None
        self._cache[num] = None  # cycle guard
        if ent[0] == "f":
            try:
                onum, _g, obj = self._parse_indirect_at(ent[1])
            except (PdfError, ValueError, IndexError) as exc:
                raise PdfError(f"object {num} unreadable: {exc}") from None
            if onum != num:
                raise PdfError(f"xref points {num} at object {onum}")
        else:
            obj = self._from_objstm(ent[1], ent[2], num)
        self._cache[num] = obj
        return obj

    def _load_objstm(self, stm_num: int):
        if stm_num not in self._objstm_cache:
            stm = self.get_object(stm_num)
            if not isinstance(stm, _Stream) or stm.dict.get("Type") != (
                "ObjStm"
            ):
                raise PdfError(f"object stream {stm_num} invalid")
            body = _decode_stream(stm, self.resolve, self.decode_budget)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            pairs = []
            p = 0
            for _ in range(min(n, _MAX_OBJECTS)):
                onum, p = _parse_number(body, _skip_ws(body, p))
                off, p = _parse_number(body, _skip_ws(body, p))
                pairs.append((int(onum), int(off)))
            self._objstm_cache[stm_num] = (body, first, pairs)
        return self._objstm_cache[stm_num]

    def _from_objstm(self, stm_num: int, idx: int, want: int):
        body, first, pairs = self._load_objstm(stm_num)
        # prefer the entry whose object NUMBER matches: when the xref
        # index disagrees with the ObjStm header, the header is the
        # ground truth (review r7: idx-first returned a wrong object)
        for onum, off in pairs:
            if onum == want:
                obj, _ = _parse_object(body, first + off)
                return obj
        if 0 <= idx < len(pairs):
            obj, _ = _parse_object(body, first + pairs[idx][1])
            return obj
        raise PdfError(f"object {want} not in object stream {stm_num}")

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, _Ref):
            if depth > _MAX_RESOLVE_DEPTH:
                raise PdfError("reference chain too deep")
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    def _resolve_simple(self, obj):
        """Resolver usable during xref bootstrap (no recursion into
        object streams -- /Length and xref-stream parms are direct or
        plain-file objects in practice)."""
        if isinstance(obj, _Ref):
            ent = self.xref.get(obj.num)
            if ent is not None and ent[0] == "f":
                try:
                    _, _, o = self._parse_indirect_at(ent[1])
                    return o
                except (PdfError, ValueError, IndexError):
                    return None
            # bootstrap fallback: scan for the object header
            m = re.search(
                rb"(?<![0-9])%d\s+\d+\s+obj\b" % obj.num, self.data
            )
            if m:
                try:
                    _, _, o = self._parse_indirect_at(m.start())
                    return o
                except (PdfError, ValueError, IndexError):
                    return None
            return None
        return obj

    # -- pages ------------------------------------------------------------

    _INHERIT = ("Resources", "MediaBox", "Rotate")

    def pages(self):
        if "Encrypt" in self.trailer:
            # strings/streams are RC4/AES-encrypted; decoding without
            # the key yields garbage, so census instead (double-digit
            # permille of real crawls)
            raise PdfError("encrypted document")
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("catalog missing")
        out = []
        seen = set()
        stack = [(root.get("Pages"), {})]
        while stack:
            node_ref, inh = stack.pop()
            key = node_ref if isinstance(node_ref, _Ref) else id(node_ref)
            if key in seen:
                continue
            seen.add(key)
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                continue
            inh = dict(inh)
            for k in self._INHERIT:
                if k in node:
                    inh[k] = node[k]
            typ = node.get("Type")
            if typ == "Page" or ("Kids" not in node and "Contents" in node):
                page = dict(inh)
                page.update(node)
                out.append(page)
                if len(out) > _MAX_PAGES:
                    raise PdfError("too many pages")
            else:
                kids = self.resolve(node.get("Kids")) or []
                if isinstance(kids, list):
                    for kid in reversed(kids[:_MAX_PAGES]):
                        stack.append((kid, inh))
        return out


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

_WINANSI = bytes(range(256)).decode("cp1252", "replace")
_MACROMAN = bytes(range(256)).decode("mac_roman", "replace")

# minimal Adobe-glyph-list subset for /Differences overrides; uniXXXX
# names are handled generically
_GLYPHS = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "underscore": "_",
    "quoteleft": "‘", "quoteright": "’", "bullet": "•",
    "endash": "–", "emdash": "—", "eacute": "é",
    "egrave": "è", "agrave": "à", "ccedilla": "ç",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
}
for _i in range(0x20, 0x7F):
    _GLYPHS.setdefault(chr(_i), chr(_i))
# AGL digit names are 'zero'..'nine', NOT '0'..'9' (review r7: the
# single-char loop above does not cover them)
for _i, _d in enumerate(
    "zero one two three four five six seven eight nine".split()
):
    _GLYPHS[_d] = str(_i)


def _glyph_char(name: str) -> str:
    if name in _GLYPHS:
        return _GLYPHS[name]
    if len(name) == 1:
        return name
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    return "�"


def _utf16be_chars(v: int, nbytes: int) -> str:
    try:
        return v.to_bytes(max(2, nbytes), "big").decode(
            "utf-16-be", "replace"
        )
    except (OverflowError, ValueError):
        return "�"


def _parse_tounicode(body: bytes):
    """Parse a ToUnicode CMap -> (widths tuple, {(width, code): str}).
    Uses the object lexer (CMap syntax is PostScript-shaped but its
    operands are PDF hex strings / ints / arrays)."""
    widths = set()
    table = {}
    pos = 0
    n = len(body)
    pending = []
    mode = None
    while pos < n and len(table) <= _MAX_CMAP_ENTRIES:
        pos = _skip_ws(body, pos)
        if pos >= n:
            break
        try:
            tok, pos2 = _parse_object(body, pos)
        except PdfError:
            pos += 1
            continue
        if pos2 <= pos:
            pos += 1
            continue
        pos = pos2
        if isinstance(tok, _Kw):
            if tok in ("begincodespacerange", "beginbfchar", "beginbfrange"):
                mode = str(tok)
                pending = []
            elif tok.startswith("end"):
                mode = None
                pending = []
            continue
        if mode is None:
            continue
        pending.append(tok)
        if mode == "begincodespacerange" and len(pending) == 2:
            lo, hi = pending
            pending = []
            if isinstance(lo, bytes) and isinstance(hi, bytes) and lo:
                widths.add(len(lo))
        elif mode == "beginbfchar" and len(pending) == 2:
            src, dst = pending
            pending = []
            if isinstance(src, bytes) and isinstance(dst, bytes) and src:
                widths.add(len(src))
                table[(len(src), int.from_bytes(src, "big"))] = dst.decode(
                    "utf-16-be", "replace"
                )
        elif mode == "beginbfrange" and len(pending) == 3:
            lo, hi, dst = pending
            pending = []
            if not (isinstance(lo, bytes) and isinstance(hi, bytes) and lo):
                continue
            w = len(lo)
            widths.add(w)
            lo_i = int.from_bytes(lo, "big")
            hi_i = min(
                int.from_bytes(hi, "big"), lo_i + _MAX_CMAP_ENTRIES
            )
            if isinstance(dst, list):
                for i, d in enumerate(dst[: hi_i - lo_i + 1]):
                    if isinstance(d, bytes):
                        table[(w, lo_i + i)] = d.decode(
                            "utf-16-be", "replace"
                        )
            elif isinstance(dst, bytes) and dst:
                base = int.from_bytes(dst, "big")
                for i in range(hi_i - lo_i + 1):
                    table[(w, lo_i + i)] = _utf16be_chars(
                        base + i, len(dst)
                    )
    return tuple(sorted(widths)) or (1,), table


def _make_decoder(doc: _Doc, fontdict):
    """font dict -> callable bytes -> str."""
    fontdict = doc.resolve(fontdict)
    if not isinstance(fontdict, dict):
        return lambda b: b.decode("latin-1", "replace")
    tou = fontdict.get("ToUnicode")
    if tou is not None:
        tou = doc.resolve(tou)
        if isinstance(tou, _Stream):
            try:
                widths, table = _parse_tounicode(
                    _decode_stream(tou, doc.resolve, doc.decode_budget)
                )
            except PdfError:
                widths, table = (1,), {}

            if widths == (2,):
                # the overwhelmingly common case (Identity-H Type0):
                # one C-level unpack + dict lookups per pair
                tbl2 = {c: s for (_w, c), s in table.items()}

                def dec_cmap2(b: bytes) -> str:
                    npairs = len(b) // 2
                    vals = struct.unpack(">%dH" % npairs, b[: 2 * npairs])
                    get = tbl2.get
                    out = [get(v, "�") for v in vals]
                    if len(b) & 1:  # dangling tail byte
                        out.append("�")
                    return "".join(out)

                return dec_cmap2

            def dec_cmap(b: bytes) -> str:
                out = []
                i = 0
                nb = len(b)
                while i < nb:
                    for w in widths:
                        if i + w <= nb:
                            code = int.from_bytes(b[i : i + w], "big")
                            hit = table.get((w, code))
                            if hit is not None:
                                out.append(hit)
                                i += w
                                break
                    else:
                        w0 = widths[0]
                        out.append("�")
                        i += max(1, min(w0, nb - i))
                        continue
                    continue
                return "".join(out)

            return dec_cmap
    if fontdict.get("Subtype") == "Type0":
        # composite font without ToUnicode: codes are CIDs with no
        # public byte->char mapping; decode to U+FFFD pairs rather
        # than mojibake
        return lambda b: "�" * max(1, len(b) // 2) if b else ""
    enc = doc.resolve(fontdict.get("Encoding"))
    codec = "cp1252"
    table = _WINANSI
    if enc == "MacRomanEncoding":
        codec, table = "mac_roman", _MACROMAN
    diffs = None
    if isinstance(enc, dict):
        base = doc.resolve(enc.get("BaseEncoding"))
        if base == "MacRomanEncoding":
            codec, table = "mac_roman", _MACROMAN
        diffs = doc.resolve(enc.get("Differences"))
    if not isinstance(diffs, list):
        # base-encoding fast path: one C-level codec call
        return lambda b: b.decode(codec, "replace")
    table = list(table)
    code = 0
    for item in diffs[: 2 * 256 + 8]:
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, _Name) and 0 <= code < 256:
            table[code] = _glyph_char(str(item))
            code += 1
    trans = str.maketrans({i: table[i] for i in range(256)})
    return lambda b: b.decode("latin-1").translate(trans)


# ---------------------------------------------------------------------------
# content interpreter
# ---------------------------------------------------------------------------

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _latin1_decode(b: bytes) -> str:
    return b.decode("latin-1", "replace")


def _mmul(m, w):
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = w
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


# TJ adjustment below this (thousandths of an em, positive = leftward)
# reads as an intentional gap -> one space. -180 is the conventional
# metric-free threshold (about half an average space width at 1em).
_TJ_SPACE_GAP = -180.0

# device-space y tolerance for clustering runs into one visual row
_ROW_TOL = 2.0


class _Run(tuple):
    """(y, x, seq, kind, payload) -- kind 't' text or 'm' media."""

    __slots__ = ()


def _skip_inline_image(data: bytes, pos: int, runs, seq, ctm):
    """BI ... ID <binary> EI. Census the image (dims if parseable) and
    skip the binary safely."""
    d = {}
    p = pos
    while p < len(data):
        p = _skip_ws(data, p)
        if data[p : p + 2] == b"ID":
            p += 2
            break
        try:
            k, p = _parse_object(data, p)
            v, p = _parse_object(data, p)
        except PdfError:
            return len(data), seq
        if isinstance(k, _Name):
            d[str(k)] = v
    if p < len(data) and data[p] in _WS:
        p += 1
    # find EI bounded by whitespace
    while True:
        e = data.find(b"EI", p)
        if e < 0:
            return len(data), seq
        before_ok = e == 0 or data[e - 1] in _WS
        after_ok = _is_boundary(data, e + 2)
        if before_ok and after_ok:
            break
        p = e + 2
    w = d.get("W", d.get("Width", "?"))
    h = d.get("H", d.get("Height", "?"))
    runs.append(_Run((ctm[5], ctm[4], seq, "m", f"pdf:inline:{w}x{h}")))
    return e + 2, seq + 1


def _interpret_content(doc: _Doc, content: bytes, resources, runs,
                       seq: int, base_ctm, depth: int = 0) -> int:
    """Execute the text/positioning subset of the content stream,
    appending _Runs. Returns the next seq counter."""
    resources = doc.resolve(resources) or {}
    fonts = doc.resolve(resources.get("Font")) or {}
    xobjects = doc.resolve(resources.get("XObject")) or {}
    ctm = base_ctm
    gstack = []
    tm = tlm = _ID
    tl = 0.0
    size = 0.0
    decoder = None
    dec_cache: dict = {}
    operands: list = []
    pos = 0
    nops = 0
    n = len(content)

    def show(chunks):
        nonlocal seq
        dec = decoder or _latin1_decode
        parts = []
        for c in chunks:
            if isinstance(c, bytes):
                parts.append(dec(c))
            elif isinstance(c, (int, float)) and c <= _TJ_SPACE_GAP:
                parts.append(" ")
        text = "".join(parts)
        if not text:
            return
        trm = _mmul(tm, ctm)
        runs.append(_Run((trm[5], trm[4], seq, "t", text)))
        seq += 1

    def fnum(v, default=0.0):
        return float(v) if isinstance(v, (int, float)) else default

    num_match = _NUM_RE.match
    kw_match = _KW_RE.match
    op_append = operands.append
    while pos < n:
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        nops += 1
        if nops > _MAX_CONTENT_OPS:
            doc.warnings.append("content op cap hit")
            break
        # inline fast paths for the two dominant token classes --
        # numbers (positioning operands) and operator keywords -- to
        # skip _parse_object's dispatch + re-skip per token
        c = content[pos]
        if 0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E):  # digit + - .
            m = num_match(content, pos)
            if m is not None:
                t = m.group()
                op_append(float(t) if b"." in t else int(t))
                if len(operands) > 64:
                    operands = operands[-64:]
                    op_append = operands.append
                pos = m.end()
                continue
        op = None
        if (0x41 <= c <= 0x5A or 0x61 <= c <= 0x7A or c in (
            0x27, 0x22, 0x2A,
        )):
            m = kw_match(content, pos)
            if m is not None:
                kw = m.group()
                if kw == b"true":
                    op_append(True)
                elif kw == b"false":
                    op_append(False)
                elif kw == b"null":
                    op_append(None)
                else:
                    op = kw.decode("latin-1")
                pos = m.end()
                if op is None:
                    if len(operands) > 64:
                        operands = operands[-64:]
                        op_append = operands.append
                    continue
        if op is None:
            try:
                tok, pos2 = _parse_object(content, pos)
            except PdfError:
                pos += 1
                operands = []
                op_append = operands.append
                continue
            if pos2 <= pos:
                pos += 1
                continue
            pos = pos2
            if not isinstance(tok, _Kw):
                op_append(tok)
                if len(operands) > 64:
                    operands = operands[-64:]
                    op_append = operands.append
                continue
            op = str(tok)
        if op == "R" and len(operands) >= 2 and (
            isinstance(operands[-1], int)
            and isinstance(operands[-2], int)
            and operands[-2] >= 0
            and operands[-1] >= 0
        ):
            # the number fast path no longer folds 'N G R' into a _Ref
            # the way _parse_object does; restore that fold here so a
            # stray indirect reference in a content stream stays ONE
            # operand instead of becoming an unknown operator that
            # clears the stack (review r7 -- semantics, not speed)
            gen = operands.pop()
            operands[-1] = _Ref(operands[-1], gen)
            continue
        try:
            if op == "q":
                if len(gstack) < 256:
                    gstack.append(ctm)
            elif op == "Q":
                if gstack:
                    ctm = gstack.pop()
            elif op == "cm" and len(operands) >= 6:
                m = tuple(fnum(v) for v in operands[-6:])
                ctm = _mmul(m, ctm)
            elif op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "Tf" and len(operands) >= 2:
                fname = operands[-2]
                size = fnum(operands[-1])
                key = str(fname)
                if key not in dec_cache:
                    fref = fonts.get(key)
                    if isinstance(fref, _Ref):
                        # document-level cache: a form XObject executed
                        # by N Do ops must not re-decode its ToUnicode
                        # stream N times against the decode budget
                        # (review r7); dec_cache alone is per-execution
                        if fref not in doc.font_decoders:
                            doc.font_decoders[fref] = _make_decoder(
                                doc, fref
                            )
                        dec_cache[key] = doc.font_decoders[fref]
                    else:
                        dec_cache[key] = _make_decoder(doc, fref)
                decoder = dec_cache[key]
            elif op == "TL" and operands:
                tl = fnum(operands[-1])
            elif op in ("Td", "TD") and len(operands) >= 2:
                tx, ty = fnum(operands[-2]), fnum(operands[-1])
                if op == "TD":
                    tl = -ty
                tlm = _mmul((1, 0, 0, 1, tx, ty), tlm)
                tm = tlm
            elif op == "Tm" and len(operands) >= 6:
                tm = tlm = tuple(fnum(v) for v in operands[-6:])
            elif op == "T*":
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = tlm
            elif op == "Tj" and operands:
                if isinstance(operands[-1], bytes):
                    show([operands[-1]])
            elif op == "TJ" and operands:
                if isinstance(operands[-1], list):
                    show(operands[-1])
            elif op == "'" and operands:
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = tlm
                if isinstance(operands[-1], bytes):
                    show([operands[-1]])
            elif op == '"' and len(operands) >= 3:
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = tlm
                if isinstance(operands[-1], bytes):
                    show([operands[-1]])
            elif op == "Do" and operands:
                name = operands[-1]
                xo = doc.resolve(xobjects.get(str(name)))
                if isinstance(xo, _Stream):
                    sub = doc.resolve(xo.dict.get("Subtype"))
                    if sub == "Image":
                        w = doc.resolve(xo.dict.get("Width", "?"))
                        h = doc.resolve(xo.dict.get("Height", "?"))
                        runs.append(_Run((
                            ctm[5], ctm[4], seq, "m",
                            f"pdf:{name}:{w}x{h}",
                        )))
                        seq += 1
                    elif sub == "Form" and depth < _MAX_FORM_DEPTH:
                        inner_ctm = ctm
                        fm = doc.resolve(xo.dict.get("Matrix"))
                        if isinstance(fm, list) and len(fm) == 6:
                            inner_ctm = _mmul(
                                tuple(fnum(v) for v in fm), ctm
                            )
                        seq = _interpret_content(
                            doc,
                            _decode_stream(
                                xo, doc.resolve, doc.decode_budget
                            ),
                            xo.dict.get("Resources", resources),
                            runs, seq, inner_ctm, depth + 1,
                        )
            elif op == "BI":
                pos, seq = _skip_inline_image(content, pos, runs, seq, ctm)
            # every other operator (color, path, clipping, marked
            # content, Tc/Tw/Tz/Ts/Tr): no effect on span extraction
        except PdfError as exc:
            doc.warnings.append(f"content op {op}: {exc}")
        operands = []
        op_append = operands.append
    return seq


# ---------------------------------------------------------------------------
# span assembly
# ---------------------------------------------------------------------------


def _page_content(doc: _Doc, page) -> bytes:
    contents = doc.resolve(page.get("Contents"))
    parts = []
    if isinstance(contents, _Stream):
        parts.append(_decode_stream(contents, doc.resolve, doc.decode_budget))
    elif isinstance(contents, list):
        for c in contents[:1024]:
            c = doc.resolve(c)
            if isinstance(c, _Stream):
                parts.append(
                    _decode_stream(c, doc.resolve, doc.decode_budget)
                )
    return b"\n".join(parts)


def _run_census(data, on_error: str, body):
    """Shared flag/raise census envelope for whole-document entry
    points (ONE copy of the contract -- review r7): validates input,
    builds the _Doc, runs ``body(doc) -> (result, n_pages)``, and maps
    warnings/errors to the ok / ok_with_warnings:* / pdf_error:*
    status classes. flag mode returns ([], 'pdf_error:<reason>', 0) on
    any structural failure; raise mode raises PdfError."""
    _on_error_columns(on_error, "")
    try:
        if not isinstance(data, (bytes, bytearray)):
            raise PdfError("input is not bytes")
        if b"%PDF-" not in data[:1024]:
            raise PdfError("missing %PDF header")
        doc = _Doc(bytes(data))
        result, n_pages = body(doc)
        status = "ok"
        if doc.warnings:
            status = f"ok_with_warnings:{doc.warnings[0]}"
        return result, status, n_pages
    except Exception as exc:  # noqa: BLE001 -- census contract
        if on_error == "raise":
            if isinstance(exc, PdfError):
                raise
            raise PdfError(str(exc)) from exc
        reason = str(exc) or type(exc).__name__
        return [], f"pdf_error:{reason[:160]}", 0


def parse_pdf_spans(data: bytes, on_error: str = "flag"):
    """bytes -> (spans, status, n_pages).

    spans: list of (kind, text, media_ref, offset) in reading order --
    rows top-down per page, pages in document order, consecutive text
    rows joined with newlines into one text span, image XObjects
    breaking the text into separate media spans. offset is the running
    character offset over the concatenated text-span texts (media
    spans carry the offset at their interruption point).

    flag mode returns ([], 'pdf_error:<reason>', 0) on any structural
    failure (the WARC reader's census contract); raise mode raises
    PdfError. Per-page content problems degrade to warnings, not
    failures."""

    def body(doc):
        pages = doc.pages()
        spans = []
        buf_lines: list[str] = []
        offset = 0

        def flush():
            nonlocal offset
            if buf_lines:
                text = "\n".join(buf_lines)
                spans.append(("text", text, None, offset))
                offset += len(text)
                buf_lines.clear()

        for page in pages:
            runs: list[_Run] = []
            try:
                content = _page_content(doc, page)
                _interpret_content(
                    doc, content, page.get("Resources"), runs, 0, _ID
                )
            except PdfError as exc:
                doc.warnings.append(f"page content: {exc}")
                continue
            # cluster into visual rows: sort by device y desc, x asc
            runs.sort(key=lambda r: (-r[0], r[1], r[2]))
            row_y = None
            row_texts: list[str] = []

            def end_row():
                if row_texts:
                    buf_lines.append("".join(row_texts))
                    row_texts.clear()

            for y, _x, _s, kind, payload in runs:
                if row_y is None or row_y - y > _ROW_TOL:
                    end_row()
                    row_y = y
                if kind == "t":
                    row_texts.append(payload)
                else:
                    end_row()
                    flush()
                    spans.append(("media", None, payload, offset))
            end_row()
        flush()
        return spans, len(pages)

    return _run_census(data, on_error, body)


def extract_pdf_media(data: bytes, on_error: str = "flag"):
    """bytes -> (media, status, n_pages): the embedded image payloads
    behind parse_pdf_spans' media spans. Each item is a dict with
    name, width, height, codec (the stream's final filter -- 'dct' is
    literal JFIF/JPEG bytes the package's own decode_jpeg reads,
    'raw' is post-Flate sample bytes whose shape comes from the
    width/height/metadata), and payload. One entry per distinct image
    XObject (ref, resource-name) PAIR per document -- an object reused
    under one name on every page emits once, while each ALIAS of one
    object gets its own row so every span label ('pdf:<name>:<w>x<h>',
    built exactly like the content interpreter's, '?' for missing
    dims) has a joinable payload row. N distinct objects sharing one
    name and dimensions remain ambiguous under that join -- dedupe on
    payload md5 if it matters.

    Walks page Resources (every image DECLARED there, whether or not a
    Do op actually draws it -- leftover assets surface as payload rows
    with no span counterpart); images only reachable through nested
    Form XObjects are out of scope here -- their spans still appear
    via the content interpreter."""

    def body(doc):
        pages = doc.pages()
        out = []
        seen: set = set()
        for page in pages:
            res = doc.resolve(page.get("Resources")) or {}
            xobjects = doc.resolve(res.get("XObject")) or {}
            if not isinstance(xobjects, dict):
                continue
            for name, ref in xobjects.items():
                key = (
                    ref if isinstance(ref, _Ref) else id(ref),
                    str(name),
                )
                if key in seen:
                    continue
                seen.add(key)
                xo = doc.resolve(ref)
                if not isinstance(xo, _Stream):
                    continue
                if doc.resolve(xo.dict.get("Subtype")) != "Image":
                    continue
                # same defaults/construction as _interpret_content's
                # span label, or the documented join breaks on
                # dimension-less images (review r7)
                w = doc.resolve(xo.dict.get("Width", "?"))
                h = doc.resolve(xo.dict.get("Height", "?"))
                filters = doc.resolve(xo.dict.get("Filter"))
                if not isinstance(filters, list):
                    filters = [filters] if filters is not None else []
                last = doc.resolve(filters[-1]) if filters else None
                codec = {
                    "DCTDecode": "dct", "DCT": "dct",
                    "JPXDecode": "jpx",
                    "CCITTFaxDecode": "ccitt", "CCF": "ccitt",
                    "JBIG2Decode": "jbig2", None: "raw",
                }.get(str(last) if last is not None else None, "raw")
                try:
                    payload = _decode_stream(
                        xo, doc.resolve, doc.decode_budget
                    )
                except PdfError as exc:
                    doc.warnings.append(f"image {name}: {exc}")
                    continue
                out.append({
                    "name": str(name),
                    "media_ref": f"pdf:{name}:{w}x{h}",
                    "width": int(w) if isinstance(w, (int, float)) else 0,
                    "height": int(h) if isinstance(h, (int, float)) else 0,
                    "codec": codec,
                    "payload": payload,
                })
        return out, len(pages)

    return _run_census(data, on_error, body)


# the placeholder row of a document with no payload rows to report
_NO_MEDIA = {
    "media_ref": None, "name": None, "width": 0, "height": 0,
    "codec": None, "payload": None,
}


def _pdf_files(spark, path: str):
    """(doc_id = file path, content) over the PDFs under ``path``."""
    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(path)
    )
    return files.select(F.col("path").alias("doc_id"), "content")


def read_pdf_media(spark, path: str, on_error: str = "flag"):
    """DataFrame of embedded PDF image payloads over a directory of
    PDFs: (doc_id, media_ref, name, width, height, codec,
    payload binary, status). 'dct' payloads feed
    extract_media_features(fake=False) directly (the package's own
    JPEG decoder); join media_ref against read_span_docs_pdf's media
    spans to place each image in its document.

    Status classes: payload rows carry 'ok' or 'ok_with_warnings:*';
    documents that yielded NO payload rows but had something to report
    (structural pdf_error:*, or warnings-only like a budget-tripped
    image) emit ONE placeholder row with NULL media_ref/payload.
    Filter `codec = 'dct'` (as the tests do) before feeding the
    feature extractor -- that excludes every placeholder and every
    non-JPEG payload class in one predicate."""
    _on_error_columns(on_error, "")

    def row(_doc_id, content):
        media, status, _n = extract_pdf_media(content, on_error=on_error)
        if not media and status != "ok":
            media = [_NO_MEDIA]
        out = {c: [it[c] for it in media] for c in _NO_MEDIA}
        out["status"] = [status] * len(media)
        return out

    return _batch_map(
        _pdf_files(spark, path), row,
        "doc_id string, media_ref string, name string, width int, "
        "height int, codec string, payload binary, status string",
        ("doc_id", "content"), key="doc_id",
        size=lambda part: sum(len(p) for p in part["payload"] if p),
    )


# ---------------------------------------------------------------------------
# writer (deterministic fixture generator)
# ---------------------------------------------------------------------------


def _lit_escape(b: bytes) -> bytes:
    out = bytearray(b"(")
    for c in b:
        if c in b"()\\":
            out += b"\\" + bytes([c])
        elif c < 0x20 or c > 0x7E:
            out += b"\\%03o" % c
        else:
            out.append(c)
    out += b")"
    return bytes(out)


def _ser(obj) -> bytes:
    if isinstance(obj, _Ref):
        return b"%d %d R" % (obj[0], obj[1])
    if isinstance(obj, _Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, int):
        return b"%d" % obj
    if isinstance(obj, float):
        return (b"%.4f" % obj).rstrip(b"0").rstrip(b".")
    if isinstance(obj, bytes):
        return _lit_escape(obj)
    if isinstance(obj, str):
        return _lit_escape(obj.encode("cp1252", "replace"))
    if isinstance(obj, dict):
        inner = b" ".join(
            b"/" + k.encode("latin-1") + b" " + _ser(v)
            for k, v in obj.items()
        )
        return b"<< " + inner + b" >>"
    if isinstance(obj, (list, tuple)):
        return b"[ " + b" ".join(_ser(v) for v in obj) + b" ]"
    raise TypeError(f"cannot serialize {type(obj)}")


def _build_tounicode(char_codes: dict[str, int]) -> bytes:
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /SG-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    items = sorted(char_codes.items(), key=lambda kv: kv[1])
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        lines.append(b"%d beginbfchar" % len(chunk))
        for ch, code in chunk:
            dst = ch.encode("utf-16-be").hex().encode()
            lines.append(b"<%04x> <%s>" % (code, dst))
        lines.append(b"endbfchar")
    lines += [b"endcmap", b"end", b"end"]
    return b"\n".join(lines)


def encode_pdf(
    pages,
    *,
    compress: bool = False,
    kerning: bool = False,
    cmap: bool = False,
    objstm: bool = False,
) -> bytes:
    """Deterministic PDF writer for fixtures and tests.

    ``pages``: list of pages; each page is a list of items:
      ("text", lines, x, y, mode)   mode in {"td", "tstar"}
      ("image", jpeg_bytes, px_w, px_h, x, y, draw_w, draw_h, name)

    Flags select the structural dialect the parser must handle:
    compress (FlateDecode content), kerning (TJ arrays with -60
    intra-word splits), cmap (Type0 font + 2-byte ToUnicode, hex show
    strings), objstm (PDF 1.5 xref stream + object stream, PNG Up
    predictor). Output is byte-stable: no dates, no /ID."""
    objs: dict[int, object] = {}  # num -> dict | (dict, streambytes)
    next_num = [1]

    def add(obj) -> _Ref:
        n = next_num[0]
        next_num[0] += 1
        objs[n] = obj
        return _Ref(n, 0)

    cat_ref = add(None)  # placeholder 1: catalog
    pages_ref = add(None)  # placeholder 2: pages

    # font
    char_codes: dict[str, int] = {}
    if cmap:
        allchars = sorted(
            {c for page in pages for it in page if it[0] == "text"
             for ln in it[1] for c in ln}
        )
        char_codes = {c: i + 1 for i, c in enumerate(allchars)}
        tou_ref = add(({}, _build_tounicode(char_codes)))
        desc_ref = add({
            "Type": _Name("Font"),
            "Subtype": _Name("CIDFontType2"),
            "BaseFont": _Name("SGMono"),
            "CIDSystemInfo": {
                "Registry": b"SG", "Ordering": b"UCS", "Supplement": 0,
            },
        })
        font_ref = add({
            "Type": _Name("Font"),
            "Subtype": _Name("Type0"),
            "BaseFont": _Name("SGMono"),
            "Encoding": _Name("Identity-H"),
            "DescendantFonts": [desc_ref],
            "ToUnicode": tou_ref,
        })
    else:
        font_ref = add({
            "Type": _Name("Font"),
            "Subtype": _Name("Type1"),
            "BaseFont": _Name("Helvetica"),
            "Encoding": _Name("WinAnsiEncoding"),
        })

    def show_bytes(line: str) -> bytes:
        if cmap:
            return (
                b"<"
                + b"".join(
                    b"%04x" % char_codes.get(c, 0) for c in line
                )
                + b">"
            )
        return _lit_escape(line.encode("cp1252", "replace"))

    kid_refs = []
    for page in pages:
        ops = []
        xobj_dict = {}
        for item in page:
            if item[0] == "text":
                _, lines, x, y, mode = item
                ops.append(b"BT /F1 12 Tf 14 TL")
                if mode == "td":
                    ops.append(b"%.1f %.1f Td" % (x, y))
                else:
                    ops.append(b"1 0 0 1 %.1f %.1f Tm" % (x, y))
                for i, ln in enumerate(lines):
                    if i:
                        ops.append(b"T*" if mode == "tstar" else b"0 -14 Td")
                    if kerning and len(ln) > 14 and not cmap:
                        a, b = ln[:10], ln[10:]
                        ops.append(
                            b"[ " + show_bytes(a) + b" -60 "
                            + show_bytes(b) + b" ] TJ"
                        )
                    else:
                        ops.append(show_bytes(ln) + b" Tj")
                ops.append(b"ET")
            elif item[0] == "image":
                _, jpeg, pw, ph, x, y, dw, dh, name = item
                img_ref = add((
                    {
                        "Type": _Name("XObject"),
                        "Subtype": _Name("Image"),
                        "Width": pw,
                        "Height": ph,
                        "ColorSpace": _Name("DeviceRGB"),
                        "BitsPerComponent": 8,
                        "Filter": _Name("DCTDecode"),
                    },
                    jpeg,
                ))
                xobj_dict[name] = img_ref
                ops.append(
                    b"q %.1f 0 0 %.1f %.1f %.1f cm /%s Do Q"
                    % (dw, dh, x, y, name.encode())
                )
        content = b"\n".join(ops)
        cdict = {}
        if compress:
            cdict["Filter"] = _Name("FlateDecode")
            content = zlib.compress(content, 9)
        content_ref = add((cdict, content))
        resources = {"Font": {"F1": font_ref}}
        if xobj_dict:
            resources["XObject"] = xobj_dict
        kid_refs.append(add({
            "Type": _Name("Page"),
            "Parent": pages_ref,
            "MediaBox": [0, 0, 612, 792],
            "Resources": resources,
            "Contents": content_ref,
        }))

    objs[pages_ref.num] = {
        "Type": _Name("Pages"),
        "Kids": kid_refs,
        "Count": len(kid_refs),
    }
    objs[cat_ref.num] = {"Type": _Name("Catalog"), "Pages": pages_ref}

    # -- serialize ---------------------------------------------------------
    def obj_bytes(num: int) -> bytes:
        o = objs[num]
        if isinstance(o, tuple):
            d, body = o
            d = dict(d)
            d["Length"] = len(body)
            return (
                b"%d 0 obj\n" % num + _ser(d) + b"\nstream\n" + body
                + b"\nendstream\nendobj\n"
            )
        return b"%d 0 obj\n" % num + _ser(o) + b"\nendobj\n"

    if not objstm:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = {}
        for num in sorted(objs):
            offsets[num] = len(out)
            out += obj_bytes(num)
        xref_off = len(out)
        size = max(objs) + 1
        out += b"xref\n0 %d\n" % size
        out += b"0000000000 65535 f \n"
        for num in range(1, size):
            out += b"%010d 00000 n \n" % offsets.get(num, 0)
        out += (
            b"trailer\n" + _ser({"Size": size, "Root": cat_ref})
            + b"\nstartxref\n%d\n%%%%EOF\n" % xref_off
        )
        return bytes(out)

    # PDF 1.5: non-stream objects into an ObjStm, xref stream w/
    # PNG Up predictor
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    packed = sorted(n for n, o in objs.items() if not isinstance(o, tuple))
    plain = sorted(n for n, o in objs.items() if isinstance(o, tuple))
    for num in plain:
        offsets[num] = len(out)
        out += obj_bytes(num)
    # object stream
    stm_num = next_num[0]
    next_num[0] += 1
    bodies = []
    hdr = []
    at = 0
    for num in packed:
        b = _ser(objs[num])
        hdr.append(b"%d %d" % (num, at))
        bodies.append(b)
        at += len(b) + 1
    header = b" ".join(hdr) + b"\n"
    stm_body = header + b"\n".join(bodies)
    stm_z = zlib.compress(stm_body, 9)
    offsets[stm_num] = len(out)
    out += (
        b"%d 0 obj\n" % stm_num
        + _ser({
            "Type": _Name("ObjStm"),
            "N": len(packed),
            "First": len(header),
            "Filter": _Name("FlateDecode"),
            "Length": len(stm_z),
        })
        + b"\nstream\n" + stm_z + b"\nendstream\nendobj\n"
    )
    xref_num = next_num[0]
    next_num[0] += 1
    size = xref_num + 1
    # rows: W = [1, 4, 2]
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(
                2, "big"
            )
        elif num in offsets:
            rows += b"\x01" + offsets[num].to_bytes(4, "big") + b"\x00\x00"
        elif num in packed:
            rows += (
                b"\x02" + stm_num.to_bytes(4, "big")
                + packed.index(num).to_bytes(2, "big")
            )
        else:
            rows += b"\x00" + (0).to_bytes(4, "big") + b"\xff\xff"
    # PNG Up predictor, columns = 7
    cols = 7
    pred = bytearray()
    prev = bytes(cols)
    for r in range(0, len(rows), cols):
        row = bytes(rows[r : r + cols])
        pred.append(2)
        pred += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    xref_z = zlib.compress(bytes(pred), 9)
    xref_off = len(out)
    out += (
        b"%d 0 obj\n" % xref_num
        + _ser({
            "Type": _Name("XRef"),
            "Size": size,
            "W": [1, 4, 2],
            "Index": [0, size],
            "Root": cat_ref,
            "Filter": _Name("FlateDecode"),
            "DecodeParms": {"Predictor": 12, "Columns": cols},
            "Length": len(xref_z),
        })
        + b"\nstream\n" + xref_z + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


# ---------------------------------------------------------------------------
# convenience: doc text <-> pages layout used by fixtures/oracle
# ---------------------------------------------------------------------------

LINE_WRAP = 64  # chars per PDF line in wrapped fixtures


def wrap_lines(text: str, width: int = LINE_WRAP) -> list[str]:
    """Fixed-width character wrap (the oracle reconstructs the same
    split in SQL via regexp_replace '(.{64})' -> '\\1\\n')."""
    return [text[i : i + width] for i in range(0, len(text), width)] or []


def layout_doc(
    text: str,
    *,
    two_pages: bool = False,
    image=None,
) -> list[list]:
    """Standard fixture layout: wrapped lines starting at (72, 720),
    one text block per page; with ``image`` (jpeg, pw, ph, name), page
    two opens with the image above its text block."""
    lines = wrap_lines(text)
    if not two_pages:
        return [[("text", lines, 72.0, 720.0, "tstar")]] if lines else [[]]
    half = (len(lines) + 1) // 2
    p1 = [("text", lines[:half], 72.0, 720.0, "td")] if lines[:half] else []
    p2 = []
    if image is not None:
        jpeg, pw, ph, name = image
        p2.append(("image", jpeg, pw, ph, 72.0, 700.0, 64.0, 64.0, name))
    if lines[half:]:
        p2.append(("text", lines[half:], 72.0, 640.0, "tstar"))
    return [p1, p2]


def spans_to_text(spans) -> str:
    """Join the text spans with newlines (the page/media boundary
    separator the fixture layout guarantees)."""
    return "\n".join(s[1] for s in spans if s[0] == "text")


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------


def read_span_docs_pdf(spark, path: str, on_error: str = "flag"):
    """Span-doc DataFrame over a directory of PDFs. One binaryFile row
    per document (PDF random-access structure -- trailing xref --
    requires the whole file; they are single-document containers, so
    parallelism comes from file count). flag mode adds status +
    n_pages columns; raise mode fails the task on the first corrupt
    file."""
    suffix = _on_error_columns(on_error, "status string, n_pages int")

    def row(_doc_id, content):
        spans, status, n_pages = parse_pdf_spans(content, on_error=on_error)
        out = {
            "spans": [[
                {"kind": k, "text": t, "media_ref": r, "offset": off}
                for k, t, r, off in spans
            ]],
            "n_chars": [sum(len(t) for k, t, _r, _o in spans if k == "text")],
        }
        if suffix:
            out["status"] = [status]
            out["n_pages"] = [n_pages]
        return out

    return _batch_map(
        _pdf_files(spark, path), row, SPAN_DOC_SCHEMA + suffix,
        ("doc_id", "content"), key="doc_id",
        size=lambda part: sum(part["n_chars"]),
    )
