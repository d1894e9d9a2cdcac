"""JPEG codec (ITU-T T.81, 8-bit sequential AND progressive DCT) in
pure stdlib + numpy -- closing the "JPEG needs an external library" gap
for the two modes that cover ~99.9% of web JPEGs.

Implemented from the public spec (ITU-T T.81 / JFIF 1.02):
- decoder: ONE frame decoder for SOF0/SOF1/SOF2. SOI/APPn/COM/DQT/DHT/
  SOF/DRI/SOS parsing, canonical Huffman decode (Annex C code
  construction, F.2 EXTEND), dequantize + zigzag, exact float IDCT
  (orthonormal DCT-III as two 8x8 matmuls), restart markers, grayscale
  + YCbCr with 4:4:4 / 4:2:2 / 4:2:0 sampling (nearest/replicate chroma
  upsampling), JFIF YCbCr->RGB. Sequential frames decode every scan
  (one interleaved scan, or the legal non-interleaved layout of one SOS
  per component or component subset, A.2.2) full band through one
  entropy decoder; progressive frames add spectral-selection +
  successive-approximation scans (Annex G.1.2) including DC/AC
  refinement passes and EOBn runs.
- encoder: the inverse pipeline with the Annex K example quantization
  and Huffman tables, libjpeg-style quality scaling, optional 4:2:0
  chroma subsampling (box mean); one sequential writer for any scan
  layout, and a progressive (SOF2) writer with arbitrary scan scripts
  for round-trip testing and fixture corpora.

Arithmetic coding, 12-bit precision and hierarchical modes raise
ValueError -- vanishingly rare on the web, and they genuinely need an
external decoder.

Cost envelope: the entropy decode is a per-symbol Python bit loop;
right for tests, metadata probes and small thumbnails, NOT for bulk
corpora -- plug an external decoder at functions/media.py for that.
"""

from __future__ import annotations

import struct
from itertools import chain, repeat

import numpy as np

from .codecs import MAX_IMAGE_PIXELS

# progressive coefficient storage is plain-int block lists (fast for
# the per-scan refinement passes, but ~600 bytes per 64-coef block):
# cap total blocks to a ~600 MB envelope. 2^20 blocks covers 4:4:4
# progressive up to ~22 MPx (well past 12 MP phone-camera uploads --
# review r6 pass 4 lowered cap rejected those) and 4:2:0 to the shared
# pixel cap; bigger frames census as undecodable rather than exhausting
# executor memory. Sequential frames store int32 rows (256 B per block)
# and need only the pixel cap.
_MAX_MULTISCAN_BLOCKS = 1 << 20

# zigzag scan order: index k of the scan -> (row, col) flat index
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU-T T.81 Annex K.1 example quantization tables (quality 50 base)
_Q_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHR = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 example Huffman tables: (BITS[1..16], HUFFVAL)
_H_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_H_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: row u, col x."""
    c = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return c


_C = _dct_matrix()


_LUT_CACHE: dict = {}


def _build_decode_table(bits, vals):
    """Canonical Huffman (T.81 Annex C) as a 16-bit LOOKUP TABLE pair
    (symbols, code_lengths), indexed by the next 16 bits of the stream:
    every code of length L owns a 2^(16-L)-entry range, so one peek +
    one list index decodes a symbol (vs 1-16 dict probes bit-by-bit --
    entropy decode is ~70% of baseline JPEG wall). length 0 marks an
    invalid prefix. Cached by table content: the two T.81 Annex K
    tables cover virtually every real-world baseline JPEG, so the
    65536-entry fill is paid once per process, not per image."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    # bound the cache: optimized-Huffman JPEGs (libjpeg/mozjpeg
    # 'optimize', common on CDNs) carry per-image tables, and each LUT
    # pair is ~1 MB of Python lists -- past the cap, build uncached
    # (~10 ms/table) instead of leaking executor memory
    cache_it = len(_LUT_CACHE) < 64
    sym = [0] * 65536
    ln = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            v = vals[k]
            k += 1
            if code >= (1 << length):
                # corrupt DHT: code counts overflow the code space --
                # list-slice assignment would silently EXTEND the LUT
                # past 65536 entries and fail indirectly much later
                raise ValueError("bad Huffman table: code counts overflow")
            base = code << (16 - length)
            span = 1 << (16 - length)
            sym[base : base + span] = [v] * span
            ln[base : base + span] = [length] * span
            code += 1
        code <<= 1
    if cache_it:
        _LUT_CACHE[key] = (sym, ln)
    return sym, ln


def _build_encode_table(bits, vals):
    """Canonical Huffman: {symbol: (code, length)}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], bool, int]:
    """Split the entropy-coded scan into restart-interval SEGMENTS, with
    0xFF00 byte-unstuffing done once up front (the per-bit reader then
    never inspects markers). Returns (segments, truncated, endpos):
    truncated is True when the scan ran off the end of the buffer
    without a terminating marker (matching the old reader's IndexError
    -> ValueError on truncated files); endpos is the offset of the
    terminating marker's 0xFF (so a progressive decoder can resume the
    marker loop there), or len(data) when the scan exhausted the
    buffer."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(data)
    truncated = True
    endpos = n
    while i < n:
        j = data.find(b"\xff", i)
        if j < 0:
            cur.extend(data[i:])
            break
        cur.extend(data[i:j])
        if j + 1 >= n:
            break
        m = data[j + 1]
        if m == 0x00:
            cur.append(0xFF)  # stuffed literal 0xFF
            i = j + 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:
            # any other marker (incl. a 0xFF fill run) terminates the
            # scan, exactly like the old _fill's zero-pad branch
            truncated = False
            endpos = j
            break
    segs.append(bytes(cur))
    return segs, truncated, endpos


def _seg_overrun(final: bool, truncated: bool) -> None:
    """Consuming bits past a segment's real end: early restart marker
    (non-final segment) or truncated entropy data (marker-less scan) --
    the same errors the old bit-by-bit reader raised from _fill. A
    marker-terminated FINAL segment zero-pads silently (T.81 scan
    padding), so this is only called when that case is excluded."""
    if not final:
        raise ValueError("unexpected restart marker in bitstream")
    if truncated:
        raise ValueError("truncated entropy data")


def decode_jpeg(data: bytes) -> np.ndarray:
    """Sequential (SOF0/SOF1) or progressive (SOF2) JPEG -> (H, W) uint8
    (grayscale) or (H, W, 3) uint8 RGB.

    Malformed input (truncated entropy data, missing tables, bad
    segment structure) raises ValueError -- never a bare IndexError /
    KeyError from the bit reader, so callers can match one exception
    type for undecodable web-crawled payloads."""
    try:
        return _decode_frame(data)
    except (IndexError, KeyError, struct.error, OverflowError) as exc:
        # OverflowError: corrupt DC categories can accumulate a pred
        # too large for numpy conversion before any other validation
        # trips (an int32 store past its range raises ValueError)
        raise ValueError(f"truncated or malformed JPEG: {exc!r}") from exc


def _colorize(out_planes: list, adobe_transform) -> np.ndarray:
    """Float planes -> uint8 image: grayscale passthrough, Adobe
    transform=0 RGB passthrough, or JFIF YCbCr->RGB."""
    if len(out_planes) == 1:
        return np.clip(out_planes[0], 0, 255).astype(np.uint8)
    if adobe_transform == 0:
        # Adobe APP14 transform=0: components are stored RGB -- applying
        # the JFIF YCbCr->RGB matrix would silently decode wrong colors
        return np.clip(np.stack(out_planes, axis=2), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _seg_state(segs, seg_idx):
    """Restart-segment bookkeeping shared by the scan decoders: (data,
    byte length, real bit length, is-final) for segment ``seg_idx``,
    raising when a restart interval expects a segment the stream does
    not have."""
    if seg_idx >= len(segs):
        raise ValueError("missing restart marker")
    sdata = segs[seg_idx]
    return sdata, len(sdata), 8 * len(sdata), seg_idx == len(segs) - 1


def _frame_geom(width: int, height: int, samp) -> tuple:
    """Block geometry of a frame whose components have sampling factors
    ``samp`` = [(h, v), ...]: (mcux, mcuy, geom) with geom[ci] =
    (bw_pad, bh_pad, bw_a, bh_a, h, v). The padded grid (bw_pad x
    bh_pad) is the MCU-aligned block raster every component is stored
    in; the actual grid (bw_a x bh_a, ceil of the component's own
    dimensions) is what a single-component scan covers, which can be
    narrower [T.81 A.2.2]. Shared by the decoder and both encoders."""
    hmax = max(h for h, _v in samp)
    vmax = max(v for _h, v in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    geom = []
    for h, v in samp:
        cw = -(-width * h // hmax)
        ch = -(-height * v // vmax)
        geom.append((mcux * h, mcuy * v, -(-cw // 8), -(-ch // 8), h, v))
    return mcux, mcuy, geom


# -- frame decoder -----------------------------------------------------------
#
# One marker loop for every supported frame type. Coefficients
# accumulate scan over scan in per-component block storage laid out in
# the padded block RASTER (by, bx); dequant + IDCT + plane assembly then
# run as one batched numpy pass per component. The storage follows the
# frame type:
# - sequential frames: one preallocated (blocks, 64) int32 array per
#   component. Each block is written once, sparsely (~10 nonzero
#   coefficients), and int32 bounds peak memory at 4 B/coeff;
# - progressive frames: plain-int block lists. Refinement scans re-read
#   every nonzero coefficient, where numpy scalar access would dominate,
#   but a list block costs ~600 B, so these frames are bounded by the
#   _MAX_MULTISCAN_BLOCKS envelope.
#
# Progressive scans [T.81 Annex G.1.2]: DCT coefficients arrive over
# multiple scans -- spectral selection (Ss..Se bands) and successive
# approximation (Ah/Al bit-plane splits). DC scans may interleave
# components (MCU order); AC scans are single-component in block-raster
# order over the component's own grid. First scans (Ah=0) Huffman-code
# shifted values; refinement scans (Ah>0) append one bit per
# coefficient: a raw bit-plane bit for the DC, and for AC a correction
# bit per already-nonzero coefficient plus (r<<4)|1 run codes for newly
# significant +-1<<Al coefficients, with EOBn run codes spanning blocks.
# Per T.81 convention (and every interoperable implementation) the DC
# shift is arithmetic, the AC shift sign-magnitude.


def _decode_frame(data: bytes) -> np.ndarray:
    if data[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    progressive = False
    huff: dict[tuple[int, int], tuple] = {}  # (class 0=DC/1=AC, id) -> LUT
    comps: list[list[int]] = []  # [cid, h, v, tq]
    width = height = None
    dri = 0
    adobe_transform = None  # APP14 'Adobe' color-transform byte
    coefs: list = []  # per comp: (blocks, 64) int32 array or block lists
    geom: list[tuple[int, int, int, int, int, int]] = []
    mcux = mcuy = 0
    got_scan = False
    seq_scanned: set[int] = set()
    # quant table per component, LATCHED at that component's first scan
    # (libjpeg semantics, ADVICE r5): a DQT that legally redefines a
    # table between scans must not retroactively change the dequant of
    # coefficients already accumulated under the old table
    comp_q: list[np.ndarray | None] = []
    pos = 2
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker -- consume the run so the real marker byte is read
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                o += 1
                if pq:
                    tbl = np.frombuffer(body[o : o + 128], dtype=">u2").astype(
                        np.int64
                    )
                    o += 128
                else:
                    tbl = np.frombuffer(body[o : o + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                    o += 64
                dq = np.zeros(64, dtype=np.int64)
                dq[_ZZ] = tbl  # stored in zigzag order
                qt[tq] = dq
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                cnt = sum(bits)
                vals = list(body[o + 17 : o + 17 + cnt])
                huff[(tc, th)] = _build_decode_table(bits, vals)
                o += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2
            if comps:
                # T.81 allows ONE frame header; re-parsing a second SOF
                # would silently wipe the accumulated coefficients and
                # decode wrong pixels with no error
                raise ValueError("duplicate SOF marker")
            progressive = marker == 0xC2
            if body[0] != 8:
                raise ValueError(f"unsupported precision {body[0]}")
            height, width = struct.unpack(">HH", body[1:5])
            if height * width > MAX_IMAGE_PIXELS:
                raise ValueError(
                    f"JPEG {width}x{height} exceeds MAX_IMAGE_PIXELS"
                )
            nf = body[5]
            if nf not in (1, 3):
                raise ValueError(f"unsupported component count {nf}")
            comps = []
            for c in range(nf):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append([cid, hv >> 4, hv & 0xF, tq])
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for cid, h, v, _tq in comps:
                # upsampling uses integer np.repeat factors; legal
                # non-divisible ratios (e.g. 3x1 luma with 2x1 chroma)
                # would otherwise die in np.stack with a shape error
                if h < 1 or v < 1 or hmax % h or vmax % v:
                    raise ValueError(
                        f"unsupported sampling factors {h}x{v} for "
                        f"component {cid} (max {hmax}x{vmax})"
                    )
            mcux, mcuy, geom = _frame_geom(
                width, height, [(h, v) for _cid, h, v, _tq in comps]
            )
            if progressive:
                total_blocks = sum(g[0] * g[1] for g in geom)
                if total_blocks > _MAX_MULTISCAN_BLOCKS:
                    # the pixel cap alone leaves an in-cap progressive
                    # frame able to allocate GBs of list storage
                    # (review r6 pass 3)
                    raise ValueError(
                        f"progressive JPEG needs {total_blocks} coefficient "
                        f"blocks (> {_MAX_MULTISCAN_BLOCKS} memory envelope)"
                    )
                coefs = [[[0] * 64 for _ in range(g[0] * g[1])] for g in geom]
            else:
                coefs = [np.zeros((g[0] * g[1], 64), np.int32) for g in geom]
            comp_q = [None] * nf
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline and progressive DCT are supported "
                f"(SOF marker 0x{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            # APP14: transform 0 = components are already RGB (no YCbCr
            # transform on decode), 1 = YCbCr, 2 = YCCK
            adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cid, tda = body[1 + 2 * c : 3 + 2 * c]
                idx = next(
                    (i for i, x in enumerate(comps) if x[0] == cid), None
                )
                if idx is None:
                    raise ValueError(f"scan references unknown component {cid}")
                scan.append((idx, tda >> 4, tda & 0xF))
            for idx, _td, _ta in scan:
                if comp_q[idx] is None:
                    tq_c = comps[idx][3]
                    if tq_c not in qt:
                        raise ValueError(
                            f"missing quantization table {tq_c}"
                        )
                    comp_q[idx] = qt[tq_c]  # DQT stores fresh arrays
            segs, truncated, endpos = _entropy_segments(data, pos + 2 + seglen)
            units = _scan_units([i for i, _td, _ta in scan], geom, mcux, mcuy)
            if progressive:
                ss = body[1 + 2 * ns]
                se = body[2 + 2 * ns]
                ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
                _decode_prog_scan(
                    segs, truncated, scan, coefs, units, huff, dri,
                    ss, se, ah, al,
                )
            else:
                # a sequential scan is full band whatever its Ss/Se/Ah/Al
                # bytes say: like libjpeg (JWRN_NOT_SEQUENTIAL), accept
                # the baseline files that zero them
                _scan_full(segs, truncated, scan, coefs, units, huff, dri)
                seq_scanned.update(i for i, _td, _ta in scan)
            got_scan = True
            pos = endpos
            continue
        pos = pos + 2 + seglen
    if width is None or not got_scan:
        raise ValueError("JPEG missing SOF/SOS")
    if not progressive and len(seq_scanned) < len(comps):
        # a sequential frame must scan every component once -- without
        # this, a mis-labeled interleaved stream would silently decode
        # one component's worth of garbage and leave the rest zero
        raise ValueError(
            "sequential JPEG missing scans for "
            f"{len(comps) - len(seq_scanned)} component(s)"
        )
    out_planes = []
    for ci, (_cid, h, v, tq) in enumerate(comps):
        q = comp_q[ci]
        if q is None:
            # component never appeared in any scan (possible only in a
            # progressive frame; sequential raises above): all-zero
            # coefficients, so fall back to the end-state table
            if tq not in qt:
                raise ValueError(f"missing quantization table {tq}")
            q = qt[tq]
        bw_pad, bh_pad, _bw_a, _bh_a, _h, _v = geom[ci]
        zz_arr = np.asarray(coefs[ci])
        coef = np.zeros(zz_arr.shape, dtype=np.float64)
        # zz is scan-order; q is natural-order -> q[_ZZ] realigns the
        # quantizer to scan positions
        coef[:, _ZZ] = zz_arr * q[_ZZ]
        blocks = _C.T @ coef.reshape(-1, 8, 8) @ _C
        plane = (
            blocks.reshape(bh_pad, bw_pad, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_pad * 8, bw_pad * 8)
        )
        p = plane + 128.0
        if h < hmax or v < vmax:
            p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)
        out_planes.append(p[:height, :width])
    return _colorize(out_planes, adobe_transform)


def _scan_units(comp_ids, geom, mcux, mcuy):
    """Iterate the units of one scan over components ``comp_ids``, each
    a sequence of (component, block index) pairs: one MCU per unit --
    the components' blocks in (comp, v-row, h-col) order -- when the
    scan interleaves several components, else one block per unit
    walking the component's own block raster (T.81 non-interleaved
    geometry). Restart intervals count these units. Block indices
    address the padded raster of ``_frame_geom``. The only enumeration
    of scan order: the decoder and both encoders walk their blocks
    through it. Lazy: nothing is held per block."""
    if len(comp_ids) == 1:
        ci = comp_ids[0]
        bw_pad, _bh_pad, bw_a, bh_a, _h, _v = geom[ci]
        raster = chain.from_iterable(
            range(row, row + bw_a) for row in range(0, bh_a * bw_pad, bw_pad)
        )
        return zip(zip(repeat(ci), raster))  # ((ci, bi),) units, built in C
    # one MCU's blocks as offsets from the MCU's top-left block, plus
    # each component's per-MCU steps in x and y
    pattern = []
    for ci in comp_ids:
        bw_pad, _bh_pad, _bw_a, _bh_a, h, v = geom[ci]
        for iv in range(v):
            for ih in range(h):
                pattern.append((ci, iv * bw_pad + ih, h, v * bw_pad))
    return (
        [(ci, my * sy + mx * sx + off) for ci, off, sx, sy in pattern]
        for my in range(mcuy)
        for mx in range(mcux)
    )


def _decode_prog_scan(
    segs, truncated, scan, coefs, units, huff, dri, ss, se, ah, al
):
    """Decode one progressive scan's entropy data into ``coefs``: a DC
    first/refinement scan over ``units``, or a spectral band of one
    component's AC coefficients."""
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        if ah == 0:
            _scan_dc_first(segs, truncated, scan, coefs, units, huff, dri, al)
        else:
            _scan_dc_refine(segs, truncated, coefs, units, dri, al)
        return
    if len(scan) != 1:
        raise ValueError("AC progressive scan must be single-component")
    if se > 63 or ss > se:
        raise ValueError(f"bad spectral band {ss}..{se}")
    ci, _td, ta = scan[0]
    if (1, ta) not in huff:
        raise ValueError(f"missing AC Huffman table {ta}")
    store = coefs[ci]
    blocks = [store[bi] for ((_ci, bi),) in units]
    if ah == 0:
        _scan_ac_first(segs, truncated, blocks, huff[(1, ta)], dri, ss, se, al)
    else:
        _scan_ac_refine(segs, truncated, blocks, huff[(1, ta)], dri, ss, se, al)


def _scan_full(segs, truncated, scan, coefs, units, huff, dri):
    """One sequential scan [T.81 F.2]: per block, a DC diff plus AC
    run-length coding (EOB/ZRL, no EOBn), over interleaved MCUs or a
    single component's raster. The bit reader is fully INLINED as local
    ints (sbuf/snbits/spos/scons): at ~4 symbols decoded per
    microsecond the per-symbol function-call overhead of a reader
    object would be the single largest cost. Bits past a segment's real
    end read as zeros (T.81 scan padding); CONSUMING past the end
    raises via _seg_overrun."""
    tabs = [None] * len(coefs)
    for ci, td, ta in scan:
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("missing Huffman table for sequential scan")
        # flat int32 view of the component's (blocks, 64) array: a
        # memoryview store costs about half a numpy scalar store
        flat = memoryview(coefs[ci].reshape(-1))
        tabs[ci] = (*huff[(0, td)], *huff[(1, ta)], flat)
    preds = [0] * len(coefs)
    seg_idx = 0
    sdata, sn, snreal, sfinal = _seg_state(segs, 0)
    sbuf = snbits = spos = scons = 0
    for u, unit in enumerate(units):
        if dri and u and u % dri == 0:
            seg_idx += 1
            sdata, sn, snreal, sfinal = _seg_state(segs, seg_idx)
            sbuf = snbits = spos = scons = 0
            preds = [0] * len(coefs)
        for ci, bi in unit:
            dc_sym, dc_len, ac_sym, ac_len, store = tabs[ci]
            o = bi << 6
            if snbits < 16:
                while snbits < 16:
                    if spos < sn:
                        sbuf = (sbuf << 8) | sdata[spos]
                        spos += 1
                    else:
                        sbuf <<= 8
                    snbits += 8
                sbuf &= 0xFFFFFFFFFF
            idx = (sbuf >> (snbits - 16)) & 0xFFFF
            length = dc_len[idx]
            if length == 0:
                raise ValueError("invalid Huffman code")
            t = dc_sym[idx]
            snbits -= length
            scons += length + t
            if t:
                if snbits < t:
                    while snbits < t:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                snbits -= t
                diff = (sbuf >> snbits) & ((1 << t) - 1)
                preds[ci] += (
                    diff if diff >= (1 << (t - 1)) else diff - (1 << t) + 1
                )
            if scons > snreal:
                _seg_overrun(sfinal, truncated)
            store[o] = preds[ci]
            k = 1
            while k < 64:
                if snbits < 16:
                    while snbits < 16:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                idx = (sbuf >> (snbits - 16)) & 0xFFFF
                length = ac_len[idx]
                if length == 0:
                    raise ValueError("invalid Huffman code")
                rs = ac_sym[idx]
                s = rs & 0xF
                if s == 0:
                    snbits -= length
                    scons += length
                    if scons > snreal:
                        _seg_overrun(sfinal, truncated)
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                need = length + s
                if snbits < need:
                    while snbits < need:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                snbits -= need
                scons += need
                if scons > snreal:
                    _seg_overrun(sfinal, truncated)
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run overflows block")
                v = (sbuf >> snbits) & ((1 << s) - 1)
                store[o + k] = (
                    v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                )
                k += 1
    if scons > snreal:
        _seg_overrun(sfinal, truncated)


def _scan_dc_first(segs, truncated, scan, coefs, units, huff, dri, al):
    for ci, td, _ta in scan:
        if (0, td) not in huff:
            raise ValueError(f"missing DC Huffman table {td}")
    luts = {ci: huff[(0, td)] for ci, td, _ta in scan}
    preds = {ci: 0 for ci, _td, _ta in scan}
    seg_idx = 0
    sdata, sn, snreal, sfinal = _seg_state(segs, 0)
    sbuf = snbits = spos = scons = 0
    for u, unit in enumerate(units):
        if dri and u and u % dri == 0:
            seg_idx += 1
            sdata, sn, snreal, sfinal = _seg_state(segs, seg_idx)
            sbuf = snbits = spos = scons = 0
            preds = {ci: 0 for ci in preds}
        for ci, bi in unit:
            dc_sym, dc_len = luts[ci]
            if snbits < 16:
                while snbits < 16:
                    if spos < sn:
                        sbuf = (sbuf << 8) | sdata[spos]
                        spos += 1
                    else:
                        sbuf <<= 8
                    snbits += 8
                sbuf &= 0xFFFFFFFFFF
            idx = (sbuf >> (snbits - 16)) & 0xFFFF
            length = dc_len[idx]
            if length == 0:
                raise ValueError("invalid Huffman code")
            t = dc_sym[idx]
            snbits -= length
            scons += length + t
            if t:
                if snbits < t:
                    while snbits < t:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                snbits -= t
                diff = (sbuf >> snbits) & ((1 << t) - 1)
                preds[ci] += (
                    diff if diff >= (1 << (t - 1)) else diff - (1 << t) + 1
                )
            if scons > snreal:
                _seg_overrun(sfinal, truncated)
            coefs[ci][bi][0] = preds[ci] << al
    if scons > snreal:
        _seg_overrun(sfinal, truncated)


def _scan_dc_refine(segs, truncated, coefs, units, dri, al):
    """DC successive-approximation refinement: one raw bit per block
    (no Huffman), OR-ed into bit Al of the coefficient."""
    seg_idx = 0
    sdata, sn, snreal, sfinal = _seg_state(segs, 0)
    sbuf = snbits = spos = scons = 0
    p1 = 1 << al
    for u, unit in enumerate(units):
        if dri and u and u % dri == 0:
            seg_idx += 1
            sdata, sn, snreal, sfinal = _seg_state(segs, seg_idx)
            sbuf = snbits = spos = scons = 0
        for ci, bi in unit:
            if snbits < 1:
                if spos < sn:
                    sbuf = (sbuf << 8) | sdata[spos]
                    spos += 1
                else:
                    sbuf <<= 8
                snbits += 8
                sbuf &= 0xFFFFFFFFFF
            snbits -= 1
            scons += 1
            if scons > snreal:
                _seg_overrun(sfinal, truncated)
            if (sbuf >> snbits) & 1:
                coefs[ci][bi][0] |= p1


def _scan_ac_first(segs, truncated, blocks, lut, dri, ss, se, al):
    """First AC scan of a band: baseline-style (run, size) symbols on
    the Al-shifted magnitudes, plus EOBn codes whose run length spans
    whole blocks [T.81 G.1.2.2]."""
    ac_sym, ac_len = lut
    seg_idx = 0
    sdata, sn, snreal, sfinal = _seg_state(segs, 0)
    sbuf = snbits = spos = scons = 0
    eobrun = 0
    for u, zz in enumerate(blocks):
        if dri and u and u % dri == 0:
            seg_idx += 1
            sdata, sn, snreal, sfinal = _seg_state(segs, seg_idx)
            sbuf = snbits = spos = scons = 0
            eobrun = 0
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            if snbits < 16:
                while snbits < 16:
                    if spos < sn:
                        sbuf = (sbuf << 8) | sdata[spos]
                        spos += 1
                    else:
                        sbuf <<= 8
                    snbits += 8
                sbuf &= 0xFFFFFFFFFF
            idx = (sbuf >> (snbits - 16)) & 0xFFFF
            length = ac_len[idx]
            if length == 0:
                raise ValueError("invalid Huffman code")
            rs = ac_sym[idx]
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                snbits -= length
                scons += length
                if r == 15:  # ZRL
                    if scons > snreal:
                        _seg_overrun(sfinal, truncated)
                    k += 16
                    continue
                # EOBn: run of 2^r + extra(r) end-of-band blocks,
                # including this one
                scons += r
                if snbits < r:
                    while snbits < r:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                snbits -= r
                eobrun = (1 << r) + ((sbuf >> snbits) & ((1 << r) - 1)) - 1
                if scons > snreal:
                    _seg_overrun(sfinal, truncated)
                break
            need = length + s
            if snbits < need:
                while snbits < need:
                    if spos < sn:
                        sbuf = (sbuf << 8) | sdata[spos]
                        spos += 1
                    else:
                        sbuf <<= 8
                    snbits += 8
                sbuf &= 0xFFFFFFFFFF
            snbits -= need
            scons += need
            if scons > snreal:
                _seg_overrun(sfinal, truncated)
            k += r
            if k > se:
                raise ValueError("AC run overflows band")
            v = (sbuf >> snbits) & ((1 << s) - 1)
            v = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            # sign-magnitude scale-up: decoded value is +-mag << Al
            zz[k] = v << al if v >= 0 else -((-v) << al)
            k += 1
    if scons > snreal:
        _seg_overrun(sfinal, truncated)


def _scan_ac_refine(segs, truncated, blocks, lut, dri, ss, se, al):
    """AC successive-approximation refinement [T.81 G.1.2.3]: one
    correction bit per already-nonzero coefficient in the band, (r<<4)|1
    symbols introducing newly significant +-1<<Al coefficients (the run
    r counts only ZERO-history positions), and EOBn runs whose covered
    blocks still carry correction bits for their nonzero history."""
    ac_sym, ac_len = lut
    seg_idx = 0
    sdata, sn, snreal, sfinal = _seg_state(segs, 0)
    sbuf = snbits = spos = scons = 0
    eobrun = 0
    p1 = 1 << al
    m1 = -p1
    for u, zz in enumerate(blocks):
        if dri and u and u % dri == 0:
            seg_idx += 1
            sdata, sn, snreal, sfinal = _seg_state(segs, seg_idx)
            sbuf = snbits = spos = scons = 0
            eobrun = 0
        k = ss
        if eobrun == 0:
            while k <= se:
                if snbits < 16:
                    while snbits < 16:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                    sbuf &= 0xFFFFFFFFFF
                idx = (sbuf >> (snbits - 16)) & 0xFFFF
                length = ac_len[idx]
                if length == 0:
                    raise ValueError("invalid Huffman code")
                rs = ac_sym[idx]
                r, s = rs >> 4, rs & 0xF
                snbits -= length
                scons += length
                newval = 0
                if s == 0:
                    if r != 15:
                        # EOBn: this block's tail is handled below
                        scons += r
                        if snbits < r:
                            while snbits < r:
                                if spos < sn:
                                    sbuf = (sbuf << 8) | sdata[spos]
                                    spos += 1
                                else:
                                    sbuf <<= 8
                                snbits += 8
                            sbuf &= 0xFFFFFFFFFF
                        snbits -= r
                        eobrun = (1 << r) + ((sbuf >> snbits) & ((1 << r) - 1))
                        if scons > snreal:
                            _seg_overrun(sfinal, truncated)
                        break
                    # ZRL: r == 15, skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("refinement scan symbol with size != 1")
                    scons += 1
                    if snbits < 1:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                        sbuf &= 0xFFFFFFFFFF
                    snbits -= 1
                    newval = p1 if (sbuf >> snbits) & 1 else m1
                if scons > snreal:
                    _seg_overrun(sfinal, truncated)
                # advance past r zero-history coefficients, emitting a
                # correction bit for each nonzero-history one passed
                while k <= se:
                    if zz[k] != 0:
                        scons += 1
                        if snbits < 1:
                            if spos < sn:
                                sbuf = (sbuf << 8) | sdata[spos]
                                spos += 1
                            else:
                                sbuf <<= 8
                            snbits += 8
                            sbuf &= 0xFFFFFFFFFF
                        snbits -= 1
                        if scons > snreal:
                            _seg_overrun(sfinal, truncated)
                        if (sbuf >> snbits) & 1 and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("AC refinement run overflows band")
                    zz[k] = newval
                k += 1
        if eobrun:
            # inside an EOB run: correction bits for the remaining
            # nonzero-history coefficients of this block
            while k <= se:
                if zz[k] != 0:
                    scons += 1
                    if snbits < 1:
                        if spos < sn:
                            sbuf = (sbuf << 8) | sdata[spos]
                            spos += 1
                        else:
                            sbuf <<= 8
                        snbits += 8
                        sbuf &= 0xFFFFFFFFFF
                    snbits -= 1
                    if scons > snreal:
                        _seg_overrun(sfinal, truncated)
                    if (sbuf >> snbits) & 1 and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                k += 1
            eobrun -= 1
    if scons > snreal:
        _seg_overrun(sfinal, truncated)


# -- encoder -----------------------------------------------------------------


def _bw_flush(out: bytearray, buf: int, nbits: int) -> tuple[int, int]:
    """Byte-align the bit buffer with 1-bit padding (T.81), stuffing any
    emitted 0xFF. Returns the reset (buf, nbits)."""
    if nbits:
        pad = 8 - nbits
        b = ((buf << pad) | ((1 << pad) - 1)) & 0xFF
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    return 0, 0


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _encode_block(out, buf, nbits, zz, pred, dc_tab, ac_tab):
    """Entropy-code one quantized zigzag block into ``out``.

    ``zz`` is a plain-int list and the bit buffer rides through as
    plain ints (buf, nbits) -- a writer object's per-code method calls
    (~50k per 256px image) were ~40% of encode wall, and numpy scalar
    reads from the coefficient row another big slice. Returns
    (buf, nbits, dc). Canonical codes and EXTEND-mapped values are
    already < 2^length, so no masking is needed when packing."""
    dc = zz[0]
    diff = dc - pred
    t = (diff if diff >= 0 else -diff).bit_length()
    code, length = dc_tab[t]
    buf = (buf << length) | code
    nbits += length
    if t:
        buf = (buf << t) | (diff if diff >= 0 else diff + (1 << t) - 1)
        nbits += t
    while nbits >= 8:
        nbits -= 8
        b = (buf >> nbits) & 0xFF
        out.append(b)
        if b == 0xFF:
            out.append(0x00)  # byte stuffing
    buf &= (1 << nbits) - 1
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            buf = (buf << length) | code
            nbits += length
            while nbits >= 8:
                nbits -= 8
                b = (buf >> nbits) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            buf &= (1 << nbits) - 1
            run -= 16
        s = (v if v >= 0 else -v).bit_length()
        code, length = ac_tab[(run << 4) | s]
        buf = (buf << length) | code
        buf = (buf << s) | (v if v >= 0 else v + (1 << s) - 1)
        nbits += length + s
        while nbits >= 8:
            nbits -= 8
            b = (buf >> nbits) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        buf &= (1 << nbits) - 1
        run = 0
    if last < 63:
        code, length = ac_tab[0x00]  # EOB
        buf = (buf << length) | code
        nbits += length
        while nbits >= 8:
            nbits -= 8
            b = (buf >> nbits) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        buf &= (1 << nbits) - 1
    return buf, nbits, dc


def _plane_blocks_fdct(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (H//8, W//8, 64) quantized zigzag coeffs.

    The whole plane is transformed in ONE einsum (orthonormal DCT-II as
    two 8x8 matmuls over all blocks) and quantized vectorized -- only
    the entropy coding stage is per-block Python."""
    hh, ww = plane.shape
    blocks = plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ux,ijxy,vy->ijuv", _C, blocks - 128.0, _C)
    qnat = np.round(coef / q[None, None]).astype(np.int64)
    return qnat.reshape(hh // 8, ww // 8, 64)[:, :, _ZZ]


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    hh, ww = plane.shape
    return np.pad(plane, ((0, mh - hh), (0, mw - ww)), mode="edge")


def _prepare_coefs(arr: np.ndarray, quality: int, subsample: bool):
    """Shared front half of the sequential and progressive encoders:
    color transform, optional 4:2:0 downsample, MCU padding, FDCT and
    quantization. Returns (h, w, samp, qtabs, mcux, mcuy, geom, coefs)
    with qtabs the quantization tables in table-id order, geom the
    decoder's _frame_geom block geometry, and coefs[ci] the plain-int
    zigzag blocks of component ci in padded raster order (plain ints
    for the per-block entropy coders)."""
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    qlum = _quality_scale(_Q_LUM, quality).reshape(8, 8)
    qchr = _quality_scale(_Q_CHR, quality).reshape(8, 8)
    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qtabs = [qlum]
    else:
        px = arr.astype(np.float64)
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            # box-mean 2x2 on chroma (pad odd dims by edge replication)
            cbp = _pad_to(cb, h + h % 2, w + w % 2)
            crp = _pad_to(cr, h + h % 2, w + w % 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qtabs = [qlum, qchr]
    mcux, mcuy, geom = _frame_geom(w, h, samp)
    # pad each plane to its own MCU-aligned size and FDCT+quantize
    coefs = []
    for ci, (p, (bw_pad, bh_pad, _bwa, _bha, _h, _v)) in enumerate(
        zip(planes, geom)
    ):
        padded = _pad_to(p, bh_pad * 8, bw_pad * 8)
        zz = _plane_blocks_fdct(padded, qtabs[min(ci, 1)])
        coefs.append(zz.reshape(-1, 64).tolist())
    return h, w, samp, qtabs, mcux, mcuy, geom, coefs


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _frame_header(sof, h, w, samp, qtabs, dhts, restart_interval) -> bytearray:
    """SOI through the last table segment of a JFIF frame: APP0, one
    DQT per table in ``qtabs``, the ``sof`` frame header (component
    ci + 1 uses table min(ci, 1)), one DHT per (class, id, table) in
    ``dhts``, and a DRI segment when restart_interval > 0."""
    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in enumerate(qtabs):
        zq = q.reshape(64)[_ZZ].astype(np.uint8)
        out += _segment(0xDB, bytes([tq]) + bytes(zq))
    sof_body = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(samp)])
    for ci, (sh, sv) in enumerate(samp):
        sof_body += bytes([ci + 1, (sh << 4) | sv, min(ci, 1)])
    out += _segment(sof, sof_body)
    for tc, th, (bits, vals) in dhts:
        dht = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += _segment(0xC4, dht)
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    return out


def _scan_header(comp_ids, tables: int, ss: int, se: int, ahal: int) -> bytes:
    """SOS segment: component ci + 1 codes with table byte ``tables``
    (Td << 4 | Ta) for chroma and 0x00 for luma."""
    body = bytes([len(comp_ids)])
    for ci in comp_ids:
        body += bytes([ci + 1, tables if ci else 0])
    return _segment(0xDA, body + bytes([ss, se, ahal]))


def _encode_sequential(arr, quality, subsample, restart_interval, scans):
    """The one sequential (SOF0) writer: Annex K tables, one scan per
    entry of ``scans`` (lists of component indices) in the decoder's
    _scan_units order, RSTn markers every restart_interval units with
    numbering restarting at 0 in each scan."""
    h, w, samp, qtabs, mcux, mcuy, geom, coefs = _prepare_coefs(
        arr, quality, subsample
    )
    dhts = [(0, 0, _H_DC_LUM), (1, 0, _H_AC_LUM)]
    if len(samp) > 1:
        dhts += [(0, 1, _H_DC_CHR), (1, 1, _H_AC_CHR)]
    out = _frame_header(0xC0, h, w, samp, qtabs, dhts, restart_interval)
    lum = (_build_encode_table(*_H_DC_LUM), _build_encode_table(*_H_AC_LUM))
    chroma = (_build_encode_table(*_H_DC_CHR), _build_encode_table(*_H_AC_CHR))
    tabs = [lum, chroma, chroma]
    for comp_ids in scans:
        ec = bytearray()
        buf = nbits = 0
        preds = [0] * len(samp)
        for u, unit in enumerate(_scan_units(comp_ids, geom, mcux, mcuy)):
            if restart_interval and u and u % restart_interval == 0:
                buf, nbits = _bw_flush(ec, buf, nbits)
                ec += bytes([0xFF, 0xD0 + (u // restart_interval - 1) % 8])
                preds = [0] * len(samp)
            for ci, bi in unit:
                dc_t, ac_t = tabs[ci]
                buf, nbits, preds[ci] = _encode_block(
                    ec, buf, nbits, coefs[ci][bi], preds[ci], dc_t, ac_t
                )
        _bw_flush(ec, buf, nbits)
        out += _scan_header(comp_ids, 0x11, 0, 63, 0) + ec
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W) or (H, W, 3) uint8 -> baseline JFIF JPEG bytes.

    subsample=True emits 4:2:0 chroma (box-mean downsample); default is
    4:4:4. restart_interval > 0 emits a DRI segment and RSTn markers
    every that many MCUs. Uses the T.81 Annex K example Huffman
    tables."""
    scan = [0] if np.ndim(arr) == 2 else [0, 1, 2]
    return _encode_sequential(arr, quality, subsample, restart_interval, [scan])


# -- progressive encoder -----------------------------------------------------
#
# Fixture-grade SOF2 writer for the progressive decoder's round-trip
# tests (and for producing progressive corpora without external tools).
# Scan scripts cover spectral selection and successive approximation,
# including AC refinement with buffered correction bits and EOBn runs
# [T.81 G.1.2]. Compression is secondary: AC scans use a flat 8-bit
# Huffman table covering every (run, size) plus all 15 EOBn symbols
# (the Annex K AC tables define no EOBn codes above EOB0).

_H_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    sorted(
        [(r << 4) | s for r in range(16) for s in range(1, 11)]
        + [r << 4 for r in range(16)]
    ),
)


class _BitWriter:
    """Encoder-side bit writer with T.81 byte stuffing. Plain methods --
    the progressive encoder makes fixtures, not bulk output."""

    __slots__ = ("out", "buf", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def bits(self, value: int, n: int):
        if n == 0:
            return
        self.buf = (self.buf << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.buf &= (1 << self.nbits) - 1

    def code(self, table, symbol: int):
        c, length = table[symbol]
        self.bits(c, length)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.buf << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.buf = 0
        self.nbits = 0

    def restart(self, n: int):
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n % 8)])


def default_progressive_scans(gray: bool) -> list:
    """A libjpeg-style default scan script: interleaved DC first with
    one successive-approximation level, banded AC first scans, then AC
    and DC refinement passes. Entries are (component_indices, Ss, Se,
    Ah, Al)."""
    if gray:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def _enc_dc_scan(bw, units, coefs_l, dc_tabs, ah, al, dri):
    """DC scan: first pass (Ah=0) Huffman-codes diffs of the
    arithmetic-shifted DC values; refinement emits bit Al raw."""
    preds: dict[int, int] = {}
    n_rst = 0
    for u, unit in enumerate(units):
        if dri and u and u % dri == 0:
            bw.restart(n_rst)
            n_rst += 1
            preds = {}
        for ci, bi in unit:
            dc = coefs_l[ci][bi][0]
            if ah == 0:
                v = dc >> al  # arithmetic shift (T.81 DC convention)
                diff = v - preds.get(ci, 0)
                preds[ci] = v
                t = (diff if diff >= 0 else -diff).bit_length()
                bw.code(dc_tabs[ci], t)
                if t:
                    bw.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
            else:
                bw.bits((dc >> al) & 1, 1)


def _enc_ac_first(bw, blocks, ac_tab, ss, se, al, dri):
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            bw.code(ac_tab, nbits << 4)
            bw.bits(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

    n_rst = 0
    for u, zz in enumerate(blocks):
        if dri and u and u % dri == 0:
            flush_eobrun()
            bw.restart(n_rst)
            n_rst += 1
        r = 0
        for k in range(ss, se + 1):
            v = zz[k]
            mag = (v if v >= 0 else -v) >> al  # sign-magnitude shift
            if mag == 0:
                r += 1
                continue
            flush_eobrun()
            while r > 15:
                bw.code(ac_tab, 0xF0)
                r -= 16
            s = mag.bit_length()
            sv = mag if v >= 0 else -mag
            bw.code(ac_tab, (r << 4) | s)
            bw.bits(sv if sv >= 0 else sv + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()


def _enc_ac_refine(bw, blocks, ac_tab, ss, se, al, dri):
    eobrun = 0
    eob_bits: list[int] = []

    def flush_eobrun():
        nonlocal eobrun, eob_bits
        if eobrun:
            nbits = eobrun.bit_length() - 1
            bw.code(ac_tab, nbits << 4)
            bw.bits(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0
        for b in eob_bits:
            bw.bits(b, 1)
        eob_bits = []

    n_rst = 0
    for u, zz in enumerate(blocks):
        if dri and u and u % dri == 0:
            flush_eobrun()
            bw.restart(n_rst)
            n_rst += 1
        # pre-pass: shifted magnitudes + index of last NEWLY significant
        absval = [0] * (se + 1)
        eob = 0
        for k in range(ss, se + 1):
            v = zz[k]
            mag = (v if v >= 0 else -v) >> al
            absval[k] = mag
            if mag == 1:
                eob = k
        r = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            mag = absval[k]
            if mag == 0:
                r += 1
                continue
            # ZRLs only when not foldable into the block-end EOB run
            while r > 15 and k <= eob:
                flush_eobrun()
                bw.code(ac_tab, 0xF0)
                r -= 16
                for b in br:
                    bw.bits(b, 1)
                br = []
            if mag > 1:
                # history coefficient: just its next magnitude bit
                br.append(mag & 1)
                continue
            flush_eobrun()
            bw.code(ac_tab, (r << 4) | 1)
            bw.bits(1 if zz[k] >= 0 else 0, 1)
            for b in br:
                bw.bits(b, 1)
            br = []
            r = 0
        if r or br:
            eobrun += 1
            eob_bits.extend(br)
            if eobrun == 0x7FFF or len(eob_bits) > 900:
                flush_eobrun()
    flush_eobrun()


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    scans: list | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(H, W) or (H, W, 3) uint8 -> PROGRESSIVE (SOF2) JFIF JPEG bytes.

    Same color/FDCT/quantization front half as encode_jpeg, so the
    quantized coefficients -- and therefore the decoded pixels -- are
    IDENTICAL to the baseline encoding at the same quality/subsampling
    (the round-trip parity pin in tests/test_jpeg.py). ``scans``
    overrides the default script with (component_indices, Ss, Se, Ah,
    Al) tuples."""
    h, w, samp, qtabs, mcux, mcuy, geom, coefs = _prepare_coefs(
        arr, quality, subsample
    )
    if scans is None:
        scans = default_progressive_scans(len(samp) == 1)
    dc_tabs = [
        _build_encode_table(*(_H_DC_LUM if ci == 0 else _H_DC_CHR))
        for ci in range(len(samp))
    ]
    ac_prog = _build_encode_table(*_H_AC_PROG)
    dhts = [(0, 0, _H_DC_LUM)]
    if len(samp) > 1:
        dhts.append((0, 1, _H_DC_CHR))
    dhts.append((1, 0, _H_AC_PROG))
    out = _frame_header(0xC2, h, w, samp, qtabs, dhts, restart_interval)
    for comp_ids, ss, se, ah, al in scans:
        bw = _BitWriter()
        units = _scan_units(comp_ids, geom, mcux, mcuy)
        if ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se=0")
            _enc_dc_scan(bw, units, coefs, dc_tabs, ah, al, restart_interval)
        else:
            if len(comp_ids) != 1:
                raise ValueError("AC progressive scan must be single-component")
            store = coefs[comp_ids[0]]
            blocks = [store[bi] for ((_ci, bi),) in units]
            if ah == 0:
                _enc_ac_first(bw, blocks, ac_prog, ss, se, al, restart_interval)
            else:
                _enc_ac_refine(bw, blocks, ac_prog, ss, se, al, restart_interval)
        bw.flush()
        out += _scan_header(comp_ids, 0x10, ss, se, (ah << 4) | al) + bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_noninterleaved(
    arr: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
    chroma_interleaved: bool = False,
) -> bytes:
    """(H, W, 3) uint8 -> SEQUENTIAL baseline JPEG with one SOS per
    component (the legal non-interleaved multi-scan layout, T.81
    A.2.2/B.2.3). Same sequential writer and coefficients as
    encode_jpeg, so decode parity with it is exact -- fixture writer
    for the decoder's multi-scan sequential layout. Grayscale input
    gets the one scan encode_jpeg writes. restart_interval emits a DRI
    segment and per-scan RSTn markers (numbering restarts at 0 each
    scan); chroma_interleaved=True writes scans [Y], [Cb,Cr] -- a Y
    scan in component raster order plus an interleaved two-component
    subset scan in MCU order."""
    if np.ndim(arr) == 2:
        scans = [[0]]
    elif chroma_interleaved:
        scans = [[0], [1, 2]]
    else:
        scans = [[0], [1], [2]]
    return _encode_sequential(arr, quality, subsample, restart_interval, scans)
