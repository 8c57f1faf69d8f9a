"""Pure-stdlib baseline JPEG codec for the multimodal decode seam.

The container has no Pillow, so non-PNG images were a documented
NotImplementedError seam. This module closes the dominant real-world
format: a spec-valid baseline-DCT JPEG (ITU-T T.81) encoder for
deterministic fixtures and a full decoder — marker parse (SOI/APP/DQT/
DHT/SOF0/SOS/EOI), canonical Huffman decode with 0xFF00 byte
un-stuffing, per-position dequantization, de-zigzag, separable 8x8
IDCT, level shift and clamp. Supported layouts: grayscale (1x1) and
3-component YCbCr 4:2:0 (Y 2x2 / Cb,Cr 1x1 — the dominant camera/web
layout) with interleaved-MCU scan decode, per-component DC predictors,
separate luma/chroma quant tables, and 2x2 replication chroma
upsampling, plus restart intervals (DRI/RSTn — byte-aligned predictor
resets, the segmentation every hardware encoder emits).

Progressive DCT (SOF2) decodes for real too — a large share of web
JPEGs are progressive, so a crawl-facing multimodal stage cannot stop
at baseline. Supported per T.81 Annex G: spectral selection (per-band
single-component AC scans), successive approximation (DC point
transform + AC magnitude-plane ladders), DC first/refinement scans
(interleaved or single-component), AC first scans with cross-block
EOBRUN (EOBn) coding, AC refinement scans with correction bits, and
restart markers inside progressive scans (predictors AND EOB run
reset). Coefficients accumulate across scans in quantized form and are
dequantized + IDCT'd once at EOI.

Color layouts: every T.81-legal YCbCr sampling grid with integer
replication ratios decodes — the standard 4:4:4 / 4:2:2 / 4:4:0 /
4:2:0 AND the exotic factors (3x1, 4x1, 1x3, 4x2 / 4:1:1; factors 1-4,
MCU <= 10 blocks, each component's factor dividing the max — the MCU
walk, plane allocation, and replication upsampler are
sampling-generic). Quant tables parse in both DQT precisions (8-bit
Pq=0 and 16-bit big-endian Pq=1).

Non-interleaved SEQUENTIAL multi-scan streams decode too (one
full-band scan per component over its ceil(comp_size/8) grid, pixels
accumulated to EOI, a missing component scan failing loudly), and so
does the LOSSLESS Huffman process (SOF3, T.81 Annex H): all seven
Annex H predictors, DC-category-coded differences, modulo-2^16
reconstruction — precision-generic (2-16 bits per sample), so deep
12/16-bit images are exact there — including MULTI-COMPONENT streams
(one sequential single-component scan per plane, accumulating to EOI)
and the POINT TRANSFORM (Al > 0: samples coded at P-Al bits, output
shifted back up). Extended-sequential SOF1 decodes at
both of its legal precisions: 8-bit (bitstream-identical to baseline)
and 12-bit (precision-generic level shift/clamp, Annex F extended
coefficient categories). Sequential subset scans decode in BOTH
layouts: non-interleaved (one component per scan, A.2.2 grid) and
PARTIALLY interleaved (2-3 components per scan interleaving inside the
frame MCU grid, A.2.3). ARITHMETIC-coded extended sequential frames
(SOF9 + DAC) decode for real via the T.81 Annex D QM-coder in
operators/jpeg_arith.py (Table D.3 state machine, Annex F DC/AC
conditioning, restart re-initialization — cross-validated in both
directions against libjpeg), in ALL THREE sequential scan layouts
(fully interleaved, non-interleaved scan-per-component, and partially
interleaved subset scans, each with per-scan coder/statistics) — and
so do
ARITHMETIC PROGRESSIVE frames (SOF10): the full Annex G scan taxonomy
(interleaved/single-component DC first + fixed-state refinement bits,
single-component AC band first + G.2.2 correction passes) over the
same QM-coder, per-scan statistics, also libjpeg-cross-validated both
directions. NON-INTEGER
replication samplings (e.g. 3x1 Y against 2x1 chroma, ratio 3/2)
decode via the A.1.1 sample-grid map x -> x*hs//hmax in all three
sequential layouts (Huffman AND arithmetic). Lossless streams decode
in BOTH layouts too —
non-interleaved scan-per-plane and fully INTERLEAVED (MCU = one sample
per component) — with whole-row RESTART intervals (each interval's
first line restarts prediction at default + Ra per H.1.1, so intervals
decode independently; mid-row intervals are refused loudly). The
ARITHMETIC LOSSLESS process (SOF11) decodes through the same QM-coder
under the Annex H statistical model (25 two-dimensional (Da, Db)
contexts over the DC decision tree, dual magnitude ladders selected by
the Db class — Table H.2; see jpeg_arith.decode_lossless_diff_arith
for the documented row/column reading). HIERARCHICAL sequences (T.81
Annex J) decode via `_decode_hierarchical`: DHP-declared pyramids of
frames, EXP reference expansion (the J.1.1.2 interpolation filter in
`_exp2x`), and all six DIFFERENTIAL processes (SOF5/6/7/13/14/15) by
translating each frame to its non-differential sibling with the level
shift / lossless prediction disabled and combining against the
reference components (DCT differences clamped, lossless differences
mod 2^16). With that, every SOF process in T.81 decodes; the remaining
in-module NotImplementedError sites are parameter gates (component
counts, MCU limits), not missing processes.

Fixture exactness: JPEG is lossy in general, but the fixtures are built
from coefficient patterns whose IDCT is integral — constant blocks
(DC-only) and a ±1 horizontal basis (the u=4 row-frequency whose
cos((2x+1)·4π/16) values are ±√2/2, so a coefficient of 8d contributes
exactly ±d per pixel). Decode therefore reproduces the synthesis
formula bit-for-bit, which is what lets the DuckDB oracle recompute the
histogram analytically (see plans/queries_documents.py
`multimodal_jpeg_features`).

Reference parity: the reference has no media path at all — nothing
under /root/reference parses image bytes; this is the brief's
LLM-pipeline image stage, not a port of anything.
"""

from __future__ import annotations

import math
import struct

# -- constants (ITU-T T.81 Annex K: public spec tables) ----------------------

#: zigzag index -> raster index (row*8 + col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K luminance DC table: (#codes per length 1..16, symbol list)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

#: Annex K luminance AC table
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(DC_BITS) == len(DC_VALS)
assert sum(AC_BITS) == len(AC_VALS) == 162

#: Lossless-process difference-category table: categories 0..16 (T.81
#: H.1.2.2 allows SSSS up to 16, where 16 carries no appended bits and
#: means diff 32768). All 17 symbols at code length 5 — a valid canonical
#: table (17/32 < 1) that any category can appear under, unlike the
#: Annex K DC table's 0..11.
LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
LL_VALS = list(range(17))
assert sum(LL_BITS) == len(LL_VALS) == 17

#: IDCT basis: COS[u][x] = cos((2x+1)uπ/16), C[u] = 1/√2 for u=0 else 1
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical Huffman per T.81 C.2."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)
_LL_ENC = _canonical_codes(LL_BITS, LL_VALS)


def _lossless_predict(
    samples: list[int], w: int, x: int, y: int, predictor: int, prec: int,
    row0: int = 0,
) -> int:
    """T.81 Annex H.1.1 sample prediction over the already-reconstructed
    row-major ``samples``: the very first sample predicts 2^(P-1), the
    rest of the first line uses Ra (left), the first column uses Rb
    (above), and interior samples use the scan-selected predictor 1-7.
    ``row0`` is the first row of the current RESTART INTERVAL: per
    H.1.1 the interval's first line behaves like the scan's first line
    (default + Ra), so an interval never references samples across the
    restart boundary and stays independently decodable — the point of
    restarts. Shifts are arithmetic (Python ``>>`` floors negatives),
    matching the spec's one-bit right shift on two's-complement
    values."""
    if y == row0 and x == 0:
        return 1 << (prec - 1)
    if y == row0:
        return samples[y * w + x - 1]
    if x == 0:
        return samples[(y - 1) * w]
    a = samples[y * w + x - 1]
    b = samples[(y - 1) * w + x]
    c = samples[(y - 1) * w + x - 1]
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # predictor 7


# -- encoder (fixture synthesis) ---------------------------------------------


class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)
                self._acc, self._n = 0, 0

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self._acc = (self._acc << pad) | ((1 << pad) - 1)
            self.out.append(self._acc)
            if self._acc == 0xFF:
                self.out.append(0x00)
            self._acc, self._n = 0, 0
        return bytes(self.out)


def _mag_bits(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def _encode_block(w: _BitWriter, bz: list[int], pred: int) -> int:
    """Entropy-encode one quantized block (DC diff + AC run-lengths with
    ZRL/EOB) into ``w``; returns the new DC predictor."""
    size, bits = _mag_bits(bz[0] - pred)
    code, length = _DC_ENC[size]
    w.put(code, length)
    if size:
        w.put(bits, size)
    last_nz = 0
    for i in range(63, 0, -1):
        if bz[i]:
            last_nz = i
            break
    run = 0
    for i in range(1, last_nz + 1):
        if bz[i] == 0:
            run += 1
            continue
        while run >= 16:
            code, length = _AC_ENC[0xF0]
            w.put(code, length)
            run -= 16
        size, bits = _mag_bits(bz[i])
        code, length = _AC_ENC[(run << 4) | size]
        w.put(code, length)
        w.put(bits, size)
        run = 0
    if last_nz != 63:
        code, length = _AC_ENC[0x00]
        w.put(code, length)
    return bz[0]


def _encode_scan_mcus(
    mcus: list[list[tuple[int, list[int]]]], restart_interval: int = 0
) -> bytes:
    """Entropy-encode a scan MCU by MCU: each MCU is its component-order
    list of (component index, zigzag quantized block). DC prediction is
    per component (T.81 F.1.1.5.1); all components use the Annex K
    luminance Huffman tables (the SOS declares exactly that). With
    ``restart_interval`` = Ri > 0, an RSTn marker (n cycling 0-7) is
    emitted after every Ri MCUs (byte-aligned, predictors reset —
    T.81 F.1.2.3 / E.2.4), matching an emitted DRI segment."""
    out = bytearray()
    w = _BitWriter()
    preds: dict[int, int] = {}
    rst = 0
    for idx, mcu in enumerate(mcus):
        if restart_interval and idx and idx % restart_interval == 0:
            out += w.flush()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            w = _BitWriter()
            preds = {}
        for comp, bz in mcu:
            preds[comp] = _encode_block(w, bz, preds.get(comp, 0))
    out += w.flush()
    return bytes(out)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _encode_arith_scan_mcus(
    mcus: list[list[tuple[int, int, int, list[int]]]],
    restart_interval: int,
    ncomp: int,
) -> bytes:
    """Arithmetic twin of `_encode_scan_mcus`: each MCU is its
    component-order list of (component index, DC bank id, AC bank id,
    zigzag quantized block), entropy-coded with the Annex D QM-coder at
    the DEFAULT conditioning (L=0, U=1, Kx=5 — exactly what the DAC
    segment the assemblers emit declares). A restart boundary flushes
    the coder (D.1.8), emits the cycling RSTn marker, and restarts with
    fresh registers and statistics (F.1.4.4)."""
    from financedatabase_spark.operators.jpeg_arith import (
        ArithEncoder,
        ArithStats,
        encode_block_arith,
    )

    chunks: list[bytes] = []
    enc, stats = ArithEncoder(), ArithStats(ncomp)
    rst = 0
    for idx, mcu in enumerate(mcus):
        if restart_interval and idx and idx % restart_interval == 0:
            chunks.append(enc.finish())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            enc, stats = ArithEncoder(), ArithStats(ncomp)
        for ci, td, ta, bz in mcu:
            encode_block_arith(enc, stats, ci, td, ta, {}, bz)
    chunks.append(enc.finish())
    return b"".join(chunks)


def assemble_jpeg_arith(
    w: int,
    h: int,
    qt_zz: list[int],
    blocks_zz: list[list[int]],
    restart_interval: int = 0,
    prec: int = 8,
) -> bytes:
    """Assemble a spec-valid grayscale ARITHMETIC-coded JPEG (SOF9,
    extended sequential DCT — T.81 Annex D/F) from the same zigzag
    quant table + quantized blocks `assemble_jpeg` takes: identical
    pixels, arithmetic entropy layer. Emits the DAC segment with the
    default conditioning (DC L=0/U=1, AC Kx=5). Cross-validated against
    libjpeg in tests/test_multimodal.py."""
    if prec not in (8, 12):
        raise ValueError(f"DCT sample precision must be 8 or 12, got {prec}")
    app0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    dqt = bytes([0x00]) + bytes(qt_zz)
    sof9 = struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])
    dac = bytes([0x00, 0x10, 0x10, 5])  # DC0: (U=1)<<4|(L=0); AC0: Kx=5
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = _seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + _seg(0xFFE0, app0)
        + _seg(0xFFDB, dqt)
        + dri
        + _seg(0xFFC9, sof9)
        + _seg(0xFFCC, dac)
        + _seg(0xFFDA, sos)
        + _encode_arith_scan_mcus(
            [[(0, 0, 0, bz)] for bz in blocks_zz], restart_interval, 1
        )
        + b"\xff\xd9"
    )


def assemble_jpeg_arith_color(
    w: int,
    h: int,
    qt_y_zz: list[int],
    qt_c_zz: list[int],
    y_blocks: list[list[list[int]]],
    cb_blocks: list[list[list[int]]],
    cr_blocks: list[list[list[int]]],
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
    multiscan: bool = False,
    partial: bool = False,
) -> bytes:
    """Arithmetic twin of `assemble_jpeg_color`: SOF9 + DAC (default
    conditioning for bank 0 = luma and bank 1 = chroma), QM-coded
    entropy, in any of the three sequential layouts — fully interleaved
    MCUs (T.81 A.2.3), ``multiscan`` non-interleaved (one full-band
    scan per component over its A.2.2 grid), or ``partial`` (a Y-only
    scan then one Cb+Cr subset scan). Per-scan coder and statistics."""
    if multiscan and partial:
        raise ValueError("multiscan and partial are mutually exclusive")
    hs, vs = sampling
    mcu_w, mcu_h = len(cb_blocks[0]), len(cb_blocks)
    app0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    dqt = bytes([0x00]) + bytes(qt_y_zz) + bytes([0x01]) + bytes(qt_c_zz)
    sof9 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dac = bytes([0x00, 0x10, 0x01, 0x10, 0x10, 5, 0x11, 5])
    dri = _seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    head = (
        b"\xff\xd8"
        + _seg(0xFFE0, app0)
        + _seg(0xFFDB, dqt)
        + dri
        + _seg(0xFFC9, sof9)
        + _seg(0xFFCC, dac)
    )
    if multiscan:
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        cbw = ((w + hs - 1) // hs + 7) // 8
        cbh = ((h + vs - 1) // vs + 7) // 8
        scans = b""
        for cid, tbl, grid in (
            (1, 0, [y_blocks[by][bx] for by in range(ybh) for bx in range(ybw)]),
            (2, 1, [cb_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]),
            (3, 1, [cr_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]),
        ):
            scans += _seg(0xFFDA, bytes([1, cid, (tbl << 4) | tbl, 0, 63, 0]))
            scans += _encode_arith_scan_mcus(
                [[(0, tbl, tbl, bz)] for bz in grid], restart_interval, 1
            )
        return head + scans + b"\xff\xd9"
    if partial:
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        y_grid = [y_blocks[by][bx] for by in range(ybh) for bx in range(ybw)]
        scans = _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        scans += _encode_arith_scan_mcus(
            [[(0, 0, 0, bz)] for bz in y_grid], restart_interval, 1
        )
        cc_mcus = [
            [(0, 1, 1, cb_blocks[my][mx]), (1, 1, 1, cr_blocks[my][mx])]
            for my in range(mcu_h)
            for mx in range(mcu_w)
        ]
        scans += _seg(0xFFDA, bytes([2, 2, 0x11, 3, 0x11, 0, 63, 0]))
        scans += _encode_arith_scan_mcus(cc_mcus, restart_interval, 2)
        return head + scans + b"\xff\xd9"
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    mcus: list[list[tuple[int, int, int, list[int]]]] = []
    for my in range(mcu_h):
        for mx in range(mcu_w):
            mcu: list[tuple[int, int, int, list[int]]] = []
            for byy in range(vs):
                for bxx in range(hs):
                    mcu.append((0, 0, 0, y_blocks[my * vs + byy][mx * hs + bxx]))
            mcu.append((1, 1, 1, cb_blocks[my][mx]))
            mcu.append((2, 1, 1, cr_blocks[my][mx]))
            mcus.append(mcu)
    return (
        head
        + _seg(0xFFDA, sos)
        + _encode_arith_scan_mcus(mcus, restart_interval, 3)
        + b"\xff\xd9"
    )


def assemble_jpeg(
    w: int,
    h: int,
    qt_zz: list[int],
    blocks_zz: list[list[int]],
    restart_interval: int = 0,
    qt_16bit: bool = False,
    sof1: bool = False,
    prec: int = 8,
) -> bytes:
    """Assemble a complete spec-valid grayscale baseline JPEG from a
    zigzag quant table and per-block quantized coefficients (blocks in
    raster MCU order, ceil(w/8)*ceil(h/8) of them — each block is its
    own MCU in a non-subsampled single-component scan).
    ``restart_interval`` > 0 additionally emits a DRI segment and RSTn
    markers every that-many MCUs. ``qt_16bit`` stores the quant table
    with 16-bit big-endian entries (DQT Pq=1 — T.81 B.2.4.1): the same
    values in the wider encoding, so decode is unchanged but a decoder
    that assumes 1-byte entries desyncs on the segment. ``sof1`` emits
    the frame header under the EXTENDED-sequential marker (0xFFC1) —
    at 8-bit precision the stream is otherwise identical, but a decoder
    that rejects the marker outright drops real crawl files.
    ``prec`` = 12 writes a deep extended-sequential frame (requires
    ``sof1`` — T.81 Table B.2 limits baseline to 8-bit); the caller
    must keep DC values/diffs within the Annex K table's categories
    (|v| <= 2047), which the 12-bit fixtures do by construction."""
    if prec == 12 and not sof1:
        raise ValueError("12-bit precision requires the SOF1 marker")
    if prec not in (8, 12):
        raise ValueError(f"DCT sample precision must be 8 or 12, got {prec}")
    app0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    if qt_16bit:
        dqt = bytes([0x10]) + b"".join(struct.pack(">H", v) for v in qt_zz)
    else:
        dqt = bytes([0x00]) + bytes(qt_zz)  # Pq=0 (8-bit), Tq=0
    sof0 = struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
    dht_ac = bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = _seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + _seg(0xFFE0, app0)
        + _seg(0xFFDB, dqt)
        + dri
        + _seg(0xFFC1 if sof1 else 0xFFC0, sof0)
        + _seg(0xFFC4, dht_dc)
        + _seg(0xFFC4, dht_ac)
        + _seg(0xFFDA, sos)
        + _encode_scan_mcus([[(0, bz)] for bz in blocks_zz], restart_interval)
        + b"\xff\xd9"
    )


def assemble_jpeg_lossless(
    w: int, h: int, samples: list, predictor: int, prec: int = 8,
    point_transform: int = 0, interleaved: bool = False,
    restart_rows: int = 0, arith: bool = False,
    cond: tuple[int, int] = (0, 1),
) -> bytes:
    """Assemble a spec-valid LOSSLESS JPEG (SOF3 — T.81 Annex H):
    sample differences against the Annex H predictor are category-coded
    exactly like sequential DC coefficients, under the `LL_BITS`
    difference table. No DQT (the lossless process has no
    quantization), no MCU padding (samples are a raw w x h raster),
    ``prec`` bits per sample (2-16; the process is precision-generic —
    this is where 12/16-bit deep images are exact).

    ``samples`` is one flat plane (grayscale) or a LIST of 1 or 3
    planes (the multi-component stream is one single-component scan per
    plane, the non-interleaved layout every lossless encoder emits).
    ``point_transform`` (Al, 0 <= Al < prec) codes samples in the
    REDUCED domain — pass reduced samples (< 2^(prec-Al)); decoders
    output them shifted back up by Al.

    ``interleaved=True`` emits ONE multi-component scan whose MCU is a
    single sample per component (all factors 1x1 — the A.2.3 degenerate
    MCU); ``restart_rows`` > 0 emits DRI = restart_rows * w MCUs and
    RSTn markers, each interval's first line restarting prediction at
    the default + Ra per H.1.1 so intervals decode independently.

    ``arith=True`` emits the ARITHMETIC lossless process (SOF11): the
    same differences coded through the Annex D QM-coder under the
    Annex H two-dimensional (Da, Db) conditioning, with a DAC segment
    carrying ``cond`` = (L, U) for statistics table 0 (all planes share
    table 0, hence one statistics bank, per F.1.4.4.1). Restart
    intervals flush the coder and zero the bank."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor must be 1-7, got {predictor}")
    if not 2 <= prec <= 16:
        raise ValueError(f"lossless sample precision must be 2-16, got {prec}")
    if not 0 <= point_transform < prec:
        raise ValueError(
            f"lossless point transform must be in [0, prec), got {point_transform}"
        )
    planes = samples if samples and isinstance(samples[0], list) else [samples]
    if len(planes) not in (1, 3):
        raise ValueError(f"lossless encoder takes 1 or 3 planes, got {len(planes)}")
    prec_r = prec - point_transform

    def _put_diff(bw: _BitWriter, plane: list[int], x: int, y: int, row0: int) -> None:
        # differences are modulo-2^16 (T.81 H.1.2.1): map into
        # [-32767, 32768], where +32768 is category 16 with no
        # appended bits — the only representation that stays in
        # 16 categories when prec = 16 predictors overshoot
        diff = (
            plane[y * w + x]
            - _lossless_predict(plane, w, x, y, predictor, prec_r, row0)
        ) & 0xFFFF
        if diff > 32768:
            diff -= 65536
        if diff == 32768:
            code, length = _LL_ENC[16]
            bw.put(code, length)
            return
        size, bits = _mag_bits(diff)
        code, length = _LL_ENC[size]
        bw.put(code, length)
        if size:
            bw.put(bits, size)

    def _encode_scan(scan_planes: list[list[int]]) -> bytes:
        out = bytearray()
        bw = _BitWriter()
        row0 = 0
        rst = 0
        for y in range(h):
            if restart_rows and y and y % restart_rows == 0:
                out += bw.flush()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                row0 = y
            for x in range(w):
                for plane in scan_planes:
                    _put_diff(bw, plane, x, y, row0)
        out += bw.flush()
        return bytes(out)

    def _encode_scan_arith(scan_planes: list[list[int]]) -> bytes:
        from financedatabase_spark.operators.jpeg_arith import (
            LL_STAT_BINS,
            ArithEncoder,
            encode_lossless_diff_arith,
            ll_classify,
        )

        low, up = cond
        out = bytearray()
        enc = ArithEncoder()
        bank = bytearray(LL_STAT_BINS)
        prev_d = [[0] * w for _ in scan_planes]
        cur_d = [[0] * w for _ in scan_planes]
        row0 = 0
        rst = 0
        for y in range(h):
            if restart_rows and y and y % restart_rows == 0:
                out += enc.finish()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                enc = ArithEncoder()
                bank = bytearray(LL_STAT_BINS)
                row0 = y
            for x in range(w):
                for pi, plane in enumerate(scan_planes):
                    diff = (
                        plane[y * w + x]
                        - _lossless_predict(plane, w, x, y, predictor, prec_r, row0)
                    ) & 0xFFFF
                    if diff > 32767:
                        diff -= 65536  # arithmetic path: [-32768, 32767]
                    da = cur_d[pi][x - 1] if x else 0
                    db = prev_d[pi][x] if y > row0 else 0
                    encode_lossless_diff_arith(
                        enc,
                        bank,
                        ll_classify(da, low, up),
                        ll_classify(db, low, up),
                        diff,
                    )
                    cur_d[pi][x] = diff
            for pi in range(len(scan_planes)):
                prev_d[pi], cur_d[pi] = cur_d[pi], prev_d[pi]
        out += enc.finish()
        return bytes(out)

    encode_scan = _encode_scan_arith if arith else _encode_scan
    sof3 = struct.pack(">BHHB", prec, h, w, len(planes)) + b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(len(planes))
    )
    out = bytearray(b"\xff\xd8")
    if arith:
        low, up = cond
        if not 0 <= low <= up <= 15:
            raise ValueError(f"DAC DC conditioning L={low} U={up} invalid")
        out += _seg(0xFFCC, bytes([0x00, (up << 4) | low]))
        out += _seg(0xFFCB, sof3)
    else:
        dht = bytes([0x00]) + bytes(LL_BITS) + bytes(LL_VALS)
        out += _seg(0xFFC4, dht) + _seg(0xFFC3, sof3)
    if restart_rows:
        out += _seg(0xFFDD, struct.pack(">H", restart_rows * w))
    if interleaved:
        sos = bytes([len(planes)])
        for ci in range(len(planes)):
            sos += bytes([ci + 1, 0x00])
        sos += bytes([predictor, 0, point_transform])
        out += _seg(0xFFDA, sos) + encode_scan(planes)
    else:
        for ci, plane in enumerate(planes):
            # Ss=predictor, Se=0, Ah=0, Al=point transform
            sos = bytes([1, ci + 1, 0x00, predictor, 0, point_transform])
            out += _seg(0xFFDA, sos) + encode_scan([plane])
    return bytes(out + b"\xff\xd9")


def assemble_jpeg_hierarchical(
    w: int, h: int, base, final: tuple[str, object],
    arith_base: bool = False, arith_final: bool = False,
) -> bytes:
    """Assemble a spec-valid two-level HIERARCHICAL JPEG (T.81 Annex J):
    DHP declaring the full (w, h) grayscale geometry, a half-resolution
    first frame, an EXP(1,1) reference expansion, and one differential
    refinement frame at full resolution.

    ``base`` is either an int — a CONSTANT half-res DCT base frame
    (SOF0, or SOF9 when ``arith_base``; quantizer 8 at DC makes the
    decoded plane exactly that constant) — or a list of wb*hb samples
    coded as a LOSSLESS (SOF3, predictor 1) base frame, decoded
    exactly. ``final`` is ("dct", per-block diff constants) — a
    DC-only differential DCT frame (SOF5, or SOF13 when
    ``arith_final``) adding diff[b] to every pixel of full-res block b
    — or ("lossless", target_plane) — a differential LOSSLESS frame
    (SOF7, or SOF15 when ``arith_final``) coding target - expanded
    mod 2^16, so the reconstruction IS the target. The expansion filter
    is `_exp2x` (the decoder's own J.1.1.2 reading; the DCT-over-
    lossless-base fixture pins it against an independent oracle).
    Huffman lossless scans use DC-class table id 1 so they coexist with
    the Annex K DC table at id 0."""
    if w % 2 or h % 2:
        raise ValueError("hierarchical fixture geometry must be even")
    wb, hb = w // 2, h // 2
    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDE, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xFFDB, bytes([0x00]) + bytes([8] * 64))
    out += _seg(0xFFC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFC4, bytes([0x01]) + bytes(LL_BITS) + bytes(LL_VALS))
    out += _seg(0xFFCC, bytes([0x00, 0x10, 0x10, 5]))  # DC0 L0/U1, AC0 Kx5

    def _dct_frame(marker: int, fw: int, fh: int, dcs_: list[int], ar: bool) -> bytes:
        sof = struct.pack(">BHHB", 8, fh, fw, 1) + bytes([1, 0x11, 0])
        blocks = [[dc] + [0] * 63 for dc in dcs_]
        if ar:
            sos = bytes([1, 1, 0x00, 0, 63, 0])
            scan = _encode_arith_scan_mcus([[(0, 0, 0, bz)] for bz in blocks], 0, 1)
        else:
            sos = bytes([1, 1, 0x00, 0, 63, 0])
            scan = _encode_scan_mcus([[(0, bz)] for bz in blocks])
        return _seg(0xFF00 | marker, sof) + _seg(0xFFDA, sos) + scan

    def _ll_put(bw: _BitWriter, diff: int) -> None:
        if diff > 32768:
            diff -= 65536
        if diff == 32768:
            code, length = _LL_ENC[16]
            bw.put(code, length)
            return
        size, bits = _mag_bits(diff)
        code, length = _LL_ENC[size]
        bw.put(code, length)
        if size:
            bw.put(bits, size)

    def _ll_frame(
        marker: int, fw: int, fh: int, diffs: list[int], predictor: int,
        ar: bool, ref: list[int] | None,
    ) -> bytes:
        # diffs: mod-2^16 values to code. predictor 0 = differential
        # (raw diffs); predictor 1-7 = a normal lossless frame whose
        # SAMPLES are ``diffs`` (then coded against the predictor).
        sof = struct.pack(">BHHB", 8, fh, fw, 1) + bytes([1, 0x11, 0])
        if ar:
            from financedatabase_spark.operators.jpeg_arith import (
                LL_STAT_BINS,
                ArithEncoder,
                encode_lossless_diff_arith,
                ll_classify,
            )

            enc = ArithEncoder()
            bank = bytearray(LL_STAT_BINS)
            prev_d = [0] * fw
            cur_d = [0] * fw
            for y in range(fh):
                for x in range(fw):
                    if predictor:
                        pred = _lossless_predict(diffs, fw, x, y, predictor, 8, 0)
                    else:
                        pred = 0
                    d = (diffs[y * fw + x] - pred) & 0xFFFF
                    if d > 32767:
                        d -= 65536
                    da = cur_d[x - 1] if x else 0
                    db = prev_d[x] if y else 0
                    encode_lossless_diff_arith(
                        enc, bank, ll_classify(da, 0, 1), ll_classify(db, 0, 1), d,
                    )
                    cur_d[x] = d
                prev_d, cur_d = cur_d, prev_d
            sos = bytes([1, 1, 0x00, predictor, 0, 0])
            return _seg(0xFF00 | marker, sof) + _seg(0xFFDA, sos) + enc.finish()
        bw = _BitWriter()
        for y in range(fh):
            for x in range(fw):
                if predictor:
                    pred = _lossless_predict(diffs, fw, x, y, predictor, 8, 0)
                else:
                    pred = 0
                _ll_put(bw, (diffs[y * fw + x] - pred) & 0xFFFF)
        sos = bytes([1, 1, 0x10, predictor, 0, 0])  # DC-class table id 1
        return _seg(0xFF00 | marker, sof) + _seg(0xFFDA, sos) + bw.flush()

    if isinstance(base, int):
        nb = ((wb + 7) // 8) * ((hb + 7) // 8)
        out += _dct_frame(
            0xC9 if arith_base else 0xC0, wb, hb, [base - 128] * nb, arith_base
        )
        dec_base = [base] * (wb * hb)
    else:
        if len(base) != wb * hb:
            raise ValueError(f"lossless base plane must be {wb}x{hb}")
        out += _ll_frame(0xC3, wb, hb, list(base), 1, False, None)
        dec_base = list(base)
    out += _seg(0xFFDF, bytes([0x11]))  # EXP: Eh=1, Ev=1
    up, uw, uh = _exp2x(dec_base, wb, hb, 1, 1)
    kind, payload = final
    if kind == "dct":
        nb = ((w + 7) // 8) * ((h + 7) // 8)
        if len(payload) != nb:
            raise ValueError(f"differential DCT frame needs {nb} block diffs")
        out += _dct_frame(0xCD if arith_final else 0xC5, w, h, list(payload),
                          arith_final)
    elif kind == "lossless":
        if len(payload) != w * h:
            raise ValueError(f"lossless target plane must be {w}x{h}")
        diffs = [(payload[i] - up[i]) & 0xFFFF for i in range(w * h)]
        out += _ll_frame(0xCF if arith_final else 0xC7, w, h, diffs, 0,
                         arith_final, up)
    else:
        raise ValueError(f"unknown final frame kind {kind!r}")
    return bytes(out + b"\xff\xd9")


def synth_jpeg_hier(doc_id: int) -> bytes:
    """Deterministic HIERARCHICAL fixture (T.81 Annex J — DHP, a
    half-resolution first frame, EXP(1,1), one differential refinement
    frame), cycling doc%4 over the process pairs:

    0: constant DCT base (SOF0) + differential DCT (SOF5, Huffman) —
       final pixel = base + diff(block), base 60..187, diff -50..50.
    1: the same pyramid through the QM-coder (SOF9 base + SOF13 diff).
    2: LOSSLESS base (SOF3, predictor 1) holding the formula
       30 + (doc*31 + ys*17 + xs*7) % 196 at half resolution, expanded
       by the J.1.1.2 filter, plus SOF5 block diffs -30..30 — the one
       variant whose oracle recomputes the EXPANSION INTERPOLATION
       independently, pinning the filter.
    3: constant DCT base + differential LOSSLESS refinement (SOF7, or
       SOF15 arithmetic when doc%8==7) coding target - expanded mod
       2^16, so the reconstruction equals the target formula
       (doc*31 + y*17 + x*7) % 256 exactly.

    Geometry w = 16/24/32 by doc%3, h = 16."""
    doc_id = int(doc_id)
    v = doc_id % 4
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    if v in (0, 1):
        base_val = 60 + (doc_id * 29) % 128
        nb = (w // 8) * (h // 8)
        diffs = [(doc_id * 13 + b * 7) % 101 - 50 for b in range(nb)]
        return assemble_jpeg_hierarchical(
            w, h, base_val, ("dct", diffs), arith_base=v == 1, arith_final=v == 1,
        )
    if v == 2:
        wb, hb = w // 2, h // 2
        base = [
            30 + (doc_id * 31 + y * 17 + x * 7) % 196
            for y in range(hb)
            for x in range(wb)
        ]
        nb = (w // 8) * (h // 8)
        diffs = [(doc_id * 13 + b * 7) % 61 - 30 for b in range(nb)]
        return assemble_jpeg_hierarchical(w, h, base, ("dct", diffs))
    target = [
        (doc_id * 31 + y * 17 + x * 7) % 256 for y in range(h) for x in range(w)
    ]
    base_val = 60 + (doc_id * 29) % 128
    return assemble_jpeg_hierarchical(
        w, h, base_val, ("lossless", target), arith_final=doc_id % 8 == 7,
    )


def synth_jpeg12(doc_id: int) -> bytes:
    """Deterministic 12-BIT extended-sequential fixture (SOF1, prec 12):
    width 16/24/32 by doc%3, height 16, DC-ONLY constant blocks with
    quantizer 8 at DC, so block b's 64 pixels all equal
    dc(b) + 2048 exactly where dc(b) = (doc_id*29) % 3000 - 1500 +
    (b*37 + doc_id) % 500 — values and successive diffs stay within the
    Annex K DC table's |v| <= 2047 categories, pixels land in
    [548, 4047] so neither clamp bites, and a SQL oracle recomputes the
    deep histogram from the formula."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    nblocks = (w // 8) * 2
    qt = list(_FIXTURE_QT)
    blocks = []
    for b in range(nblocks):
        dc = (doc_id * 29) % 3000 - 1500 + (b * 37 + doc_id) % 500
        blocks.append([dc] + [0] * 63)
    return assemble_jpeg(w, JPEG_H, qt, blocks, sof1=True, prec=12)


def synth_jpeg_lossless(doc_id: int, prec: int = 8) -> bytes:
    """Deterministic SOF3 fixture: width 16/24/32 by doc%3, height 16,
    predictor 1 + doc%7 (all seven Annex H predictors across the
    corpus), pixel(y, x) = (doc_id*31 + y*17 + x*7) % 2^prec — the
    decode is LOSSLESS, so the decoded plane equals this formula
    exactly and a SQL oracle recomputes the features with no
    quantization model."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    samples = [
        (doc_id * 31 + y * 17 + x * 7) % (1 << prec)
        for y in range(h)
        for x in range(w)
    ]
    return assemble_jpeg_lossless(w, h, samples, 1 + doc_id % 7, prec)


def synth_jpeg_lossless_arith(doc_id: int) -> bytes:
    """Deterministic SOF11 fixture — the LOSSLESS process under
    ARITHMETIC entropy coding (T.81 Annex H over the Annex D QM-coder):
    precision 12, point transform Al = doc%3, predictor 1 + doc%7 (all
    seven across the corpus), width 16/24/32 by doc%3, height 16.
    doc%2 picks the layout — grayscale single scan vs THREE planes in
    ONE interleaved scan (the A.2.3 degenerate MCU, all planes sharing
    statistics table 0 and hence ONE bank) — doc%5==0 adds 4-row
    restart intervals (QM flush + statistics reset per interval), and
    doc%11==0 swaps the DAC conditioning from the default (0,1) to
    (1,3), moving the small/large classification boundary of the
    two-dimensional (Da, Db) context model. Plane k's reduced-domain
    pixel is (doc_id*31 + k*97 + y*17 + x*7 + 3*x*y) % 2^(12-Al) — the
    x*y cross term keeps the coded differences position-dependent so
    every context row and both magnitude ladders see traffic. Decode is
    lossless: the decoded plane equals the formula << Al exactly."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    al = doc_id % 3
    m = 1 << (12 - al)
    nplanes = 3 if doc_id % 2 else 1
    planes = [
        [
            (doc_id * 31 + k * 97 + y * 17 + x * 7 + 3 * x * y) % m
            for y in range(h)
            for x in range(w)
        ]
        for k in range(nplanes)
    ]
    return assemble_jpeg_lossless(
        w, h, planes if nplanes == 3 else planes[0], 1 + doc_id % 7, 12, al,
        interleaved=nplanes == 3,
        restart_rows=4 if doc_id % 5 == 0 else 0,
        arith=True,
        cond=(1, 3) if doc_id % 11 == 0 else (0, 1),
    )


def synth_jpeg_lossless_rgb(doc_id: int) -> bytes:
    """Deterministic THREE-COMPONENT lossless fixture with a POINT
    TRANSFORM: SOF3 at precision 12, Al = doc%3 (0/1/2 — identity plus
    both nontrivial shifts), predictor 1 + doc%7, width 16/24/32 by
    doc%3, height 16. The SCAN LAYOUT cycles doc%4 over every lossless
    delivery shape: non-interleaved scan-per-plane (0), non-interleaved
    with whole-row restarts every 8 rows (1), one fully INTERLEAVED
    scan — MCU = a sample per component (2), and interleaved with
    restarts every 4 rows (3; each interval's first line restarts
    prediction at default + Ra per H.1.1). The layout changes NO pixel.
    Reduced-domain pixel of plane k:
    r_k(y, x) = (doc_id*31 + k*59 + y*17 + x*7) % 2^(12-Al); the decoder
    must emit r_k << Al, so a SQL oracle recomputes every decoded value
    (and the downstream histogram/means) from this formula exactly —
    lossless end to end."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    prec, al = 12, doc_id % 3
    m = 1 << (prec - al)
    planes = [
        [
            (doc_id * 31 + k * 59 + y * 17 + x * 7) % m
            for y in range(h)
            for x in range(w)
        ]
        for k in range(3)
    ]
    layout = doc_id % 4
    return assemble_jpeg_lossless(
        w, h, planes, 1 + doc_id % 7, prec, point_transform=al,
        interleaved=layout >= 2,
        restart_rows={1: 8, 3: 4}.get(layout, 0),
    )


#: Fixture quant table (zigzag order): 8 at the two coefficient positions
#: the fixtures use (DC and zigzag 14 = raster (0,4)), varied elsewhere so
#: a decoder that mis-maps the table to positions cannot round-trip.
_FIXTURE_QT = [10 + (i * 7) % 50 for i in range(64)]
_FIXTURE_QT[0] = 8
_FIXTURE_QT[14] = 8

#: Chroma fixture quant table: 8 at DC (the only coefficient the chroma
#: fixtures use), a DIFFERENT variation elsewhere than the luma table so a
#: decoder that maps either component to the wrong table cannot round-trip.
_FIXTURE_QT_C = [12 + (i * 11) % 40 for i in range(64)]
_FIXTURE_QT_C[0] = 8

#: ±1 per-pixel sign of the u=4 horizontal basis: cos((2x+1)π/4) signs.
_U4_SIGN = [1, -1, -1, 1, 1, -1, -1, 1]

JPEG_H = 16


def assemble_jpeg_420(
    w: int,
    h: int,
    qt_y_zz: list[int],
    qt_c_zz: list[int],
    y_blocks: list[list[list[int]]],
    cb_blocks: list[list[list[int]]],
    cr_blocks: list[list[list[int]]],
    restart_interval: int = 0,
) -> bytes:
    """Assemble a spec-valid 4:2:0 YCbCr baseline JPEG: 3-component SOF0
    (Y sampling 2x2 against Cb/Cr 1x1 — the dominant real-world layout),
    two quant tables (0 = luma, 1 = chroma), the Annex K luminance
    Huffman pair shared by every component, and one interleaved scan
    whose MCUs carry 4 Y blocks (2x2, left-to-right then top-to-bottom)
    followed by 1 Cb and 1 Cr block (T.81 A.2.3 interleave order).

    ``y_blocks`` is indexed [block_row][block_col] over the PADDED
    16-aligned grid (2*mcu rows x 2*mcu cols); ``cb_blocks``/``cr_blocks``
    are [mcu_row][mcu_col]. All blocks are zigzag quantized coefficients.
    ``restart_interval`` > 0 additionally emits a DRI segment and RSTn
    markers every that-many MCUs (predictors of ALL components reset).
    """
    return assemble_jpeg_color(
        w, h, qt_y_zz, qt_c_zz, y_blocks, cb_blocks, cr_blocks,
        sampling=(2, 2), restart_interval=restart_interval,
    )


def assemble_jpeg_color(
    w: int,
    h: int,
    qt_y_zz: list[int],
    qt_c_zz: list[int],
    y_blocks: list[list[list[int]]],
    cb_blocks: list[list[list[int]]],
    cr_blocks: list[list[list[int]]],
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
    multiscan: bool = False,
    partial: bool = False,
    chroma_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Assemble a spec-valid 3-component YCbCr baseline JPEG for ANY of
    the standard chroma layouts — ``sampling`` is Y's (hs, vs) against
    ``chroma_sampling`` (default 1x1): (2,2)/(1,1) = 4:2:0, (2,1) =
    4:2:2, (1,2) = 4:4:0, (1,1) = 4:4:4; a chroma factor that does NOT
    divide Y's (e.g. Y 3x1 against chroma 2x1) produces the
    NON-INTEGER-ratio layout. The MCU is hs*vs Y blocks (left-to-right
    then top-to-bottom) followed by the Cb then Cr blocks at their own
    factors (T.81 A.2.3 interleave order).
    ``y_blocks`` is [block_row][block_col] over the PADDED
    (8*vs)-/(8*hs)-aligned grid; ``cb_blocks``/``cr_blocks`` are
    [mcu_row * ch_vs][mcu_col * ch_hs].

    ``multiscan=True`` emits the NON-interleaved layout instead: three
    sequential scans, one full-band scan per component, each over the
    component's ceil(comp_size/8) grid (T.81 A.2.2 — for a padded-MCU
    geometry this grid is SMALLER than the interleaved one, so a decoder
    iterating the wrong grid desyncs). Per-scan DC predictors; the same
    ``restart_interval`` applies within each scan (RSTn index restarts
    at 0 per scan).

    ``partial=True`` emits the PARTIALLY interleaved layout: a Y-only
    scan (non-interleaved grid) followed by ONE two-component Cb+Cr
    scan whose MCUs interleave one Cb and one Cr block over the frame
    MCU grid (T.81 A.2.3 subset-scan interleave)."""
    if multiscan and partial:
        raise ValueError("multiscan and partial are mutually exclusive")
    hs, vs = sampling
    ch_hs, ch_vs = chroma_sampling
    if ch_hs > hs or ch_vs > vs:
        raise ValueError("Y must carry the max sampling factor in this fixture")
    mcu_w, mcu_h = len(cb_blocks[0]) // ch_hs, len(cb_blocks) // ch_vs
    app0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    dqt = bytes([0x00]) + bytes(qt_y_zz) + bytes([0x01]) + bytes(qt_c_zz)
    chv = (ch_hs << 4) | ch_vs
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (hs << 4) | vs, 0, 2, chv, 1, 3, chv, 1]
    )
    dht_dc = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
    dht_ac = bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    head = (
        b"\xff\xd8"
        + _seg(0xFFE0, app0)
        + _seg(0xFFDB, dqt)
        + (_seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b"")
        + _seg(0xFFC0, sof0)
        + _seg(0xFFC4, dht_dc)
        + _seg(0xFFC4, dht_ac)
    )
    if multiscan:
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        # chroma non-interleaved grid: ceil(ceil(dim*ch/hmax)/8), with Y
        # carrying the max factor (T.81 A.2.2) — handles fractional
        # ratios like 2x1 chroma against 3x1 Y
        cbw = ((w * ch_hs + hs - 1) // hs + 7) // 8
        cbh = ((h * ch_vs + vs - 1) // vs + 7) // 8
        scans = b""
        for cid, grid in (
            (1, [y_blocks[by][bx] for by in range(ybh) for bx in range(ybw)]),
            (2, [cb_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]),
            (3, [cr_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]),
        ):
            scans += _seg(0xFFDA, bytes([1, cid, 0x00, 0, 63, 0]))
            scans += _encode_scan_mcus([[(0, bz)] for bz in grid], restart_interval)
        return head + scans + b"\xff\xd9"
    if partial:
        # Y alone over its non-interleaved grid, then Cb+Cr interleaved
        # one block each per frame-grid MCU
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        y_grid = [y_blocks[by][bx] for by in range(ybh) for bx in range(ybw)]
        scans = _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        scans += _encode_scan_mcus([[(0, bz)] for bz in y_grid], restart_interval)
        cc_mcus = [
            [(0, cb_blocks[my * ch_vs + byy][mx * ch_hs + bxx])
             for byy in range(ch_vs) for bxx in range(ch_hs)]
            + [(1, cr_blocks[my * ch_vs + byy][mx * ch_hs + bxx])
               for byy in range(ch_vs) for bxx in range(ch_hs)]
            for my in range(mcu_h)
            for mx in range(mcu_w)
        ]
        scans += _seg(0xFFDA, bytes([2, 2, 0x00, 3, 0x00, 0, 63, 0]))
        scans += _encode_scan_mcus(cc_mcus, restart_interval)
        return head + scans + b"\xff\xd9"
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    mcus: list[list[tuple[int, list[int]]]] = []
    for my in range(mcu_h):
        for mx in range(mcu_w):
            mcu: list[tuple[int, list[int]]] = []
            for byy in range(vs):
                for bxx in range(hs):
                    mcu.append((0, y_blocks[my * vs + byy][mx * hs + bxx]))
            for byy in range(ch_vs):
                for bxx in range(ch_hs):
                    mcu.append((1, cb_blocks[my * ch_vs + byy][mx * ch_hs + bxx]))
            for byy in range(ch_vs):
                for bxx in range(ch_hs):
                    mcu.append((2, cr_blocks[my * ch_vs + byy][mx * ch_hs + bxx]))
            mcus.append(mcu)
    return (
        head
        + _seg(0xFFDA, sos)
        + _encode_scan_mcus(mcus, restart_interval)
        + b"\xff\xd9"
    )


def _y_block_zz(doc_id: int, bx: int, by: int) -> list[int]:
    """Shared luma fixture block: base value v = (doc_id*17 + by*31 +
    bx*7) % 251 + 2 (DC-only), plus an exact ±d u=4 ripple in the second
    block-row (d = (doc_id + bx) % 5 - 2), both quantized by 8 so decode
    is bit-exact. Identical in the grayscale and 4:2:0 fixtures, so the
    oracle's luminance formula covers both."""
    v = (doc_id * 17 + by * 31 + bx * 7) % 251 + 2
    bz = [0] * 64
    bz[0] = v - 128  # DC quantized by 8: 8*(v-128)/8
    if by == 1:
        bz[14] = (doc_id + bx) % 5 - 2  # dequantizes to 8d
    return bz


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic JPEG fixture mix keyed by doc_id % 8 — EVEN
    doc_ids grayscale, ODD color, cycling every container/layout the
    decoder supports: 0 = gray baseline (+DRI/RSTn on doc%6==0), 2/6 =
    gray PROGRESSIVE (SOF2), 4 = gray baseline with a 16-BIT (Pq=1)
    quant table, 1 = 4:2:0 baseline (+DRI on doc%6==5), 3 = 4:2:0
    progressive, 5 = 4:2:2, 7 = 4:4:4; grayscale docs with doc%16 == 8
    carry the frame header under the EXTENDED-sequential marker (SOF1 —
    pixel-identical at 8-bit precision, container-proving). Every variant carries the SAME
    pixel content for its doc_id, so the luminance oracle formula is
    container-independent; only the chroma-mean features (pos 8/9)
    depend on the chroma cell geometry, which the oracle selects on
    doc%8. Width is 16/24/32 by doc (geometry must come
    from the SOF), height 16. Luma block (bx, by) has base value v =
    (doc_id*17 + by*31 + bx*7) % 251 + 2; blocks in the second
    block-row add an exact ±d ripple (d = (doc_id + bx) % 5 - 2)
    through the u=4 AC basis, so every fixture exercises DC prediction
    across blocks, mid-run AC coding (13 zeros before zigzag 14),
    negative-coefficient bit encoding, and dequantization — while
    pixel(x, y) stays an integer formula the oracle can recompute:

        v               for y < 8
        v + d*s(x % 8)  for y >= 8, s = [+,-,-,+,+,-,-,+]
    """
    doc_id = int(doc_id)
    r8 = doc_id % 8
    if doc_id % 2 == 1:
        # color variants cycle by doc%8: 1 = 4:2:0 baseline, 3 = 4:2:0
        # progressive, 5 = 4:2:2, 7 = 4:4:4 (chroma cell geometry differs
        # per variant; the oracle's pos-8/9 formulas select on doc%8)
        if r8 == 3:
            return synth_jpeg_progressive(doc_id)
        if r8 == 5:
            return synth_jpeg_color(doc_id, (2, 1))
        if r8 == 7:
            # half the 4:4:4 docs use the NON-interleaved layout (one
            # sequential scan per component) — same pixels, same oracle
            return synth_jpeg_color(doc_id, (1, 1), multiscan=(doc_id % 16 == 15))
        return synth_jpeg_420(doc_id)
    if r8 in (2, 6):
        return synth_jpeg_progressive(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blocks.append(_y_block_zz(doc_id, bx, by))
    # every third grayscale doc carries a restart interval (DRI + RSTn
    # every 3 MCUs): same pixel values, so the oracle is unchanged, but
    # the decoder must byte-align and reset predictors mid-scan; docs
    # with doc%8 == 4 store the SAME quant values as 16-bit DQT entries
    # (Pq=1), again pixel-identical but container-proving
    ri = 3 if doc_id % 6 == 0 else 0
    # doc%16 == 8 emits the SAME stream under the SOF1 (extended
    # sequential) marker: pixel-identical, so the oracle is unchanged,
    # but the decoder must accept the marker
    return assemble_jpeg(
        w, h, _FIXTURE_QT, blocks, restart_interval=ri, qt_16bit=(r8 == 4),
        sof1=(doc_id % 16 == 8),
    )


def _chroma_blocks(
    doc_id: int, mcu_w: int, mcu_h: int
) -> tuple[list[list[list[int]]], list[list[list[int]]]]:
    """The shared DC-only chroma fixture blocks (see synth_jpeg_420)."""

    def chroma(val: int) -> list[int]:
        bz = [0] * 64
        bz[0] = val - 128
        return bz

    cb = [
        [chroma((doc_id * 29 + mx * 13 + my * 11) % 251 + 2) for mx in range(mcu_w)]
        for my in range(mcu_h)
    ]
    cr = [
        [chroma((doc_id * 23 + mx * 7 + my * 19) % 251 + 2) for mx in range(mcu_w)]
        for my in range(mcu_h)
    ]
    return cb, cr


def synth_jpeg_color(
    doc_id: int, sampling: tuple[int, int], multiscan: bool = False,
    partial: bool = False, chroma_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Deterministic color fixture at ANY standard chroma layout: the
    same luma pattern as every other fixture (shared oracle formula) and
    the same per-chroma-block DC-only values — the chroma grid geometry
    follows ``sampling`` against ``chroma_sampling``, so the upsampled
    chroma at pixel (x, y) is val((x*ch_hs//hs) // 8, (y*ch_vs//vs) // 8)
    (for the default 1x1 chroma that is the classic
    val(x // (8*hs), y // (8*vs))): the oracle proves the decoder
    walked the right grid AND replicated at the right — possibly
    FRACTIONAL — ratio. Same restart cadence as 4:2:0 (doc%6 == 5)."""
    doc_id = int(doc_id)
    hs, vs = sampling
    ch_hs, ch_vs = chroma_sampling
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    mcu_w = (w + 8 * hs - 1) // (8 * hs)
    mcu_h = (h + 8 * vs - 1) // (8 * vs)
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * hs)]
        for by in range(mcu_h * vs)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w * ch_hs, mcu_h * ch_vs)
    ri = 1 if doc_id % 6 == 5 else 0
    return assemble_jpeg_color(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr,
        sampling=sampling, restart_interval=ri, multiscan=multiscan,
        partial=partial, chroma_sampling=chroma_sampling,
    )


#: exotic-sampling fixture grid by doc_id % 5: every non-standard layout
#: the generic MCU walk admits (Y factors 3/4, vertical subsampling, and
#: the FRACTIONAL 3x1-Y-against-2x1-chroma ratio 3/2) — 4:1:1 (4,1) is
#: the DV/video-capture layout. Each entry is (Y sampling, chroma
#: sampling).
EXOTIC_SAMPLINGS = [
    ((3, 1), (1, 1)),
    ((4, 1), (1, 1)),
    ((1, 3), (1, 1)),
    ((4, 2), (1, 1)),
    ((3, 1), (2, 1)),
]


def synth_jpeg_exotic(doc_id: int) -> bytes:
    """Deterministic EXOTIC-sampling color fixture: the same luma/chroma
    formulas as every color fixture (shared oracle), but the sampling
    cycles `EXOTIC_SAMPLINGS` by doc%5 — 3x1, 4:1:1 (4x1), 1x3, the
    10-block-MCU maximum 4x2, and the NON-INTEGER-ratio 3x1 Y against
    2x1 chroma (replication ratio 3/2 — the fractional-upsampling case).
    The scan layout cycles by doc%20//5 over all THREE sequential
    layouts of the same pixels: fully interleaved (0), non-interleaved
    scan-per-component (1), and PARTIALLY interleaved — a Y-only scan
    then one Cb+Cr subset scan (2 and 3) — so every walk is exercised
    against one oracle formula."""
    doc_id = int(doc_id)
    sampling, chroma_sampling = EXOTIC_SAMPLINGS[doc_id % 5]
    layout = (doc_id % 20) // 5
    return synth_jpeg_color(
        doc_id, sampling, multiscan=(layout == 1), partial=(layout >= 2),
        chroma_sampling=chroma_sampling,
    )


def synth_jpeg_progressive(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) fixture with the exact same
    pixel content as the baseline fixture of the same doc_id parity —
    grayscale for even ids, 4:2:0 YCbCr for odd — so every oracle
    formula holds unchanged while the container exercises the full
    Annex G scan script: spectral selection (bands 1-5 / 6-63),
    successive approximation on DC (Al=1 first pass + raw-bit
    refinement) and AC (magnitude-plane first pass + correction-bit
    refinement), cross-block EOBn runs, and the padded-MCU /
    non-interleaved-grid mismatch at width 24. The same restart cadence
    as the baseline mix (doc_id%6==0 gray / %6==5 color) puts DRI+RSTn
    on the DC first scan, then rebinds DRI to 0 — T.81 E.2.4 — so the
    decoder must track mid-stream DRI changes."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    if doc_id % 2 == 1:
        mcu_w, mcu_h = (w + 15) // 16, (h + 15) // 16
        y_blocks = [
            [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * 2)]
            for by in range(mcu_h * 2)
        ]
        cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
        dc_ri = 1 if doc_id % 6 == 5 else 0
        return assemble_jpeg_progressive(
            w, h, _FIXTURE_QT, y_blocks, qt_c_zz=_FIXTURE_QT_C,
            cb_blocks=cb, cr_blocks=cr, dc_restart_interval=dc_ri,
        )
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blocks.append(_y_block_zz(doc_id, bx, by))
    dc_ri = 2 if doc_id % 6 == 0 else 0
    return assemble_jpeg_progressive(
        w, h, _FIXTURE_QT, blocks, dc_restart_interval=dc_ri
    )


def synth_jpeg_420(doc_id: int) -> bytes:
    """Deterministic 4:2:0 color JPEG fixture: same luma pattern as the
    grayscale fixture (so the oracle's Y histogram formula is shared),
    plus DC-only constant chroma blocks per MCU:

        Cb(mcu mx, my) = (doc_id*29 + mx*13 + my*11) % 251 + 2
        Cr(mcu mx, my) = (doc_id*23 + mx*7  + my*19) % 251 + 2

    Chroma upsampling by 2x2 replication makes the full-resolution
    chroma at pixel (x, y) exactly Cb(x//16, y//16) / Cr(x//16, y//16)
    — integers the oracle recomputes. Widths 24 (odd doc_ids with
    doc_id%3==1) force a PADDED MCU column: the encoder emits the
    16-aligned grid, the decoder must crop to the SOF0 geometry."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    mcu_w, mcu_h = (w + 15) // 16, (h + 15) // 16
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * 2)]
        for by in range(mcu_h * 2)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
    # color docs with doc_id % 6 == 5 are width 32 (two MCUs) and restart
    # every MCU (the tightest legal DRI): all six per-MCU predictors
    # reset at the boundary
    ri = 1 if doc_id % 6 == 5 else 0
    return assemble_jpeg_420(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr, restart_interval=ri
    )


def synth_jpeg_arith(doc_id: int) -> bytes:
    """Deterministic ARITHMETIC-coded JPEG fixture mix keyed by
    doc_id % 8, carrying the SAME pixels as the Huffman fixtures (the
    shared `_y_block_zz` / `_chroma_blocks` formulas, so the oracle is
    unchanged — only the entropy layer differs):

      0: grayscale SOF9 (extended sequential)
      1: 4:2:0 color SOF9 (interleaved, luma bank 0 + chroma bank 1)
      2: grayscale SOF9 with DRI=3 restarts (QM registers + statistics
         re-initialized per boundary, RSTn indices verified)
      3: 4:4:4 color SOF9 (1x1 sampling, 3 blocks per MCU)
      4: grayscale PROGRESSIVE SOF10 (the full Annex G scan script —
         DC first Al=1 + fixed-state refinement, split-band AC first +
         correction passes; DRI=3 on the DC scan when doc % 16 == 4)
      5: 4:2:0 color PROGRESSIVE SOF10
      6: 4:2:0 color SOF9 NON-INTERLEAVED (one full-band scan per
         component over its A.2.2 grid, per-scan coder/statistics)
      7: 4:2:0 color SOF9 PARTIALLY interleaved (a Y-only scan then one
         Cb+Cr subset scan; restart every MCU when doc % 16 == 7)

    Interleaved color docs with doc_id % 16 == 1 are width 24 and
    restart every MCU (the tightest legal DRI) — the arithmetic twin of
    the 4:2:0 Huffman restart variant."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    variant = doc_id % 8
    if variant in (0, 2, 4):
        blocks = [
            _y_block_zz(doc_id, bx, by)
            for by in range(h // 8)
            for bx in range(w // 8)
        ]
        if variant == 4:
            return assemble_jpeg_progressive(
                w, h, _FIXTURE_QT, blocks,
                dc_restart_interval=3 if doc_id % 16 == 4 else 0, arith=True,
            )
        return assemble_jpeg_arith(
            w, h, _FIXTURE_QT, blocks, restart_interval=3 if variant == 2 else 0
        )
    hs, vs = (1, 1) if variant == 3 else (2, 2)
    mcu_w = (w + 8 * hs - 1) // (8 * hs)
    mcu_h = (h + 8 * vs - 1) // (8 * vs)
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * hs)]
        for by in range(mcu_h * vs)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
    if variant == 5:
        return assemble_jpeg_progressive(
            w, h, _FIXTURE_QT, y_blocks, _FIXTURE_QT_C, cb, cr, arith=True
        )
    ri = 1 if doc_id % 16 in (1, 7) else 0
    return assemble_jpeg_arith_color(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr,
        sampling=(hs, vs), restart_interval=ri,
        multiscan=variant == 6, partial=variant == 7,
    )


# -- progressive encoder (fixture synthesis, T.81 Annex G) -------------------

#: Compact AC Huffman table for the progressive scans: EOBn run symbols
#: (n = 0..4 → EOB runs up to 31 blocks — the Annex K baseline table has
#: only EOB0, so progressive streams carry their own DHT, exactly like
#: real encoders), ZRL, and (run, size) symbols for sizes 1..3. All 54
#: symbols sit at code length 6 (2^6 = 64 > 54; the all-ones code stays
#: unused), a spec-valid canonical DHT.
PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 4)
]
PROG_AC_BITS = [0, 0, 0, 0, 0, len(PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_ENC = _canonical_codes(PROG_AC_BITS, PROG_AC_VALS)


class _ProgACState:
    """Cross-block EOBRUN + buffered-correction-bit state for one
    progressive AC scan (T.81 G.1.2.2-3; the EOBRUN/BE discipline every
    progressive encoder implements): an end-of-band run accumulates over
    blocks and is emitted as one EOBn symbol, with the correction bits
    owed by refinement blocks inside the run appended right after it."""

    def __init__(self, w: _BitWriter) -> None:
        self.w = w
        self.eobrun = 0
        self.pending: list[int] = []

    def emit_sym(self, rs: int) -> None:
        code, length = _PROG_AC_ENC[rs]
        self.w.put(code, length)

    def flush_eobrun(self) -> None:
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            self.emit_sym(r << 4)
            if r:
                self.w.put(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.pending:
            self.w.put(b, 1)
        self.pending = []


def _prog_ac_first_block(st: _ProgACState, bz: list[int], ss: int, se: int, al: int) -> None:
    """AC first scan for one block (T.81 G.1.2.2): code sign * (|coef|
    >> Al) over the spectral band with run-length + EOBn coding."""
    vals = []
    last = -1
    for k in range(ss, se + 1):
        v = bz[k]
        mag = (v if v >= 0 else -v) >> al
        vals.append(0 if mag == 0 else (mag if v > 0 else -mag))
        if mag:
            last = k - ss
    if last < 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush_eobrun()
        return
    st.flush_eobrun()
    run = 0
    for i in range(last + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            st.emit_sym(0xF0)
            run -= 16
        size, bits = _mag_bits(v)
        st.emit_sym((run << 4) | size)
        st.w.put(bits, size)
        run = 0
    if last < se - ss:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush_eobrun()


def _prog_ac_refine_block(st: _ProgACState, bz: list[int], ss: int, se: int, al: int) -> None:
    """AC refinement scan for one block (T.81 G.1.2.3): newly-nonzero
    coefficients (|coef| >> Al == 1) get a run symbol + sign bit;
    previously-nonzero ones get one buffered correction bit, emitted
    after the next symbol (or after the EOBn covering their block)."""
    absvals = []
    eobpos = -1
    for k in range(ss, se + 1):
        t = bz[k]
        t = (t if t >= 0 else -t) >> al
        absvals.append(t)
        if t == 1:
            eobpos = k - ss
    run = 0
    br: list[int] = []
    for i, t in enumerate(absvals):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= eobpos:
            st.flush_eobrun()
            st.emit_sym(0xF0)
            run -= 16
            for b in br:
                st.w.put(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        st.flush_eobrun()
        st.emit_sym((run << 4) | 1)
        st.w.put(1 if bz[ss + i] >= 0 else 0, 1)
        for b in br:
            st.w.put(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        st.eobrun += 1
        st.pending.extend(br)
        if st.eobrun == 0x7FFF:
            st.flush_eobrun()


def _encode_dc_first_scan(
    mcus: list[list[tuple[int, int]]], al: int, restart_interval: int = 0
) -> bytes:
    """Progressive DC first scan: per-component predictive coding of the
    point-transformed DC (arithmetic shift right by Al — T.81 G.1.2.1),
    MCU-interleaved, with optional RSTn restarts."""
    out = bytearray()
    w = _BitWriter()
    preds: dict[int, int] = {}
    rst = 0
    for idx, mcu in enumerate(mcus):
        if restart_interval and idx and idx % restart_interval == 0:
            out += w.flush()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            w = _BitWriter()
            preds = {}
        for comp, dc in mcu:
            v = dc >> al
            size, bits = _mag_bits(v - preds.get(comp, 0))
            code, length = _DC_ENC[size]
            w.put(code, length)
            if size:
                w.put(bits, size)
            preds[comp] = v
    out += w.flush()
    return bytes(out)


def _encode_dc_refine_scan(mcus: list[list[tuple[int, int]]], al: int) -> bytes:
    """Progressive DC refinement scan: one raw bit per block — bit Al of
    the DC coefficient (no Huffman coding — T.81 G.1.2.1)."""
    w = _BitWriter()
    for mcu in mcus:
        for _comp, dc in mcu:
            w.put((dc >> al) & 1, 1)
    return w.flush()


def _encode_ac_scan(
    blocks: list[list[int]], ss: int, se: int, al: int, refine: bool
) -> bytes:
    w = _BitWriter()
    st = _ProgACState(w)
    for bz in blocks:
        if refine:
            _prog_ac_refine_block(st, bz, ss, se, al)
        else:
            _prog_ac_first_block(st, bz, ss, se, al)
    st.flush_eobrun()
    return w.flush()


def _sos_seg(comps_spec: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(comps_spec)])
    for cs, td, ta in comps_spec:
        body += bytes([cs, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return _seg(0xFFDA, body)


def _encode_dc_first_scan_arith(
    mcus: list[list[tuple[int, int]]], al: int, restart_interval: int,
    ncomp: int,
) -> bytes:
    """Arithmetic twin of `_encode_dc_first_scan`: the sequential DC
    model (statistics bank 0) over point-transformed values, restart
    boundaries flushing the coder and resetting statistics."""
    from financedatabase_spark.operators.jpeg_arith import (
        ArithEncoder,
        ArithStats,
        encode_dc_arith,
    )

    chunks: list[bytes] = []
    enc, stats = ArithEncoder(), ArithStats(ncomp)
    rst = 0
    for idx, mcu in enumerate(mcus):
        if restart_interval and idx and idx % restart_interval == 0:
            chunks.append(enc.finish())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            enc, stats = ArithEncoder(), ArithStats(ncomp)
        for comp, dc in mcu:
            encode_dc_arith(enc, stats, comp, 0, {}, dc >> al)
    chunks.append(enc.finish())
    return b"".join(chunks)


def _encode_dc_refine_scan_arith(
    mcus: list[list[tuple[int, int]]], al: int, ncomp: int
) -> bytes:
    """Arithmetic DC refinement: one FIXED-state bit per block — bit Al
    of the DC coefficient (G.1.2.1 / the decoder's fixed-bin read)."""
    from financedatabase_spark.operators.jpeg_arith import ArithEncoder, ArithStats

    enc, stats = ArithEncoder(), ArithStats(ncomp)
    for mcu in mcus:
        for _comp, dc in mcu:
            enc.encode(stats.fixed, 0, (dc >> al) & 1)
    return enc.finish()


def _encode_ac_scan_arith(
    blocks: list[list[int]], ss: int, se: int, ah: int, al: int, refine: bool
) -> bytes:
    """Arithmetic AC band scan (first or refinement), statistics bank 0,
    fresh coder + statistics per scan (F.1.4.4)."""
    from financedatabase_spark.operators.jpeg_arith import (
        ArithEncoder,
        ArithStats,
        encode_ac_first_arith,
        encode_ac_refine_arith,
    )

    enc, stats = ArithEncoder(), ArithStats(1)
    for bz in blocks:
        if refine:
            encode_ac_refine_arith(enc, stats, 0, bz, ss, se, ah, al)
        else:
            encode_ac_first_arith(enc, stats, 0, {}, bz, ss, se, al)
    return enc.finish()


def assemble_jpeg_progressive(
    w: int,
    h: int,
    qt_y_zz: list[int],
    y_blocks,
    qt_c_zz: list[int] | None = None,
    cb_blocks: list[list[list[int]]] | None = None,
    cr_blocks: list[list[list[int]]] | None = None,
    dc_restart_interval: int = 0,
    arith: bool = False,
) -> bytes:
    """Assemble a spec-valid PROGRESSIVE JPEG carrying the same
    quantized coefficients as the baseline assemblers — grayscale when
    ``cb_blocks`` is None (``y_blocks`` a flat raster list, like
    `assemble_jpeg`), 4:2:0 YCbCr otherwise (``y_blocks`` the padded
    [block_row][block_col] grid, like `assemble_jpeg_420`).
    ``arith=True`` emits the ARITHMETIC progressive process (SOF10 +
    DAC, T.81 Annex G over the Annex D QM-coder) with the SAME scan
    script — per-scan coder and statistics, fixed-state DC refinement
    bits, the G.2.2 AC correction pass.

    Scan script (the shape real encoders emit — spectral selection AND
    successive approximation on both DC and AC):

    1. DC first scan, all components interleaved, Al=1
       (optionally restart-segmented: ``dc_restart_interval`` emits a
       DRI before it and a DRI=0 after, so later scans are restart-free
       — exercising the DRI-rebinding rule of T.81 E.2.4)
    2. per component: AC first scan, band 1..5, Al=1
    3. per component: AC first scan, band 6..63, Al=1
    4. DC refinement scan, interleaved, raw bits (Ah=1, Al=0)
    5. per component: AC refinement scan, band 1..5 (Ah=1, Al=0)
    6. per component: AC refinement scan, band 6..63 (Ah=1, Al=0)

    AC scans are single-component over the component's NON-interleaved
    block grid (ceil(comp_size/8) — T.81 A.2.2), which for a padded-MCU
    geometry is SMALLER than the interleaved grid, so a decoder that
    iterates the wrong grid desyncs. DC scans use the Annex K DC table;
    AC scans use the module's compact progressive table (id 1) whose
    EOBn symbols the baseline table lacks."""
    color = cb_blocks is not None
    mcu_w = len(cb_blocks[0]) if color else None
    mcu_h = len(cb_blocks) if color else None
    app0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    if color:
        dqt = bytes([0x00]) + bytes(qt_y_zz) + bytes([0x01]) + bytes(qt_c_zz)
        sof2 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
            [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
        )
    else:
        dqt = bytes([0x00]) + bytes(qt_y_zz)
        sof2 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
    dht_ac_prog = bytes([0x11]) + bytes(PROG_AC_BITS) + bytes(PROG_AC_VALS)
    ac_tbl = 0 if arith else 1  # arithmetic scans use statistics bank 0

    # interleaved MCU list of (component, DC value) for the DC scans, and
    # per-component NON-interleaved block lists for the AC scans
    if color:
        dc_mcus: list[list[tuple[int, int]]] = []
        for my in range(mcu_h):
            for mx in range(mcu_w):
                mcu = [
                    (0, y_blocks[my * 2 + byy][mx * 2 + bxx][0])
                    for byy in range(2)
                    for bxx in range(2)
                ]
                mcu.append((1, cb_blocks[my][mx][0]))
                mcu.append((2, cr_blocks[my][mx][0]))
                dc_mcus.append(mcu)
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        y_list = [y_blocks[by][bx] for by in range(ybh) for bx in range(ybw)]
        cbw, cbh = ((w + 1) // 2 + 7) // 8, ((h + 1) // 2 + 7) // 8
        cb_list = [cb_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]
        cr_list = [cr_blocks[by][bx] for by in range(cbh) for bx in range(cbw)]
        comp_blocks = [y_list, cb_list, cr_list]
        comp_ids = [1, 2, 3]
        dc_sos_comps = [(1, 0, 0), (2, 0, 0), (3, 0, 0)]
    else:
        dc_mcus = [[(0, bz[0])] for bz in y_blocks]
        comp_blocks = [list(y_blocks)]
        comp_ids = [1]
        dc_sos_comps = [(1, 0, 0)]

    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xFFE0, app0)
    out += _seg(0xFFDB, dqt)
    if dc_restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", dc_restart_interval))
    if arith:
        out += _seg(0xFFCA, sof2)
        out += _seg(0xFFCC, bytes([0x00, 0x10, 0x10, 5]))  # DC L0/U1, AC Kx5
    else:
        out += _seg(0xFFC2, sof2)
        out += _seg(0xFFC4, dht_dc)
        out += _seg(0xFFC4, dht_ac_prog)
    ncomp = 3 if color else 1
    # 1. DC first (Al=1), interleaved, optionally restart-segmented
    out += _sos_seg(dc_sos_comps, 0, 0, 0, 1)
    if arith:
        out += _encode_dc_first_scan_arith(dc_mcus, 1, dc_restart_interval, ncomp)
    else:
        out += _encode_dc_first_scan(dc_mcus, 1, dc_restart_interval)
    if dc_restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", 0))  # later scans restart-free
    # 2./3. AC first scans (Al=1) per component, split spectral bands
    for ss, se in ((1, 5), (6, 63)):
        for ci, blocks in enumerate(comp_blocks):
            out += _sos_seg([(comp_ids[ci], 0, ac_tbl)], ss, se, 0, 1)
            if arith:
                out += _encode_ac_scan_arith(blocks, ss, se, 0, 1, refine=False)
            else:
                out += _encode_ac_scan(blocks, ss, se, 1, refine=False)
    # 4. DC refinement (raw bits / fixed-state bits), interleaved
    out += _sos_seg(dc_sos_comps, 0, 0, 1, 0)
    if arith:
        out += _encode_dc_refine_scan_arith(dc_mcus, 0, ncomp)
    else:
        out += _encode_dc_refine_scan(dc_mcus, 0)
    # 5./6. AC refinement scans (Ah=1 → Al=0) per component
    for ss, se in ((1, 5), (6, 63)):
        for ci, blocks in enumerate(comp_blocks):
            out += _sos_seg([(comp_ids[ci], 0, ac_tbl)], ss, se, 1, 0)
            if arith:
                out += _encode_ac_scan_arith(blocks, ss, se, 1, 0, refine=True)
            else:
                out += _encode_ac_scan(blocks, ss, se, 0, refine=True)
    out += b"\xff\xd9"
    return bytes(out)


# -- decoder -----------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy data with 0xFF00 un-stuffing;
    stops at any non-stuffed marker (EOI ends the scan)."""

    def __init__(self, raw: bytes, pos: int) -> None:
        self.raw = raw
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.raw):
                raise ValueError("JPEG entropy stream truncated")
            b = self.raw[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.raw[self.pos] if self.pos < len(self.raw) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                elif 0xD0 <= nxt <= 0xD7:
                    raise ValueError(
                        "JPEG restart marker inside an entropy segment "
                        "(corrupt stream or wrong DRI interval)"
                    )
                else:
                    raise ValueError("JPEG scan ended before all blocks decoded")
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expected: int) -> None:
        """Consume an RSTn marker at a restart boundary (T.81 E.2.4):
        discard the pad bits of the current byte, then require the
        byte-aligned 0xFFD0+expected marker."""
        self._n = 0  # drop pad bits (encoder pads with 1s to the byte)
        if (
            self.pos + 1 >= len(self.raw)
            or self.raw[self.pos] != 0xFF
            or self.raw[self.pos + 1] != 0xD0 + expected
        ):
            raise ValueError(
                f"JPEG expected restart marker RST{expected} at a restart "
                f"boundary (corrupt stream or interleave mismatch)"
            )
        self.pos += 2


class _HuffDec:
    """Canonical Huffman decoder from a DHT (bits, values) spec: per-
    length first-code/first-index tables (T.81 F.2.2.3 DECODE)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, r: _BitReader) -> int:
        code = r.bit()
        for length in range(1, 17):
            if code <= self.maxcode[length]:
                return self.vals[self.valptr[length] + code - self.mincode[length]]
            code = (code << 1) | r.bit()
        raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    """Map `size` appended bits to a signed value (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _idct_block(coef: list[int], prec: int = 8, shift: bool = True) -> list[int]:
    """Separable 8x8 inverse DCT on raster-order dequantized
    coefficients; returns 64 level-shifted clamped pixels. The level
    shift and clamp are precision-parametric (T.81 A.3.1: shift is
    2^(P-1)): 8-bit frames shift +128 and clamp to 255, 12-bit extended
    frames shift +2048 and clamp to 4095. ``shift=False`` is the
    DIFFERENTIAL-frame form (T.81 Annex J hierarchical refinement): no
    level shift, output clamped to the signed difference range
    [-2^P, 2^P - 1]."""
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = coef[v * 8:(v + 1) * 8]
        if not any(row):
            continue
        for x in range(8):
            s = 0.0
            for u in range(8):
                if row[u]:
                    s += _C[u] * row[u] * _COS[u][x]
            tmp[v][x] = s
    out = [0] * 64
    lvl = (1 << (prec - 1)) if shift else 0
    bot = 0 if shift else -(1 << prec)
    top = (1 << prec) - 1
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                if tmp[v][x]:
                    s += _C[v] * tmp[v][x] * _COS[v][y]
            p = round(s / 4) + lvl
            out[y * 8 + x] = bot if p < bot else (top if p > top else p)
    return out


def _decode_block(
    r: _BitReader, dec_dc: _HuffDec, dec_ac: _HuffDec, qt: list[int], pred: int,
    prec: int = 8, shift: bool = True,
) -> tuple[list[int], int]:
    """Decode one entropy-coded block: DC diff + AC run-lengths, dequant,
    de-zigzag, IDCT. Returns (64 pixels, new DC predictor)."""
    size = dec_dc.decode(r)
    pred += _extend(r.bits(size), size)
    zz = [0] * 64
    zz[0] = pred * qt[0]
    k = 1
    while k < 64:
        rs = dec_ac.decode(r)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("JPEG AC coefficient overrun")
        zz[k] = _extend(r.bits(rs & 0xF), rs & 0xF) * qt[k]
        k += 1
    coef = [0] * 64
    for zi, ri in enumerate(ZIGZAG):
        coef[ri] = zz[zi]
    return _idct_block(coef, prec, shift), pred


def _ac_first_decode(
    r: _BitReader, ac: _HuffDec, blk: list[int], ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC first-scan decode for one block (T.81 G.2 / the
    standard decode_mcu_AC_first): run-length + EOBn band decode into
    the quantized-coefficient store (values << Al). Returns the EOB run
    remaining for subsequent blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(r)
        rr, s = rs >> 4, rs & 0xF
        if s:
            k += rr
            if k > se:
                raise ValueError("JPEG progressive AC coefficient overrun")
            blk[k] = _extend(r.bits(s), s) << al
            k += 1
        else:
            if rr != 15:
                eobrun = 1 << rr
                if rr:
                    eobrun += r.bits(rr)
                return eobrun - 1
            k += 16
    return 0


def _ac_refine_decode(
    r: _BitReader, ac: _HuffDec, blk: list[int], ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC refinement decode for one block (T.81 G.2 /
    decode_mcu_AC_refine): newly-nonzero coefficients arrive as ±1<<Al;
    every already-nonzero coefficient in the band consumes one
    correction bit (added toward larger magnitude when set). Blocks
    inside an EOB run still consume their correction bits."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac.decode(r)
            rr, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "JPEG progressive AC refinement symbol with size != 1"
                    )
                newval = p1 if r.bit() else m1
            else:
                if rr != 15:
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.bits(rr)
                    break
            while k <= se:
                c = blk[k]
                if c != 0:
                    if r.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("JPEG progressive AC refinement overrun")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            c = blk[k]
            if c != 0:
                if r.bit() and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _crop_planes(
    planes_raw: list[list[list[int]]],
    samplings: list[tuple[int, int]],
    w: int,
    h: int,
    hmax: int,
    vmax: int,
) -> list[list[int]]:
    """Crop each component's padded block grid to the SOF geometry and
    upsample subsampled components by nearest-neighbor replication:
    full-resolution pixel (x, y) reads component sample
    (x*hs // hmax, y*vs // vmax) — the T.81 A.1.1 sample-grid map,
    which reduces to classic x // (hmax/hs) replication for integer
    ratios and handles FRACTIONAL ratios (e.g. 3x1 Y against 2x1
    chroma, ratio 3/2) the same way."""
    out: list[list[int]] = []
    for ci, (hs, vs) in enumerate(samplings):
        plane = planes_raw[ci]
        flat: list[int] = []
        for y in range(h):
            src = plane[y * vs // vmax]
            flat.extend(src[x * hs // hmax] for x in range(w))
        out.append(flat)
    return out


def _nonint_grid(
    w: int, h: int, hs: int, vs: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """Block columns/rows of a component in a NON-interleaved scan:
    ceil(ceil(dim * sampling / max_sampling) / 8) — T.81 A.2.2. Smaller
    than the interleaved padded grid when the geometry pads an MCU."""
    cw = (w * hs + hmax - 1) // hmax
    ch = (h * vs + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def _decode_progressive_arith_scan(
    raw: bytes,
    pos: int,
    seglen: int,
    body: bytes,
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    arith_cond: dict,
    restart_interval: int,
    prog_grid: tuple[int, int, int, int],
    prog_coefs: list[list[list[int]]],
    prec: int,
) -> int:
    """Decode ONE progressive ARITHMETIC scan (T.81 Annex G over the
    Annex D QM-coder — SOF10) into the quantized-coefficient store and
    return the position of the next marker. Same scan taxonomy as the
    Huffman twin `_decode_progressive_scan`: interleaved or
    single-component DC scans (first pass = the sequential DC model
    point-transformed by Al, refinement = one fixed-state bit per
    block), single-component AC band scans (first pass = the sequential
    AC model scaled by 2^Al, refinement = the G.2.2 correction pass).
    Registers AND statistics re-initialize per scan and per restart."""
    from financedatabase_spark.operators.jpeg_arith import (
        ArithDecoder,
        ArithStats,
        decode_ac_first_arith,
        decode_ac_refine_arith,
        decode_dc_arith,
    )

    hmax, vmax, mcus_x, mcus_y = prog_grid
    ns = body[0]
    if len(body) < 1 + 2 * ns + 3:
        raise ValueError("JPEG SOS truncated (component specs short)")
    scan: list[tuple[int, int, int]] = []  # (comp index, td, ta)
    for si in range(ns):
        cs = body[1 + 2 * si]
        td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
        match = [i for i, c in enumerate(comps) if c[0] == cs]
        if not match:
            raise ValueError("JPEG SOS references unknown component id")
        if td > 3 or ta > 3:
            raise ValueError(
                f"JPEG arithmetic SOS table ids ({td},{ta}) outside the "
                f"0-3 statistics-bank range"
            )
        scan.append((match[0], td, ta))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    dec = ArithDecoder(raw, pos + 2 + seglen)
    stats = ArithStats(len(comps))

    def _restart(rst: int) -> None:
        p = dec.marker_start()
        if not (
            p + 1 < len(raw) and raw[p] == 0xFF and raw[p + 1] == 0xD0 + rst
        ):
            raise ValueError(
                f"JPEG expected restart marker RST{rst} at a restart "
                f"boundary (corrupt stream or interleave mismatch)"
            )
        dec.pos = p + 2
        dec.restart()
        stats.reset()

    if ss == 0:
        if se != 0:
            raise ValueError("JPEG progressive DC scan must have Se=0")
        if ns == len(comps):
            rst = 0
            mcu_idx = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                        _restart(rst)
                        rst = (rst + 1) % 8
                    mcu_idx += 1
                    for ci, td, _ta in scan:
                        _, hs, vs, _ = comps[ci]
                        stride = mcus_x * hs
                        for byy in range(vs):
                            for bxx in range(hs):
                                blk = prog_coefs[ci][
                                    (my * vs + byy) * stride + (mx * hs + bxx)
                                ]
                                if ah == 0:
                                    blk[0] = decode_dc_arith(
                                        dec, stats, ci, td, arith_cond, prec
                                    ) << al
                                else:
                                    if dec.decode(stats.fixed, 0):
                                        blk[0] |= 1 << al
        elif ns == 1:
            ci, td, _ta = scan[0]
            _, hs, vs, _ = comps[ci]
            bw_n, bh_n = _nonint_grid(w, h, hs, vs, hmax, vmax)
            stride = mcus_x * hs
            rst = 0
            idx = 0
            for by in range(bh_n):
                for bx in range(bw_n):
                    if restart_interval and idx and idx % restart_interval == 0:
                        _restart(rst)
                        rst = (rst + 1) % 8
                    idx += 1
                    blk = prog_coefs[ci][by * stride + bx]
                    if ah == 0:
                        blk[0] = decode_dc_arith(
                            dec, stats, ci, td, arith_cond, prec
                        ) << al
                    else:
                        if dec.decode(stats.fixed, 0):
                            blk[0] |= 1 << al
        else:
            raise NotImplementedError(
                "partially interleaved progressive DC scan not supported"
            )
    else:
        if ns != 1:
            raise ValueError("JPEG progressive AC scan must be single-component")
        if se > 63 or ss > se:
            raise ValueError("JPEG progressive scan has invalid spectral band")
        ci, _td, ta = scan[0]
        _, hs, vs, _ = comps[ci]
        bw_n, bh_n = _nonint_grid(w, h, hs, vs, hmax, vmax)
        stride = mcus_x * hs
        rst = 0
        idx = 0
        for by in range(bh_n):
            for bx in range(bw_n):
                if restart_interval and idx and idx % restart_interval == 0:
                    _restart(rst)
                    rst = (rst + 1) % 8
                idx += 1
                blk = prog_coefs[ci][by * stride + bx]
                if ah == 0:
                    decode_ac_first_arith(
                        dec, stats, ta, arith_cond, blk, ss, se, al
                    )
                else:
                    decode_ac_refine_arith(dec, stats, ta, blk, ss, se, al)
    p = dec.marker_start()
    while p + 1 < len(raw) and not (
        raw[p] == 0xFF and raw[p + 1] != 0x00 and not (0xD0 <= raw[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def _decode_progressive_scan(
    raw: bytes,
    pos: int,
    seglen: int,
    body: bytes,
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    dcs: dict[int, _HuffDec],
    acs: dict[int, _HuffDec],
    restart_interval: int,
    prog_grid: tuple[int, int, int, int],
    prog_coefs: list[list[list[int]]],
) -> int:
    """Decode ONE progressive scan (T.81 Annex G) into the quantized-
    coefficient store and return the stream position of the next marker.
    DC scans (Ss=0) may be interleaved over the MCU grid or single-
    component; AC scans are single-component over the component's
    NON-interleaved ceil(comp_size/8) block grid — strictly smaller than
    the interleaved padded grid when the geometry pads an MCU column.
    Restart markers reset the DC predictors and the EOB run."""
    hmax, vmax, mcus_x, mcus_y = prog_grid
    ns = body[0]
    if len(body) < 1 + 2 * ns + 3:
        raise ValueError("JPEG SOS truncated (component specs short)")
    scan: list[tuple[int, int, int]] = []  # (comp index, td, ta)
    for si in range(ns):
        cs = body[1 + 2 * si]
        td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
        match = [i for i, c in enumerate(comps) if c[0] == cs]
        if not match:
            raise ValueError("JPEG SOS references unknown component id")
        scan.append((match[0], td, ta))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    r = _BitReader(raw, pos + 2 + seglen)
    if ss == 0:
        # DC scan (first pass when Ah=0, refinement bits when Ah>0)
        if se != 0:
            raise ValueError("JPEG progressive DC scan must have Se=0")
        if ah == 0 and any(td not in dcs for _, td, _ in scan):
            raise ValueError("JPEG SOS references undefined quant/Huffman table")
        if ns == len(comps):
            preds = [0] * ns
            rst = 0
            mcu_idx = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                        r.restart(rst)
                        rst = (rst + 1) % 8
                        preds = [0] * ns
                    mcu_idx += 1
                    for si, (ci, td, _ta) in enumerate(scan):
                        _, hs, vs, _ = comps[ci]
                        stride = mcus_x * hs
                        for byy in range(vs):
                            for bxx in range(hs):
                                blk = prog_coefs[ci][
                                    (my * vs + byy) * stride + (mx * hs + bxx)
                                ]
                                if ah == 0:
                                    s = dcs[td].decode(r)
                                    preds[si] += _extend(r.bits(s), s)
                                    blk[0] = preds[si] << al
                                else:
                                    blk[0] |= r.bit() << al
        elif ns == 1:
            ci, td, _ta = scan[0]
            _, hs, vs, _ = comps[ci]
            bw_n, bh_n = _nonint_grid(w, h, hs, vs, hmax, vmax)
            stride = mcus_x * hs
            pred = 0
            rst = 0
            idx = 0
            for by in range(bh_n):
                for bx in range(bw_n):
                    if restart_interval and idx and idx % restart_interval == 0:
                        r.restart(rst)
                        rst = (rst + 1) % 8
                        pred = 0
                    idx += 1
                    blk = prog_coefs[ci][by * stride + bx]
                    if ah == 0:
                        s = dcs[td].decode(r)
                        pred += _extend(r.bits(s), s)
                        blk[0] = pred << al
                    else:
                        blk[0] |= r.bit() << al
        else:
            raise NotImplementedError(
                "partially interleaved progressive DC scan not supported"
            )
    else:
        # AC scan: spec mandates a single component
        if ns != 1:
            raise ValueError("JPEG progressive AC scan must be single-component")
        if se > 63 or ss > se:
            raise ValueError("JPEG progressive scan has invalid spectral band")
        ci, _td, ta = scan[0]
        if ta not in acs:
            raise ValueError("JPEG SOS references undefined quant/Huffman table")
        ac = acs[ta]
        _, hs, vs, _ = comps[ci]
        bw_n, bh_n = _nonint_grid(w, h, hs, vs, hmax, vmax)
        stride = mcus_x * hs
        eobrun = 0
        rst = 0
        idx = 0
        for by in range(bh_n):
            for bx in range(bw_n):
                if restart_interval and idx and idx % restart_interval == 0:
                    r.restart(rst)
                    rst = (rst + 1) % 8
                    eobrun = 0
                idx += 1
                blk = prog_coefs[ci][by * stride + bx]
                if ah == 0:
                    eobrun = _ac_first_decode(r, ac, blk, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_decode(r, ac, blk, ss, se, al, eobrun)
    # resync: skip any pad bits / stuffed bytes to the next true marker
    p = r.pos
    while p + 1 < len(raw) and not (
        raw[p] == 0xFF and raw[p + 1] != 0x00 and not (0xD0 <= raw[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def jpeg_frame(
    payload: bytes, differential: bool = False,
) -> tuple[int, int, list[list[int]], int]:
    """Decode a JPEG to (width, height, planes, sample_precision): one full-resolution row-major plane per component —
    [Y] for grayscale, [Y, Cb, Cr] for 4:2:0 color (chroma upsampled by
    2x2 replication, the standard nearest-neighbor reconstruction).
    Baseline streams decode the interleaved-MCU scan with per-component
    DC predictors; progressive streams accumulate quantized coefficients
    across their scan script — DC first/refinement (interleaved or
    single-component, point transform Al), single-component AC first
    scans per spectral band with cross-block EOBn runs, AC refinement
    scans with correction bits — and dequantize + IDCT once at EOI.
    Both paths crop the padded MCU grid to the SOF geometry.

    Restart intervals (DRI/RSTn) are fully supported in both modes:
    predictors (and the progressive EOB run) reset and the bit reader
    re-aligns at every marker, honoring mid-stream DRI rebinding. Both
    DQT precisions parse (8-bit and 16-bit entries), and color streams
    decode at every T.81-legal sampling grid (standard 4:4:4 / 4:2:2 /
    4:4:0 / 4:2:0, exotic 3x1 / 4x1 / 1x3 / 4x2, and NON-INTEGER
    ratios like 3x1 Y against 2x1 chroma via the A.1.1 sample-grid
    map), in interleaved, non-interleaved (scan-per-component), or
    PARTIALLY interleaved (subset-scan) layouts. Raises
    NotImplementedError on the documented seams (remaining SOF
    processes) and
    ValueError on malformed streams (including a SOS that references an
    undefined quant/Huffman table).
    """
    raw = bytes(payload)
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, list[int]] = {}
    dcs: dict[int, _HuffDec] = {}
    acs: dict[int, _HuffDec] = {}
    w = h = 0
    restart_interval = 0
    progressive = False
    lossless = False
    prec = 8
    arith = False  # SOF9: extended sequential DCT, arithmetic coding
    arith_cond: dict = {}  # DAC conditioning: ("dc",Tb)->(L,U), ("ac",Tb)->Kx
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    prog_coefs: list[list[list[int]]] | None = None  # [comp][block][64] zigzag
    prog_grid: tuple[int, int, int, int] | None = None  # hmax, vmax, mcus_x, mcus_y
    seq_state: tuple[int, int, list, set] | None = None  # hmax, vmax, planes, seen
    ll_planes: list[list[int] | None] | None = None  # lossless: one per component
    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xDE:  # DHP: hand the stream to the Annex J driver
            if differential:
                raise ValueError(
                    "DHP segment inside a hierarchical frame substream"
                )
            return _decode_hierarchical(raw)
        if marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"differential SOF marker 0xFF{marker:02X} outside a "
                f"hierarchical sequence (T.81 Annex J requires a preceding "
                f"DHP segment)"
            )
        if pos + 4 > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        (seglen,) = struct.unpack_from(">H", raw, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        body = raw[pos + 4:pos + 2 + seglen]
        if marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("JPEG DRI truncated")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq == 0:
                    if off + 65 > len(body):
                        raise ValueError("JPEG DQT truncated (needs 64 table entries)")
                    qts[tq] = list(body[off + 1:off + 65])
                    off += 65
                elif pq == 1:  # 16-bit entries (big-endian, T.81 B.2.4.1)
                    if off + 129 > len(body):
                        raise ValueError(
                            "JPEG DQT truncated (needs 64 16-bit table entries)"
                        )
                    qts[tq] = [
                        (body[off + 1 + 2 * i] << 8) | body[off + 2 + 2 * i]
                        for i in range(64)
                    ]
                    off += 129
                else:
                    raise ValueError(f"JPEG DQT has invalid precision Pq={pq}")
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                if off + 17 > len(body):
                    raise ValueError("JPEG DHT truncated (needs 16 length counts)")
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1:off + 17])
                n = sum(bits)
                if off + 17 + n > len(body):
                    raise ValueError("JPEG DHT truncated (value list short)")
                vals = list(body[off + 17:off + 17 + n])
                (dcs if tc == 0 else acs)[th] = _HuffDec(bits, vals)
                off += 17 + n
        elif marker == 0xCC:  # DAC — arithmetic conditioning (B.2.4.3)
            off = 0
            while off + 2 <= len(body):
                tc, tb = body[off] >> 4, body[off] & 0xF
                cs = body[off + 1]
                if tb > 3:
                    raise ValueError(f"JPEG DAC table id {tb} outside 0-3")
                if tc == 0:
                    low, up = cs & 0xF, cs >> 4
                    if low > up or up > 15:
                        raise ValueError(
                            f"JPEG DAC DC conditioning L={low} U={up} "
                            f"violates 0 <= L <= U <= 15"
                        )
                    arith_cond[("dc", tb)] = (low, up)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"JPEG DAC AC Kx={cs} outside 1-63")
                    arith_cond[("ac", tb)] = cs
                else:
                    raise ValueError(f"JPEG DAC has invalid class Tc={tc}")
                off += 2
            if off != len(body):
                raise ValueError("JPEG DAC truncated (odd parameter bytes)")
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):  # SOFn
            # SOF1 (extended sequential, Huffman) at 8-bit precision is
            # decode-identical to baseline — it only widens the limits
            # (12-bit samples, 4 Huffman table slots) this decoder
            # already gates elsewhere. SOF3 is the LOSSLESS process
            # (T.81 Annex H): no DCT/quantization, predictor-coded
            # sample differences — and precision-generic, so deep
            # (12/16-bit) images are in scope there.
            progressive = marker in (0xC2, 0xCA)
            lossless = marker in (0xC3, 0xCB)  # SOF11 = lossless, arithmetic
            arith = marker in (0xC9, 0xCA, 0xCB)  # ARITHMETIC entropy coding
            if len(body) < 6:
                raise ValueError("JPEG SOF truncated")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if lossless:
                if not 2 <= prec <= 16:
                    raise ValueError(f"bad lossless JPEG precision {prec}")
            elif marker in (0xC1, 0xC9, 0xCA) and prec == 12:
                pass  # extended/progressive admit 12-bit (T.81 Table B.2)
            elif prec != 8:
                raise NotImplementedError(
                    "only 8-bit JPEG samples supported here (12-bit needs "
                    "the extended-sequential SOF1 marker; progressive and "
                    "baseline are 8-bit)"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("JPEG SOF0 truncated (component specs short)")
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0xF, body[8 + 3 * ci]))
            samplings = [(hs, vs) for _, hs, vs, _ in comps]
            if ncomp == 1:
                if samplings != [(1, 1)]:
                    raise NotImplementedError(
                        "grayscale JPEG with non-1x1 sampling not supported"
                    )
            elif ncomp == 3:
                # Any T.81-legal sampling grid the replication upsampler
                # can reconstruct: factors 1-4 (Table B.2 — a FRAME
                # limit, so violations are ValueError) and every
                # component's factor dividing the max (integer
                # replication ratio; e.g. 3x1 Y against 2x1 chroma
                # would need fractional interpolation — the stated
                # seam). The 10-blocks-per-MCU limit (B.2.3) applies to
                # INTERLEAVED SCANS only and is enforced at SOS — a
                # frame summing past 10 is legal when delivered as
                # non-interleaved scans. This admits the standard
                # layouts (4:4:4/4:2:2/4:4:0/4:2:0) AND the exotic ones
                # (3x1, 4x1, 1x3, 4x2 / 4:1:1) — the MCU walk, plane
                # allocation, and upsampler are sampling-generic.
                if any(
                    not (1 <= hs <= 4 and 1 <= vs <= 4) for hs, vs in samplings
                ):
                    raise ValueError(
                        f"JPEG sampling factors outside the T.81 1-4 "
                        f"limit: {samplings}"
                    )
                # non-integer ratios (e.g. 3x1 Y against 2x1 chroma) are
                # in scope: the MCU walk is sampling-generic and the
                # upsampler maps x -> x*hs//hmax (A.1.1), so no integer
                # divisibility constraint applies beyond the 1-4 limit
            else:
                raise NotImplementedError(
                    f"only 1- or 3-component JPEG supported, got {ncomp} components"
                )
        elif marker == 0xDA:  # SOS
            if len(body) < 4:
                raise ValueError("JPEG SOS truncated")
            if not (w and h) or not comps:
                raise ValueError("JPEG SOS before SOF0")
            ns = body[0]
            if lossless:
                # T.81 Annex H scan: Ss carries the predictor selector,
                # Se = 0, Al the POINT TRANSFORM (samples coded at
                # precision P - Al, output shifted back up); differences
                # are DC-category coded, reconstruction is modulo 2^16.
                # Multi-component streams arrive either as one
                # single-component scan per component (non-interleaved)
                # or as ONE INTERLEAVED scan whose MCU is one sample per
                # component (all factors 1x1, A.2.3 degenerate MCU).
                # Restart markers are supported when each interval is a
                # whole number of sample ROWS: H.1.1 treats an
                # interval's first line like the scan's first line
                # (default + Ra), so whole-row intervals never reference
                # across the boundary and stay independently decodable;
                # a mid-row interval would make "first line" ambiguous
                # and is refused loudly.
                if ns not in (1, len(comps)):
                    raise NotImplementedError(
                        "lossless JPEG scans decode single-component or "
                        "fully interleaved; partial subsets not supported"
                    )
                if restart_interval and restart_interval % w:
                    raise NotImplementedError(
                        f"lossless restart interval {restart_interval} is "
                        f"not a whole number of {w}-MCU sample rows"
                    )
                restart_rows = restart_interval // w if restart_interval else 0
                if len(body) < 1 + 2 * ns + 3:
                    raise ValueError("JPEG lossless SOS truncated")
                predictor = body[1 + 2 * ns]
                al = body[3 + 2 * ns] & 0xF
                if differential:
                    # hierarchical differential lossless scan (J.1.1.6):
                    # the reference frame IS the prediction, so Ss must
                    # be 0 and every coded value is a raw mod-2^16 diff
                    if predictor != 0:
                        raise ValueError(
                            f"differential lossless scan must carry predictor "
                            f"selector Ss=0, got {predictor}"
                        )
                elif not 1 <= predictor <= 7:
                    raise ValueError(
                        f"lossless predictor selector must be 1-7, got {predictor}"
                    )
                if al >= prec:
                    raise ValueError(
                        f"lossless point transform Al={al} must be below the "
                        f"sample precision {prec}"
                    )
                if any((hs, vs) != (1, 1) for _, hs, vs, _ in comps):
                    raise NotImplementedError(
                        "lossless JPEG requires 1x1 sampling on every component"
                    )
                lscan: list[tuple[int, int]] = []  # (comp index, td)
                for si in range(ns):
                    cs = body[1 + 2 * si]
                    td = body[2 + 2 * si] >> 4
                    if arith:
                        if td > 3:
                            raise ValueError(
                                f"JPEG arithmetic SOS table id {td} outside "
                                f"the 0-3 statistics-bank range"
                            )
                    elif td not in dcs:
                        raise ValueError(
                            "JPEG SOS references undefined quant/Huffman table"
                        )
                    match = [i for i, c in enumerate(comps) if c[0] == cs]
                    if not match:
                        raise ValueError("JPEG SOS references unknown component id")
                    if any(match[0] == prev for prev, _ in lscan):
                        raise ValueError(
                            f"JPEG SOS lists component id {cs} twice in one "
                            f"scan (T.81 B.2.3 requires distinct Csj)"
                        )
                    lscan.append((match[0], td))
                if ll_planes is None:
                    ll_planes = [None] * len(comps)
                prec_r = prec - al  # reduced-domain precision (H.1)
                scan_planes = {ci: [0] * (w * h) for ci, _ in lscan}
                row0 = 0
                rst = 0
                if arith:
                    # SOF11 (T.81 Annex H over the Annex D QM-coder):
                    # differences are DC-tree coded under the two-
                    # dimensional (Da, Db) conditioning — the diffs
                    # coded at the left and upper neighbors, classified
                    # by the DAC bounds of the scan component's table
                    # id. Components sharing a table id share ONE
                    # statistics bank (F.1.4.4.1) but keep their own
                    # prediction and conditioning state. Restart
                    # intervals re-init the coder, zero every bank, and
                    # restart conditioning like a first line (H.1.1).
                    from financedatabase_spark.operators.jpeg_arith import (
                        LL_STAT_BINS,
                        ArithDecoder,
                        decode_lossless_diff_arith,
                        ll_classify,
                    )

                    adec = ArithDecoder(raw, pos + 2 + seglen)
                    banks = {td: bytearray(LL_STAT_BINS) for _, td in lscan}
                    bounds = {
                        td: arith_cond.get(("dc", td), (0, 1)) for _, td in lscan
                    }
                    prev_d = {ci: [0] * w for ci, _ in lscan}
                    cur_d = {ci: [0] * w for ci, _ in lscan}
                    for y in range(h):
                        if restart_rows and y and y % restart_rows == 0:
                            p = adec.marker_start()
                            if not (
                                p + 1 < len(raw)
                                and raw[p] == 0xFF
                                and raw[p + 1] == 0xD0 + rst
                            ):
                                raise ValueError(
                                    f"JPEG expected restart marker RST{rst} "
                                    f"at a lossless restart boundary"
                                )
                            adec.pos = p + 2
                            adec.restart()
                            for bank in banks.values():
                                bank[:] = bytes(LL_STAT_BINS)
                            rst = (rst + 1) % 8
                            row0 = y
                        base = y * w
                        for x in range(w):
                            for ci, td in lscan:
                                low, up = bounds[td]
                                da = cur_d[ci][x - 1] if x else 0
                                db = prev_d[ci][x] if y > row0 else 0
                                diff = decode_lossless_diff_arith(
                                    adec,
                                    banks[td],
                                    ll_classify(da, low, up),
                                    ll_classify(db, low, up),
                                )
                                cur_d[ci][x] = diff
                                samples = scan_planes[ci]
                                pred = 0 if differential else _lossless_predict(
                                    samples, w, x, y, predictor, prec_r, row0
                                )
                                samples[base + x] = (pred + diff) & 0xFFFF
                        for ci, _td in lscan:
                            prev_d[ci], cur_d[ci] = cur_d[ci], prev_d[ci]
                else:
                    r = _BitReader(raw, pos + 2 + seglen)
                    for y in range(h):
                        if restart_rows and y and y % restart_rows == 0:
                            r.restart(rst)
                            rst = (rst + 1) % 8
                            row0 = y
                        base = y * w
                        for x in range(w):
                            for ci, td in lscan:
                                ssss = dcs[td].decode(r)
                                if ssss == 16:  # H.1.2.2: no appended bits
                                    diff = 32768
                                elif ssss:
                                    diff = _extend(r.bits(ssss), ssss)
                                else:
                                    diff = 0
                                samples = scan_planes[ci]
                                pred = 0 if differential else _lossless_predict(
                                    samples, w, x, y, predictor, prec_r, row0
                                )
                                samples[base + x] = (pred + diff) & 0xFFFF
                for ci, _dec in lscan:
                    samples = scan_planes[ci]
                    # Reconstruction is modulo 2^16 regardless of
                    # precision (H.1.2.1), so a corrupt-but-parseable
                    # stream can land samples >= 2^(prec-Al); fail loudly
                    # here instead of letting downstream histogram
                    # binning overrun (v*dim >> prec).
                    if differential:
                        # samples are mod-2^16 DIFFS against the reference
                        # frame; range-check the COMBINED output instead
                        # (the hierarchical driver owns that), apply the
                        # point transform in modular arithmetic
                        ll_planes[ci] = (
                            [(v << al) & 0xFFFF for v in samples] if al else samples
                        )
                        continue
                    if prec_r < 16 and max(samples, default=0) >> prec_r:
                        raise ValueError(
                            f"lossless JPEG sample exceeds declared precision "
                            f"{prec} - Al {al} (corrupt stream)"
                        )
                    # output = reduced sample << Pt (H.2.2's inverse)
                    ll_planes[ci] = [v << al for v in samples] if al else samples
                p = adec.marker_start() if arith else r.pos
                while p + 1 < len(raw) and not (
                    raw[p] == 0xFF
                    and raw[p + 1] != 0x00
                    and not (0xD0 <= raw[p + 1] <= 0xD7)
                ):
                    p += 1
                pos = p
                continue
            if progressive:
                if prog_coefs is None:
                    hmax = max(hs for _, hs, _, _ in comps)
                    vmax = max(vs for _, _, vs, _ in comps)
                    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
                    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
                    prog_grid = (hmax, vmax, mcus_x, mcus_y)
                    prog_coefs = [
                        [[0] * 64 for _ in range(mcus_x * hs * mcus_y * vs)]
                        for _, hs, vs, _ in comps
                    ]
                if arith:
                    pos = _decode_progressive_arith_scan(
                        raw, pos, seglen, body, w, h, comps, arith_cond,
                        restart_interval, prog_grid, prog_coefs, prec,
                    )
                else:
                    pos = _decode_progressive_scan(
                        raw, pos, seglen, body, w, h, comps, dcs, acs,
                        restart_interval, prog_grid, prog_coefs,
                    )
                continue
            if ns != len(comps):
                # SUBSET scan (1 <= ns < ncomp): pixels accumulate per
                # component until EOI. ns == 1 is the non-interleaved
                # layout over the component's ceil(comp_size/8) grid
                # (T.81 A.2.2); 1 < ns < ncomp is the PARTIALLY
                # interleaved layout — the scan's components interleave
                # by their sampling factors inside the FRAME MCU grid
                # (A.2.3; the grid dims come from the frame's hmax/vmax,
                # same as progressive interleaved DC scans).
                if len(body) < 1 + 2 * ns + 3:
                    raise ValueError("JPEG SOS truncated (component specs short)")
                if seq_state is None:
                    hmax = max(hs for _, hs, _, _ in comps)
                    vmax = max(vs for _, _, vs, _ in comps)
                    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
                    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
                    seq_state = (
                        hmax,
                        vmax,
                        [
                            [[0] * (mcus_x * hs * 8) for _ in range(mcus_y * vs * 8)]
                            for _, hs, vs, _ in comps
                        ],
                        set(),
                    )
                hmax, vmax, seq_planes, seq_seen = seq_state
                mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
                mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
                sscan: list[tuple[int, int]] = []  # (comp index, td<<4|ta)
                for si in range(ns):
                    cs = body[1 + 2 * si]
                    tdta = body[2 + 2 * si]
                    match = [i for i, c in enumerate(comps) if c[0] == cs]
                    if not match:
                        raise ValueError("JPEG SOS references unknown component id")
                    ci = match[0]
                    td, ta = tdta >> 4, tdta & 0xF
                    if comps[ci][3] not in qts:
                        raise ValueError(
                            "JPEG SOS references undefined quant/Huffman table"
                        )
                    if arith:
                        if td > 3 or ta > 3:
                            raise ValueError(
                                f"JPEG arithmetic SOS table ids ({td},{ta}) "
                                f"outside the 0-3 statistics-bank range"
                            )
                    elif td not in dcs or ta not in acs:
                        raise ValueError(
                            "JPEG SOS references undefined quant/Huffman table"
                        )
                    # T.81 B.2.3: the Csj in one scan must be distinct, and
                    # in sequential DCT each component belongs to exactly
                    # one scan — a duplicate would decode the same plane
                    # twice with independent DC predictors; reject loudly
                    if any(ci == prev_ci for prev_ci, _ in sscan):
                        raise ValueError(
                            f"JPEG SOS lists component id {cs} twice in one "
                            f"scan (T.81 B.2.3 requires distinct Csj)"
                        )
                    if ci in seq_seen:
                        raise ValueError(
                            f"JPEG SOS re-scans component id {cs} already "
                            f"decoded by an earlier sequential scan"
                        )
                    seq_seen.add(ci)
                    sscan.append((ci, tdta))
                if ns > 1 and sum(
                    comps[ci][1] * comps[ci][2] for ci, _ in sscan
                ) > 10:
                    raise ValueError(
                        f"interleaved JPEG scan exceeds the T.81 limit of 10 "
                        f"blocks per MCU: "
                        f"{[(comps[ci][1], comps[ci][2]) for ci, _ in sscan]}"
                    )
                adec = astats = None
                if arith:
                    from financedatabase_spark.operators.jpeg_arith import (
                        ArithDecoder,
                        ArithStats,
                        decode_block_arith,
                    )

                    adec = ArithDecoder(raw, pos + 2 + seglen)
                    astats = ArithStats(ns)
                else:
                    r = _BitReader(raw, pos + 2 + seglen)
                rst = 0

                def _sub_restart(rst: int) -> None:
                    # arithmetic restart: verify the cycling RSTn at the
                    # marker the decoder stopped at, re-init registers
                    # AND statistics (F.1.4.4)
                    p = adec.marker_start()
                    if not (
                        p + 1 < len(raw)
                        and raw[p] == 0xFF
                        and raw[p + 1] == 0xD0 + rst
                    ):
                        raise ValueError(
                            f"JPEG expected restart marker RST{rst} at a "
                            f"restart boundary (corrupt stream or "
                            f"interleave mismatch)"
                        )
                    adec.pos = p + 2
                    adec.restart()
                    astats.reset()

                def _sub_block(si: int, ci: int, td: int, ta: int, tq: int):
                    zz = decode_block_arith(
                        adec, astats, si, td, ta, arith_cond, prec
                    )
                    qt = qts[tq]
                    coef = [0] * 64
                    for zi, ri_ in enumerate(ZIGZAG):
                        coef[ri_] = zz[zi] * qt[zi]
                    return _idct_block(coef, prec, not differential)

                if ns == 1:
                    ci, tdta = sscan[0]
                    td, ta = tdta >> 4, tdta & 0xF
                    _, hs, vs, tq = comps[ci]
                    bw_n, bh_n = _nonint_grid(w, h, hs, vs, hmax, vmax)
                    plane = seq_planes[ci]
                    pred = 0
                    idx = 0
                    for by in range(bh_n):
                        for bx in range(bw_n):
                            if restart_interval and idx and idx % restart_interval == 0:
                                if arith:
                                    _sub_restart(rst)
                                else:
                                    r.restart(rst)
                                    pred = 0
                                rst = (rst + 1) % 8
                            idx += 1
                            if arith:
                                px = _sub_block(0, ci, td, ta, tq)
                            else:
                                px, pred = _decode_block(
                                    r, dcs[td], acs[ta], qts[tq], pred, prec,
                                    not differential,
                                )
                            py0, px0 = by * 8, bx * 8
                            for y in range(8):
                                row = plane[py0 + y]
                                row[px0:px0 + 8] = px[y * 8:y * 8 + 8]
                else:
                    preds = [0] * ns
                    mcu_idx = 0
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            if restart_interval and mcu_idx and (
                                mcu_idx % restart_interval == 0
                            ):
                                if arith:
                                    _sub_restart(rst)
                                else:
                                    r.restart(rst)
                                    preds = [0] * ns
                                rst = (rst + 1) % 8
                            mcu_idx += 1
                            for si, (ci, tdta) in enumerate(sscan):
                                td, ta = tdta >> 4, tdta & 0xF
                                _, hs, vs, tq = comps[ci]
                                plane = seq_planes[ci]
                                for byy in range(vs):
                                    for bxx in range(hs):
                                        if arith:
                                            px = _sub_block(si, ci, td, ta, tq)
                                        else:
                                            px, preds[si] = _decode_block(
                                                r, dcs[td], acs[ta], qts[tq],
                                                preds[si], prec,
                                                not differential,
                                            )
                                        py0 = (my * vs + byy) * 8
                                        px0 = (mx * hs + bxx) * 8
                                        for y in range(8):
                                            row = plane[py0 + y]
                                            row[px0:px0 + 8] = px[y * 8:y * 8 + 8]
                p = adec.marker_start() if arith else r.pos
                while p + 1 < len(raw) and not (
                    raw[p] == 0xFF
                    and raw[p + 1] != 0x00
                    and not (0xD0 <= raw[p + 1] <= 0xD7)
                ):
                    p += 1
                pos = p
                continue
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("JPEG SOS truncated (component specs short)")
            scan: list[tuple[int, int, int, list[int]]] = []
            for si in range(ns):
                cs = body[1 + 2 * si]
                td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
                match = [c for c in comps if c[0] == cs]
                if not match:
                    raise ValueError("JPEG SOS references unknown component id")
                _, hs, vs, tq = match[0]
                if tq not in qts:
                    raise ValueError(
                        "JPEG SOS references undefined quant/Huffman table"
                    )
                if arith:
                    # arithmetic scans carry statistics-bank ids (0-3),
                    # not DHT ids; banks start at the uniform state so
                    # no DAC/DHT prerequisite exists (defaults apply)
                    if td > 3 or ta > 3:
                        raise ValueError(
                            f"JPEG arithmetic SOS table ids ({td},{ta}) "
                            f"outside the 0-3 statistics-bank range"
                        )
                elif td not in dcs or ta not in acs:
                    raise ValueError(
                        "JPEG SOS references undefined quant/Huffman table"
                    )
                scan.append((hs, vs, tq, [td, ta]))
            # B.2.3: an INTERLEAVED scan's MCU holds at most 10 data
            # units — a scan-level limit (frames summing past 10 are
            # legal when delivered as non-interleaved scans)
            if sum(hs * vs for hs, vs, _, _ in scan) > 10:
                raise ValueError(
                    f"interleaved JPEG scan exceeds the T.81 limit of 10 "
                    f"blocks per MCU: {[(hs, vs) for hs, vs, _, _ in scan]}"
                )
            hmax = max(hs for hs, _, _, _ in scan)
            vmax = max(vs for _, vs, _, _ in scan)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            planes_raw = [
                [[0] * (mcus_x * hs * 8) for _ in range(mcus_y * vs * 8)]
                for hs, vs, _, _ in scan
            ]
            preds = [0] * ns
            adec = astats = None
            if arith:
                from financedatabase_spark.operators.jpeg_arith import (
                    ArithDecoder,
                    ArithStats,
                    decode_block_arith,
                )

                adec = ArithDecoder(raw, pos + 2 + seglen)
                astats = ArithStats(ns)
            else:
                r = _BitReader(raw, pos + 2 + seglen)
            mcu_idx = 0
            rst = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                        if arith:
                            # E.2.4 boundary: the decoder stops at the
                            # marker; verify the cycling RSTn index, then
                            # re-init registers AND statistics (F.1.4.4)
                            p = adec.marker_start()
                            if not (
                                p + 1 < len(raw)
                                and raw[p] == 0xFF
                                and raw[p + 1] == 0xD0 + rst
                            ):
                                raise ValueError(
                                    f"JPEG expected restart marker RST{rst} at "
                                    f"a restart boundary (corrupt stream or "
                                    f"interleave mismatch)"
                                )
                            adec.pos = p + 2
                            adec.restart()
                            astats.reset()
                        else:
                            r.restart(rst)
                            preds = [0] * ns
                        rst = (rst + 1) % 8
                    mcu_idx += 1
                    for ci, (hs, vs, tq, (td, ta)) in enumerate(scan):
                        for byy in range(vs):
                            for bxx in range(hs):
                                if arith:
                                    zz = decode_block_arith(
                                        adec, astats, ci, td, ta, arith_cond, prec
                                    )
                                    qt = qts[tq]
                                    coef = [0] * 64
                                    for zi, ri in enumerate(ZIGZAG):
                                        coef[ri] = zz[zi] * qt[zi]
                                    px = _idct_block(coef, prec, not differential)
                                else:
                                    px, preds[ci] = _decode_block(
                                        r, dcs[td], acs[ta], qts[tq], preds[ci],
                                        prec, not differential,
                                    )
                                plane = planes_raw[ci]
                                py0 = (my * vs + byy) * 8
                                px0 = (mx * hs + bxx) * 8
                                for y in range(8):
                                    row = plane[py0 + y]
                                    row[px0:px0 + 8] = px[y * 8:y * 8 + 8]
            return w, h, _crop_planes(
                planes_raw, [(hs, vs) for hs, vs, _, _ in scan], w, h, hmax, vmax
            ), prec
        pos += 2 + seglen
    if ll_planes is not None:
        # EOI after lossless scans: every component must have been
        # scanned (a missing scan is a malformed stream, not a zero
        # plane — same contract as the sequential accumulate path)
        if any(p is None for p in ll_planes):
            missing = [i for i, p in enumerate(ll_planes) if p is None]
            raise ValueError(
                f"JPEG lossless stream is missing scans for component "
                f"index(es) {missing}"
            )
        return w, h, ll_planes, prec
    if seq_state is not None:
        # EOI after non-interleaved sequential scans: every component
        # must have been scanned (T.81 — a missing scan is a truncated/
        # malformed stream, not an all-zero plane)
        hmax, vmax, seq_planes, seq_seen = seq_state
        if seq_seen != set(range(len(comps))):
            missing = sorted(set(range(len(comps))) - seq_seen)
            raise ValueError(
                f"JPEG non-interleaved stream is missing scans for "
                f"component index(es) {missing}"
            )
        return w, h, _crop_planes(
            seq_planes, [(hs, vs) for _, hs, vs, _ in comps], w, h, hmax, vmax
        ), prec
    if progressive and prog_coefs is not None:
        # EOI: dequantize the accumulated coefficients, IDCT every block,
        # then the same crop/upsample as the sequential path
        hmax, vmax, mcus_x, mcus_y = prog_grid
        planes_raw = [
            [[0] * (mcus_x * hs * 8) for _ in range(mcus_y * vs * 8)]
            for _, hs, vs, _ in comps
        ]
        for ci, (_cid, hs, vs, tq) in enumerate(comps):
            if tq not in qts:
                raise ValueError("JPEG SOF references undefined quant table")
            qt = qts[tq]
            stride = mcus_x * hs
            plane = planes_raw[ci]
            for bi, zzblk in enumerate(prog_coefs[ci]):
                by, bx = divmod(bi, stride)
                coef = [0] * 64
                for zi, ri in enumerate(ZIGZAG):
                    coef[ri] = zzblk[zi] * qt[zi]
                px = _idct_block(coef, shift=not differential)
                py0, px0 = by * 8, bx * 8
                for y in range(8):
                    row = plane[py0 + y]
                    row[px0:px0 + 8] = px[y * 8:y * 8 + 8]
        return w, h, _crop_planes(
            planes_raw, [(hs, vs) for _, hs, vs, _ in comps], w, h, hmax, vmax
        ), prec
    raise ValueError("JPEG has no scan (missing SOS)")


#: hierarchical (Annex J) marker sets: every SOF, the differential six,
#: and the translation each differential process decodes through — its
#: non-differential sibling with the level shift / prediction disabled
#: via jpeg_frame's ``differential`` flag.
_SOF_ALL = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)
_SOF_DIFF = frozenset((0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF))
_SOF_TRANSLATE = {0xC5: 0xC1, 0xC6: 0xC2, 0xC7: 0xC3,
                  0xCD: 0xC9, 0xCE: 0xCA, 0xCF: 0xCB}
_SOF_DIFF_LOSSLESS = frozenset((0xC7, 0xCF))
_TABLE_MARKERS = frozenset((0xDB, 0xC4, 0xCC, 0xDD, 0xFE)) | frozenset(
    range(0xE0, 0xF0)
)


def _exp2x(
    plane: list[int], w: int, h: int, eh: int, ev: int,
) -> tuple[list[int], int, int]:
    """T.81 J.1.1.2 reference-component expansion: double the plane
    horizontally (eh) and/or vertically (ev) — even outputs copy the
    source sample, odd outputs interpolate the two neighbors with
    upward rounding, out(2i+1) = (in(i) + in(i+1) + 1) >> 1, and the
    final odd output replicates the edge. Horizontal runs before
    vertical when both are set. No independent hierarchical decoder
    exists in common libraries to cross-validate the rounding, so this
    reading of the J.1.1.2 filter is documented here and mirrored by
    the fixture oracles (same caveat as the Table H.2 context map)."""
    if eh:
        out: list[int] = []
        for y in range(h):
            row = plane[y * w:(y + 1) * w]
            for x in range(w):
                out.append(row[x])
                out.append(
                    (row[x] + row[x + 1] + 1) >> 1 if x + 1 < w else row[x]
                )
        plane, w = out, 2 * w
    if ev:
        out = []
        for y in range(h):
            row = plane[y * w:(y + 1) * w]
            out.extend(row)
            if y + 1 < h:
                nxt = plane[(y + 1) * w:(y + 2) * w]
                out.extend([(a + b + 1) >> 1 for a, b in zip(row, nxt)])
            else:
                out.extend(row)
        plane, h = out, 2 * h
    return plane, w, h


def _decode_hierarchical(raw: bytes) -> tuple[int, int, list[list[int]], int]:
    """T.81 Annex J hierarchical driver: walk the marker stream once at
    the top level, slice each frame (its SOF through its last scan's
    entropy data) into a standalone substream — SOI + every table/misc
    segment seen so far, in order, + the frame with its SOF marker
    TRANSLATED to the non-differential sibling + EOI — and decode it
    through `jpeg_frame` (differential frames with the level shift /
    lossless prediction disabled). Reference components accumulate by
    component id: the first frame per component stores its plane,
    differential frames ADD to it — DCT differences clamped into
    [0, 2^P - 1], lossless differences in mod-2^16 arithmetic with a
    loud range check — and EXP segments expand every reference by the
    J.1.1.2 filter before the next frame (expanded planes crop by one
    row/column when an odd full dimension makes the next frame a
    sample short). At EOI every DHP component must be coded and sized
    exactly to the DHP geometry. Differential progressive (SOF6/14)
    rides the same translation — the progressive machinery accumulates
    coefficients per frame and the shift-free IDCT runs at the frame's
    own EOI — so all thirteen SOF processes decode."""
    pos = 2
    tables: list[bytes] = []
    dhp: tuple[int, int, int, list[int]] | None = None  # prec, h, w, cids
    refs: dict[int, tuple[list[int], int, int]] = {}

    def seg() -> tuple[int, bytes, int]:
        if pos + 4 > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        (ln,) = struct.unpack_from(">H", raw, pos + 2)
        if ln < 2 or pos + 2 + ln > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        return ln, raw[pos + 4:pos + 2 + ln], pos + 2 + ln

    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        ln, body, nxt = seg()
        if marker in _TABLE_MARKERS:
            tables.append(raw[pos:nxt])
            pos = nxt
            continue
        if marker == 0xDE:  # DHP — same syntax as a SOF header (B.3.2)
            if dhp is not None:
                raise ValueError("JPEG hierarchy declares DHP twice")
            if refs:
                raise ValueError("JPEG DHP must precede the first frame")
            if len(body) < 6:
                raise ValueError("JPEG DHP truncated")
            dprec, dh, dw, dn = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * dn or dn < 1:
                raise ValueError("JPEG DHP truncated (component specs short)")
            dhp = (dprec, dh, dw, [body[6 + 3 * i] for i in range(dn)])
            pos = nxt
            continue
        if marker == 0xDF:  # EXP
            if len(body) < 1:
                raise ValueError("JPEG EXP truncated")
            eh, ev = body[0] >> 4, body[0] & 0xF
            if eh > 1 or ev > 1 or not (eh or ev):
                raise ValueError(f"JPEG EXP has invalid Eh={eh} Ev={ev}")
            if not refs:
                raise ValueError("JPEG EXP before any reference frame")
            for cid, (plane, rw, rh) in refs.items():
                refs[cid] = _exp2x(plane, rw, rh, eh, ev)
            pos = nxt
            continue
        if marker not in _SOF_ALL:
            raise ValueError(
                f"unexpected marker 0xFF{marker:02X} in a hierarchical sequence"
            )
        if dhp is None:
            raise ValueError("JPEG hierarchical frame before the DHP segment")
        if len(body) < 6:
            raise ValueError("JPEG SOF truncated")
        f_n = body[5]
        if len(body) < 6 + 3 * f_n:
            raise ValueError("JPEG SOF truncated (component specs short)")
        frame_cids = [body[6 + 3 * i] for i in range(f_n)]
        diff = marker in _SOF_DIFF
        prefix = b"".join(tables)
        # walk the frame's interior: table segments persist to LATER
        # frames too; SOS entropy data is skipped to the next true marker
        p = nxt
        saw_scan = False
        while p + 2 <= len(raw):
            if raw[p] != 0xFF:
                raise ValueError("JPEG marker desync")
            m2 = raw[p + 1]
            if m2 in _SOF_ALL or m2 in (0xDF, 0xDE, 0xD9):
                break
            if p + 4 > len(raw):
                raise ValueError(
                    "JPEG segment truncated (declared length exceeds stream)"
                )
            (l2,) = struct.unpack_from(">H", raw, p + 2)
            if l2 < 2 or p + 2 + l2 > len(raw):
                raise ValueError(
                    "JPEG segment truncated (declared length exceeds stream)"
                )
            if m2 in _TABLE_MARKERS:
                tables.append(raw[p:p + 2 + l2])
                p += 2 + l2
                continue
            if m2 != 0xDA:
                raise ValueError(
                    f"unexpected marker 0xFF{m2:02X} inside a hierarchical frame"
                )
            saw_scan = True
            p += 2 + l2
            while p + 1 < len(raw) and not (
                raw[p] == 0xFF
                and raw[p + 1] != 0x00
                and not (0xD0 <= raw[p + 1] <= 0xD7)
            ):
                p += 1
        if not saw_scan:
            raise ValueError("JPEG hierarchical frame has no scan (missing SOS)")
        sub = (
            b"\xff\xd8" + prefix
            + b"\xff" + bytes([_SOF_TRANSLATE.get(marker, marker)])
            + raw[pos + 2:p] + b"\xff\xd9"
        )
        fw, fh, planes, fprec = jpeg_frame(sub, differential=diff)
        if fprec != dhp[0]:
            raise ValueError(
                f"hierarchical frame precision {fprec} differs from the DHP's "
                f"{dhp[0]} (unsupported here)"
            )
        if len(planes) != len(frame_cids):
            raise ValueError("hierarchical frame component count mismatch")
        top = (1 << fprec) - 1
        for idx, cid in enumerate(frame_cids):
            plane = planes[idx]
            if not diff:
                if cid in refs:
                    raise ValueError(
                        f"non-differential hierarchical frame re-codes "
                        f"component id {cid}"
                    )
                refs[cid] = (plane, fw, fh)
                continue
            if cid not in refs:
                raise ValueError(
                    f"differential frame for component id {cid} with no "
                    f"reference frame"
                )
            rplane, rw, rh = refs[cid]
            if rw != fw or rh != fh:
                # an odd full dimension makes the post-EXP reference one
                # sample larger than the frame (J.1.1.2) — crop; anything
                # bigger is a malformed pyramid
                if not (0 <= rw - fw <= 1 and 0 <= rh - fh <= 1):
                    raise ValueError(
                        f"differential frame {fw}x{fh} does not match the "
                        f"{rw}x{rh} reference (post-EXP crop is at most one "
                        f"row/column)"
                    )
                rplane = [
                    rplane[y * rw + x] for y in range(fh) for x in range(fw)
                ]
            if marker in _SOF_DIFF_LOSSLESS:
                out = [(rv + dv) & 0xFFFF for rv, dv in zip(rplane, plane)]
                if fprec < 16 and max(out, default=0) >> fprec:
                    raise ValueError(
                        f"hierarchical lossless sum exceeds the declared "
                        f"precision {fprec} (corrupt stream)"
                    )
            else:
                out = [
                    min(top, max(0, rv + dv)) for rv, dv in zip(rplane, plane)
                ]
            refs[cid] = (out, fw, fh)
        pos = p
    if dhp is None:
        raise ValueError("JPEG hierarchy reached EOI without a DHP segment")
    dprec, dh, dw, dcids = dhp
    missing = [cid for cid in dcids if cid not in refs]
    if missing:
        raise ValueError(
            f"JPEG hierarchy is missing frames for component id(s) {missing}"
        )
    for cid in dcids:
        _plane, rw, rh = refs[cid]
        if (rw, rh) != (dw, dh):
            raise ValueError(
                f"hierarchical component id {cid} finished at {rw}x{rh}, "
                f"DHP declares {dw}x{dh}"
            )
    return dw, dh, [refs[cid][0] for cid in dcids], dprec


def jpeg_planes(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """`jpeg_frame` without the precision — the (width, height, planes)
    compatibility surface most callers (8-bit pipelines, MJPEG frames)
    use. Error contract as `jpeg_frame`."""
    w, h, planes, _prec = jpeg_frame(payload)
    return w, h, planes


def jpeg_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode a baseline JPEG to (width, height, row-major LUMA pixels)
    — the single-plane compatibility surface (grayscale JPEGs decode to
    their only plane; color JPEGs to their Y plane). Error contract as
    `jpeg_planes`."""
    w, h, planes = jpeg_planes(payload)
    return w, h, planes[0]


def jpeg_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Image codec for the `decode_features` seam: decode a baseline
    JPEG and emit the normalized ``dim``-bin LUMA histogram (same shape
    as `png_decode`/`pil_decode`; integer bin math, int/int division —
    bit-stable across engines). 4:2:0 color JPEGs append two more
    features: mean Cb and mean Cr of the upsampled chroma planes
    (exact-integer sums over the replicated values, so the oracle can
    recompute them from the fixture formula). Binning follows the
    frame's sample precision (v*dim >> prec — for 8-bit exactly the
    classic v*dim//256), so deep 12-bit SOF1 and 2-16-bit lossless
    frames histogram correctly instead of overrunning the bins."""
    w, h, planes, prec = jpeg_frame(payload)
    counts = [0] * dim
    for v in planes[0]:
        counts[(v * dim) >> prec] += 1
    n = max(len(planes[0]), 1)
    feats = [c / n for c in counts]
    if len(planes) == 3:
        feats.append(sum(planes[1]) / n)
        feats.append(sum(planes[2]) / n)
    return feats
