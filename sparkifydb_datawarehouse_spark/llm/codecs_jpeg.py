"""Pure-Python JPEG codec (stdlib + numpy only): baseline sequential
(SOF0/1) and progressive DCT (SOF2) with Huffman coding here, extended
sequential (SOF9) and progressive DCT (SOF10) with arithmetic coding
in codecs_jpeg_arith.py — all four decoded by `decode_jpeg`.

Closes the compressed-image gaps in the multimodal decode path
(VERDICT r4 "What's missing #2"; progressive was the r6 "missing #3"
tail): `decode_jpeg` is a real decoder per the public ITU-T T.81 spec
— marker parse (SOI/APPn/DQT/SOFn/DHT/DAC/DRI/SOS/RSTn/EOI),
canonical Huffman decode of DC diffs and AC run/size pairs, zigzag +
dequantization, float64 separable IDCT, chroma upsampling (4:4:4 /
4:2:2 / 4:2:0 by sampling factors), and BT.601 YCbCr→RGB. Progressive
streams run every scan in marker order: interleaved/non-interleaved DC
first + refinement (successive approximation), per-component AC
spectral-selection with EOB-run coding, AC refinement with interleaved
correction bits, restart markers per scan. Grayscale (1 component) and
YCbCr (3 components) are supported; lossless/hierarchical processes,
12-bit precision, and >2 chroma subsampling raise ImageDecodeError —
a clear refusal, not garbage.

Both entropy coders, encode and decode, share one T.81 container
layer: `_frame` (the MCU grid and each component's block rasters),
`_scan_units` (a scan's data units in §A.2 order, marking where each
restart interval begins), `_scan_components` and
`_check_progressive_scan` (what an SOS may select), and `_assemble`
(SOI, DQT, SOFn, DHT or DAC, DRI, then SOS + entropy-coded data per
scan, EOI). What stays per coder is each block's entropy coding and
what a restart resets.

`encode_jpeg_baseline` is the fixture generator (the encode_png
pattern): standard Annex-K-style quantization tables at their spec
values, Huffman tables written into the file's own DHT segments (so
the bitstream is self-describing and roundtrip correctness does not
depend on any table being "the" typical one). The planted-media
oracle relies on a quantization-exactness property: an 8x8 block of
constant even value v has DC = 8*(v-128), which divides the table's
Q[0]=16 exactly, so decode reproduces v bit-for-bit and DuckDB can
check channel sums in closed form. `encode_jpeg_from_coeffs` exposes
the coefficient layer so tests can pin the Huffman/zigzag/AC path
against an independently computed IDCT.

Spec reference: ITU-T T.81 (public): markers §B, data-unit order
§A.2, Huffman coding §C/F, progressive §G, zigzag Figure 5, IDCT
Annex A.3.3, typical tables Annex K.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import ImageDecodeError

# Zigzag: index i in zigzag order -> natural (row-major) index.
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
_ZIGZAG_NP = np.array(ZIGZAG, dtype=np.int64)

# Annex-K quantization tables, natural (row-major) order.
QT_LUMA = np.array(
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
    dtype=np.int32,
)
QT_CHROMA = np.array(
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
    dtype=np.int32,
)
_QTABLES = (QT_LUMA, QT_CHROMA)  # by table id Tq

# Huffman tables in DHT wire form: (counts per code length 1..16,
# symbol list). Annex-K typical tables; roundtrip correctness does not
# depend on these exact values because they are serialized into the
# file's own DHT segments.
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
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
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """M[u, x] = C(u)/2 * cos((2x+1)u*pi/16); F = M f M^T, f = M^T F M."""
    m = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCT_M = _dct_matrix()


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    if sum(counts) != len(symbols):
        raise ImageDecodeError("Huffman table counts/symbols mismatch")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """(length, code) -> symbol lookup built from DHT wire form."""

    def __init__(self, counts: list[int], symbols: list[int]) -> None:
        self.by_len: dict[int, dict[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            if counts[length - 1]:
                d = self.by_len.setdefault(length, {})
                for _ in range(counts[length - 1]):
                    d[code] = symbols[k]
                    code += 1
                    k += 1
            code <<= 1


class _BitReader:
    """MSB-first reader over entropy-coded data with FF00 unstuffing.
    Stops at any non-RST marker; RSTn is consumed on explicit resync."""

    # Zero-pad budget past a non-RST marker: a VALID scan needs at most
    # a couple of pad fills to finish its final Huffman symbol/EOB, but
    # a stream truncated after valid headers would otherwise decode
    # every remaining MCU from fabricated zero bits and return garbage
    # pixels — the module contract is a clear refusal, not garbage.
    _PAD_SLACK_BYTES = 8

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker: int | None = None
        self.pad_bytes = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None:
                self.pad_bytes += 1
                if self.pad_bytes > self._PAD_SLACK_BYTES:
                    raise ImageDecodeError(
                        "JPEG entropy data truncated: decoding continued "
                        f"past marker 0x{self.marker:02X} beyond EOB slack"
                    )
                self.bits = (self.bits << 8) | 0  # pad past a marker
                self.nbits += 8
                continue
            if self.pos >= len(self.data):
                raise ImageDecodeError("JPEG entropy data truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 2
                elif nxt is None:
                    raise ImageDecodeError("dangling FF at end of entropy data")
                elif nxt == 0xFF:
                    # T.81 B.1.1.2 fill-byte run before a marker: the
                    # marker id is the first non-FF byte (ADVICE r7)
                    self.pos += 1
                    continue
                else:
                    self.marker = nxt  # RSTn / EOI / next segment
                    continue
            else:
                self.pos += 1
            self.bits = (self.bits << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        v = (self.bits >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.bits &= (1 << self.nbits) - 1
        return v

    def decode_symbol(self, table: _HuffDecoder) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            d = table.by_len.get(length)
            if d is not None and code in d:
                return d[code]
        raise ImageDecodeError("invalid Huffman code in entropy stream")

    def next_marker_pos(self) -> int:
        """Position of the next real (non-stuffed) marker at or after
        the reader's byte cursor — where the outer segment loop resumes
        after a progressive scan's entropy data. Runs of 0xFF fill
        bytes before a marker are spec-legal padding (T.81 B.1.1.2):
        skip to the LAST 0xFF of the run so ``data[pos+1]`` is the
        marker id, not another fill byte (ADVICE r7)."""
        p = self.pos
        while p + 1 < len(self.data):
            if self.data[p] == 0xFF and self.data[p + 1] != 0x00:
                if self.data[p + 1] == 0xFF:  # fill byte, not a marker id
                    p += 1
                    continue
                return p
            p += 1
        raise ImageDecodeError("missing marker after scan data")

    def resync_restart(self, expected: int) -> None:
        """Consume the pending RSTn marker and reset bit state."""
        self.bits = 0
        self.nbits = 0
        if self.marker is None:
            # reader may not have hit the marker yet: scan forward
            # (skipping T.81 B.1.1.2 fill-byte runs, same as
            # next_marker_pos)
            while self.pos + 1 < len(self.data):
                nxt = self.data[self.pos + 1]
                if self.data[self.pos] == 0xFF and nxt not in (0x00, 0xFF):
                    self.marker = nxt
                    break
                self.pos += 1
        if self.marker is None or not 0xD0 <= self.marker <= 0xD7:
            raise ImageDecodeError("expected RST marker in entropy stream")
        if self.marker != expected:
            raise ImageDecodeError(
                f"restart marker out of order: got {self.marker:#x}"
            )
        self.pos += 2
        self.marker = None
        self.pad_bytes = 0  # pad slack is per restart interval


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received bits to a signed value."""
    return v - ((1 << t) - 1) if t and v < (1 << (t - 1)) else v


# ---------------------------------------------------------------------------
# T.81 container layer, shared by the Huffman and arithmetic coders.
# ---------------------------------------------------------------------------


def _frame(comps: list[dict], width: int, height: int) -> dict:
    """T.81 A.2 frame geometry. Sets each component's MCU-padded block
    grid (bw x bh, what interleaved scans cover) and its own block
    raster (bw_n x bh_n, what a single-component scan covers); returns
    the frame with its MCU grid (mcux x mcuy)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    for c in comps:
        c["bw"], c["bh"] = mcux * c["h"], mcuy * c["v"]
        c["bw_n"] = -(-(-(-width * c["h"] // hmax)) // 8)
        c["bh_n"] = -(-(-(-height * c["v"] // vmax)) // 8)
    return {
        "w": width, "h": height, "comps": comps,
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
    }


def _scan_units(frame: dict, sel: list[dict], restart_interval: int):
    """Yield (rst, i, c, by, bx) for every data unit of a scan over the
    components `sel`, in T.81 A.2 order: an interleaved scan walks the
    MCU grid, each MCU holding c["v"] x c["h"] blocks of every sel[i]
    in turn; a single-component scan walks that component's own block
    raster, one block per MCU. `rst` is the index (0-7) of the RSTn
    marker that precedes the first unit of every restart interval but
    the first, else None."""
    # one MCU's blocks as (i, c, v, h, dy, dx): block (my*v+dy, mx*h+dx)
    if len(sel) == 1:
        rows, cols = sel[0]["bh_n"], sel[0]["bw_n"]
        blocks = [(0, sel[0], 1, 1, 0, 0)]
    else:
        rows, cols = frame["mcuy"], frame["mcux"]
        blocks = [
            (i, c, c["v"], c["h"], dy, dx)
            for i, c in enumerate(sel)
            for dy in range(c["v"])
            for dx in range(c["h"])
        ]
    n = 0
    for my in range(rows):
        for mx in range(cols):
            rst = None
            if restart_interval and n and n % restart_interval == 0:
                rst = (n // restart_interval - 1) % 8
            n += 1
            for i, c, v, h, dy, dx in blocks:
                yield rst, i, c, my * v + dy, mx * h + dx
                rst = None


def _scan_components(frame: dict, scomps: list[dict]) -> list[dict]:
    """The frame components an SOS selects, in scan order, each given
    the scan's DC/AC table selectors (td, ta)."""
    by_id = {c["id"]: c for c in frame["comps"]}
    sel = []
    for sc in scomps:
        if sc["id"] not in by_id:
            raise ImageDecodeError(f"scan references unknown component {sc['id']}")
        by_id[sc["id"]].update(td=sc["td"], ta=sc["ta"])
        sel.append(by_id[sc["id"]])
    return sel


def _check_progressive_scan(sel: list[dict], ss: int, se: int, ah: int, al: int) -> None:
    """T.81 G.1.1.1: a progressive scan codes the DC band of one or
    more components or one AC band of a single component, and refines
    exactly one bit per successive-approximation scan."""
    if not (0 <= ss <= se <= 63):
        raise ImageDecodeError(f"bad spectral band {ss}..{se}")
    if ss == 0 and se != 0:
        raise ImageDecodeError("progressive scan mixes DC and AC bands")
    if ss > 0 and len(sel) != 1:
        raise ImageDecodeError("progressive AC scans must be single-component")
    if ah != 0 and ah != al + 1:
        raise ImageDecodeError(f"bad successive approximation Ah={ah} Al={al}")


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _sequential_scan(comps: list[dict]) -> dict:
    """The scan of a sequential process over `comps`: the whole
    spectrum, no successive approximation."""
    return {"ids": [c["id"] for c in comps], "ss": 0, "se": 63, "ah": 0, "al": 0}


def _assemble(
    sof: int,
    comps: list[dict],
    width: int,
    height: int,
    tables: bytes,
    restart_interval: int,
    scans: list[dict],
    code_scan,
    ta: int | None = None,
) -> bytes:
    """The one T.81 container writer of every encoder here and in
    codecs_jpeg_arith: SOI, DQT, the SOFn marker `sof`, the coder's
    table segments `tables` (DHT or DAC), DRI, then per scan an SOS
    and the entropy-coded bytes `code_scan(units, sel, ss, se, ah, al)`
    returns for the scan's data units, restart markers included; EOI.
    Each SOS selects the component's own table as Td and Ta, or `ta`
    as every Ta."""
    frame = _frame(comps, width, height)
    for c in comps:
        q = c["qblocks"]
        c["zz"] = q.reshape(q.shape[0], q.shape[1], 64)[:, :, _ZIGZAG_NP]
    out = bytearray(b"\xff\xd8")  # SOI
    for tq in sorted({c["tq"] for c in comps}):
        qt = _QTABLES[tq][_ZIGZAG_NP].astype(np.uint8)
        out += _seg(0xDB, bytes([tq]) + qt.tobytes())
    sof_payload = struct.pack(">BHHB", 8, height, width, len(comps))
    for c in comps:
        sof_payload += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += _seg(sof, sof_payload) + tables
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    by_id = {c["id"]: c for c in comps}
    for sc in scans:
        sel = [by_id[i] for i in sc["ids"]]
        ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
        sos = bytes([len(sel)])
        for c in sel:
            sos += bytes([c["id"], (c["tq"] << 4) | (c["tq"] if ta is None else ta)])
        out += _seg(0xDA, sos + bytes([ss, se, (ah << 4) | al]))
        out += code_scan(_scan_units(frame, sel, restart_interval), sel, ss, se, ah, al)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder.
# ---------------------------------------------------------------------------


def decode_jpeg(blob: bytes) -> dict:
    """Decode a baseline-sequential (SOF0/1) or progressive (SOF2)
    Huffman-coded JPEG, or an extended-sequential (SOF9) or progressive
    (SOF10) arithmetic-coded one (the scans of the latter two decode in
    codecs_jpeg_arith). Returns the codecs.py normalized dict;
    channels=1 for grayscale (pixels = luma plane), 3 for YCbCr color
    (pixels = interleaved RGB, BT.601).

    Progressive (round 7): the decoder runs every scan in marker
    order — interleaved/non-interleaved DC first + refinement scans
    (successive approximation, point transform Al), per-component AC
    spectral-selection scans with EOB-run coding, and AC refinement
    scans with interleaved correction bits — accumulating into the
    same per-component coefficient grids the baseline path fills, then
    reconstructs through the identical dequant + IDCT tail (pixel
    equality with the baseline decode of the same coefficients is
    pytest-pinned on random lossy grids)."""
    if blob[:2] != b"\xff\xd8":
        raise ImageDecodeError(f"not a JPEG: magic {blob[:2]!r}")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffDecoder] = {}
    frame = None
    restart_interval = 0
    scan = None
    progressive = False
    arith = False
    arith_done = False
    arith_scanned: set[int] = set()  # component ids covered by sequential arith scans
    cond_dc: dict[int, tuple[int, int]] = {}
    cond_ac: dict[int, int] = {}
    n_prog_scans = 0
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ImageDecodeError(f"expected marker at {pos}, got {blob[pos]:#x}")
        marker = blob[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2 fill byte before the marker id
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
        seg = blob[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ImageDecodeError(f"segment {marker:#x} truncated")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise ImageDecodeError("16-bit quantization tables unsupported")
                zz = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8)
                if zz.size != 64:
                    raise ImageDecodeError("DQT truncated")
                nat = np.zeros(64, dtype=np.int32)
                nat[_ZIGZAG_NP] = zz
                qtables[tq] = nat
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0/1 baseline, SOF2 progressive, SOF9 sequential
            # arithmetic, SOF10 progressive arithmetic
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            prec, h, w, ncomp = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise ImageDecodeError(f"unsupported precision {prec}")
            if ncomp not in (1, 3):
                raise ImageDecodeError(f"unsupported component count {ncomp}")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            if w <= 0 or h <= 0:
                raise ImageDecodeError("bad JPEG dimensions")
            hmax = max(c["h"] for c in comps)
            if hmax not in (1, 2) or max(c["v"] for c in comps) not in (1, 2):
                raise ImageDecodeError("sampling factors beyond 2 unsupported")
            frame = _frame(comps, w, h)
            for c in comps:
                c["coef"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ImageDecodeError(
                f"unsupported JPEG coding process (SOF marker {marker:#x})"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            i = 0
            while i + 2 <= len(seg):
                tc, tb = seg[i] >> 4, seg[i] & 0x0F
                cs = seg[i + 1]
                if tc == 0:
                    low, up = cs & 0x0F, cs >> 4
                    if low > up:
                        raise ImageDecodeError(
                            f"DAC DC conditioning L={low} > U={up}"
                        )
                    cond_dc[tb] = (low, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ImageDecodeError(f"DAC AC Kx={cs} out of range")
                    cond_ac[tb] = cs
                i += 2
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(seg[i + 17 : i + 17 + n])
                if len(counts) != 16 or len(symbols) != n:
                    raise ImageDecodeError("DHT truncated")
                htables[(tc, th)] = _HuffDecoder(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append({"id": cid, "td": tt >> 4, "ta": tt & 0x0F})
            data_pos = pos + 2 + seglen
            if arith:
                from .codecs_jpeg_arith import (
                    decode_progressive_scan_arith,
                    decode_scan_arith,
                )
            if progressive:
                if len(seg) < 1 + 2 * ns + 3:
                    raise ImageDecodeError("SOS header truncated")
                ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                if arith:
                    pos = decode_progressive_scan_arith(
                        blob, data_pos, frame, cond_dc, cond_ac,
                        restart_interval, scomps, ss, se, a >> 4, a & 0x0F,
                    )
                else:
                    pos = _decode_progressive_scan(
                        blob, data_pos, frame, htables,
                        restart_interval, scomps, ss, se, a >> 4, a & 0x0F,
                    )
                n_prog_scans += 1
                continue
            if arith:
                nxt = decode_scan_arith(
                    blob, data_pos, frame, cond_dc, cond_ac, restart_interval, scomps
                )
                arith_scanned.update(sc["id"] for sc in scomps)
                if arith_scanned >= {c["id"] for c in frame["comps"]}:
                    arith_done = True
                    break
                # non-interleaved file: more per-component scans follow
                pos = nxt
                continue
            scan = {"comps": scomps, "data_pos": data_pos}
            break  # entropy-coded data follows
        # APPn/COM/anything else: skip
        pos += 2 + seglen
    if frame is None or (
        scan is None and not (progressive and n_prog_scans) and not arith_done
    ):
        raise ImageDecodeError("JPEG missing SOF or SOS")
    for c in frame["comps"]:
        if c["tq"] not in qtables:
            raise ImageDecodeError(f"missing quantization table {c['tq']}")
    if not (progressive or arith_done):
        _decode_sequential_scan(
            blob, scan["data_pos"], frame, htables, restart_interval, scan["comps"]
        )
    return _reconstruct(frame, qtables)


def _decode_sequential_scan(
    blob: bytes,
    data_pos: int,
    frame: dict,
    htables: dict,
    restart_interval: int,
    scomps: list[dict],
) -> None:
    """Decode a baseline scan (T.81 F.2) into the frame's coefficient
    grids: per block, the DC diff against the component's predictor,
    then AC run/size symbols up to EOB. A restart resets the
    predictors."""
    sel = _scan_components(frame, scomps)
    if len(sel) != len(frame["comps"]):
        raise ImageDecodeError("non-interleaved scans unsupported")
    tabs = [(htables.get((0, c["td"])), htables.get((1, c["ta"]))) for c in sel]
    if any(t is None for pair in tabs for t in pair):
        raise ImageDecodeError("missing Huffman table for scan")
    reader = _BitReader(blob, data_pos)
    preds = [0] * len(sel)
    for rst, i, c, by, bx in _scan_units(frame, sel, restart_interval):
        if rst is not None:
            reader.resync_restart(0xD0 + rst)
            preds = [0] * len(sel)
        dc_tab, ac_tab = tabs[i]
        blk = c["coef"][by, bx]
        t = reader.decode_symbol(dc_tab)
        preds[i] += _extend(reader.read(t), t)
        blk[0] = preds[i]
        k = 1
        while k < 64:
            rs = reader.decode_symbol(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ImageDecodeError("AC run past block end")
            blk[ZIGZAG[k]] = _extend(reader.read(s), s)
            k += 1


def _reconstruct(frame: dict, qtables: dict[int, np.ndarray]) -> dict:
    """Shared tail: dequantize + IDCT per component (vectorized over
    all blocks), upsample, color-convert — identical for baseline and
    progressive coefficient grids."""
    w, h = frame["w"], frame["h"]
    planes = []
    for c in frame["comps"]:
        q = qtables[c["tq"]]
        coef = (c["coef"] * q).astype(np.float64).reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _DCT_M, coef, _DCT_M)
        spatial = np.rint(spatial + 128.0).clip(0, 255).astype(np.uint8)
        grid = spatial.reshape(c["bh"], c["bw"], 8, 8)
        plane = grid.transpose(0, 2, 1, 3).reshape(c["bh"] * 8, c["bw"] * 8)
        # upsample to full resolution by sample replication, then crop
        plane = plane.repeat(frame["vmax"] // c["v"], axis=0).repeat(
            frame["hmax"] // c["h"], axis=1
        )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return {"width": w, "height": h, "channels": 1, "pixels": planes[0].tobytes()}
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = np.rint(y + 1.402 * cr).clip(0, 255)
    g = np.rint(y - 0.344136 * cb - 0.714136 * cr).clip(0, 255)
    b = np.rint(y + 1.772 * cb).clip(0, 255)
    rgb = np.stack([r, g, b], axis=-1).astype(np.uint8)
    return {"width": w, "height": h, "channels": 3, "pixels": rgb.tobytes()}


def _decode_progressive_scan(
    blob: bytes,
    data_pos: int,
    frame: dict,
    htables: dict,
    restart_interval: int,
    scomps: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """Decode one progressive scan's entropy data into the frame's
    coefficient grids; returns the stream position of the next marker.

    T.81 G.2: DC scans (Ss = Se = 0) may be interleaved and use the
    per-component DC Huffman table on the first pass (Ah = 0) or raw
    refinement bits (Ah > 0); AC scans (Ss ≥ 1) are single-component,
    with EOB-run coding on the first pass and interleaved correction
    bits during refinement. A restart resets the DC predictors and the
    EOB run."""
    sel = _scan_components(frame, scomps)
    _check_progressive_scan(sel, ss, se, ah, al)
    if ss == 0:
        tabs = [htables.get((0, c["td"])) for c in sel]
        if ah == 0 and any(t is None for t in tabs):
            raise ImageDecodeError("missing DC Huffman table for scan")
    else:
        tab = htables.get((1, sel[0]["ta"]))
        if tab is None:
            raise ImageDecodeError("missing AC Huffman table for scan")

    reader = _BitReader(blob, data_pos)
    preds = [0] * len(sel)
    eobrun = 0
    p1 = 1 << al
    for rst, i, c, by, bx in _scan_units(frame, sel, restart_interval):
        if rst is not None:
            reader.resync_restart(0xD0 + rst)
            preds = [0] * len(sel)
            eobrun = 0
        if ss and ah == 0 and eobrun > 0:
            eobrun -= 1  # first pass: the block is inside an EOB run
            continue
        blk = c["coef"][by, bx]
        if ss == 0:
            if ah == 0:
                t = reader.decode_symbol(tabs[i])
                preds[i] += _extend(reader.read(t), t)
                blk[0] = preds[i] << al
            elif reader.read(1):
                blk[0] |= p1
        elif ah == 0:
            # first pass for this band
            k = ss
            while k <= se:
                rs = reader.decode_symbol(tab)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1 + (reader.read(r) if r else 0)
                    break
                k += r
                if k > se:
                    raise ImageDecodeError("AC run past band end")
                blk[ZIGZAG[k]] = _extend(reader.read(s), s) << al
                k += 1
        else:
            # refinement pass: correction bits interleave with
            # newly-significant insertions (T.81 G.1.2.3). The block
            # rides as a Python list (one tolist + one write-back
            # instead of numpy scalar reads per coefficient)
            bl = blk.tolist()
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.decode_symbol(tab)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) + (reader.read(r) if r else 0)
                            break
                        val = 0  # ZRL: skip 16 zero-history coeffs
                    else:
                        if s != 1:
                            raise ImageDecodeError(
                                "bad magnitude in AC refinement scan"
                            )
                        val = p1 if reader.read(1) else -p1
                    while k <= se:
                        z = ZIGZAG[k]
                        if bl[z] != 0:
                            if reader.read(1) and not (abs(bl[z]) & p1):
                                bl[z] += p1 if bl[z] > 0 else -p1
                        else:
                            if r == 0:
                                if val:
                                    bl[z] = val
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:
                # inside an EOB run: correction bits only, for every
                # nonzero-history coefficient to the band end
                while k <= se:
                    z = ZIGZAG[k]
                    if bl[z] != 0:
                        if reader.read(1) and not (abs(bl[z]) & p1):
                            bl[z] += p1 if bl[z] > 0 else -p1
                    k += 1
                eobrun -= 1
            blk[:] = bl
    return reader.next_marker_pos()


# ---------------------------------------------------------------------------
# Encoder (fixture generator).
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self) -> None:
        if self.nacc:
            self.acc = (self.acc << (8 - self.nacc)) | ((1 << (8 - self.nacc)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nacc = 0

    def restart(self, m: int) -> None:
        """Pad to a byte boundary with 1-bits and write RSTm."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + m])


def _dht(tc: int, th: int, table: tuple[list[int], list[int]]) -> bytes:
    counts, symbols = table
    return _seg(0xC4, bytes([tc << 4 | th]) + bytes(counts) + bytes(symbols))


def _enc_magnitude(v: int) -> tuple[int, int]:
    """(size, bits) for a signed value — T.81 F.1.2.1/F.1.4."""
    t = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def _write_ac_runs(bw: _BitWriter, vals: list[int], ac_codes: dict) -> bool:
    """Huffman-code the nonzero values of `vals` as (run, size)
    symbols, ZRL for every 16 zeros in a run (T.81 F.1.2.2); returns
    whether zeros trail the last nonzero value."""
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        s, bits = _enc_magnitude(v)
        bw.write(*ac_codes[(run << 4) | s])
        bw.write(bits, s)
        run = 0
    return run > 0


def _encode_block(
    bw: _BitWriter,
    blk_zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Huffman-encode one quantized block given in ZIGZAG order;
    returns the new DC predictor."""
    dc = int(blk_zz[0])
    t, bits = _enc_magnitude(dc - pred)
    bw.write(*dc_codes[t])
    bw.write(bits, t)
    if _write_ac_runs(bw, blk_zz[1:].tolist(), ac_codes):
        bw.write(*ac_codes[0x00])  # EOB
    return dc


def _plane_to_blocks(plane: np.ndarray, bw_blocks: int, bh_blocks: int) -> np.ndarray:
    """Pad a plane to the block grid by edge replication and return
    quantizable 8x8 blocks as (bh_blocks, bw_blocks, 8, 8) float64."""
    h, w = plane.shape
    padded = np.pad(
        plane.astype(np.float64),
        ((0, bh_blocks * 8 - h), (0, bw_blocks * 8 - w)),
        mode="edge",
    )
    return padded.reshape(bh_blocks, 8, bw_blocks, 8).transpose(0, 2, 1, 3)


def _prep_encode_components(
    planes: list[np.ndarray], width: int, height: int, sampling: str
) -> list[dict]:
    """Shared encode front half (plane checks, 420 pooling, forward
    DCT, quantization) of every encoder here and in codecs_jpeg_arith;
    the entropy tail is the coder's."""
    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("planes must be [Y] or [Y, Cb, Cr]")
    if sampling not in ("444", "420"):
        raise ValueError("sampling must be '444' or '420'")
    sub = 2 if (sampling == "420" and ncomp == 3) else 1
    comps = []
    for idx, plane in enumerate(planes):
        # every plane arrives full-resolution (chroma is pooled below);
        # a mis-shaped Cb/Cr would otherwise produce a corrupt fixture
        # or a confusing reshape error instead of a clear refusal
        if plane.shape != (height, width):
            raise ValueError(
                f"plane {idx} shape {plane.shape} != ({height}, {width})"
            )
        if idx > 0 and sub == 2:
            # average-pool 2x2 to half resolution (pad odd dims by edge)
            p = np.pad(
                plane.astype(np.float64),
                ((0, height % 2), (0, width % 2)),
                mode="edge",
            )
            plane = np.rint(
                p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
            ).astype(np.uint8)
        luma = idx == 0
        comps.append(
            {
                "id": idx + 1,
                "h": sub if luma else 1,
                "v": sub if luma else 1,
                "tq": 0 if luma else 1,
                "plane": plane,
            }
        )
    _frame(comps, width, height)
    for c in comps:
        blocks = _plane_to_blocks(c["plane"], c["bw"], c["bh"]) - 128.0
        coef = np.einsum("ux,nmxy,vy->nmuv", _DCT_M, blocks, _DCT_M)
        q = _QTABLES[c["tq"]].reshape(8, 8)
        c["qblocks"] = np.rint(coef / q).astype(np.int32)
    return comps


def _gray_components(qblocks: np.ndarray) -> list[dict]:
    """The one component of a grayscale frame given straight as
    quantized coefficients (natural-order 8x8 blocks, shape
    (bh, bw, 8, 8)) — what the *_from_coeffs test hooks encode."""
    return [{"id": 1, "h": 1, "v": 1, "tq": 0, "qblocks": qblocks.astype(np.int32)}]


_DC_CODES = (_canonical_codes(*HUFF_DC_LUMA), _canonical_codes(*HUFF_DC_CHROMA))
_AC_CODES = (_canonical_codes(*HUFF_AC_LUMA), _canonical_codes(*HUFF_AC_CHROMA))


def _code_sequential_scan(
    units, sel: list[dict], ss: int, se: int, ah: int, al: int
) -> bytes:
    """Huffman-code a baseline scan: each block's DC diff against its
    component's predictor, then its AC run/size symbols. Baseline
    files carry no DRI, so no data unit starts a restart interval."""
    bw = _BitWriter()
    preds = [0] * len(sel)
    for _, i, c, by, bx in units:
        tq = c["tq"]
        preds[i] = _encode_block(bw, c["zz"][by, bx], preds[i], _DC_CODES[tq], _AC_CODES[tq])
    bw.flush()
    return bytes(bw.out)


def _assemble_huffman(comps: list[dict], width: int, height: int) -> bytes:
    tables = _dht(0, 0, HUFF_DC_LUMA) + _dht(1, 0, HUFF_AC_LUMA)
    if len(comps) == 3:
        tables += _dht(0, 1, HUFF_DC_CHROMA) + _dht(1, 1, HUFF_AC_CHROMA)
    return _assemble(
        0xC0, comps, width, height, tables, 0, [_sequential_scan(comps)],
        _code_sequential_scan,
    )


def encode_jpeg_baseline(
    planes: list[np.ndarray],
    width: int,
    height: int,
    sampling: str = "444",
) -> bytes:
    """Encode a baseline JPEG from component planes.

    `planes` is [luma] for grayscale or [Y, Cb, Cr] full-resolution
    uint8 planes for color; `sampling` is '444' or '420' (chroma
    planes are average-pooled for 420). Quantization uses QT_LUMA /
    QT_CHROMA; Huffman tables are written into DHT segments.
    """
    comps = _prep_encode_components(planes, width, height, sampling)
    return _assemble_huffman(comps, width, height)


def encode_jpeg_from_coeffs(
    qblocks: np.ndarray, width: int, height: int
) -> bytes:
    """Grayscale JPEG straight from quantized coefficients
    (natural-order 8x8 blocks, shape (bh, bw, 8, 8)) — the test hook
    that pins Huffman/zigzag decode against an independent IDCT."""
    return _assemble_huffman(_gray_components(qblocks), width, height)


# ---------------------------------------------------------------------------
# Progressive encoder (round 7 — fixture generator for the SOF2 decode
# paths). The Annex-K baseline AC tables carry no EOBn symbols beyond
# EOB0, so progressive AC scans use a custom flat table: every (run,
# size) symbol for size 1..10 plus all 16 size-0 symbols (EOB0..EOB14,
# ZRL) — 176 symbols, all at code length 8 (176 < 255, so the all-ones
# padding code stays unused, as T.81 requires). Canonical build is the
# same _canonical_codes both sides already use.
# ---------------------------------------------------------------------------


_PROG_AC_SYMBOLS = [r << 4 | s for s in range(0, 11) for r in range(16)]
HUFF_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0],
    sorted(_PROG_AC_SYMBOLS),
)
_PROG_AC_CODES = _canonical_codes(*HUFF_AC_PROG)


def _point_ac_band(zz: np.ndarray, ss: int, se: int, al: int) -> list[int]:
    """Vectorized T.81 AC point transform (sign(v) * (|v| >> al)) over
    the zigzag band ss..se of a block in zigzag order (optimization
    r13, guide §4.2): the scalar per-coefficient call
    (``-((-v) >> al) if v < 0 else v >> al``) was the progressive
    encoder's hottest leaf (169k calls per 60 docs). Same integer
    semantics — numpy arithmetic shifts on int64 match Python's."""
    band = zz[ss : se + 1].astype(np.int64)
    return np.where(band < 0, -((-band) >> al), band >> al).tolist()


def _default_prog_scans(ncomp: int) -> list[dict]:
    """A spec-valid script exercising every scan type: DC first at
    Al=1, DC refinement, per-component AC spectral bands at Al=2, then
    two AC refinement passes (2→1, 1→0). Every coefficient's Al
    sequence descends one bit per scan, as G.1.1.1.2 requires."""
    ids = list(range(1, ncomp + 1))
    scans: list[dict] = [
        {"ids": ids, "ss": 0, "se": 0, "ah": 0, "al": 1},
        {"ids": ids, "ss": 0, "se": 0, "ah": 1, "al": 0},
    ]
    for i in ids:
        scans.append({"ids": [i], "ss": 1, "se": 5, "ah": 0, "al": 2})
    for i in ids:
        scans.append({"ids": [i], "ss": 6, "se": 63, "ah": 0, "al": 2})
    for i in ids:
        scans.append({"ids": [i], "ss": 1, "se": 63, "ah": 2, "al": 1})
    for i in ids:
        scans.append({"ids": [i], "ss": 1, "se": 63, "ah": 1, "al": 0})
    return scans


def _code_progressive_scan(
    units, sel: list[dict], ss: int, se: int, ah: int, al: int
) -> bytes:
    """Huffman-code one progressive scan (T.81 G.1.2): DC first
    (point-transformed diffs) or DC refinement bits, or one
    component's AC band — first pass with EOB runs, or refinement with
    correction bits. A restart closes the open EOB run and resets the
    DC predictors."""
    bw = _BitWriter()
    preds = [0] * len(sel)
    eobrun = 0
    corr: list[int] = []  # correction bits buffered while an EOB run is open

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            bw.write(*_PROG_AC_CODES[r << 4])
            bw.write(eobrun - (1 << r), r)
            eobrun = 0
        for b in corr:
            bw.write(b, 1)
        corr.clear()

    for rst, i, c, by, bx in units:
        if rst is not None:
            flush_eobrun()
            bw.restart(rst)
            preds = [0] * len(sel)
        zz = c["zz"][by, bx]
        if ss == 0:
            v = int(zz[0]) >> al  # arithmetic shift per G.1.2.1
            if ah:
                bw.write(v & 1, 1)
                continue
            t, bits = _enc_magnitude(v - preds[i])
            bw.write(*_DC_CODES[c["tq"]][t])
            bw.write(bits, t)
            preds[i] = v
            continue
        t = _point_ac_band(zz, ss, se, al)
        if ah == 0:
            if not any(t):
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eobrun()
                continue
            flush_eobrun()
            if _write_ac_runs(bw, t, _PROG_AC_CODES):
                eobrun += 1  # trailing zeros end with (a run of) EOB
            continue
        tp = _point_ac_band(zz, ss, se, ah)
        ns_idx = [k for k in range(len(t)) if tp[k] == 0 and t[k] != 0]
        if not ns_idx:
            # whole band joins the EOB run; its correction bits are
            # buffered and emitted after the EOBn code (the decoder
            # reads them while walking the run)
            eobrun += 1
            corr.extend(abs(t[k]) & 1 for k in range(len(t)) if tp[k])
            if eobrun == 0x7FFF:
                flush_eobrun()
            continue
        flush_eobrun()
        pending: list[int] = []  # corrections since the last code
        run = 0
        last_ns = ns_idx[-1]
        for k in range(last_ns + 1):
            if tp[k] != 0:
                pending.append(abs(t[k]) & 1)
                continue
            if t[k] == 0:
                run += 1
                if run == 16:
                    bw.write(*_PROG_AC_CODES[0xF0])
                    for b in pending:
                        bw.write(b, 1)
                    pending = []
                    run = 0
                continue
            # newly significant: |t| == 1 by construction
            bw.write(*_PROG_AC_CODES[(run << 4) | 1])
            bw.write(1 if t[k] > 0 else 0, 1)
            for b in pending:
                bw.write(b, 1)
            pending = []
            run = 0
        if last_ns < len(t) - 1:
            eobrun += 1  # remaining positions join the next run
            corr.extend(abs(t[k]) & 1 for k in range(last_ns + 1, len(t)) if tp[k])
    flush_eobrun()
    bw.flush()
    return bytes(bw.out)


def _assemble_progressive(
    comps: list[dict],
    width: int,
    height: int,
    scans: list[dict] | None,
    restart_interval: int,
) -> bytes:
    tables = _dht(0, 0, HUFF_DC_LUMA) + _dht(1, 0, HUFF_AC_PROG)
    if len(comps) == 3:
        tables += _dht(0, 1, HUFF_DC_CHROMA)
    if scans is None:
        scans = _default_prog_scans(len(comps))
    # SOF2: progressive DCT, Huffman; Ta=0: every AC scan shares the
    # progressive AC table
    return _assemble(
        0xC2, comps, width, height, tables, restart_interval, scans,
        _code_progressive_scan, ta=0,
    )


def encode_jpeg_progressive(
    planes: list[np.ndarray],
    width: int,
    height: int,
    sampling: str = "444",
    scans: list[dict] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode a progressive (SOF2) JPEG from component planes — same
    plane/sampling contract as encode_jpeg_baseline; `scans` overrides
    the default full-coverage script (DC first+refine, AC spectral
    bands, two AC refinement passes)."""
    comps = _prep_encode_components(planes, width, height, sampling)
    return _assemble_progressive(comps, width, height, scans, restart_interval)


def encode_jpeg_progressive_from_coeffs(
    qblocks: np.ndarray,
    width: int,
    height: int,
    scans: list[dict] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Grayscale progressive JPEG straight from quantized coefficients
    (natural-order 8x8 blocks, shape (bh, bw, 8, 8)) — the test hook
    that pins every progressive scan type against the baseline decode
    of the same coefficients (pixel equality)."""
    return _assemble_progressive(
        _gray_components(qblocks), width, height, scans, restart_interval
    )
