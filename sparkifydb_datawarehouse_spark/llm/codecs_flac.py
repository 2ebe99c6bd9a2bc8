"""Pure-Python FLAC codec (RFC 9639 / flac format spec, public),
round 11: decoder + fixture encoder for the fixed-predictor subset —
the audio family's compressed member beside the WAV container
(codecs_wav.py).

Covered surface (decode):
- fLaC marker + metadata walk (STREAMINFO parsed: block size range,
  sample rate / channels / bits-per-sample / total samples packed
  fields; other blocks skipped via the last-block flag),
- frame headers: 14-bit sync, blocking strategy, all blocksize and
  sample-rate codes (incl. the 8/16-bit end-of-header forms), UTF-8
  coded frame numbers, CRC-8 (validated),
- channel assignments: independent, left/side, right/side, mid/side
  (side channels decode at +1 bit depth per spec),
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4 (the spec's exact
  predictor polynomials) and LPC (any order, qlp precision + shift),
  wasted-bits unary prefix,
- residuals: both Rice methods (4- and 5-bit parameters), partition
  orders, and the escape code (verbatim n-bit residuals),
- frame CRC-16 (validated), stereo reconstruction for all three
  decorrelation modes.

Like QOI/TIFF the format is fully normative — no tuned tables — so
the decoder is interop-complete within this subset and refuses loudly
outside it. The fixture encoder emits CONSTANT / VERBATIM / FIXED
subframes with real Rice partitions and both CRCs; correctness is
pinned by roundtrips across channel modes × predictors × Rice
parameters, a hand-built stream, and CRC-corruption refusal tests
(tests/test_codecs_flac.py)."""

from __future__ import annotations

import struct

from .codecs_wav import AudioDecodeError


# ---------------------------------------------------------------------------
# bit IO (MSB-first) + CRCs
# ---------------------------------------------------------------------------


class BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


class BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        while n:
            if self.byte >= len(self.data):
                raise AudioDecodeError("FLAC bitstream ended early")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            n -= take
        return v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.read(1):
                return q
            q += 1
            if q > 1 << 24:
                raise AudioDecodeError("runaway unary code")

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _utf8_coded(n: int) -> bytes:
    """FLAC's extended-UTF-8 number coding (frame/sample numbers)."""
    if n < 0x80:
        return bytes((n,))
    # nbytes bytes carry (7 - nbytes) + 6·(nbytes - 1) = 5·nbytes + 1
    # payload bits
    nbytes = 2
    while n >= (1 << (5 * nbytes + 1)) and nbytes < 7:
        nbytes += 1
    parts = []
    for _ in range(nbytes - 1):
        parts.append(0x80 | (n & 0x3F))
        n >>= 6
    lead = ((0xFF << (8 - nbytes)) & 0xFF) | n
    return bytes([lead] + parts[::-1])


def _read_utf8_coded(br: BitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_ones = 0
    mask = 0x80
    while b0 & mask:
        n_ones += 1
        mask >>= 1
    if n_ones < 2 or n_ones > 7:
        raise AudioDecodeError("bad UTF-8-coded number")
    val = b0 & (0x7F >> n_ones)
    for _ in range(n_ones - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise AudioDecodeError("bad UTF-8 continuation byte")
        val = (val << 6) | (b & 0x3F)
    return val


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

_BITS_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _signed(v: int, bits: int) -> int:
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


def _decode_residual(br: BitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise AudioDecodeError(f"reserved residual method {method}")
    pbits = 4 + method
    po = br.read(4)
    if blocksize % (1 << po):
        raise AudioDecodeError("partition order does not divide the block size")
    res: list[int] = []
    part_len = blocksize >> po
    for p in range(1 << po):
        n = part_len - (order if p == 0 else 0)
        if n < 0:
            raise AudioDecodeError("predictor order exceeds first partition")
        param = br.read(pbits)
        if param == (1 << pbits) - 1:  # escape: verbatim residuals
            raw_bits = br.read(5)
            for _ in range(n):
                res.append(_signed(br.read(raw_bits), raw_bits) if raw_bits else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                r = br.read(param) if param else 0
                res.append(_unzigzag((q << param) | r))
    return res


def _decode_subframe(br: BitReader, blocksize: int, bits: int) -> list[int]:
    if br.read(1):
        raise AudioDecodeError("subframe padding bit set")
    sf_type = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
    eff = bits - wasted
    if sf_type == 0:  # CONSTANT
        v = _signed(br.read(eff), eff)
        out = [v] * blocksize
    elif sf_type == 1:  # VERBATIM
        out = [_signed(br.read(eff), eff) for _ in range(blocksize)]
    elif 8 <= sf_type <= 12:  # FIXED
        order = sf_type - 8
        warm = [_signed(br.read(eff), eff) for _ in range(order)]
        res = _decode_residual(br, blocksize, order)
        out = list(warm)
        coefs = _FIXED_COEFS[order]
        for r in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs))
            out.append(r + pred)
    elif sf_type >= 32:  # LPC
        order = (sf_type & 31) + 1
        warm = [_signed(br.read(eff), eff) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise AudioDecodeError("invalid qlp precision escape")
        shift = _signed(br.read(5), 5)
        if shift < 0:
            raise AudioDecodeError("negative qlp shift")
        coefs = [_signed(br.read(prec), prec) for _ in range(order)]
        res = _decode_residual(br, blocksize, order)
        out = list(warm)
        for r in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise AudioDecodeError(f"reserved subframe type {sf_type}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(blob: bytes) -> dict:
    """Decode a FLAC stream → {sample_rate, channels, bits, n_frames,
    samples: list[list[int]] per channel}."""
    if blob[:4] != b"fLaC":
        raise AudioDecodeError("not a FLAC stream (bad marker)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(blob):
            raise AudioDecodeError("metadata walk ran off the stream")
        hdr = blob[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        body = blob[pos + 4 : pos + 4 + size]
        if btype == 0:
            if size != 34:
                raise AudioDecodeError("STREAMINFO must be 34 bytes")
            packed = int.from_bytes(body[10:18], "big")
            streaminfo = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits": ((packed >> 36) & 0x1F) + 1,
                "total": packed & ((1 << 36) - 1),
            }
        pos += 4 + size
        if last:
            break
    if streaminfo is None:
        raise AudioDecodeError("missing STREAMINFO")
    channels_out: list[list[int]] = [[] for _ in range(streaminfo["channels"])]
    while pos < len(blob):
        frame_start = pos
        br = BitReader(blob, pos)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise AudioDecodeError("bad frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        size_code = br.read(3)
        br.read(1)  # reserved
        _read_utf8_coded(br)
        if bs_code == 0:
            raise AudioDecodeError("reserved blocksize code")
        if bs_code == 1:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise AudioDecodeError("invalid sample-rate code")
        if size_code == 0:
            bits = streaminfo["bits"]
        else:
            bits = _BITS_CODE.get(size_code)
            if bits is None:
                raise AudioDecodeError(f"reserved sample-size code {size_code}")
        br.align()
        header_crc = br.read(8)
        if crc8(blob[frame_start : br.byte - 1]) != header_crc:
            raise AudioDecodeError("frame header CRC-8 mismatch")
        if ch_code < 8:
            n_ch = ch_code + 1
            subs = [_decode_subframe(br, blocksize, bits) for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            n_ch = 2
            b0 = bits + (1 if ch_code == 9 else 0)
            b1 = bits + (1 if ch_code in (8, 10) else 0)
            c0 = _decode_subframe(br, blocksize, b0)
            c1 = _decode_subframe(br, blocksize, b1)
            if ch_code == 8:  # left/side
                subs = [c0, [l - s for l, s in zip(c0, c1)]]
            elif ch_code == 9:  # right/side (side first)
                subs = [[r + s for r, s in zip(c1, c0)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                subs = [left, right]
        else:
            raise AudioDecodeError(f"reserved channel assignment {ch_code}")
        if n_ch != streaminfo["channels"]:
            raise AudioDecodeError("frame channel count disagrees with STREAMINFO")
        br.align()
        frame_crc = blob[br.byte : br.byte + 2]
        if len(frame_crc) < 2:
            raise AudioDecodeError("frame footer truncated")
        if crc16(blob[frame_start : br.byte]) != int.from_bytes(frame_crc, "big"):
            raise AudioDecodeError("frame CRC-16 mismatch")
        pos = br.byte + 2
        for ch, sub in enumerate(subs):
            channels_out[ch].extend(sub)
    return {
        "sample_rate": streaminfo["sample_rate"],
        "channels": streaminfo["channels"],
        "bits": streaminfo["bits"],
        "n_frames": len(channels_out[0]) if channels_out else 0,
        "samples": channels_out,
    }


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


def _best_fixed_order(samples: list[int], max_order: int = 2) -> int:
    best, best_cost = 0, None
    for o in range(max_order + 1):
        coefs = _FIXED_COEFS[o]
        cost = 0
        for i in range(o, len(samples)):
            pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            cost += abs(samples[i] - pred)
        if best_cost is None or cost < best_cost:
            best, best_cost = o, cost
    return best


def _rice_param(res: list[int]) -> int:
    if not res:
        return 0
    mean = sum(abs(r) for r in res) / len(res) + 1
    p = max(0, int(mean).bit_length() - 1)
    return min(p, 14)


def _encode_residual(bw: BitWriter, res: list[int]) -> None:
    bw.write(0, 2)  # 4-bit rice method
    bw.write(0, 4)  # partition order 0
    param = _rice_param(res)
    # escape if rice would blow up (e.g. mod-wrap jumps in verbatim
    # territory): verbatim 17-bit residuals
    worst = max((abs(r) for r in res), default=0)
    if worst >> param > 64:
        bw.write(0xF, 4)  # escape
        raw = max(2, worst.bit_length() + 1)
        bw.write(raw, 5)
        for r in res:
            bw.write(r & ((1 << raw) - 1), raw)
        return
    bw.write(param, 4)
    for r in res:
        u = _zigzag(r)
        bw.write_unary(u >> param)
        if param:
            bw.write(u & ((1 << param) - 1), param)


def _encode_subframe(bw: BitWriter, samples: list[int], bits: int, mode: str) -> None:
    if mode == "constant":
        bw.write(0, 1)
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(samples[0] & ((1 << bits) - 1), bits)
        return
    if mode == "verbatim":
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        for v in samples:
            bw.write(v & ((1 << bits) - 1), bits)
        return
    order = _best_fixed_order(samples)
    bw.write(0, 1)
    bw.write(8 + order, 6)
    bw.write(0, 1)
    for v in samples[:order]:
        bw.write(v & ((1 << bits) - 1), bits)
    coefs = _FIXED_COEFS[order]
    res = [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]
    _encode_residual(bw, res)


def encode_flac(
    channels: list[list[int]],
    sample_rate: int,
    bits: int = 16,
    *,
    stereo_mode: str = "independent",  # independent | left_side | mid_side
    subframe_mode: str = "fixed",  # fixed | verbatim | constant
) -> bytes:
    """Encode per-channel sample lists as a single-frame FLAC stream."""
    n_ch = len(channels)
    n = len(channels[0])
    out = bytearray(b"fLaC")
    packed = (
        (sample_rate << 44)
        | ((n_ch - 1) << 41)
        | ((bits - 1) << 36)
        | n
    )
    streaminfo = (
        struct.pack(">HH", n, n)
        + b"\x00\x00\x00" * 2  # min/max frame size unknown
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 unset
    )
    out += bytes((0x80,)) + len(streaminfo).to_bytes(3, "big") + streaminfo

    bw = BitWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 1)
    bw.write(0, 1)  # fixed blocksize strategy
    bw.write(7, 4)  # blocksize: 16 bits at end of header
    bw.write(0, 4)  # sample rate: from STREAMINFO
    if n_ch == 2 and stereo_mode == "left_side":
        bw.write(8, 4)
    elif n_ch == 2 and stereo_mode == "mid_side":
        bw.write(10, 4)
    else:
        bw.write(n_ch - 1, 4)
    bw.write(4, 3)  # sample-size code 4 = 16-bit
    bw.write(0, 1)
    for b in _utf8_coded(0):
        bw.write(b, 8)
    bw.write(n - 1, 16)
    bw.align()
    header = bytes(bw.out)
    bw.write(crc8(header), 8)

    if n_ch == 2 and stereo_mode == "left_side":
        subs = [
            (channels[0], bits),
            ([l - r for l, r in zip(channels[0], channels[1])], bits + 1),
        ]
    elif n_ch == 2 and stereo_mode == "mid_side":
        subs = [
            ([(l + r) >> 1 for l, r in zip(channels[0], channels[1])], bits),
            ([l - r for l, r in zip(channels[0], channels[1])], bits + 1),
        ]
    else:
        subs = [(c, bits) for c in channels]
    for samples, sbits in subs:
        mode = subframe_mode
        if mode == "constant" and any(v != samples[0] for v in samples):
            mode = "fixed"
        _encode_subframe(bw, samples, sbits, mode)
    bw.align()
    frame = bytes(bw.out)
    bw.write(crc16(frame), 16)
    out += bw.bytes()
    return bytes(out)
