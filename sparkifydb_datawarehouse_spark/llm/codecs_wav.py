"""Pure-Python WAV (RIFF PCM) audio codec: decode + fixture encoder.

Round 8: upgrades the audio modality from the deterministic fake-PCM
plumbing (multimodal.attach_fake_audio) to a REAL container decode,
the same way the image path grew PPM→PNG→JPEG→VP8L. WAV is the
canonical uncompressed audio interchange format (RIFF 'WAVE' with
'fmt ' + 'data' chunks, Microsoft/IBM spec — public); integer PCM at
8 (unsigned), 16, 24, and 32 bits signed little-endian decodes here
with no external dependency. Compressed codecs (MP3/AAC/FLAC) stay
behind multimodal.decode_image-style honest gates — out of scope.

Like the image codecs, correctness is pinned by closed-form planted
signals: the registered query (q_multimodal_decode_wav) encodes a
deterministic ramp per doc, decodes it through the full chunk-walking
parser, and reduces to per-channel integer sums + peak that DuckDB
recomputes from the same closed form.
"""

from __future__ import annotations

import struct

from .codecs import ImageDecodeError


class AudioDecodeError(ImageDecodeError):
    """WAV or FLAC (codecs_flac.py) decode failure: one class for the
    audio family, a subclass of the codec error family so the
    multimodal gate handling stays uniform."""


def decode_wav(blob: bytes) -> dict:
    """Decode an integer-PCM WAV. Returns {"sample_rate", "channels",
    "bits", "n_frames", "samples"} where samples is a per-channel
    list of signed-int lists (8-bit unsigned storage is recentred to
    signed, matching every DSP convention downstream)."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise AudioDecodeError(f"not a RIFF/WAVE container: {blob[:4]!r}")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        tag = blob[pos : pos + 4]
        size = struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
        body = blob[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise AudioDecodeError(f"chunk {tag!r} truncated")
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise AudioDecodeError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise AudioDecodeError("fmt chunk too short")
    (audio_format, channels, sample_rate, _byte_rate, block_align, bits) = (
        struct.unpack("<HHIIHH", fmt[:16])
    )
    if audio_format != 1:
        raise AudioDecodeError(
            f"WAV format {audio_format} unsupported — only integer PCM "
            "(format 1) decodes natively; compressed/float audio needs a "
            "codec library"
        )
    if bits not in (8, 16, 24, 32):
        raise AudioDecodeError(f"PCM bit depth {bits} unsupported")
    if channels < 1:
        raise AudioDecodeError("channel count must be >= 1")
    bytes_per = bits // 8
    if block_align != channels * bytes_per:
        raise AudioDecodeError(
            f"block_align {block_align} inconsistent with "
            f"{channels}ch x {bits}bit"
        )
    if len(data) % block_align:
        raise AudioDecodeError("data chunk is not a whole number of frames")
    n_frames = len(data) // block_align
    samples: list[list[int]] = [[] for _ in range(channels)]
    half = 1 << (bits - 1)
    full = 1 << bits
    for f in range(n_frames):
        base = f * block_align
        for c in range(channels):
            raw = data[base + c * bytes_per : base + (c + 1) * bytes_per]
            v = int.from_bytes(raw, "little")
            if bits == 8:
                v -= 128  # 8-bit PCM is stored unsigned
            elif v >= half:
                v -= full
            samples[c].append(v)
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": bits,
        "n_frames": n_frames,
        "samples": samples,
    }


def encode_wav(
    sample_rate: int, channels: int, bits: int, samples: list[list[int]]
) -> bytes:
    """Encode per-channel signed-int sample lists as integer PCM WAV
    (the decode_wav inverse, including the 8-bit unsigned recentre)."""
    if bits not in (8, 16, 24, 32):
        raise ValueError(f"PCM bit depth {bits} unsupported")
    if len(samples) != channels or channels < 1:
        raise ValueError("samples must hold exactly `channels` lists")
    n_frames = len(samples[0])
    if any(len(ch) != n_frames for ch in samples):
        raise ValueError("channels must be equal length")
    bytes_per = bits // 8
    block_align = channels * bytes_per
    full = 1 << bits
    out = bytearray()
    for f in range(n_frames):
        for c in range(channels):
            v = samples[c][f]
            if bits == 8:
                v += 128
            elif v < 0:
                v += full
            out += v.to_bytes(bytes_per, "little")
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(out)) + bytes(out)
    if len(out) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
