"""FLAC codec tests (round 11): bit-IO and CRC primitives, UTF-8
number coding, roundtrips across channel modes × subframe types ×
Rice/escape residuals, compression sanity, CRC-corruption refusals,
and refusal paths for the unsupported universe."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkifydb_datawarehouse_spark.llm.codecs_flac import (
    AudioDecodeError,
    BitReader,
    BitWriter,
    _read_utf8_coded,
    _utf8_coded,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**20), st.integers(1, 21)), max_size=80))
def test_bit_io_roundtrip_fuzz(fields):
    bw = BitWriter()
    for v, n in fields:
        bw.write(v, n)
    bw.align()
    br = BitReader(bw.bytes())
    for v, n in fields:
        assert br.read(n) == v & ((1 << n) - 1)


def test_crc_vectors():
    # CRC-8 poly 0x07 and CRC-16 poly 0x8005, init 0 — standard checks
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 2**30))
def test_utf8_number_roundtrip(n):
    bw = BitWriter()
    for b in _utf8_coded(n):
        bw.write(b, 8)
    bw.align()
    assert _read_utf8_coded(BitReader(bw.bytes())) == n


def _ramp(a, b, n):
    return [((a * t + b) % 65536) - 32768 for t in range(n)]


@pytest.mark.parametrize("mode", ["independent", "left_side", "mid_side"])
@pytest.mark.parametrize("sub", ["fixed", "verbatim"])
def test_stereo_matrix_roundtrip(mode, sub):
    chs = [_ramp(11, 5, 333), _ramp(13, 9, 333)]
    d = decode_flac(encode_flac(chs, 22050, stereo_mode=mode, subframe_mode=sub))
    assert d["samples"] == chs
    assert (d["sample_rate"], d["channels"], d["bits"]) == (22050, 2, 16)


def test_constant_and_escape_residuals():
    d = decode_flac(encode_flac([[-7] * 250], 8000, subframe_mode="constant"))
    assert d["samples"] == [[-7] * 250]
    # steep ramp wraps mod-65536 -> huge residual jumps -> escape path
    wr = _ramp(1234, 0, 500)
    assert decode_flac(encode_flac([wr], 8000))["samples"] == [wr]


def test_compression_actually_happens():
    smooth = _ramp(3, 1, 2000)
    blob = encode_flac([smooth], 44100)
    assert len(blob) < 2000 * 2 // 4, len(blob)  # ≥4x on a linear ramp


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 3))
def test_random_roundtrip_fuzz(seed, n_ch):
    import random

    rng = random.Random(seed)
    n = rng.randrange(16, 300)
    chs = [[rng.randrange(-32768, 32768) for _ in range(n)] for _ in range(min(n_ch, 2))]
    mode = "mid_side" if len(chs) == 2 and seed % 2 else "independent"
    d = decode_flac(encode_flac(chs, 16000, stereo_mode=mode))
    assert d["samples"] == chs


def test_crc_corruption_is_refused():
    blob = bytearray(encode_flac([_ramp(7, 0, 100)], 44100))
    body = bytearray(blob)
    body[-3] ^= 0x40  # flip a bit inside the frame body — either the
    # CRC-16 trips or the residual stream desyncs; both must be loud
    with pytest.raises(AudioDecodeError, match="CRC|truncated|ended early"):
        decode_flac(bytes(body))
    crcb = bytearray(blob)
    crcb[-1] ^= 0xFF  # corrupt the CRC-16 itself
    with pytest.raises(AudioDecodeError, match="CRC"):
        decode_flac(bytes(crcb))
    hdr = bytearray(blob)
    # STREAMINFO ends at 4 + 4 + 34 = 42; frame header starts there.
    hdr[46] ^= 0x01  # a header-region byte -> CRC-8 trips
    with pytest.raises(AudioDecodeError, match="CRC"):
        decode_flac(bytes(hdr))


def test_refusal_paths():
    with pytest.raises(AudioDecodeError, match="marker"):
        decode_flac(b"fLaX" + bytes(40))
    blob = bytearray(encode_flac([[1] * 50], 8000))
    blob[42] = 0x00  # destroy the frame sync
    with pytest.raises(AudioDecodeError, match="sync"):
        decode_flac(bytes(blob))


def test_flac_and_wav_share_one_audio_error():
    """One AudioDecodeError for the audio family: a handler written
    against the WAV module's class also catches a FLAC failure."""
    from sparkifydb_datawarehouse_spark.llm import codecs_wav

    with pytest.raises(codecs_wav.AudioDecodeError, match="marker"):
        decode_flac(b"nope")
    assert AudioDecodeError is codecs_wav.AudioDecodeError
