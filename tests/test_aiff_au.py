"""AIFF/AIFC + Sun AU codec tests (operators/aiff.py).

Policy as ever: exact roundtrips where lossless, hand-built foreign
streams (a 24-bit AIFF, an AIFC 'sowt', a mu-law AU whose bytes come
from the G.711 FORWARD rule — not our own decoder), and the
cross-container identity: the same PCM wrapped as WAV, AIFF, and AU
must yield byte-identical mono int16 through audio_payload_to_pcm."""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.aiff import (
    _read_extended,
    _write_extended,
    decode_aiff,
    decode_au,
    encode_aiff,
    encode_au,
    is_aiff,
    is_au,
)


def test_extended_float_roundtrip():
    for rate in (8000, 11025, 16000, 22050, 44100, 48000, 96000, 1):
        assert _read_extended(_write_extended(rate)) == rate


def test_aiff_roundtrip_mono_and_stereo():
    rng = np.random.RandomState(3)
    mono = rng.randint(-32768, 32768, 500).astype(np.int16)
    rate, ch, frames = decode_aiff(encode_aiff(mono, 16000))
    assert (rate, ch) == (16000, 1) and (frames.reshape(-1) == mono).all()
    stereo = rng.randint(-32768, 32768, 600).astype(np.int16)
    rate, ch, frames = decode_aiff(encode_aiff(stereo, 44100, channels=2))
    assert (rate, ch) == (44100, 2) and (frames.reshape(-1) == stereo).all()
    assert is_aiff(encode_aiff(mono, 8000))


def test_aiff_24bit_hand_built():
    """24-bit big-endian samples, hand-packed: decoder must sign-extend
    and arithmetic-shift to int16 exactly like decode_wav does."""
    vals = [0x123456, -0x123456, 0x7FFFFF, -0x800000, 0, 1, -1]
    pcm = bytearray()
    for v in vals:
        pcm += (v & 0xFFFFFF).to_bytes(3, "big")
    comm = b"COMM" + struct.pack(">IhIh", 18, 1, len(vals), 24) + _write_extended(8000)
    ssnd = b"SSND" + struct.pack(">III", 8 + len(pcm), 0, 0) + bytes(pcm)
    body = b"AIFF" + comm + ssnd
    aiff = b"FORM" + struct.pack(">I", len(body)) + body
    _r, _c, frames = decode_aiff(aiff)
    exp = [v >> 8 for v in vals]
    assert frames.reshape(-1).tolist() == exp


def test_aifc_sowt_little_endian():
    """AIFC with 'sowt' compression: 16-bit little-endian — hand-built
    (our encoder writes big-endian AIFF only)."""
    samples = np.array([1, -1, 32767, -32768, 12345], dtype=np.int16)
    pcm = samples.astype("<i2").tobytes()
    comm = (
        b"COMM"
        + struct.pack(">IhIh", 24, 1, len(samples), 16)
        + _write_extended(22050)
        + b"sowt\x00\x00"
    )
    ssnd = b"SSND" + struct.pack(">III", 8 + len(pcm), 0, 0) + pcm
    body = b"AIFC" + comm + ssnd
    aifc = b"FORM" + struct.pack(">I", len(body)) + body
    rate, ch, frames = decode_aiff(aifc)
    assert rate == 22050 and (frames.reshape(-1) == samples).all()


def test_au_pcm_roundtrip_and_mulaw_forward_rule():
    rng = np.random.RandomState(9)
    samples = rng.randint(-32768, 32768, 400).astype(np.int16)
    rate, ch, frames = decode_au(encode_au(samples, 8000))
    assert rate == 8000 and (frames.reshape(-1) == samples).all()
    # mu-law: bytes computed from the G.711 FORWARD companding rule here,
    # independent of the decode tables
    def mulaw_compress(x):
        BIAS, CLIP = 0x84, 32635
        s = 0x80 if x < 0 else 0
        if x < 0:
            x = -x
        x = min(x, CLIP) + BIAS
        exp = 7
        mask = 0x4000
        while exp > 0 and not (x & mask):
            exp -= 1
            mask >>= 1
        mant = (x >> (exp + 3)) & 0x0F
        return ~(s | (exp << 4) | mant) & 0xFF

    vals = [0, 1, -1, 100, -100, 1000, -1000, 30000, -30000]
    data = bytes(mulaw_compress(v) for v in vals)
    au = struct.pack(">IIIIII", 0x2E736E64, 24, len(data), 1, 8000, 1) + data
    rate, ch, frames = decode_au(au)
    got = frames.reshape(-1)
    # the expansion must invert the forward rule to within one quant step
    from etl_for_dumdums_spark.operators.codecs import _MULAW_TABLE

    for v, g in zip(vals, got.tolist()):
        assert g == _MULAW_TABLE[mulaw_compress(v)]
        assert abs(g - v) <= max(abs(v) // 16, 8 * 4 + 4)


def test_au_alaw_and_guards():
    from etl_for_dumdums_spark.operators.codecs import _ALAW_TABLE

    data = bytes(range(256))
    au = struct.pack(">IIIIII", 0x2E736E64, 24, len(data), 27, 8000, 1) + data
    _r, _c, frames = decode_au(au)
    assert frames.reshape(-1).tolist() == list(_ALAW_TABLE)
    with pytest.raises(ValueError):
        decode_au(b"nope")
    with pytest.raises(NotImplementedError):  # encoding 6 = float32
        decode_au(struct.pack(">IIIIII", 0x2E736E64, 24, 4, 6, 8000, 1) + b"\0\0\0\0")
    with pytest.raises(NotImplementedError):  # AIFC ima4
        samples = np.zeros(4, np.int16)
        comm = (
            b"COMM"
            + struct.pack(">IhIh", 24, 1, 4, 16)
            + _write_extended(8000)
            + b"ima4\x00\x00"
        )
        body = b"AIFC" + comm + b"SSND" + struct.pack(">III", 8, 0, 0)
        decode_aiff(b"FORM" + struct.pack(">I", len(body)) + body)


def test_cross_container_identity():
    """The SAME stereo PCM wrapped as WAV, AIFF, and AU must come out of
    audio_payload_to_pcm byte-identical."""
    from etl_for_dumdums_spark.operators.codecs import encode_wav
    from etl_for_dumdums_spark.operators.multimodal import audio_payload_to_pcm

    rng = np.random.RandomState(21)
    stereo = rng.randint(-32768, 32768, 800).astype(np.int16)
    wav = encode_wav(stereo, 16000, channels=2)
    aiff = encode_aiff(stereo, 16000, channels=2)
    au = encode_au(stereo, 16000, channels=2)
    outs = [audio_payload_to_pcm(p) for p in (wav, aiff, au)]
    rates = {r for r, _ in outs}
    assert rates == {16000}
    first = outs[0][1]
    for _, mono in outs[1:]:
        assert (mono == first).all()


def test_kernels_route_new_formats(spark):
    """pcm_stats rows are identical for WAV/AIFF/AU wrappers of the same
    PCM; rgb_stats decodes GIF/BMP/ICO payloads instead of NULLing
    them."""
    from etl_for_dumdums_spark.operators.codecs import encode_wav
    from etl_for_dumdums_spark.operators.gif import encode_bmp, encode_gif, encode_ico
    from etl_for_dumdums_spark.operators.multimodal import pcm_stats, rgb_stats

    rng = np.random.RandomState(17)
    pcm = rng.randint(-30000, 30000, 300).astype(np.int16)
    audio = [
        (1, bytearray(encode_wav(pcm, 8000))),
        (2, bytearray(encode_aiff(pcm, 8000))),
        (3, bytearray(encode_au(pcm, 8000))),
        (4, None),
    ]
    adf = spark.createDataFrame(audio, "media_id long, payload binary")
    arows = {r["media_id"]: r.asDict() for r in pcm_stats(adf).collect()}
    base = {k: v for k, v in arows[1].items() if k != "media_id"}
    assert base["rms_int"] is not None
    for mid in (2, 3):
        assert {k: v for k, v in arows[mid].items() if k != "media_id"} == base
    assert arows[4]["rms_int"] is None

    img = (rng.randint(0, 4, (10, 12, 3)) * 80).astype(np.uint8)
    rgba = np.dstack([img, np.full((10, 12), 255, np.uint8)])
    images = [
        (1, bytearray(encode_gif(img))),
        (2, bytearray(encode_bmp(img))),
        (3, bytearray(encode_ico(rgba))),
    ]
    idf = spark.createDataFrame(images, "media_id long, payload binary")
    irows = {r["media_id"]: r.asDict() for r in rgb_stats(idf).collect()}
    exp_mean = float(img.reshape(-1, 3).mean(axis=0)[0])
    for mid in (1, 2, 3):
        assert irows[mid]["dec_width"] == 12 and irows[mid]["dec_height"] == 10
        assert abs(irows[mid]["mean_r"] - exp_mean) < 1e-9
