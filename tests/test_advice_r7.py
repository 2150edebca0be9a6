"""Regression tests for the round-7 ADVICE findings.

1. (medium) malformed payloads with valid magic must raise ValueError (not
   IndexError / struct.error) so the mapInPandas kernels' except clause
   emits NULL rows instead of dying: GIF frame rect beyond the logical
   screen, truncated AIFF COMM/SSND.
2. (low) encode_gif with 256 opaque colors + a transparent index must fit
   (transparent pixels' RGB never renders, so it leaves the palette).
"""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.aiff import decode_aiff
from etl_for_dumdums_spark.operators.gif import decode_gif, encode_gif


def _one_frame_gif(rgb):
    return encode_gif(rgb)


def test_gif_frame_rect_beyond_screen_raises_valueerror():
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    buf = bytearray(_one_frame_gif(rgb))
    i = buf.index(0x2C, 13)
    struct.pack_into("<H", buf, i + 5, 999)  # frame width 999 > screen 4
    with pytest.raises(ValueError):
        decode_gif(bytes(buf))


def test_truncated_aiff_chunks_raise_valueerror():
    comm_short = (
        b"FORM" + struct.pack(">I", 16) + b"AIFF"
        + b"COMM" + struct.pack(">I", 4) + b"\x00" * 4
    )
    with pytest.raises(ValueError):
        decode_aiff(comm_short)
    ssnd_short = (
        b"FORM" + struct.pack(">I", 16) + b"AIFF"
        + b"SSND" + struct.pack(">I", 4) + b"\x00" * 4
    )
    with pytest.raises(ValueError):
        decode_aiff(ssnd_short)


def test_gif_256_colors_plus_transparency_encodes():
    f = np.zeros((16, 16, 4), dtype=np.uint8)
    f[:, :, 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
    f[:, :, 1] = (np.arange(256) * 7 % 256).astype(np.uint8).reshape(16, 16)
    f[:, :, 3] = 255
    f[3, 3, 3] = 0  # 256 distinct opaque colors + one transparent pixel
    frames, _ = decode_gif(encode_gif(f))
    out = frames[0]
    assert out[3, 3, 3] == 0
    opaque = f[:, :, 3] == 255
    assert (out[:, :, :3][opaque] == f[:, :, :3][opaque]).all()


def test_gif_all_transparent_frame_encodes():
    f = np.zeros((2, 2, 4), dtype=np.uint8)  # alpha 0 everywhere
    frames, _ = decode_gif(encode_gif(f))
    assert (frames[0][:, :, 3] == 0).all()
