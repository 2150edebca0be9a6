"""Round-7 encoder additions: encode_ico and encode_bmp_rle (RLE8/RLE4) —
each verified by roundtripping through the independently-tested
decoders."""

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.gif import (
    decode_bmp,
    decode_ico,
    encode_bmp_rle,
    encode_ico,
)


def test_ico_rgba_roundtrip():
    rng = np.random.RandomState(5)
    rgba = rng.randint(0, 256, (13, 9, 4)).astype(np.uint8)
    back = decode_ico(encode_ico(rgba))
    assert back.shape == (13, 9, 4) and (back == rgba).all()


def test_ico_rgb_gets_opaque_alpha():
    rng = np.random.RandomState(6)
    rgb = rng.randint(0, 256, (7, 5, 3)).astype(np.uint8)
    back = decode_ico(encode_ico(rgb))
    assert (back[:, :, :3] == rgb).all() and (back[:, :, 3] == 255).all()


def test_ico_256px_entry():
    # 256 is stored as width/height byte 0 in the directory entry
    img = np.full((256, 256, 3), 77, dtype=np.uint8)
    back = decode_ico(encode_ico(img))
    assert back.shape == (256, 256, 4) and (back[:, :, 0] == 77).all()


def test_ico_rejects_oversize():
    with pytest.raises(ValueError):
        encode_ico(np.zeros((257, 4, 3), dtype=np.uint8))


def test_bmp_rle8_roundtrip():
    rng = np.random.RandomState(7)
    idx = rng.randint(0, 200, (9, 30)).astype(np.uint8)
    pal = rng.randint(0, 256, (200, 3)).astype(np.uint8)
    back = decode_bmp(encode_bmp_rle(idx, pal))
    assert back.shape == (9, 30, 3) and (back == pal[idx]).all()


def test_bmp_rle4_roundtrip():
    rng = np.random.RandomState(8)
    idx = rng.randint(0, 16, (6, 11)).astype(np.uint8)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    back = decode_bmp(encode_bmp_rle(idx, pal, four_bit=True))
    assert back.shape == (6, 11, 3) and (back == pal[idx]).all()


def test_bmp_rle8_run_longer_than_255():
    pal = np.arange(30, dtype=np.uint8).repeat(3).reshape(30, 3)
    idx = np.zeros((3, 400), dtype=np.uint8)
    idx[1, :] = 5
    back = decode_bmp(encode_bmp_rle(idx, pal))
    assert (back == pal[idx]).all()


def test_bmp_rle_guards():
    with pytest.raises(ValueError):
        encode_bmp_rle(np.zeros((2, 2), np.uint8), np.zeros((17, 3), np.uint8), four_bit=True)
    with pytest.raises(ValueError):
        encode_bmp_rle(np.full((2, 2), 9, np.uint8), np.zeros((4, 3), np.uint8))


def test_new_encoders_route_through_stats_layer():
    """Every new container form flows through image_payload_to_array."""
    from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array

    rng = np.random.RandomState(14)
    rgb = rng.randint(0, 256, (24, 21, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (10, 12)).astype(np.uint8)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    assert (
        image_payload_to_array(encode_bmp_rle(idx, pal, four_bit=True)) == pal[idx]
    ).all()
    a = image_payload_to_array(encode_ico(rgb))
    assert (a[:, :, :3] == rgb).all()
