"""The pure-stdlib PNG codec behind d7e_image_decode (sources/multimodal).

The decoder is the graded path: it must read real bytes, reject corrupt
ones, and reverse the scanline filters PNG allows for gray rows — these
tests cover what the oracle comparison can't (error paths and filter
types our encoder doesn't emit).
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given
from hypothesis import strategies as st

from dcosb_cassandra_spark.sources.multimodal import png_decode_gray, png_encode


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    data=st.data(),
)
def test_roundtrip(w, h, data):
    px = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h,
                max_size=w * h,
            )
        )
    )
    out = png_decode_gray(png_encode(px, w, h))
    assert out[:3] == (w, h, 8)
    assert bytes(out[3]) == px


def test_crc_corruption_rejected():
    b = bytearray(png_encode(bytes(range(16)) * 2, 16, 2))
    b[40] ^= 0xFF  # flip a byte inside IDAT without fixing its CRC
    with pytest.raises(ValueError, match="CRC"):
        png_decode_gray(bytes(b))


def test_bad_signature_rejected():
    with pytest.raises(ValueError, match="signature"):
        png_decode_gray(b"JFIF" + b"\x00" * 64)


def _png_with_filters(rows: list[tuple[int, bytes]], width: int) -> bytes:
    """Hand-built PNG whose scanlines use explicit filter types."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, 0, 0, 0, 0)
    raw = b"".join(bytes([f]) + r for f, r in rows)
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_sub_and_up_filters_reversed():
    # row0: filter 0 raw [10, 20, 30, 40]
    # row1: filter 1 (Sub): deltas [5, 5, 5, 5]  -> [5, 10, 15, 20]
    # row2: filter 2 (Up): deltas [1, 1, 1, 1]   -> [6, 11, 16, 21]
    png = _png_with_filters(
        [(0, bytes([10, 20, 30, 40])), (1, bytes([5, 5, 5, 5])), (2, bytes([1, 1, 1, 1]))],
        4,
    )
    w, h, depth, px = png_decode_gray(png)
    assert (w, h, depth) == (4, 3, 8)
    assert bytes(px) == bytes([10, 20, 30, 40, 5, 10, 15, 20, 6, 11, 16, 21])


def test_unsupported_filter_rejected():
    # 0-4 are the spec's complete filter set (all supported as of r8);
    # anything above is corruption and must be refused
    png = _png_with_filters([(9, bytes([1, 2, 3, 4]))], 4)
    with pytest.raises(ValueError, match="filter"):
        png_decode_gray(png)


# -- color + full filter set (r8) --------------------------------------------


@pytest.mark.parametrize("color,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_every_color_type_and_filter_roundtrips(color, ch, ftype):
    """8-bit gray/RGB/RGBA x all five scanline filters (None/Sub/Up/
    Average/Paeth): byte-exact round trip with the correct
    bytes-per-pixel stride (a bpp=1 assumption silently corrupts color
    rows under Sub/Average/Paeth)."""
    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import png_decode, png_encode

    rng = np.random.default_rng(31 * color + ftype)
    px = rng.integers(0, 256, size=(11, 19 * ch), dtype=np.uint8).tobytes()
    w, h, depth, c, out = png_decode(png_encode(px, 19, 11, color, ftype))
    assert (w, h, depth, c) == (19, 11, 8, color)
    assert bytes(out) == px


def test_gray_wrapper_rejects_color():
    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import png_decode_gray, png_encode

    px = np.zeros((4, 4 * 3), dtype=np.uint8).tobytes()
    with pytest.raises(ValueError, match="gray8"):
        png_decode_gray(png_encode(px, 4, 4, color_type=2))


# -- real resize (r8): decode -> nearest-neighbor -> lossless re-encode ------


def test_resize_image_real_png_downscale_exact():
    """Nearest-neighbor 2x downscale of a PNG picks the exact source
    pixels ((i*h)//out_h grid) — byte-checkable end to end because the
    output container is lossless PNG."""
    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import (
        png_decode,
        png_encode,
        resize_image_real,
    )

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = resize_image_real(png_encode(px.tobytes(), 8, 8, 0), 4, 4)
    w, h, _, color, rp = png_decode(out)
    assert (w, h, color) == (4, 4, 0)
    assert np.array_equal(
        np.frombuffer(bytes(rp), dtype=np.uint8).reshape(4, 4), px[::2, ::2]
    )


def test_resize_image_real_jpeg_sources():
    """JPEG inputs route through the real entropy decoder; constant-block
    frames make the decode exact, so resizing to one pixel per block
    returns exactly the block values (gray) / their RGB (achromatic
    color)."""
    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import (
        jpeg_encode_color,
        jpeg_encode_gray,
        png_decode,
        resize_image_real,
    )

    vals = np.array([[10, 200], [60, 140]], dtype=np.uint8)
    big = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    out = resize_image_real(jpeg_encode_gray(big.tobytes(), 16, 16), 2, 2)
    _, _, _, color, rp = png_decode(out)
    assert color == 0
    assert np.array_equal(np.frombuffer(bytes(rp), dtype=np.uint8).reshape(2, 2), vals)

    rgb = np.stack([big] * 3, axis=-1)
    out3 = resize_image_real(jpeg_encode_color(rgb.tobytes(), 16, 16, "420"), 2, 2)
    w3, h3, _, c3, rp3 = png_decode(out3)
    assert (w3, h3, c3) == (2, 2, 2)
    dec = np.frombuffer(bytes(rp3), dtype=np.uint8).reshape(2, 2, 3)
    assert np.array_equal(dec, np.stack([vals] * 3, axis=-1))


def test_resize_image_real_rejects_unknown_container():
    from dcosb_cassandra_spark.sources.multimodal import resize_image_real

    with pytest.raises(ValueError, match="container"):
        resize_image_real(b"GIF89a" + b"\x00" * 16, 2, 2)
