"""The pure-stdlib ISO-BMFF box parser behind d7g_mp4_metadata
(sources/multimodal).

The parser is the graded path: it must walk real box trees, handle the
64-bit largesize and size==0 forms, decode v0 AND v1 full boxes, and
reject structural corruption — these tests cover what the oracle
comparison can't (alternate encodings our encoder doesn't emit, error
paths, the gated frame stage).
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given
from hypothesis import strategies as st

from dcosb_cassandra_spark.sources.multimodal import (
    mp4_decode_frames,
    mp4_encode_container,
    mp4_parse_meta,
)


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + fourcc + body


def _full(fourcc: bytes, version: int, body: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B", version) + b"\x00\x00\x00" + body)


@given(
    dur=st.integers(min_value=0, max_value=2**32 - 1),
    ts=st.integers(min_value=1, max_value=2**32 - 1),
    w=st.integers(min_value=0, max_value=65535),
    h=st.integers(min_value=0, max_value=65535),
    sizes=st.lists(st.integers(min_value=0, max_value=64), max_size=50),
)
def test_roundtrip(dur, ts, w, h, sizes):
    m = mp4_parse_meta(mp4_encode_container(dur, ts, w, h, sizes))
    assert (m["duration"], m["timescale"], m["width"], m["height"]) == (dur, ts, w, h)
    assert m["major_brand"] == "isom" and m["handler"] == "vide"
    assert m["n_samples"] == len(sizes)
    assert m["total_sample_bytes"] == m["mdat_bytes"] == sum(sizes)


def test_largesize_mdat():
    """size==1 → 64-bit largesize header (how >4 GiB mdats ship)."""
    base = mp4_encode_container(10, 1000, 32, 32, [4])
    payload = b"\xab" * 24
    large = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    ftyp_moov = base[: base.rindex(b"mdat") - 4]
    m = mp4_parse_meta(ftyp_moov + large)
    assert m["mdat_bytes"] == 24


def test_size_zero_extends_to_eof():
    base = mp4_encode_container(10, 1000, 32, 32, [4])
    payload = b"\xcd" * 9
    open_mdat = struct.pack(">I", 0) + b"mdat" + payload
    ftyp_moov = base[: base.rindex(b"mdat") - 4]
    m = mp4_parse_meta(ftyp_moov + open_mdat)
    assert m["mdat_bytes"] == 9


def test_version1_mvhd_and_tkhd():
    """v1 full boxes widen the time fields to 64-bit; dims shift by 12."""
    mvhd = _full(b"mvhd", 1, struct.pack(">QQIQ", 0, 0, 90000, 2**33) + b"\x00" * 80)
    tkhd = _full(
        b"tkhd", 1,
        struct.pack(">QQIIQ", 0, 0, 1, 0, 2**33)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 1920 << 16, 1080 << 16),
    )
    data = (
        _box(b"ftyp", b"iso6" + struct.pack(">I", 0) + b"isom")
        + _box(b"moov", mvhd + _box(b"trak", tkhd))
    )
    m = mp4_parse_meta(data)
    assert m["major_brand"] == "iso6"
    assert m["timescale"] == 90000 and m["duration"] == 2**33
    assert (m["width"], m["height"]) == (1920, 1080)


def test_uniform_stsz():
    """sample_size != 0 → no per-sample table; total = uniform × count."""
    stsz = _full(b"stsz", 0, struct.pack(">II", 100, 7))
    data = _box(b"ftyp", b"isom" + struct.pack(">I", 0)) + _box(
        b"moov", _box(b"trak", _box(b"mdia", _box(b"minf", _box(b"stbl", stsz))))
    )
    m = mp4_parse_meta(data)
    assert m["n_samples"] == 7 and m["total_sample_bytes"] == 700


def test_unknown_boxes_skipped():
    data = (
        _box(b"ftyp", b"isom" + struct.pack(">I", 0))
        + _box(b"free", b"\x00" * 13)
        + _box(b"skip", b"junk")
    )
    assert mp4_parse_meta(data)["major_brand"] == "isom"


def test_truncated_rejected():
    b = mp4_encode_container(10, 1000, 32, 32, [4, 4])
    with pytest.raises(ValueError):
        mp4_parse_meta(b[:-3])


def test_bad_box_size_rejected():
    b = bytearray(mp4_encode_container(10, 1000, 32, 32, [4]))
    b[0:4] = struct.pack(">I", len(b) + 50)  # ftyp claims past EOF
    with pytest.raises(ValueError, match="size"):
        mp4_parse_meta(bytes(b))


def test_missing_ftyp_rejected():
    with pytest.raises(ValueError, match="ftyp"):
        mp4_parse_meta(_box(b"free", b""))


def test_frame_decode_gated_for_non_mjpeg():
    """A track without an MJPEG stsd entry (here: no stsd at all — the
    d7g metadata container) must keep the honest codec gate."""
    with pytest.raises(NotImplementedError, match="codec"):
        mp4_decode_frames(mp4_encode_container(10, 1000, 32, 32, [4]))


# -- real MJPEG track decode (r8) --------------------------------------------


def test_mjpeg_track_roundtrip_bit_exact():
    """mp4_encode_mjpeg -> mp4_decode_frames: stsd 'jpeg' sample entry,
    stsz-sliced mdat, every frame entropy-decoded; constant-block frames
    round-trip bit-exact (the d7j oracle's foundation)."""
    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import (
        jpeg_encode_gray,
        mp4_encode_mjpeg,
    )

    rng = np.random.default_rng(9)
    raws, frames = [], []
    for _ in range(4):
        vals = rng.integers(0, 256, size=(2, 2), dtype=np.uint8)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        raws.append(px)
        frames.append(jpeg_encode_gray(px.tobytes(), 16, 16))
    data = mp4_encode_mjpeg(frames, 16, 16)
    m = mp4_parse_meta(data)
    assert m["n_samples"] == 4 and m["total_sample_bytes"] == m["mdat_bytes"]
    decoded = mp4_decode_frames(data)
    assert len(decoded) == 4
    for (w, h, nc, px), raw in zip(decoded, raws):
        assert (w, h, nc) == (16, 16, 1)
        assert np.array_equal(np.frombuffer(px, dtype=np.uint8).reshape(16, 16), raw)


def test_mjpeg_corrupt_stsz_rejected():
    import struct

    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import (
        jpeg_encode_gray,
        mp4_encode_mjpeg,
    )

    px = np.full((16, 16), 99, dtype=np.uint8)
    data = bytearray(mp4_encode_mjpeg([jpeg_encode_gray(px.tobytes(), 16, 16)], 16, 16))
    i = bytes(data).index(b"stsz")
    # inflate the sample count so stsz disagrees with mdat
    (count,) = struct.unpack_from(">I", data, i + 12)
    struct.pack_into(">I", data, i + 12, count)  # unchanged count…
    # …but corrupt the one sample size instead
    (sz,) = struct.unpack_from(">I", data, i + 16)
    struct.pack_into(">I", data, i + 16, sz + 8)
    with pytest.raises(ValueError, match="stsz"):
        mp4_decode_frames(bytes(data))


@pytest.mark.parametrize("uniform", [8, 0])
def test_mjpeg_huge_stsz_count_rejected_in_bounded_memory(uniform):
    """A stsz that declares 2^32-1 samples is rejected before any table of
    that length is built, whether the sizes are uniform or listed."""
    import tracemalloc

    import numpy as np

    from dcosb_cassandra_spark.sources.multimodal import (
        jpeg_encode_gray,
        mp4_encode_mjpeg,
    )

    px = np.full((16, 16), 7, dtype=np.uint8)
    data = bytearray(mp4_encode_mjpeg([jpeg_encode_gray(px.tobytes(), 16, 16)], 16, 16))
    i = bytes(data).index(b"stsz")
    struct.pack_into(">II", data, i + 8, uniform, 2**32 - 1)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            mp4_decode_frames(bytes(data))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak
