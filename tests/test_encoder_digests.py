"""Byte-stability of every media encoder in sources/multimodal.

The codec tests round-trip: encode, decode, compare. An encoder and a
decoder changed in step still pass them, and the graded D7 queries would
then read different bytes than a real file on disk carries. These tests
pin the sha256 of each encoder's output for fixed inputs instead, so a
refactor of an encoder must keep its bytes.

PNG's IDAT payload is whatever the zlib build's deflate emits, which is
not the encoder's choice; ``zlib.compress`` is stubbed to the identity
for the PNG cases, so their digests cover the signature, IHDR, the
filtered scanlines, the chunk framing and the CRCs, on any zlib build."""

from __future__ import annotations

import hashlib
import zlib

import numpy as np
import pytest

from dcosb_cassandra_spark.sources import multimodal as mm


def _ramp(n: int, mul: int = 37, add: int = 11) -> bytes:
    return bytes((i * mul + add) % 256 for i in range(n))


def _gray(w: int, h: int) -> bytes:
    """Gradient plus a ripple: nonzero AC coefficients in every 8x8 block."""
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 5 + (x * y) % 13 * 9) % 256).astype(np.uint8).tobytes()


def _rgb(w: int, h: int) -> bytes:
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 8) % 256, (y * 16) % 256, (x * y * 3) % 256], axis=-1
    ).astype(np.uint8).tobytes()


def _pcm(n: int) -> np.ndarray:
    return (np.sin(np.arange(n) * 0.3) * 9000 + np.arange(n) * 17).astype(np.int16)


def _adpcm_wav() -> bytes:
    pcm = _pcm(42)  # 41 nibbles: an odd block, so the RIFF pad byte
    pred0, idx0, packed = mm.adpcm_encode(pcm, idx0=12)
    return mm.wav_encode_adpcm(pred0, idx0, packed, len(pcm) - 1, 8000)


_PNG_CASES = {
    f"png_c{color}_f{filt}": (color, filt)
    for color in (0, 2, 6)
    for filt in (0, 1, 2, 3, 4)
}

_CASES = {
    "jpeg_gray": lambda: mm.jpeg_encode_gray(_gray(24, 16), 24, 16),
    "jpeg_gray_rst2": lambda: mm.jpeg_encode_gray(
        _gray(24, 16), 24, 16, restart_interval=2
    ),
    "jpeg_color_420": lambda: mm.jpeg_encode_color(_rgb(32, 16), 32, 16, "420"),
    "jpeg_color_422": lambda: mm.jpeg_encode_color(_rgb(32, 16), 32, 16, "422"),
    "jpeg_color_444": lambda: mm.jpeg_encode_color(_rgb(32, 16), 32, 16, "444"),
    "jpeg_container_ii": lambda: mm.jpeg_encode_container(40, 24, 6, 20, "II"),
    "jpeg_container_mm": lambda: mm.jpeg_encode_container(40, 24, 3, 17, "MM"),
    "mp4_container": lambda: mm.mp4_encode_container(
        900, 30, 64, 48, [10, 21, 30], brand=b"mp42"
    ),
    "mp4_container_codec": lambda: mm.mp4_encode_container(
        3, 25, 16, 16, [3, 5], payload=b"abcdefgh", codec=b"avc1"
    ),
    "mp4_mjpeg": lambda: mm.mp4_encode_mjpeg(
        [mm.jpeg_encode_gray(_gray(16, 16), 16, 16),
         mm.jpeg_encode_gray(_gray(16, 8), 16, 8)],
        16, 16,
    ),
    "wav_pcm16_mono": lambda: mm.wav_encode_pcm16(_pcm(33), 16000, 1),
    "wav_pcm16_stereo": lambda: mm.wav_encode_pcm16(_pcm(40), 22050, 2),
    "wav_mulaw": lambda: mm.wav_encode_mulaw(mm.mulaw_encode(_pcm(45)), 8000),
    "wav_adpcm": _adpcm_wav,
    "gif_gray": lambda: mm.gif_encode_gray(_ramp(7 * 5), 7, 5),
    "gif_gray_large": lambda: mm.gif_encode_gray(_gray(40, 30), 40, 30),
    "bmp_gray": lambda: mm.bmp_encode_gray(_ramp(7 * 5), 7, 5),
}

#: sha256 of each case's bytes, recorded before the encoders shared their
#: segment, box and chunk writers
DIGESTS = {
    "bmp_gray": "1bd304542d4edbd67fdffec3de3f499dc9620287928b65b0d9bcf8c138393d21",
    "gif_gray": "74abada190696ba406497c38918d410fdef8512e7a927a42c92dca2f43964cad",
    "gif_gray_large": "d67f1b2d5e9cdd2649cace6df2a0ac533081b71f969cd08e6b330d53eb455adf",
    "jpeg_color_420": "ccd8f2cac99aee8dd88189bf3cd6bb19240db947a4de4cd17f7c70e31797c282",
    "jpeg_color_422": "beee942e14de480d0c4763fa51795048cd2236fb877827715460cfc0f7dac2a6",
    "jpeg_color_444": "dbf6bfa2457b586376c5e2136549b1dbe392cc47bcf47d0c3bc41b17a2da4d5d",
    "jpeg_container_ii": "e07662bc4a8adb91264bb5f0412bac856f6b3e28015e5b34ce91ded59d705bf7",
    "jpeg_container_mm": "bdf0322bb3c8cb2ced9321dab6b1b5625d1d3d69b9bd1e36ee1c75e3e0235053",
    "jpeg_gray": "2330bbb37f133ada696c718e40159ca3033426c8c29049256d45f39d098ce01d",
    "jpeg_gray_rst2": "6bc83dea642116a6a201c799f13f7319ba2088f1bb87b4dc7edf32bb713fc031",
    "mp4_container": "7e52eef02a7b7d4378637e872f91fe1664d3164ef2d6d0f5842477dd53982a65",
    "mp4_container_codec": "a3f67a25e0557d0493b796cf917f25ff003957e67224cb8e25d98d208e06695e",
    "mp4_mjpeg": "06f5b255d3f592b2c778bb59e335802e8e374547879144831ab73838cb44c7d1",
    "png_c0_f0": "4f9841c38e38778ac4111008464d85969038654a2afd7d0ec8227ac3bb139f0e",
    "png_c0_f1": "a2e148faeb312aa1a2b894dced3f830a5e7f0de78310f3c1697595c81410d0a8",
    "png_c0_f2": "88ee5fc5457293b23989b880135f838692dc57083d6be5232da4ad2069b3e9e9",
    "png_c0_f3": "d2c332b9c1bff593ed91090d4238961bdd4969d7646f86c264946e1b9a3e3296",
    "png_c0_f4": "ca00a3023db2f8be6a3a41a83325bb88e28ae6f0032c01d7dbc4df2aab42c314",
    "png_c2_f0": "72677772250ee22103d0a345cd1dda3d9f8bf8d06cc37c80e63d3869ad0f28b6",
    "png_c2_f1": "6f9453cf6f4499f032b99cf514b9920451b32293b713b3975a57380c3e4702ef",
    "png_c2_f2": "555e85ca6f00c71b85bbbf33e4ac0731e28918ce9f50a9968913db056d2237e9",
    "png_c2_f3": "88c3dbabfbc3f389481c4cdc6e85beaf3d4d2f8681d787aa5b9be945fc7ea2af",
    "png_c2_f4": "65c6a9b4119bc60e5177fd60175163521b1d9aed110def4003e4c5d625705512",
    "png_c6_f0": "86db607a37a053e2ddeddba9564576e0b0d125d7ce174d8131245c9040b5bb28",
    "png_c6_f1": "7a29be61a20cc724328f67ecb7e6c0dea9439d526c05e3e20d54b4366ff18b7e",
    "png_c6_f2": "02ad01bc18680bc8680d269a9f672de9c76e7be14427e84fc480aa8c1babcb60",
    "png_c6_f3": "acc68c49335dd3115dbf8d76eec5093f26a2f8716ddce1bcb250c52676a78612",
    "png_c6_f4": "59d873bf8067de2f80b74761f169632b4dfdfdc88b90b06318fbae4670261715",
    "wav_adpcm": "ca33235dc63a9ac1f6e195577e415fa459e912426b79cb873a0dae8c2edb8776",
    "wav_mulaw": "3184de9b83300327ddd8c17d99554f468cdc94d62d69cad71c4616bae0c90df5",
    "wav_pcm16_mono": "6cbc7ee2d1cf507013d77923fdc96ab9fd726d739a1b405cbfdf546a6ab8c5c2",
    "wav_pcm16_stereo": "94400f9d87d28990db8f79be2bb780c62cb94e6de8b9bc73681232de820cb123",
}


@pytest.mark.parametrize("name", sorted(_PNG_CASES))
def test_png_encoder_bytes_are_pinned(name, monkeypatch):
    color, filt = _PNG_CASES[name]
    monkeypatch.setattr(zlib, "compress", lambda raw: raw)
    ch = {0: 1, 2: 3, 6: 4}[color]
    data = mm.png_encode(_ramp(6 * 4 * ch), 6, 4, color, filt)
    assert hashlib.sha256(data).hexdigest() == DIGESTS[name]


@pytest.mark.parametrize("name", sorted(_CASES))
def test_encoder_bytes_are_pinned(name):
    assert hashlib.sha256(_CASES[name]()).hexdigest() == DIGESTS[name]
