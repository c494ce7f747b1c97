"""Multimodal-column operators (SURVEY.md §2 D7) + the UDF/UDA surface
(A33/A34): binary payload metadata queries, the Arrow-batched decode
pipeline, a vectorized pandas UDF, and a custom aggregate via
applyInPandas. The decode stub derives deterministic values from md5, so
even the Python stages are oracle-checkable in SQL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..catalog import table
from ..registry import query
from ..sources.multimodal import (
    DECODE_SCHEMA,
    decode_image_stub,
    gif_decode,
    gif_encode_gray,
    inflate,
    jpeg_decode_pixels,
    jpeg_encode_color,
    jpeg_encode_container,
    jpeg_encode_gray,
    jpeg_parse_meta,
    mp4_decode_frames,
    mp4_encode_container,
    mp4_encode_mjpeg,
    mp4_parse_meta,
    mulaw_encode,
    multimodal_frame,
    pack_nibbles,
    png_decode,
    png_decode_gray,
    png_encode,
    sniff_format,
    wav_decode_samples,
    wav_encode_adpcm,
    wav_encode_mulaw,
    wav_parse_meta,
    ycbcr_to_rgb,
)


@query(
    "d7_multimodal_metadata",
    oracle="""
        SELECT lang, count(*) AS n_payloads,
               CAST(sum(octet_length(text::BLOB)) AS BIGINT) AS total_bytes,
               max(octet_length(text::BLOB)) AS max_bytes
        FROM documents GROUP BY lang
    """,
    tags=("D7", "P2"),
)
def d7_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over binary payloads: aggregates read the typed
    meta struct, never the blob bytes — at 100 TB, parquet column pruning
    means the payload column is not even read from disk."""
    mm = multimodal_frame(spark, sf_dir)
    return mm.groupBy(F.col("meta.lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


@query(
    "d7b_decode_pipeline",
    oracle="""
        SELECT kind, count(*) AS n,
               CAST(sum(width) AS BIGINT) AS total_w, max(height) AS max_h
        FROM (
            SELECT 'text/plain' AS kind,
                   (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(text), 2, 1)) AS width,
                   (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(text), 4, 1)) AS height
            FROM documents
        ) GROUP BY kind
    """,
    tags=("D7", "A33", "P2"),
)
def d7b_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode via mapInPandas (Arrow batches, partition-parallel):
    payload → (width, height, kind). The stub's md5-derived dimensions let
    the oracle verify the full Python path bit-for-bit — the strongest
    check a stubbed codec can get."""
    mm = multimodal_frame(spark, sf_dir)
    decoded = mm.mapInPandas(decode_image_stub, schema=DECODE_SCHEMA)
    return decoded.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("width").alias("total_w"),
        F.max("height").alias("max_h"),
    )


@query(
    "a33_pandas_udf_scalar",
    oracle="""
        SELECT doc_id, round((n_chars * 7 % 100) / 100.0 + 0.01 * length(text), 4) AS quality
        FROM documents WHERE doc_id < 100
    """,
    tags=("A33", "P1"),
)
def a33_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION equivalent: a vectorized @pandas_udf (Arrow transfer,
    ~10-100× row-at-a-time Python). Body is integer-exact arithmetic so the
    oracle can replay it. [PK `cql3/functions/UDFunction.java`]"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def quality_udf(n_chars: pd.Series, text_len: pd.Series) -> pd.Series:
        return ((n_chars * 7 % 100) / 100.0 + 0.01 * text_len).round(4)

    d = table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id", quality_udf(F.col("n_chars"), F.length("text")).alias("quality")
    )


@query(
    "a34_uda_geometric_mean",
    oracle="""
        SELECT lang, round(exp(avg(ln(n_chars))), 4) AS geo_mean_chars, count(*) AS n
        FROM documents GROUP BY lang
    """,
    tags=("A34", "P1"),
)
def a34_uda_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE AGGREGATE equivalent (state fn + final fn): geometric mean via
    applyInPandas per group. Note the scale caveat: applyInPandas
    materializes each group in memory — fine for bounded groups; unbounded
    groups should use the algebraic form exp(avg(ln(x))) shown in the
    oracle. [PK `cql3/functions/UDAggregate.java`]"""
    import numpy as np

    def geo_mean(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [key[0]],
                "geo_mean_chars": [round(float(np.exp(np.mean(np.log(pdf["n_chars"])))), 4)],
                "n": [len(pdf)],
            }
        )

    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").applyInPandas(
        geo_mean, schema="lang STRING, geo_mean_chars DOUBLE, n LONG"
    )


@query(
    "d7c_resize_frame_sample",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   octet_length(text::BLOB) AS n_bytes,
                   md5(text) AS pm  -- VARCHAR md5 == md5 of the utf-8 payload bytes
            FROM documents WHERE doc_id < 30
        )
        SELECT doc_id,
               64 AS out_width, 64 AS out_height,
               md5(pm || '64x64') AS resized_md5,
               CAST(n_bytes // 32 AS INT) AS n_frames,
               CAST(len(range(0, n_bytes // 32, 4)) AS INT) AS n_sampled,
               CASE WHEN n_bytes // 32 > 0 THEN md5(pm || ':0') END AS first_frame_md5
        FROM base
    """,
    tags=("D7", "A33", "P2"),
)
def d7c_resize_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal transform pipeline: decode-adjacent resize then
    video-style frame sampling, as TWO chained mapInPandas stages (Arrow
    batches throughout, partition-parallel, zero shuffles — the plan a
    100 TB media crawl needs: every stage is a map). Decodes are stubbed
    deterministically (no codecs in the container) which makes the whole
    pipeline ORACLE-CHECKABLE: DuckDB reproduces the fingerprints from
    the same md5 chain."""
    from ..sources.multimodal import (
        FRAME_SAMPLE_SCHEMA,
        RESIZE_SCHEMA,
        multimodal_frame,
        resize_image_stub,
        sample_frames_stub,
    )

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 30)
    resized = mm.mapInPandas(resize_image_stub(64, 64), schema=RESIZE_SCHEMA)
    return resized.mapInPandas(sample_frames_stub(4), schema=FRAME_SAMPLE_SCHEMA)


@query(
    "d7d_audio_frame_energy",
    oracle="""
        -- the SQL replay of the Python/numpy path: one sample per byte
        -- (all-ASCII payloads: code point == byte), 32-byte frames,
        -- trailing partial dropped, RMS per frame, mean/peak per payload
        WITH samples AS (
            SELECT doc_id,
                   unnest(range(1, (length(text) // 32) * 32 + 1)) AS pos
            FROM documents WHERE doc_id < 40
        ),
        vals AS (
            SELECT s.doc_id, s.pos, ((s.pos - 1) // 32) AS frame_idx,
                   ascii(substr(d.text, CAST(s.pos AS INT), 1)) * 1.0 AS amp
            FROM samples s JOIN documents d ON d.doc_id = s.doc_id
        ),
        frames AS (
            SELECT doc_id, frame_idx, sqrt(avg(amp * amp)) AS rms
            FROM vals GROUP BY doc_id, frame_idx
        )
        SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
               round(avg(rms), 6) AS mean_rms,
               round(max(rms), 6) AS peak_rms
        FROM frames GROUP BY doc_id
    """,
    tags=("D7", "D35", "A33", "P2"),
)
def d7d_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-path multimodal extraction: payloads interpreted as unsigned
    8-bit PCM, RMS energy per 32-byte frame (numpy over Arrow batches via
    mapInPandas), mean/peak per payload. Unlike the fingerprint-stubbed
    image/video stages, the math here runs on the REAL bytes, so the SQL
    oracle replays the identical arithmetic from the characters' code
    points — the strongest verification a codec-less container allows.

    Scale: pure map stage (mapInPandas, partition-parallel, zero
    shuffles) followed by nothing — per-payload features come out of the
    same pass; rounding to 6dp Spark-side absorbs numpy-vs-SQL float
    summation-order differences."""
    from ..sources.multimodal import (
        AUDIO_ENERGY_SCHEMA,
        audio_frame_energy_stub,
        multimodal_frame,
    )

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 40)
    out = mm.mapInPandas(audio_frame_energy_stub(32), schema=AUDIO_ENERGY_SCHEMA)
    return out.filter(F.col("n_frames") > 0).select(
        "doc_id",
        "n_frames",
        F.round("mean_rms", 6).alias("mean_rms"),
        F.round("peak_rms", 6).alias("peak_rms"),
    )


def _render_decode(mm: DataFrame, encode, decode, schema: str) -> DataFrame:
    """The D7 codec queries' one plan: render, then decode. Stage 1 maps
    ``encode(doc_id, payload) -> bytes`` over each row of ``mm`` into
    ``doc_id long, media binary`` — the encoded file a media table would
    store. Stage 2 sees only those bytes: ``decode(media)`` returns a list
    of row tuples (one per file, or one per frame where a query explodes
    rows), each emitted under ``schema`` with the file's ``doc_id`` put
    first. Two chained mapInPandas stages: Arrow batches in and out,
    partition-parallel, zero shuffles — the plumbing a library-backed
    codec drops into, byte-compatible payloads included."""
    names = [field.split()[0] for field in schema.split(",")]

    def render(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in frames:
            media = [
                encode(int(d), p) for d, p in zip(batch["doc_id"], batch["payload"])
            ]
            yield pd.DataFrame({"doc_id": batch["doc_id"], "media": media})

    def decode_rows(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in frames:
            rows = [
                (d, *row)
                for d, media in zip(batch["doc_id"], batch["media"])
                for row in decode(media)
            ]
            yield pd.DataFrame.from_records(rows, columns=names)

    media = mm.mapInPandas(render, schema="doc_id long, media binary")
    return media.mapInPandas(decode_rows, schema=schema)


def _digest_tile(payload: bytes, n: int) -> bytes:
    """The first ``n`` bytes of md5(payload) repeated — the pixel and
    sample source of the rendered media, which the oracles read back
    from md5(text)."""
    return (hashlib.md5(payload).digest() * (n // 16 + 1))[:n]


def _pixel_mean(px, n: int) -> float:
    """Exact integer sum of the uint8 samples ``px`` over ``n``."""
    return int(np.frombuffer(bytes(px), dtype=np.uint8).sum(dtype=np.int64)) / n


def _mulaw_wav(_doc_id: int, payload: bytes) -> bytes:
    """The mu-law WAV d7k and d7n render: ``48 + len(text) % 32``
    samples, sample i the exact mu-law reconstruction level addressed by
    digest byte i % 16 (sign = bit 0, mantissa = bits 1-4, exponent =
    bits 5-7), so companding round-trips losslessly."""
    ns = 48 + len(payload.decode("utf-8")) % 32
    x = np.frombuffer(_digest_tile(payload, ns), dtype=np.uint8).astype(np.int64)
    smp = (1 - 2 * (x & 1)) * (((8 * ((x >> 1) & 15) + 132) << (x >> 5)) - 132)
    return wav_encode_mulaw(mulaw_encode(smp.astype(np.int16)), 8000)


@query(
    "d7e_image_decode",
    oracle="""
        -- independent derivation of what the REAL PNG decode must find:
        -- dims from the deterministic construction, mean pixel from the
        -- md5 digest the pixel stream tiles (w*h is a multiple of 16, so
        -- the mean over pixels equals the mean of the 16 digest bytes)
        SELECT doc_id,
               CAST(16 * (1 + len(text) % 8) AS INT) AS width,
               CAST(1 + (len(text) * 7) % 48 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               round(list_sum(list_transform(range(0, 16),
                   i -> CAST(('0x' || substr(md5(text), i*2+1, 2)) AS INTEGER)))
                   / 16.0, 6) AS mean_pixel
        FROM documents WHERE doc_id < 60
    """,
    tags=("D7", "A33", "P2"),
)
def d7e_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-path multimodal extraction with a REAL decoder, done without
    codec libraries (`_render_decode`): stage 1 renders each document
    into genuine PNG bytes (8-bit grayscale, dims derived from the text
    length, pixels tiling the text's md5 digest); stage 2 — the graded
    path — gets ONLY the binary column and must parse it: signature
    check, per-chunk CRC32 verification, IDAT zlib inflate, scanline
    unfiltering, then numpy pixel statistics. The oracle derives the same
    numbers independently from the construction, so a decoder that
    misreads dims, drops a scanline, or mis-unfilters hash-mismatches.

    Mean over pixels is computed as exact integer sum / n_pixels: both
    engines' quotients are correctly-rounded versions of the same
    rational, so 6dp rounding cannot diverge."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))  # characters, matching len(text)
        w, h = 16 * (1 + n % 8), 1 + (n * 7) % 48
        return png_encode(_digest_tile(payload, w * h), w, h)

    def decode(png: bytes) -> list:
        w, h, depth, px = png_decode_gray(png)
        return [(w, h, depth, _pixel_mean(px, w * h))]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    out = _render_decode(
        mm, encode, decode,
        "doc_id long, width int, height int, bit_depth int, mean_pixel double",
    )
    return out.select(
        "doc_id", "width", "height", "bit_depth", F.round("mean_pixel", 6).alias("mean_pixel")
    )


@query(
    "d7f_jpeg_metadata",
    oracle="""
        -- independent derivation of what the REAL JPEG container parse
        -- must find: every field below is fixed by the deterministic
        -- construction, so a parser that misreads a marker length, the
        -- TIFF byte order, an IFD entry, or the entropy-segment boundary
        -- hash-mismatches.
        SELECT doc_id,
               CAST(8 * (1 + len(text) % 16) AS INT) AS width,
               CAST(1 + (len(text) * 5) % 64 AS INT) AS height,
               CAST(8 AS INT) AS precision,
               CAST(3 AS INT) AS n_components,
               CAST(1 + doc_id % 8 AS INT) AS orientation,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS exif_byte_order,
               CAST(16 + (len(text) * 3) % 32 AS INT) AS entropy_bytes
        FROM documents WHERE doc_id < 60
    """,
    tags=("D7", "A33", "P2"),
)
def d7f_jpeg_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG-path multimodal extraction with a REAL container+EXIF parser,
    no codec libraries (`_render_decode`): stage 1 renders each document
    into a structurally valid baseline-JFIF byte stream (SOI/APP0/APP1/
    DQT/SOF0/DHT/SOS/entropy/EOI; dims from the text length, EXIF
    Orientation from doc_id, TIFF byte order alternating II/MM so BOTH
    endiannesses are exercised); stage 2 — the graded path — gets ONLY
    the binary column and must walk the marker stream: big-endian segment
    lengths, JFIF id, the TIFF header + IFD0 entry decode inside APP1,
    SOF0 dims, and the 0xFF-stuffing-aware entropy-segment scan. The
    oracle derives the same values independently from the construction.
    This is the metadata pass PIL performs before pixel work; d7h grades
    the pixel path (entropy decode + IDCT)."""
    cols = (
        "width", "height", "precision", "n_components",
        "orientation", "exif_byte_order", "entropy_bytes",
    )

    def encode(doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))  # characters, matching len(text)
        return jpeg_encode_container(
            width=8 * (1 + n % 16),
            height=1 + (n * 5) % 64,
            orientation=1 + doc_id % 8,
            entropy_len=16 + (n * 3) % 32,
            byte_order="II" if doc_id % 2 == 0 else "MM",
        )

    def decode(jpeg: bytes) -> list:
        meta = jpeg_parse_meta(jpeg)
        return [tuple(meta[c] for c in cols)]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    return _render_decode(
        mm, encode, decode,
        "doc_id long, width int, height int, precision int, "
        "n_components int, orientation int, exif_byte_order string, "
        "entropy_bytes int",
    )


@query(
    "d7g_mp4_metadata",
    oracle="""
        -- independent derivation of what the REAL ISO-BMFF box walk must
        -- find: every field is fixed by the deterministic construction;
        -- mdat_bytes doubles as a cross-box consistency check (the mdat
        -- payload length must equal the stsz table's sample-size sum).
        SELECT doc_id,
               'isom' AS major_brand,
               CAST(1000 * (1 + doc_id % 3) AS INT) AS timescale,
               CAST(100 + (len(text) * 7) % 5000 AS INT) AS duration,
               CAST(16 * (1 + len(text) % 20) AS INT) AS width,
               CAST(16 * (1 + (len(text) * 3) % 20) AS INT) AS height,
               'vide' AS handler,
               CAST(1 + len(text) % 40 AS INT) AS n_samples,
               CAST(list_sum(list_transform(range(0, 1 + len(text) % 40),
                    i -> 8 + (len(text) + i) % 16)) AS INT) AS mdat_bytes
        FROM documents WHERE doc_id < 60
    """,
    tags=("D7", "A33", "P2"),
)
def d7g_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-path multimodal extraction with a REAL ISO-BMFF container
    parser, no codec libraries (`_render_decode`): stage 1 renders each
    document into a structurally valid MP4 box tree (ftyp / moov > mvhd +
    trak > tkhd + mdia > mdhd + hdlr + minf > stbl > stsz / mdat;
    timescale, duration, 16.16 fixed-point dims, and the per-sample size
    table all derived deterministically); stage 2 — the graded path —
    gets ONLY the binary column and must walk the box tree: big-endian
    sizes (incl. the 64-bit largesize form), nested containers, versioned
    full boxes, the fixed-point dim decode, and the stsz table sum, which
    it cross-checks against the actual mdat payload length. The oracle
    derives the same values independently from the construction. This is
    the metadata pass ffprobe performs before any codec work; d7j decodes
    frames of MJPEG tracks, and inter-coded codecs stay gated in
    `mp4_decode_frames`."""
    cols = (
        "major_brand", "timescale", "duration", "width", "height",
        "handler", "n_samples", "mdat_bytes",
    )

    def encode(doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))  # characters, matching len(text)
        return mp4_encode_container(
            duration=100 + (n * 7) % 5000,
            timescale=1000 * (1 + doc_id % 3),
            width=16 * (1 + n % 20),
            height=16 * (1 + (n * 3) % 20),
            sample_sizes=[8 + (n + i) % 16 for i in range(1 + n % 40)],
        )

    def decode(mp4: bytes) -> list:
        m = mp4_parse_meta(mp4)
        if m["total_sample_bytes"] != m["mdat_bytes"]:
            raise ValueError(
                f"stsz sum {m['total_sample_bytes']} != mdat payload "
                f"{m['mdat_bytes']}"
            )
        return [tuple(m[c] for c in cols)]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    return _render_decode(
        mm, encode, decode,
        "doc_id long, major_brand string, timescale int, duration int, "
        "width int, height int, handler string, n_samples int, "
        "mdat_bytes int",
    )


@query(
    "d7h_jpeg_decode",
    oracle="""
        -- independent derivation of what the REAL baseline-JPEG pixel
        -- decode must find: dims from the deterministic construction;
        -- mean pixel from the md5 digest the 8x8 blocks tile (the block
        -- count is a multiple of 16, and the DC-only round trip is
        -- bit-exact by construction — see jpeg_encode_gray's DC-step-8
        -- quantization table), so a decoder that misreads a Huffman
        -- code, the DC difference chain, a quantization step, or the
        -- zig-zag order hash-mismatches.
        SELECT doc_id,
               CAST(32 * (1 + len(text) % 2) AS INT) AS width,
               CAST(32 * (1 + (len(text) * 5) % 3) AS INT) AS height,
               CAST(1 AS INT) AS n_components,
               round(list_sum(list_transform(range(0, 16),
                   i -> CAST(('0x' || substr(md5(text), i*2+1, 2)) AS INTEGER)))
                   / 16.0, 6) AS mean_pixel
        FROM documents WHERE doc_id < 60
    """,
    tags=("D7", "A33", "P2"),
)
def d7h_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG pixel path with a REAL baseline codec, stdlib+numpy only
    (`_render_decode`): stage 1 renders each document into genuine
    baseline-JPEG bytes via a real encoder (level shift, 8x8 FDCT,
    quantize, zig-zag, DC-difference + AC run-length Huffman coding with
    the Annex-K luminance tables, byte stuffing); stage 2 — the graded
    path — gets ONLY the binary column and must entropy-DECODE it: DHT
    table reconstruction, Huffman decode, DC chain, dequantize,
    un-zig-zag, IDCT, level shift, clamp, then numpy pixel statistics.

    The construction makes the lossy codec exactly gradeable: every 8x8
    block is CONSTANT (one md5-digest byte per block, tiled), so the FDCT
    concentrates each block into its DC coefficient, and the DC
    quantization step is 8 (= the FDCT's DC gain), making the round trip
    bit-exact for every pixel value — the oracle derives the decoded
    stats from the construction alone. The block count is a multiple of
    16, so the mean over blocks equals the mean of the 16 digest bytes
    (same derivation trick as d7e's PNG path). AC/run-length/stuffing
    codepaths are exercised by the pytest roundtrips on random and
    gradient images (tests/test_jpeg_codec.py)."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))  # characters, matching len(text)
        bx, by = 4 * (1 + n % 2), 4 * (1 + (n * 5) % 3)
        vals = np.frombuffer(_digest_tile(payload, bx * by), dtype=np.uint8)
        px = np.repeat(np.repeat(vals.reshape(by, bx), 8, axis=0), 8, axis=1)
        return jpeg_encode_gray(px.tobytes(), bx * 8, by * 8)

    def decode(jpeg: bytes) -> list:
        w, h, nc, px = jpeg_decode_pixels(jpeg)
        return [(w, h, nc, _pixel_mean(px, w * h * nc))]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    out = _render_decode(
        mm, encode, decode,
        "doc_id long, width int, height int, n_components int, mean_pixel double",
    )
    return out.select(
        "doc_id", "width", "height", "n_components",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "d7i_jpeg_color_decode",
    oracle="""
        -- independent derivation of what the COLOR (4:2:0) JPEG decode
        -- must find. Each 16x16 MCU is a flat achromatic color (one md5
        -- byte on all three RGB channels), so the decoded luma is exact
        -- (BT.601 weights sum to 1), both chroma planes decode to exactly
        -- 128 (max_chroma_dev = 0 proves the chroma blocks, their
        -- downsample/upsample pair, and the color transform are clean),
        -- and the per-channel means equal the mean of the tiled digest
        -- bytes. A decoder that misorders the interleaved MCU blocks,
        -- mis-upsamples, or drifts in the color transform mismatches.
        SELECT doc_id,
               CAST(16 * (1 + len(text) % 4) AS INT) AS width,
               CAST(16 * (1 + (len(text) * 7) % 3) AS INT) AS height,
               CAST(3 AS INT) AS n_components,
               CAST(0 AS INT) AS max_chroma_dev,
               round(list_sum(list_transform(
                   range(0, (1 + len(text) % 4) * (1 + (len(text) * 7) % 3)),
                   i -> CAST(('0x' || substr(md5(text), (i % 16) * 2 + 1, 2))
                            AS INTEGER)))
                   / CAST((1 + len(text) % 4) * (1 + (len(text) * 7) % 3)
                          AS DOUBLE), 6) AS mean_red
        FROM documents WHERE doc_id < 60
    """,
    tags=("D7", "A33", "P2"),
)
def d7i_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR JPEG path, graded end-to-end (`_render_decode`): stage 1
    renders each document into a real 4:2:0 baseline-JPEG — RGB → JFIF
    YCbCr, chroma box-downsampled, interleaved MCUs (4 luma + 2 chroma
    blocks each) Huffman-coded; stage 2 — the graded path — must decode
    the interleaved MCU structure, upsample the chroma planes, and invert
    the color transform.

    Exactness construction: every 16x16 MCU is a flat ACHROMATIC color
    (r=g=b=digest byte), so Y round-trips exactly (the BT.601 luma
    weights sum to 1, and the DC-step-8 table makes the DC path lossless
    — same argument as d7h) and both chroma planes are exactly 128
    everywhere; the oracle asserts max_chroma_dev = 0 and derives the
    channel mean from the digest tiling. Chromatic fidelity (±1 rounding
    through the YCbCr chain) is pytest-gated instead
    (tests/test_jpeg_codec.py color suite)."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))
        mx, my = 1 + n % 4, 1 + (n * 7) % 3
        vals = np.frombuffer(_digest_tile(payload, mx * my), dtype=np.uint8)
        gray = np.repeat(np.repeat(vals.reshape(my, mx), 16, axis=0), 16, axis=1)
        rgb = np.stack([gray, gray, gray], axis=-1)
        return jpeg_encode_color(rgb.tobytes(), mx * 16, my * 16, "420")

    def decode(jpeg: bytes) -> list:
        w, h, nc, px = jpeg_decode_pixels(jpeg)
        ycc = np.frombuffer(px, dtype=np.uint8).reshape(h, w, nc)
        rgb = ycbcr_to_rgb(ycc)
        chroma_dev = int(np.abs(ycc[..., 1:].astype(np.int64) - 128).max())
        return [(w, h, nc, chroma_dev, int(rgb[..., 0].sum(dtype=np.int64)) / (w * h))]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    out = _render_decode(
        mm, encode, decode,
        "doc_id long, width int, height int, n_components int, "
        "max_chroma_dev int, mean_red double",
    )
    return out.select(
        "doc_id", "width", "height", "n_components", "max_chroma_dev",
        F.round("mean_red", 6).alias("mean_red"),
    )


@query(
    "d7j_mjpeg_frame_decode",
    oracle="""
        -- independent derivation of what the REAL MJPEG-in-MP4 frame
        -- decode must find: each of the doc's frames is a 16x16 JPEG of
        -- four constant 8x8 blocks drawn from the md5 digest (frame f
        -- uses bytes 4f..4f+3), so a decoder that slices mdat at the
        -- wrong stsz offsets, drops a frame, or mis-decodes a JPEG
        -- mismatches. Frame means are quarters — exact at 2 decimals.
        SELECT doc_id,
               CAST(i AS INT) AS frame_idx,
               CAST(16 AS INT) AS width,
               CAST(16 AS INT) AS height,
               round(( CAST(('0x' || substr(md5(text), i*8+1, 2)) AS INTEGER)
                     + CAST(('0x' || substr(md5(text), i*8+3, 2)) AS INTEGER)
                     + CAST(('0x' || substr(md5(text), i*8+5, 2)) AS INTEGER)
                     + CAST(('0x' || substr(md5(text), i*8+7, 2)) AS INTEGER)
                     ) / 4.0, 6) AS frame_mean
        FROM (SELECT doc_id, text, unnest(range(0, 1 + len(text) % 4)) AS i
              FROM documents WHERE doc_id < 60)
    """,
    tags=("D7", "A33", "P2"),
)
def d7j_mjpeg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO frame decode, graded end-to-end (`_render_decode`): stage 1
    renders each document as a real MJPEG-in-MP4 track (1-4 frames of
    16x16 constant-block JPEGs from the md5 digest, stsd 'jpeg' sample
    entry, true stsz sizes, concatenated mdat); stage 2 — the graded path
    — must walk the box tree, slice mdat by the stsz table, and
    entropy-decode EVERY frame with the baseline JPEG codec, emitting one
    row per frame. Constant blocks + the DC-step-8 table make each
    frame's pixels bit-exact (d7h's argument), so the oracle derives
    per-frame means from the digest. Inter-coded codecs (H.264 et al.)
    stay honestly gated in `mp4_decode_frames`; MJPEG is the real,
    decodable video path."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))
        digest = hashlib.md5(payload).digest()
        jpegs = []
        for f in range(1 + n % 4):
            vals = np.frombuffer(digest[4 * f : 4 * f + 4], dtype=np.uint8)
            px = np.repeat(np.repeat(vals.reshape(2, 2), 8, axis=0), 8, axis=1)
            jpegs.append(jpeg_encode_gray(px.tobytes(), 16, 16))
        return mp4_encode_mjpeg(jpegs, 16, 16)

    def decode(mp4: bytes) -> list:
        return [
            (idx, w, h, _pixel_mean(px, w * h * nc))
            for idx, (w, h, nc, px) in enumerate(mp4_decode_frames(mp4))
        ]

    mm = multimodal_frame(spark, sf_dir).filter(F.col("doc_id") < 60)
    out = _render_decode(
        mm, encode, decode,
        "doc_id long, frame_idx int, width int, height int, frame_mean double",
    )
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        F.round("frame_mean", 6).alias("frame_mean"),
    )


@query(
    "d7k_mulaw_audio_decode",
    oracle="""
        -- independent derivation of what the REAL G.711 mu-law WAV decode
        -- must find: sample i of each doc is BUILT as the exact mu-law
        -- reconstruction level addressed by digest byte i%16 (sign = bit0,
        -- mantissa = bits1-4, exponent = bits5-7), so companding
        -- round-trips losslessly and integer energy sums are exact. A
        -- decoder that mis-expands the code (wrong bias/shift), misreads
        -- the fmt-7 container, or drops samples mismatches.
        WITH s AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(text), (i % 16) * 2 + 1, 2))
                        AS INTEGER) AS x
            FROM (SELECT doc_id, text,
                         unnest(range(0, 48 + len(text) % 32)) AS i
                  FROM documents)
        ),
        v AS (
            SELECT doc_id,
                   (1 - 2 * (x & 1)) *
                   ((8 * ((x >> 1) & 15) + 132) * (1::BIGINT << (x >> 5))
                    - 132) AS smp
            FROM s
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_samples,
               CAST(8000 AS INT) AS sample_rate,
               CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
               CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
               CAST(max(abs(smp)) AS INT) AS peak_abs
        FROM v GROUP BY doc_id
    """,
    tags=("D7", "A33", "P2"),
)
def d7k_mulaw_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-audio decode, graded end-to-end (`_render_decode`):
    stage 1 renders each document as a real G.711 mu-law RIFF/WAVE file
    (`_mulaw_wav`, format tag 7) — deterministic int16 samples drawn from
    the md5 digest, companded by the real encoder; stage 2 — the graded
    path — must size-walk the RIFF chunks, honor the fmt-7 descriptor,
    and EXPAND every 8-bit code through the exact ITU mu-law formula
    before the integer energy aggregates.

    Exactness construction: rendered samples are exact mu-law
    reconstruction levels (mag = (8*mant + 132)*2^exp - 132), so
    encode→decode is the identity on them (pytest-verified over all 256
    codes) and the oracle derives the decoded values straight from the
    digest bytes. All aggregates are integer (sum|x|, sum x², peak) — no
    float summation order anywhere. The per-doc aggregation happens
    inside the decode stage (samples never leave the executor)."""

    def decode(wav: bytes) -> list:
        assert wav_parse_meta(wav)["audio_format"] == 7
        rate, _ch, pcm = wav_decode_samples(wav)
        s = pcm.astype(np.int64).ravel()
        return [(
            len(s), rate, int(np.abs(s).sum()), int((s * s).sum()),
            int(np.abs(s).max()),
        )]

    return _render_decode(
        multimodal_frame(spark, sf_dir), _mulaw_wav, decode,
        "doc_id long, n_samples int, sample_rate int, "
        "sum_abs long, sum_sq long, peak_abs int",
    )


@query(
    "d7l_adpcm_audio_decode",
    oracle="""
        -- independent derivation of the IMA ADPCM decode: the codec is
        -- STATEFUL (predictor + adaptive step index evolve per 4-bit
        -- code), so the oracle replays the exact state machine as a
        -- recursive CTE — sample 0 is the block-header predictor (digest
        -- bytes 0-1, signed LE int16), the step index seeds from byte 2
        -- (mod 89), and nibble k comes from byte (3 + k/2) of the
        -- repeated digest (low nibble first, the IMA packing order). A
        -- decoder with a wrong step table, wrong clamp, wrong index
        -- adaptation or one dropped nibble desynchronizes every later
        -- sample and mismatches.
        WITH RECURSIVE
        d AS (
          SELECT doc_id, md5(text) AS h, 37 + len(text) % 22 AS nn
          FROM documents
        ),
        ini AS (
          SELECT doc_id, nn,
                 CASE WHEN lo + 256 * hi >= 32768
                      THEN lo + 256 * hi - 65536 ELSE lo + 256 * hi END AS pred0,
                 b2 % 89 AS idx0
          FROM (SELECT doc_id, nn,
                       CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS lo,
                       CAST(('0x' || substr(h, 3, 2)) AS INTEGER) AS hi,
                       CAST(('0x' || substr(h, 5, 2)) AS INTEGER) AS b2
                FROM d)
        ),
        nib AS (
          SELECT doc_id, k,
                 (CAST(('0x' || substr(h, ((3 + k // 2) % 16) * 2 + 1, 2))
                       AS INTEGER) >> (4 * (k % 2))) & 15 AS n
          FROM (SELECT doc_id, h, unnest(range(0, nn)) AS k FROM d)
        ),
        walk AS (
          SELECT doc_id, CAST(0 AS BIGINT) AS k,
                 CAST(pred0 AS BIGINT) AS pred, CAST(idx0 AS BIGINT) AS idx, nn
          FROM ini
          UNION ALL
          SELECT doc_id, k + 1,
                 greatest(-32768, least(32767,
                     pred + CASE WHEN (n & 8) <> 0 THEN -df ELSE df END)),
                 greatest(0, least(88,
                     idx + ([-1,-1,-1,-1,2,4,6,8])[(n & 7) + 1])),
                 nn
          FROM (
            SELECT w.doc_id, w.k, w.pred, w.idx, w.nn, n.n,
                   (w.stp >> 3)
                   + CASE WHEN (n.n & 1) <> 0 THEN w.stp >> 2 ELSE 0 END
                   + CASE WHEN (n.n & 2) <> 0 THEN w.stp >> 1 ELSE 0 END
                   + CASE WHEN (n.n & 4) <> 0 THEN w.stp ELSE 0 END AS df
            FROM (SELECT *, ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
                              34,37,41,45,50,55,60,66,73,80,88,97,107,118,
                              130,143,157,173,190,209,230,253,279,307,337,
                              371,408,449,494,544,598,658,724,796,876,963,
                              1060,1166,1282,1411,1552,1707,1878,2066,2272,
                              2499,2749,3024,3327,3660,4026,4428,4871,5358,
                              5894,6484,7132,7845,8630,9493,10442,11487,
                              12635,13899,15289,16818,18500,20350,22385,
                              24623,27086,29794,32767])[idx + 1] AS stp
                  FROM walk) w
            JOIN nib n ON n.doc_id = w.doc_id AND n.k = w.k
            WHERE w.k < w.nn
          )
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_samples,
               CAST(sum(abs(pred)) AS BIGINT) AS sum_abs,
               CAST(sum(pred * pred) AS BIGINT) AS sum_sq,
               CAST(max(abs(pred)) AS INT) AS peak_abs,
               CAST(arg_max(pred, k) AS INT) AS last_sample
        FROM walk GROUP BY doc_id
    """,
    tags=("D7", "A33", "P2"),
)
def d7l_adpcm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL-codec decode, graded end-to-end (`_render_decode`): stage
    1 renders each document as a real IMA ADPCM RIFF/WAVE file (format
    tag 0x11) — block header (digest-seeded predictor + step index) plus
    a digest-derived 4-bit code stream; stage 2 — the graded path — must
    size-walk the RIFF chunks, parse the fmt-0x11 cbSize extension
    (wSamplesPerBlock), read the block header, unpack nibbles low-first,
    and replay the exact adaptive-quantizer recurrence (step table, both
    clamps, index adaptation) to reconstruct every sample.

    Unlike mu-law (d7k, stateless per sample) a single mis-decoded nibble
    here desynchronizes the remainder of the stream, so the integer
    aggregates (plus last_sample, a direct probe of the final state)
    certify the whole walk. The oracle replays the state machine as a
    recursive CTE — the same WITH RECURSIVE technique as the
    connected-components and context-chunking oracles, applied to codec
    state. Per-doc aggregation happens inside the decode stage (samples
    never leave the executor); at 100 TB each task decodes its own files
    independently."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        n = len(payload.decode("utf-8"))
        nn = 37 + n % 22
        dg = hashlib.md5(payload).digest()
        pred0 = int.from_bytes(dg[0:2], "little", signed=True)
        idx0 = dg[2] % 89
        nibs = [(dg[(3 + k // 2) % 16] >> (4 * (k % 2))) & 15 for k in range(nn)]
        return wav_encode_adpcm(pred0, idx0, pack_nibbles(nibs), nn, 8000)

    def decode(wav: bytes) -> list:
        assert wav_parse_meta(wav)["audio_format"] == 0x11
        s = wav_decode_samples(wav)[2].astype(np.int64).ravel()
        return [(
            len(s), int(np.abs(s).sum()), int((s * s).sum()),
            int(np.abs(s).max()), int(s[-1]),
        )]

    return _render_decode(
        multimodal_frame(spark, sf_dir), encode, decode,
        "doc_id long, n_samples int, sum_abs long, sum_sq long, "
        "peak_abs int, last_sample int",
    )


def _render_gifs(frames) -> "pd.DataFrame":
    """mapInPandas render half: payload → real GIF89a bytes (digest-derived
    8-bit grayscale, 16xH). The INGEST-side encode — production stores
    these bytes in the table; the store builder and the inline parity
    path share this exact function."""
    import hashlib

    import numpy as np

    from ..sources.multimodal import gif_encode_gray

    for batch in frames:
        gifs = []
        for b in batch["payload"]:
            n = len(b.decode("utf-8"))
            gh = 4 + n % 7
            dg = np.frombuffer(hashlib.md5(b).digest(), dtype=np.uint8)
            # row r, col c: (dg[c] + 37r) % 256 — uint8 wraparound
            px = (
                dg[None, :] + (37 * np.arange(gh, dtype=np.uint8))[:, None]
            ).tobytes()
            gifs.append(gif_encode_gray(px, 16, gh))
        yield pd.DataFrame({"doc_id": batch["doc_id"], "gif": gifs})


def _decode_gif_aggregates(gifs_df: DataFrame) -> DataFrame:
    """The GRADED decode half: real GIF89a bytes → per-image integer
    aggregates, through the vectorized batch decoder: one
    table-gather LZW pass + one palette gather for ALL frames in the
    Arrow batch, aggregates as reduceat segments over the concatenated
    luminance stream — no per-image Python anywhere."""
    from collections.abc import Iterator

    from ..sources.multimodal import gif_decode_batch

    def decode(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for batch in frames:
            decoded = gif_decode_batch([bytes(g) for g in batch["gif"]])
            if not decoded:
                continue
            tri = np.frombuffer(
                b"".join(rgb for _w, _h, rgb in decoded), dtype=np.uint8
            ).reshape(-1, 3)
            assert (tri[:, 1:] == tri[:, :1]).all(), "grayscale palette violated"
            lum = tri[:, 0].astype(np.int64)
            sizes = np.array([w * h for w, h, _ in decoded], dtype=np.int64)
            starts = np.zeros(len(sizes), dtype=np.int64)
            np.cumsum(sizes[:-1], out=starts[1:])
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "width": np.array([w for w, _, _ in decoded], dtype=np.int32),
                    "height": np.array([h for _, h, _ in decoded], dtype=np.int32),
                    "sum_lum": np.add.reduceat(lum, starts),
                    "sum_sq": np.add.reduceat(lum * lum, starts),
                    "peak": np.maximum.reduceat(lum, starts).astype(np.int32),
                    "first_px": lum[starts].astype(np.int32),
                    "last_px": lum[starts + sizes - 1].astype(np.int32),
                }
            )

    return gifs_df.mapInPandas(
        decode,
        schema=(
            "doc_id long, width int, height int, sum_lum long, "
            "sum_sq long, peak int, first_px int, last_px int"
        ),
    )


#: serializes GIF store builds (one `.build.<pid>` dir per store)
_GIF_STORE_LOCK = __import__("threading").Lock()


def gif_store_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the rendered GIF payloads ONCE per corpus generation —
    the build/serve split for media: production tables STORE encoded
    bytes, so the encode runs at ingest and the serving path is
    decode-only. Built through
    `maintenance.artifact_dir` (the IVF index's durable-store rule) and
    memoized per corpus generation. Build/serve parity with the inline
    render+decode pass is asserted by tests/test_gif_codec.py."""
    import os

    from ..session import generation, plan_memo
    from ..sources.maintenance import artifact_dir

    path, mtime = generation(sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir))

    def write(out: str) -> None:
        multimodal_frame(spark, sf_dir).mapInPandas(
            _render_gifs, schema="doc_id long, gif binary"
        ).write.mode("overwrite").parquet(out)

    def build() -> str:
        with _GIF_STORE_LOCK:
            return artifact_dir(f"gifstore_{tag}_{mtime}", write)

    return plan_memo("gif_store_dir", (path, mtime), build)


def d7m_render_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused render+decode pass (no store) — the bit-parity twin the
    build/serve test holds ``d7m`` against, and the shape a one-shot
    backfill would run."""
    from ..sources.multimodal import multimodal_frame

    gifs = multimodal_frame(spark, sf_dir).mapInPandas(
        _render_gifs, schema="doc_id long, gif binary"
    )
    return _decode_gif_aggregates(gifs)


@query(
    "d7m_gif_lzw_decode",
    oracle="""
        -- independent derivation of the GIF decode: pixel p of each
        -- doc's 16-wide image is BUILT as (digest_byte(p%16) + 37*row)
        -- % 256, so the oracle reads the expected luminance straight
        -- from the digest while the graded path must round-trip those
        -- pixels through a REAL GIF89a file — hand-rolled variable-width
        -- LZW (both directions), sub-block framing, the grayscale global
        -- color table. A decoder with a wrong width-bump, broken KwKwK
        -- handling or off-by-one sub-block walk mismatches.
        WITH px AS (
          SELECT doc_id, h, p,
                 (CAST(('0x' || substr(hh, (p % 16) * 2 + 1, 2))
                       AS INTEGER) + (p // 16) * 37) % 256 AS x
          FROM (SELECT doc_id, 4 + len(text) % 7 AS h, md5(text) AS hh,
                       unnest(range(0, 16 * (4 + len(text) % 7))) AS p
                FROM documents)
        )
        SELECT doc_id,
               CAST(16 AS INT) AS width,
               CAST(max(h) AS INT) AS height,
               CAST(sum(x) AS BIGINT) AS sum_lum,
               CAST(sum(x * x) AS BIGINT) AS sum_sq,
               CAST(max(x) AS INT) AS peak,
               CAST(arg_min(x, p) AS INT) AS first_px,
               CAST(arg_max(x, p) AS INT) AS last_px
        FROM px GROUP BY doc_id
    """,
    tags=("D7", "A33", "P2"),
)
def d7m_gif_lzw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAND-ROLLED-LZW image decode, graded end-to-end: the corpus's
    documents render as real GIF89a files (digest-derived 8-bit
    grayscale pixels, 16xH) and the graded path must validate the
    signature, walk the logical screen descriptor + 256-entry color
    table, reassemble the <=255-byte data sub-blocks, and decompress the
    variable-width LZW stream with NO library support (unlike PNG, where
    DEFLATE comes from stdlib zlib, GIF's LZW has no stdlib
    implementation — encoder and decoder are both hand-written:
    clear/EOI codes, width bumps with the decoder's one-entry dictionary
    lag, the 12-bit cap with rebuild, the KwKwK just-assigned-code case).

    All aggregates are integers over the decoded luminances plus
    positional probes (first/last pixel) that catch ordering bugs a
    commutative sum would forgive.

    Scale shape: the ENCODE runs at ingest — ``gif_store_dir``
    materializes the rendered payloads once per corpus generation (the
    d8g durable-index convention; production media tables store encoded
    bytes) — so the graded serving path is
    ONE decode-only mapInPandas over real GIF bytes, vectorized across
    the whole Arrow batch by the table-gather LZW decoder
    (``_lzw_decompress_batch``: fixed-width fast path + scalar fallback,
    bit-parity fuzz-tested) with reduceat aggregates. Zero shuffles,
    zero per-image Python on the hot path; build/serve parity vs the
    fused inline pass is pytest-asserted."""
    store = gif_store_dir(spark, sf_dir)
    return _decode_gif_aggregates(spark.read.parquet(store))


@query(
    "d7n_audio_frame_features",
    oracle="""
        -- independent derivation of framed audio features: samples are
        -- the d7k mu-law reconstruction levels (digest-addressed, so
        -- exact integers), framing is the standard STFT grid (length 16,
        -- hop 8 = 50% overlap), features are integer energy, peak and
        -- zero-crossing count (strict sign flips between consecutive
        -- in-frame samples). A decoder or framer that drops a sample,
        -- misaligns the hop or counts zeros as crossings mismatches.
        WITH s AS (
            SELECT doc_id, i,
                   (1 - 2 * (x & 1)) *
                   ((8 * ((x >> 1) & 15) + 132) * (1::BIGINT << (x >> 5))
                    - 132) AS smp
            FROM (SELECT doc_id,
                         CAST(('0x' || substr(md5(text), (i % 16) * 2 + 1, 2))
                              AS INTEGER) AS x,
                         i
                  FROM (SELECT doc_id, text,
                               unnest(range(0, 48 + len(text) % 32)) AS i
                        FROM documents))
        ),
        p AS (
            SELECT doc_id, i, smp,
                   lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prv
            FROM s
        ),
        f AS (
            SELECT doc_id,
                   unnest(range(0, ((48 + len(text) % 32) - 16) // 8 + 1))
                       AS frame_idx
            FROM documents
        )
        SELECT f.doc_id AS doc_id,
               CAST(f.frame_idx AS INT) AS frame_idx,
               CAST(sum(p.smp * p.smp) AS BIGINT) AS energy,
               CAST(max(abs(p.smp)) AS INT) AS peak,
               CAST(sum(CASE WHEN p.i > f.frame_idx * 8
                              AND p.prv * p.smp < 0 THEN 1 ELSE 0 END)
                    AS INT) AS zcr
        FROM f JOIN p
          ON p.doc_id = f.doc_id
         AND p.i BETWEEN f.frame_idx * 8 AND f.frame_idx * 8 + 15
        GROUP BY f.doc_id, f.frame_idx
    """,
    tags=("D7", "A33", "P2"),
)
def d7n_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE-EXTRACTION stage, graded end-to-end
    (`_render_decode`): the step a training pipeline runs after codec
    decode — frame the PCM stream on the standard STFT grid (frame 16,
    hop 8: 50% overlap) and emit per-frame integer features (energy =
    sum x^2, peak, zero-crossing count with the strict-sign-flip
    convention). Stage 1 renders the d7k mu-law WAV (`_mulaw_wav`); stage
    2 REALLY decodes it (RIFF walk + G.711 expansion) and frames with
    numpy fancy indexing.

    Unlike d7k/d7l (per-doc aggregates) this emits the per-frame feature
    MATRIX — the row-explosion shape (|docs| x |frames|) a downstream
    audio-quality filter consumes; framing multiplies rows inside the
    executor, never through an exchange."""
    frame, hop = 16, 8

    def decode(wav: bytes) -> list:
        s = wav_decode_samples(wav)[2].astype(np.int64).ravel()
        nf = (len(s) - frame) // hop + 1
        w = s[np.arange(frame)[None, :] + hop * np.arange(nf)[:, None]]
        return list(zip(
            range(nf),
            (w * w).sum(axis=1).tolist(),
            np.abs(w).max(axis=1).tolist(),
            ((w[:, :-1] * w[:, 1:]) < 0).sum(axis=1).tolist(),
        ))

    return _render_decode(
        multimodal_frame(spark, sf_dir), _mulaw_wav, decode,
        "doc_id long, frame_idx int, energy long, peak int, zcr int",
    )


@query(
    "d7o_format_quarantine",
    oracle="""
        -- independent derivation of the ingest-quarantine verdicts: doc
        -- i is RENDERED as format i%5 and files with i%17==0 are
        -- truncated to 24 bytes, so the oracle knows every verdict a priori
        -- while the graded path must earn it — sniff the container by
        -- magic bytes alone and run the REAL full-structure validation
        -- (PNG chunk walk + CRCs, JPEG segment scan + entropy decode,
        -- GIF palette + LZW, RIFF size walk + mu-law expand, MP4 box
        -- walk with the stsz-vs-mdat cross-check). A decoder that
        -- rejects any well-formed file or accepts any truncated one
        -- flips a row.
        SELECT doc_id,
               CASE CAST(doc_id % 5 AS INT)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
                    ELSE 'mp4' END AS fmt,
               CAST(CASE WHEN doc_id % 17 = 0 THEN 0 ELSE 1 END AS INT)
                   AS valid
        FROM documents
    """,
    tags=("D7", "A33", "P2"),
)
def d7o_format_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal INGEST QUARANTINE, graded end-to-end (`_render_decode`):
    the operational front door of a 100 TB media pipeline — classify
    every binary payload by magic bytes (`sniff_format`, never by
    filename or metadata), run the full structural validation for its
    format, and quarantine corrupt files instead of crashing the job.
    Stage 1 renders each doc as one of the five REAL container formats
    this engine speaks (PNG, baseline JPEG, GIF89a, mu-law RIFF/WAVE,
    ISO-BMFF MP4; format = doc_id % 5) and TRUNCATES every 17th payload
    to 24 bytes; stage 2 — the graded path — sniffs and fully validates:
    PNG chunk walk with CRC checks, JPEG marker scan + entropy decode, GIF
    palette + LZW decompression, RIFF size walk + G.711 expansion, MP4
    box walk with the stsz-vs-mdat cross-check (the box walk itself
    tolerates truncation, so validity asserts the required boxes exist
    and agree).

    The oracle knows every verdict from the construction; the engine has
    to EARN each one through real parsing, so all five codecs' accept
    AND reject paths are graded in one query. Per-file try/except is the
    quarantine semantics (errors become rows, never task failures)."""

    def encode(doc_id: int, payload: bytes) -> bytes:
        dg = hashlib.md5(payload).digest() * 3
        f = doc_id % 5
        if f == 0:
            data = png_encode(dg[:48], 8, 6)
        elif f == 1:
            data = jpeg_encode_gray([dg[i % 48] for i in range(128)], 16, 8)
        elif f == 2:
            data = gif_encode_gray(dg[:48], 8, 6)
        elif f == 3:
            smp = np.frombuffer(dg[:48], dtype=np.uint8).astype(np.int64) * 64 - 8000
            data = wav_encode_mulaw(mulaw_encode(smp.astype(np.int16)), 8000)
        else:
            data = mp4_encode_container(90, 30, 64, 48, [8 + dg[0] % 8, 8 + dg[1] % 8])
        return data[:24] if doc_id % 17 == 0 else data

    def mp4_validate(data: bytes) -> None:
        meta = mp4_parse_meta(data)
        if any(
            meta[k] is None
            for k in ("timescale", "duration", "n_samples",
                      "total_sample_bytes", "mdat_bytes")
        ) or meta["total_sample_bytes"] != meta["mdat_bytes"]:
            raise ValueError("MP4 lacks a required box or stsz disagrees with mdat")

    validate = {
        "png": png_decode, "jpeg": jpeg_decode_pixels, "gif": gif_decode,
        "wav": wav_decode_samples, "mp4": mp4_validate,
    }

    def decode(blob: bytes) -> list:
        fmt = sniff_format(blob)
        if fmt is None:
            return [("unknown", 0)]
        try:
            validate[fmt](blob)
        except Exception:
            return [(fmt, 0)]
        return [(fmt, 1)]

    return _render_decode(
        multimodal_frame(spark, sf_dir), encode, decode,
        "doc_id long, fmt string, valid int",
    )


@query(
    "d7p_png_hand_inflate",
    oracle="""
        -- independent derivation for the LIBRARY-FREE PNG chain: pixels
        -- tile the md5 digest exactly h times (w=16), so integer sums,
        -- squares and the positional first/last probes all come straight
        -- from the 16 digest bytes. The graded path must run the ENTIRE
        -- decode with no compression library: chunk walk + CRCs, then
        -- the hand-rolled RFC 1950/1951 inflate (zlib header check,
        -- stored/fixed/dynamic-Huffman blocks, LZ77 back-references,
        -- Adler-32), then scanline unfiltering.
        WITH b AS (
            SELECT doc_id, 2 + len(text) % 6 AS h,
                   list_transform(range(0, 16),
                       i -> CAST(('0x' || substr(md5(text), i*2+1, 2))
                                 AS BIGINT)) AS d
            FROM documents
        )
        SELECT doc_id,
               CAST(16 AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(h * list_sum(d) AS BIGINT) AS sum_px,
               CAST(h * list_sum(list_transform(d, x -> x * x)) AS BIGINT)
                   AS sum_sq,
               CAST(d[1] AS INT) AS first_px,
               CAST(d[16] AS INT) AS last_px
        FROM b
    """,
    tags=("D7", "A33", "P2"),
)
def d7p_png_hand_inflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully LIBRARY-FREE image chain, graded end-to-end
    (`_render_decode`): d7e's PNG decode re-run with the hand-rolled
    DEFLATE inflate (sources/multimodal.inflate — RFC 1950 zlib wrapper
    + RFC 1951 stored/fixed/dynamic-Huffman blocks, the LZ77 extra-bit
    tables, the code-length meta-alphabet, overlap-copy back-references,
    Adler-32 verification) instead of stdlib zlib. With GIF's LZW already
    hand-rolled, every compression layer the image path depends on is
    implemented in this repo; stdlib zlib remains the production fast
    path (C beats Python), and this query PROVES the two agree on genuine
    encoder output bit-for-bit — a wrong width bump, a mis-ordered
    canonical code or a broken repeat symbol mismatches.

    Integer aggregates plus first/last positional probes (ordering bugs
    a commutative sum would forgive)."""

    def encode(_doc_id: int, payload: bytes) -> bytes:
        h = 2 + len(payload.decode("utf-8")) % 6
        return png_encode(_digest_tile(payload, 16 * h), 16, h)

    def decode(png: bytes) -> list:
        w, h, _depth, _color, px = png_decode(png, raw_inflate=inflate)
        return [(w, h, sum(px), sum(x * x for x in px), px[0], px[-1])]

    return _render_decode(
        multimodal_frame(spark, sf_dir), encode, decode,
        "doc_id long, width int, height int, sum_px long, "
        "sum_sq long, first_px int, last_px int",
    )


@query(
    "d7q_bmp_decode",
    oracle="""
        -- independent derivation of the BMP decode: pixel p of each
        -- doc's 16-wide image is BUILT as (digest_byte(p%16) + 41*row)
        -- % 256, so the oracle reads the expected luminance straight
        -- from the digest while the graded path must round-trip those
        -- pixels through a REAL 8-bit palettized BMP — bottom-up row
        -- order, 4-byte row padding, BGRA palette. A decoder that skips
        -- the flip, miscounts the pad or reads RGB order mismatches on
        -- the positional probes.
        WITH px AS (
          SELECT doc_id, h, p,
                 (CAST(('0x' || substr(hh, (p % 16) * 2 + 1, 2))
                       AS INTEGER) + (p // 16) * 41) % 256 AS x
          FROM (SELECT doc_id, 5 + len(text) % 6 AS h, md5(text) AS hh,
                       unnest(range(0, 16 * (5 + len(text) % 6))) AS p
                FROM documents)
        )
        SELECT doc_id,
               CAST(16 AS INT) AS width,
               CAST(max(h) AS INT) AS height,
               CAST(sum(x) AS BIGINT) AS sum_lum,
               CAST(sum(x * x) AS BIGINT) AS sum_sq,
               CAST(max(x) AS INT) AS peak,
               CAST(arg_min(x, p) AS INT) AS first_px,
               CAST(arg_max(x, p) AS INT) AS last_px
        FROM px GROUP BY doc_id
    """,
    tags=("D7", "A33", "P2"),
)
def d7q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP (Windows DIB) image decode, graded end-to-end (the sixth real
    container in the codec library): each document renders as an
    8-bit palettized BMP (digest-derived grayscale, 16xH) and the graded
    path must validate both headers, walk the BGRA palette, strip the
    4-byte row padding and RE-FLIP the bottom-up rows. The positional
    probes (first/last pixel) are what catch a missing flip — sum/peak
    are row-order-blind, first_px is not.

    Scale shape: ONE fused mapInPandas (encoded bytes never cross Arrow
    between stages), zero shuffles, per-doc aggregation inside the
    stage."""
    from collections.abc import Iterator

    from ..sources.multimodal import bmp_decode, bmp_encode_gray, multimodal_frame

    def render_decode(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for batch in frames:
            rows = {
                "doc_id": [], "width": [], "height": [], "sum_lum": [],
                "sum_sq": [], "peak": [], "first_px": [], "last_px": [],
            }
            for doc_id, b in zip(batch["doc_id"], batch["payload"]):
                n = len(b.decode("utf-8"))
                bh = 5 + n % 6
                dg = np.frombuffer(hashlib.md5(b).digest(), dtype=np.uint8)
                px = (
                    dg[None, :] + (41 * np.arange(bh, dtype=np.uint8))[:, None]
                ).tobytes()
                bmp = bmp_encode_gray(px, 16, bh)
                w, h, rgb = bmp_decode(bmp)
                tri = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
                assert (tri == tri[:, :1]).all(), "grayscale palette violated"
                lum = tri[:, 0].astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_lum"].append(int(lum.sum()))
                rows["sum_sq"].append(int((lum * lum).sum()))
                rows["peak"].append(int(lum.max()))
                rows["first_px"].append(int(lum[0]))
                rows["last_px"].append(int(lum[-1]))
            yield pd.DataFrame(rows)

    return multimodal_frame(spark, sf_dir).mapInPandas(
        render_decode,
        schema=(
            "doc_id long, width int, height int, sum_lum long, "
            "sum_sq long, peak int, first_px int, last_px int"
        ),
    )


#: joint-budget units for interleaved record assembly: one text token =
#: 1 unit; one image = _MM_IMG_UNITS (the patch-token cost a multimodal
#: trainer charges per image slot); one record holds _MM_REC_BUDGET units.
_MM_IMG_UNITS = 32
_MM_REC_BUDGET = 256

_MM_MD5_BYTE_SQL = (
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 16"
    " + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 17)"
)


def _mm_interleave_oracle() -> str:
    """Round-for-round CTE twin of the d7r fold: deterministic media
    attachment, doc-local segment manifests, then the recursive next-fit
    state machine (the d13d recipe) and per-record rollups."""
    u, b = _MM_IMG_UNITS, _MM_REC_BUDGET
    return f"""
        WITH RECURSIVE segs AS (
            SELECT source, lang, doc_id, m, n,
                   least(n + m * {u}, {b}) AS units,
                   CASE m
                     WHEN 0 THEN 't:' || n
                     WHEN 1 THEN 't:' || (n // 2)
                          || '|i:' || md5(CAST(doc_id AS VARCHAR) || ':1')
                          || '|t:' || (n - n // 2)
                     ELSE 't:' || (n // 3)
                          || '|i:' || md5(CAST(doc_id AS VARCHAR) || ':1')
                          || '|t:' || (2 * n // 3 - n // 3)
                          || '|i:' || md5(CAST(doc_id AS VARCHAR) || ':2')
                          || '|t:' || (n - 2 * n // 3)
                   END AS seg_str,
                   row_number() OVER (PARTITION BY source, lang
                                      ORDER BY doc_id) AS rn
            FROM (SELECT source, lang, doc_id,
                         {_MM_MD5_BYTE_SQL} % 3 AS m,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                  FROM documents)
        ),
        state(source, lang, rn, rec_id, rem, off) AS (
            SELECT source, lang, rn, 1, {b} - units, 0 FROM segs WHERE rn = 1
            UNION ALL
            SELECT t.source, t.lang, t.rn,
                   CASE WHEN t.units <= s.rem THEN s.rec_id ELSE s.rec_id + 1 END,
                   CASE WHEN t.units <= s.rem THEN s.rem - t.units
                        ELSE {b} - t.units END,
                   CASE WHEN t.units <= s.rem THEN {b} - s.rem ELSE 0 END
            FROM state s JOIN segs t ON t.source = s.source AND t.lang = s.lang
                                    AND t.rn = s.rn + 1
        ),
        assigned AS (
            SELECT g.source, g.lang, g.m, g.n, g.units, g.doc_id,
                   st.rec_id,
                   CAST(g.doc_id AS VARCHAR) || '@' || st.off || '!' || g.seg_str
                       AS part
            FROM segs g JOIN state st ON st.source = g.source
                                     AND st.lang = g.lang AND st.rn = g.rn
        )
        SELECT source, lang, CAST(rec_id AS BIGINT) AS rec_id,
               count(*) AS n_docs,
               CAST(sum(m) AS BIGINT) AS n_images,
               CAST(sum(n) AS BIGINT) AS text_tokens,
               CAST(sum(units) AS BIGINT) AS units_used,
               CAST({b} - sum(units) AS BIGINT) AS pad_units,
               CAST(1000000::BIGINT * sum(units) // {b} AS BIGINT) AS fill_ppm,
               md5(string_agg(part, '|' ORDER BY doc_id)) AS manifest_md5
        FROM assigned GROUP BY source, lang, rec_id
    """


@query(
    "d7r_interleaved_multimodal",
    oracle=_mm_interleave_oracle(),
    tags=("D7r", "D7", "D13", "D32", "P1"),
)
def d7r_interleaved_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved multimodal training-record assembly — the MMC4/OBELICS
    shape [public: Zhu et al. 2023 (MMC4); Laurencon et al. 2023
    (OBELICS)]: each document is joined to its media attachments
    (deterministically derived here: first-md5-byte(doc_id) % 3 images,
    digest md5(doc_id:k), inserted at evenly spaced token positions —
    the stand-in for a media-table join, same convention as the d7
    payload family), laid out as an ordered (text-chunk | image-ref)*
    segment sequence, then packed into fixed-size training records under
    a JOINT budget (text token = 1 unit, image = _MM_IMG_UNITS units,
    record = _MM_REC_BUDGET units) with d13d boundary rules: no document
    spans two records, over-budget documents truncate. Each record emits
    a manifest — doc offsets within the record plus the per-doc segment
    layout with media digests — hashed to one md5, so segment ordering,
    insertion positions, offsets AND packing assignments are all
    hash-checked against the recursive-CTE oracle.

    Scale: segment construction is doc-local JVM expressions (zero
    Python, zero shuffle); packing is the d13d sequential fold — ONE
    shard-keyed shuffle into applyInPandas over the (source, lang) grid,
    which emits finished per-record rows, so no second shuffle follows
    (records never span shards; at 100 TB sub-shard by a bounded ingest
    key like d13b and offset rec_ids per sub-shard)."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10)"
            " as int) % 3"
        ).alias("m"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
    ).select(
        "source",
        "lang",
        "doc_id",
        "m",
        "n",
        F.expr(f"least(n + m * {_MM_IMG_UNITS}, {_MM_REC_BUDGET})").alias("units"),
        F.expr(
            """case m
                 when 0 then concat('t:', n)
                 when 1 then concat('t:', n div 2,
                      '|i:', md5(concat(cast(doc_id as string), ':1')),
                      '|t:', n - n div 2)
                 else concat('t:', n div 3,
                      '|i:', md5(concat(cast(doc_id as string), ':1')),
                      '|t:', 2 * n div 3 - n div 3,
                      '|i:', md5(concat(cast(doc_id as string), ':2')),
                      '|t:', n - 2 * n div 3)
               end"""
        ).alias("seg_str"),
    )

    budget = _MM_REC_BUDGET

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        out = {
            "source": [], "lang": [], "rec_id": [], "n_docs": [],
            "n_images": [], "text_tokens": [], "units_used": [],
            "manifest_str": [],
        }
        rec_id, rem = 0, 0
        docs = imgs = toks = used = 0
        parts: list[str] = []

        def flush() -> None:
            if rec_id:
                out["source"].append(key[0])
                out["lang"].append(key[1])
                out["rec_id"].append(rec_id)
                out["n_docs"].append(docs)
                out["n_images"].append(imgs)
                out["text_tokens"].append(toks)
                out["units_used"].append(used)
                out["manifest_str"].append("|".join(parts))

        for row in pdf.itertuples():
            u = int(row.units)
            if rec_id == 0 or u > rem:
                flush()
                rec_id += 1
                rem = budget - u
                off = 0
                docs = imgs = toks = used = 0
                parts = []
            else:
                off = budget - rem
                rem -= u
            docs += 1
            imgs += int(row.m)
            toks += int(row.n)
            used += u
            parts.append(f"{row.doc_id}@{off}!{row.seg_str}")
        flush()
        return pd.DataFrame(out)

    packed = base.groupBy("source", "lang").applyInPandas(
        pack,
        "source string, lang string, rec_id long, n_docs long, n_images long, "
        "text_tokens long, units_used long, manifest_str string",
    )
    return packed.select(
        "source",
        "lang",
        "rec_id",
        "n_docs",
        "n_images",
        "text_tokens",
        "units_used",
        (F.lit(budget) - F.col("units_used")).alias("pad_units"),
        F.expr(f"1000000L * units_used div {budget}").alias("fill_ppm"),
        F.md5("manifest_str").alias("manifest_md5"),
    )


@query(
    "d7s_image_pixel_dedup",
    oracle="""
        -- independent derivation of the pixel-dedup groups: the rendered
        -- thumbnail's pixel array IS the 40-char-prefix digest tiled 8x
        -- (16x8 gray), so its canonical lowercase-hex digest equals
        -- md5(repeat(md5(prefix), 8)) — computable without any codec.
        -- A group spanning both parities proves the match happened on
        -- DECODED pixels (PNG and BMP container bytes can never collide).
        SELECT pixel_digest, n_docs, n_formats, min_doc_id, sum_doc_id
        FROM (
            SELECT md5(repeat(md5(substr(text, 1, 40)), 8)) AS pixel_digest,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_formats,
                   min(doc_id) AS min_doc_id,
                   CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
            FROM documents GROUP BY 1
        ) WHERE n_docs >= 2
    """,
    tags=("D53", "D7", "D1", "P1"),
)
def d7s_image_pixel_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT-BLIND exact image dedup [public: LAION/DataComp pipelines
    dedup images by decoded-content hash, not file bytes — the same
    picture re-encoded (format, encoder settings) changes every container
    byte]: each document's 40-char-prefix thumbnail renders as a real PNG
    (even doc_id) or a real BMP (odd doc_id) — identical pixel content,
    disjoint byte representations — and the graded path must SNIFF the
    container, run the matching hand-rolled decoder (PNG: CRC/inflate/
    unfilter; BMP: palette walk + bottom-up re-flip), canonicalize to the
    gray pixel array, and group by its digest. Byte-keyed dedup scores
    ZERO across formats here; the oracle's n_formats column counts
    parities per group, so every cross-format group certifies the match
    happened on decoded pixels.

    Scale: render+decode is one fused mapInPandas (partition-parallel,
    zero shuffle — at 100 TB the decode runs where the blobs live); the
    dedup is ONE digest-keyed partial-agg groupBy carrying 16-byte
    digests, never pixels (the d1 posture). Keep-min semantics ride the
    same aggregate (min_doc_id)."""
    from collections.abc import Iterator

    from ..sources.multimodal import (
        bmp_decode,
        bmp_encode_gray,
        multimodal_frame,
        png_decode_gray,
        png_encode,
        sniff_format,
    )

    def render_decode(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for batch in frames:
            rows = {"doc_id": [], "fmt": [], "pixel_digest": []}
            for doc_id, b in zip(batch["doc_id"], batch["payload"]):
                prefix = bytes(b).decode("utf-8")[:40].encode("utf-8")
                px = hashlib.md5(prefix).digest() * 8
                img = (
                    png_encode(px, 16, 8)
                    if doc_id % 2 == 0
                    else bmp_encode_gray(px, 16, 8)
                )
                # graded half: sniff + decode + canonicalize (no peeking
                # at px — the digest must come from the decoded bytes)
                if sniff_format(img) == "png":
                    w, h, _, gray = png_decode_gray(img)
                    fmt = "png"
                else:
                    w, h, rgb = bmp_decode(img)
                    gray = bytes(rgb[::3])
                    fmt = "bmp"
                assert (w, h) == (16, 8)
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["pixel_digest"].append(
                    hashlib.md5(bytes(gray).hex().encode()).hexdigest()
                )
            yield pd.DataFrame(rows)

    mm = multimodal_frame(spark, sf_dir)
    dec = mm.mapInPandas(
        render_decode, schema="doc_id long, fmt string, pixel_digest string"
    )
    return (
        dec.groupBy("pixel_digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fmt").cast("long").alias("n_formats"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("pixel_digest", "n_docs", "n_formats", "min_doc_id", "sum_doc_id")
    )
