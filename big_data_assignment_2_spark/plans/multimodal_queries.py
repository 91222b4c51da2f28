"""Multimodal family declared queries + oracles (operators/multimodal.py).

The media table is derived in-flight from the documents corpus (payload =
utf-8 text bytes, treated as opaque downstream).  Metadata extraction is
pure column expressions; the decode step runs the deterministic fake codec
through real mapInPandas plumbing — and because the fake derives dimensions
from the md5 digest, even IT has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import drop_zip_finders
from ..operators.multimodal import (EMBED_DIM, audio_chunks, decode_media,
                                    fake_embed, frame_sample,
                                    media_from_documents, media_metadata,
                                    resize_plan)
from ..sources.io import load_table

_MEDIA_CTE = """
media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
         encode(text) AS payload
  FROM documents)
"""

# The fake codec: md5 digest bytes 0..2 → (width, height, n_frames).
_DECODE_CTE = f"""
{_MEDIA_CTE},
digests AS (
  SELECT media_id, media_type, octet_length(payload) AS n_bytes,
         md5(payload::VARCHAR) AS d
  FROM media),
decoded AS (
  SELECT media_id, media_type, n_bytes,
         CAST(64 + CAST('0x' || substr(d, 1, 2) AS INTEGER) % 192 AS INTEGER) AS width,
         CAST(64 + CAST('0x' || substr(d, 3, 2) AS INTEGER) % 192 AS INTEGER) AS height,
         CAST(1 + CAST('0x' || substr(d, 5, 2) AS INTEGER) % 30 AS INTEGER) AS n_frames
  FROM digests)
"""


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return media_metadata(media_from_documents(docs))


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(media_from_documents(docs), fake=True)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(decode_media(media_from_documents(docs), fake=True),
                        every_n=10)


def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return resize_plan(decode_media(media_from_documents(docs), fake=True))


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return audio_chunks(media_from_documents(docs))


def q_fake_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fake_embed(media_from_documents(docs))


def q_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL codec path end-to-end: synthesize valid BMP/WAV payload
    BYTES (geometry/sample counts are deterministic functions of
    (doc_id, n_chars)), parse them back with the stdlib codecs inside
    Arrow-batched ``mapInPandas``, and emit the typed metadata.  The
    oracle recomputes the expected values arithmetically — a green row
    proves the parser extracted exactly what the generator encoded into
    the binary, certifying real byte-level decode (not a fake) through
    the full Spark plumbing."""
    from ..operators.multimodal import decode_media_real, generate_media_real

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_real(generate_media_real(docs))


def q_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize arithmetic over REALLY-decoded BMP
    geometry (decode_media_real), not the fake codec — the
    decode→preprocess composition a vision pipeline runs."""
    from ..operators.multimodal import decode_media_real, generate_media_real

    docs = load_table(spark, sf_dir, "documents")
    return resize_plan(decode_media_real(generate_media_real(docs)))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL signal math on real PCM: the generated WAVs carry a
    deterministic int16 waveform (s_i = (7·id + 13·i) mod 201 − 100);
    numpy computes per-file energy (exact integer sum of squares + RMS)
    inside mapInPandas, and the oracle regenerates the same samples with
    generate_series and aggregates them in SQL — byte-parse AND
    arithmetic both certified."""
    from ..operators.multimodal import audio_features, generate_media_real

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(generate_media_real(docs))


def q_resize_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pixel resize EXECUTED (numpy nearest-neighbor over real BMP
    pixels, re-encoded, re-decoded): output geometry must equal the
    resize-plan arithmetic — certifies the op, not just the plan."""
    from ..operators.multimodal import generate_media_real, resize_media_exec

    docs = load_table(spark, sf_dir, "documents")
    return resize_media_exec(generate_media_real(docs))


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third REAL codec (PNG) end-to-end: synthesize valid PNGs whose
    geometry AND pixel function are arithmetic in doc_id, with scanlines
    cycling all five PNG filter types; decode them back (chunk/CRC walk +
    zlib inflate + unfilter) inside Arrow-batched ``mapInPandas`` and emit
    geometry plus the exact integer pixel-byte sum.  The oracle regenerates
    the pixel function with generate_series and aggregates in SQL — a green
    row certifies header parse, inflate, and every unfilter branch."""
    from ..operators.multimodal import decode_media_png, generate_media_png

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_png(generate_media_png(docs))


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth REAL codec (baseline JPEG) end-to-end: synthesize valid
    baseline JPEGs built from flat 8x8 blocks whose value is arithmetic
    in doc_id, then decode them back — marker walk, DHT-driven Huffman
    entropy decode (byte unstuffing, DC prediction, ZRL/EOB), dezigzag,
    dequantize, float IDCT — inside Arrow-batched ``mapInPandas``.
    Under the unity quantization table a flat block round-trips
    BIT-EXACTLY (its FDCT is one integer DC coefficient), so the oracle
    recomputes the exact decoded pixel sum arithmetically: a green row
    certifies the full entropy + transform path, while the lossy
    general path is pinned by tolerance tests
    (tests/test_multimodal_jpeg.py)."""
    from ..operators.multimodal import decode_media_jpeg, generate_media_jpeg

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_jpeg(generate_media_jpeg(docs))


def q_jpeg_dri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG RESTART INTERVALS end-to-end (r10, VERDICT r9 #5 — the codec
    gap a real camera corpus hits first): every payload carries a DRI
    segment (interval 1 + doc_id % 3 MCUs) and the matching RSTn
    markers; the decoder byte-aligns at each marker, verifies the
    modulo-8 restart sequence, and resets the DC predictors (T.81
    E.2.4).  Restarts never change decoded pixels, so the flat-block
    arithmetic oracle of mm_jpeg_decode applies verbatim — a green row
    certifies the restart machinery decodes to the identical image."""
    from ..operators.multimodal import (decode_media_jpeg,
                                        generate_media_jpeg_dri)

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_jpeg(generate_media_jpeg_dri(docs))


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG end-to-end (r11, VERDICT r10 #7 — the remaining
    codec gap a scraped-image corpus hits at volume: most web JPEGs are
    progressive): every payload is an SOF2 six-scan progressive file
    (spectral selection + successive approximation — DC first at Al=1,
    banded AC firsts with EOBn runs, AC refinements with correction
    bits, DC refinement), decoded by the multi-scan coefficient-
    accumulation path.  Progression never changes decoded pixels, so
    the flat-block arithmetic oracle of mm_jpeg_decode applies verbatim;
    the AC paths on dense coefficients are pinned bit-exactly against
    baseline decodes in tests/test_multimodal_jpeg_prog.py."""
    from ..operators.multimodal import (decode_media_jpeg,
                                        generate_media_jpeg_progressive)

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_jpeg(generate_media_jpeg_progressive(docs))


def q_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:4:4 COLOR JPEG end-to-end (r9): the flat-block fixture
    replicated to R=G=B, encoded through the full three-component color
    path (RGB→YCbCr, separate luma/chroma quant + Huffman table ids,
    interleaved MCUs, three DC predictors) and decoded back.  Gray
    content makes every chroma DC land exactly on 128, so the round trip
    is bit-exact and the oracle is the grayscale pixel arithmetic × 3
    channels; REAL chroma content (lossy) is pinned by tolerance tests
    in tests/test_multimodal_jpeg_color.py."""
    from ..operators.multimodal import (decode_media_jpeg_color,
                                        generate_media_jpeg_color)

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_jpeg_color(generate_media_jpeg_color(docs))


def q_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-SUBSAMPLED JPEG end-to-end (r9): 16x16 gray flat
    macroblocks through the full subsampled path — luma 0x22 vs chroma
    0x11 sampling, 6-block interleaved MCUs, exact 2x2 box chroma
    downsample, replicate upsample on decode.  Gray macroblocks keep
    every (sub)block flat, so the round trip is bit-exact and the oracle
    is pure arithmetic (3 channels x 256 px per macroblock); real-color
    chroma loss is pinned by tolerance tests.  Docs are sampled 1-in-3
    (same predicate in the oracle) — full-color 16x-larger images make
    this the heaviest Python decode row otherwise."""
    from ..operators.multimodal import (decode_media_jpeg_color,
                                        generate_media_jpeg_420)

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 3) == 0))
    return decode_media_jpeg_color(generate_media_jpeg_420(docs))


def q_jpeg_422(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:2 chroma-subsampled JPEG end-to-end (r10 — the broadcast /
    video-intermediate sampling, closing the last {1,2}-factor gap):
    luma 0x21 vs chroma 0x11, 16x8 three-block-plus-chroma MCUs, exact
    1x2 horizontal box chroma downsample, decoded by the generic
    factor-driven MCU loop.  Gray flat 8x16 rectangles keep every
    (sub)block flat, so the round trip is bit-exact and the oracle is
    pure arithmetic (3 channels x 128 px per rectangle).  Docs sampled
    1-in-3 (same predicate in the oracle) like the 4:2:0 row."""
    from ..operators.multimodal import (decode_media_jpeg_color,
                                        generate_media_jpeg_422)

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 3) == 1))
    return decode_media_jpeg_color(generate_media_jpeg_422(docs))


def q_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 frame DEMUX end-to-end (the stub closed in r9): synthesize an
    MJPEG-track ISO BMFF file per document — 1 + doc_id % 3 frames, each
    a real baseline JPEG of the per-frame flat-block fixture, muxed
    through real stsd/stts/stsc/stsz/stco sample tables — then demux the
    container (sample-table walk, chunk-offset resolution) and decode
    every frame (full Huffman + IDCT path) inside Arrow-batched
    ``mapInPandas``.  Flat blocks round-trip bit-exactly under the unity
    quant table, so the oracle recomputes each frame's pixel sum
    arithmetically; a green row certifies container demux AND codec
    together.  Docs are sampled 1-in-7 (same predicate in the oracle) to
    bound the per-gate decode volume."""
    from ..operators.multimodal import demux_media_mp4, generate_media_mp4_mjpeg

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 7) == 0))
    return demux_media_mp4(generate_media_mp4_mjpeg(docs))


def q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL codec: a minimal valid ISO BMFF (MP4) file is
    synthesized per document — geometry and duration pure functions of
    doc_id — and parsed BACK through the byte-level box-tree walker
    (ftyp census, mvhd timescale/duration, tkhd 16.16 dimensions)
    inside Arrow-batched ``mapInPandas``.  The oracle recomputes every
    field arithmetically (payload size is structurally constant at 256
    bytes), so a green row certifies real container parsing.  Frame
    DEMUXING remains the honest stub (needs ffmpeg); the metadata layer
    is what a 100 TB media-ingest pipeline runs first anyway."""
    from typing import Iterator

    import pandas as pd

    from ..operators.multimodal import decode_mp4, mp4_bytes

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        drop_zip_finders()
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "duration_ms": [], "n_tracks": [], "n_bytes": []}
            for did in pdf["doc_id"]:
                did = int(did)
                payload = mp4_bytes(16 * (2 + did % 8), 16 * (2 + did % 6),
                                    1000 + (did % 60) * 500)
                m = decode_mp4(payload)
                out["media_id"].append(str(did))
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["duration_ms"].append(m["duration_ms"])
                out["n_tracks"].append(m["n_tracks"])
                out["n_bytes"].append(len(payload))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        gen_decode,
        "media_id string, width int, height int, duration_ms bigint, "
        "n_tracks int, n_bytes bigint")


QUERIES = {
    "mm_jpeg_422": q_jpeg_422,
    "mm_jpeg_420": q_jpeg_420,
    "mm_jpeg_color": q_jpeg_color,
    "mm_mp4_frames": q_mp4_frames,
    "mm_jpeg_progressive": q_jpeg_progressive,
    "mm_jpeg_dri": q_jpeg_dri,
    "mm_jpeg_decode": q_jpeg_decode,
    "mm_mp4_metadata": q_mp4_metadata,
    "mm_png_decode": q_png_decode,
    "mm_decode_real": q_decode_real,
    "mm_resize_real": q_resize_real,
    "mm_resize_exec": q_resize_exec,
    "mm_audio_features": q_audio_features,
    "mm_media_metadata": q_media_metadata,
    "mm_media_decode": q_media_decode,
    "mm_frame_sample": q_frame_sample,
    "mm_resize_plan": q_resize_plan,
    "mm_audio_chunks": q_audio_chunks,
    "mm_fake_embed": q_fake_embed,
}

ORACLES = {
    # 4:2:2 JPEG: gray flat 8-row x 16-col rectangles round-trip
    # bit-exactly through the horizontally-subsampled path; sum = 3
    # channels x 128 px x value.  1-in-3 doc sample (remainder 1, so the
    # row exercises different docs than mm_jpeg_420's remainder 0).
    "mm_jpeg_422": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents WHERE doc_id % 3 = 1),
px AS (
  SELECT doc_id, bw, bh,
         3 * 128 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(16 * bw AS INTEGER) AS width,
       CAST(8 * bh AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # 4:2:0 JPEG: gray flat 16x16 MACROblocks round-trip bit-exactly
    # through the subsampled path; sum = 3 channels x 256 px x value.
    "mm_jpeg_420": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT doc_id, bw, bh,
         3 * 256 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(16 * bw AS INTEGER) AS width,
       CAST(16 * bh AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # Color JPEG: gray flat blocks through the full 3-component path
    # round-trip bit-exactly (chroma DC = 128 exactly), so the decoded
    # all-channel pixel sum is 3 x the grayscale arithmetic.
    "mm_jpeg_color": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents),
px AS (
  SELECT doc_id, bw, bh,
         3 * 64 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(8 * bw AS INTEGER) AS width, CAST(8 * bh AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # MP4 MJPEG demux: frame f of doc i is flat blocks with
    # v = (a*bx + b*by + (i + 31*f) % 256) % 256; flat blocks round-trip
    # bit-exactly, so each frame's decoded pixel sum is 64 * sum of block
    # values.  Regenerating that arithmetic certifies that the demuxer
    # resolved every sample's bytes and the codec recovered every pixel.
    "mm_mp4_frames": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b,
         1 + doc_id % 3 AS n_frames
  FROM documents WHERE doc_id % 7 = 0),
frames AS (
  SELECT doc_id, bw, bh, a, b, CAST(f.i AS INTEGER) AS frame_idx,
         (doc_id + 31 * f.i) % 256 AS d
  FROM params,
       unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS f(i)),
px AS (
  SELECT doc_id, frame_idx, bw, bh,
         64 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM frames,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, frame_idx, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id, frame_idx,
       CAST(8 * bw AS INTEGER) AS width, CAST(8 * bh AS INTEGER) AS height,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # JPEG: flat 8x8 blocks with v(bx,by) = (a*bx + b*by + d) mod 256 and
    # geometry pure functions of doc_id (see jpeg_flat_blocks); under the
    # unity quant table the codec round-trips flat blocks bit-exactly, so
    # the decoded pixel sum is exactly 64 * sum of block values.
    "mm_jpeg_decode": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents),
px AS (
  SELECT doc_id, bw, bh,
         64 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(8 * bw AS INTEGER) AS width, CAST(8 * bh AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # Progressive re-orders entropy coding without changing coefficients
    # — the oracle is the mm_jpeg_decode arithmetic verbatim; the green
    # row's information is that the multi-scan accumulation (DC first/
    # refine, banded AC firsts, EOBn runs, refinement correction bits)
    # reconstructs the identical image.
    "mm_jpeg_progressive": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents),
px AS (
  SELECT doc_id, bw, bh,
         64 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(8 * bw AS INTEGER) AS width, CAST(8 * bh AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # DRI restarts never change decoded pixels — the oracle is the
    # mm_jpeg_decode arithmetic verbatim; the green row's information is
    # that the restart-marker machinery (byte alignment, RSTn sequence,
    # DC predictor resets) decodes to the identical image.
    "mm_jpeg_dri": """
WITH params AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 4 AS bh,
         5 + doc_id % 7 AS a, 3 + doc_id % 5 AS b, doc_id % 256 AS d
  FROM documents),
px AS (
  SELECT doc_id, bw, bh,
         64 * sum((a * x.i + b * y.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(bw - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(bh - 1 AS BIGINT))) AS y(i)
  GROUP BY doc_id, bw, bh)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(8 * bw AS INTEGER) AS width, CAST(8 * bh AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # MP4: every field is a pure function of doc_id; the payload is
    # structurally constant (24-byte ftyp + 216-byte moov + 16-byte mdat).
    "mm_mp4_metadata": """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(16 * (2 + doc_id % 8) AS INTEGER) AS width,
       CAST(16 * (2 + doc_id % 6) AS INTEGER) AS height,
       CAST(1000 + (doc_id % 60) * 500 AS BIGINT) AS duration_ms,
       CAST(1 AS INTEGER) AS n_tracks,
       CAST(256 AS BIGINT) AS n_bytes
FROM documents
""",
    # PNG: pixel byte p(x,y,ch) = (a·x + b·y + 11·ch + d) mod 256 with
    # (w,h,a,b,d) pure functions of doc_id; regenerating the function and
    # summing in SQL checks the decoder recovered every byte through all
    # five scanline filters (encoder uses filter(y) = y mod 5).
    "mm_png_decode": """
WITH params AS (
  SELECT doc_id, 4 + doc_id % 24 AS w, 4 + doc_id % 13 AS h,
         3 + doc_id % 5 AS a, 7 + doc_id % 3 AS b, doc_id % 256 AS d
  FROM documents),
px AS (
  SELECT doc_id, w, h,
         sum((a * x.i + b * y.i + 11 * c.i + d) % 256) AS s
  FROM params,
       unnest(generate_series(0, CAST(w - 1 AS BIGINT))) AS x(i),
       unnest(generate_series(0, CAST(h - 1 AS BIGINT))) AS y(i),
       unnest(generate_series(0, CAST(2 AS BIGINT))) AS c(i)
  GROUP BY doc_id, w, h)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(s AS BIGINT) AS pix_sum
FROM px
""",
    # The generator encodes geometry/sample counts as pure functions of
    # (doc_id, n_chars); the oracle recomputes them arithmetically, so
    # equality certifies the stdlib BMP/WAV parsers read the actual bytes.
    # BMP: 54-byte header + 4-byte-aligned 24-bit rows. WAV: 44-byte RIFF
    # header + 2 bytes/sample (mono 16-bit PCM).
    "mm_decode_real": """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN 54 + ((3 * (8 + doc_id % 32) + 3) // 4 * 4) * (8 + doc_id % 17)
            ELSE 44 + 2 * (100 + n_chars) END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 32 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 17 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 END AS INTEGER) AS n_channels,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 16000 END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 100 + n_chars END AS INTEGER) AS n_samples
FROM documents
""",
    "mm_resize_exec": """
WITH dims AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         8 + doc_id % 32 AS w, 8 + doc_id % 17 AS h
  FROM documents WHERE doc_id % 2 = 0)
SELECT media_id,
       CAST(greatest(1, floor(w * (224.0 / greatest(w, h)) + 0.5))
            AS INTEGER) AS out_width,
       CAST(greatest(1, floor(h * (224.0 / greatest(w, h)) + 0.5))
            AS INTEGER) AS out_height
FROM dims
""",
    # Regenerate the int16 waveform in SQL and aggregate: sum_sq is exact
    # integer arithmetic in both engines; RMS floor-truncated to 6 dp
    # (floor, not round: Python half-even vs DuckDB half-away could flip
    # an exact 6-dp half boundary — round-4 ADVICE).
    "mm_audio_features": """
WITH aud AS (
  SELECT doc_id, 100 + n_chars AS n
  FROM documents WHERE doc_id % 2 = 1),
samples AS (
  SELECT doc_id, n, ((doc_id * 7 + 13 * i) % 201) - 100 AS s
  FROM aud, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS t(i))
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS sum_sq,
       floor(sqrt(sum(s * s) * 1.0 / n) * 1e6) / 1e6 AS rms
FROM samples GROUP BY doc_id, n
""",
    "mm_resize_real": """
WITH dims AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         8 + doc_id % 32 AS w, 8 + doc_id % 17 AS h
  FROM documents WHERE doc_id % 2 = 0),
scaled AS (
  SELECT media_id, w, h,
         greatest(1, floor(w * (224.0 / greatest(w, h)) + 0.5)) AS nw,
         greatest(1, floor(h * (224.0 / greatest(w, h)) + 0.5)) AS nh
  FROM dims)
SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(nw AS INTEGER) AS new_width, CAST(nh AS INTEGER) AS new_height,
       CAST(floor((224 - nw) / 2) AS INTEGER) AS pad_left,
       CAST(floor((224 - nh) / 2) AS INTEGER) AS pad_top
FROM scaled
""",
    "mm_media_metadata": f"""
WITH {_MEDIA_CTE}
SELECT media_id, media_type, octet_length(payload) AS n_bytes,
       md5(payload::VARCHAR) AS digest,
       lower(substr(hex(payload), 1, 8)) AS magic
FROM media
""",
    "mm_media_decode": f"""
WITH {_DECODE_CTE}
SELECT media_id, media_type, n_bytes, width, height, n_frames FROM decoded
""",
    "mm_frame_sample": f"""
WITH {_DECODE_CTE}
SELECT media_id, unnest(range(0, n_frames, 10)) AS frame_idx
FROM decoded WHERE media_type = 'video'
""",
    "mm_resize_plan": f"""
WITH {_DECODE_CTE},
scaled AS (
  SELECT media_id, width, height,
         CAST(greatest(1, floor(width * (224.0 / greatest(width, height)) + 0.5))
              AS INTEGER) AS new_width,
         CAST(greatest(1, floor(height * (224.0 / greatest(width, height)) + 0.5))
              AS INTEGER) AS new_height
  FROM decoded WHERE media_type = 'image')
SELECT media_id, width, height, new_width, new_height,
       CAST(floor((224 - new_width) / 2.0) AS INTEGER) AS pad_left,
       CAST(floor((224 - new_height) / 2.0) AS INTEGER) AS pad_top
FROM scaled
""",
    "mm_audio_chunks": f"""
WITH {_MEDIA_CTE},
a AS (SELECT media_id, octet_length(payload) AS n_bytes FROM media
      WHERE media_type = 'audio')
SELECT media_id,
       CAST(unnest(range(0, CAST(ceil(n_bytes / 4096.0) AS BIGINT))) AS INTEGER)
           AS chunk_idx,
       CAST(unnest(range(0, CAST(ceil(n_bytes / 4096.0) AS BIGINT))) * 4096
           AS INTEGER) AS offset,
       CAST(least(4096, n_bytes
                  - unnest(range(0, CAST(ceil(n_bytes / 4096.0) AS BIGINT))) * 4096)
           AS INTEGER) AS length
FROM a
""",
    "mm_fake_embed": f"""
WITH {_MEDIA_CTE},
d AS (SELECT media_id, md5(payload::VARCHAR) AS dg FROM media)
SELECT media_id,
       {", ".join(f"round(CAST('0x' || substr(dg, {2 * i + 1}, 2) AS INTEGER) / 255.0, 6) AS f{i}"
                  for i in range(EMBED_DIM))}
FROM d
""",
}
