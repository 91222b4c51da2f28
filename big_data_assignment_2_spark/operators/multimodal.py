"""Multimodal (image/audio/video) column plumbing (extension — not in
reference; required by the north-star brief).

Media are opaque ``binary`` columns + typed metadata.  The Spark-side
plumbing — schema, Arrow batch shape, ``mapInPandas`` signature,
partition sizing — is real and tested.  The codec layer is REAL for
formats the standard library can parse — BMP images, WAV audio
(:func:`decode_payload`, byte-level struct/RIFF parsing, certified
cross-engine by the ``mm_decode_real`` oracle row) and PNG
(:func:`decode_png`: chunk/CRC walk, zlib inflate, full five-filter
scanline unfiltering; ``mm_png_decode`` oracle row), baseline JPEG
(:func:`decode_jpeg`: marker walk, DHT-driven Huffman entropy decode,
dezigzag/dequantize, float IDCT; ``mm_jpeg_decode`` oracle row), and
MP4 box-tree metadata plus MJPEG-track frame DEMUX (r9:
:func:`demux_mp4_frames` resolves stsc/stsz/stco sample tables and
feeds each sample to the JPEG decoder; ``mm_mp4_frames`` oracle row)
— and honestly stubbed where a format genuinely needs an absent
library (non-MJPEG video bitstreams need a codec library; progressive
/ chroma-subsampled JPEG raise).  ``decode_image(fake=True)`` keeps
the deterministic fake for exercising pipeline shape with arbitrary
payload bytes.

Scale notes: media blobs make rows wide — the loader repartitions by byte
budget, not row count (``target_partition_bytes``), so Arrow batches stay
bounded; metadata extraction (sizes, hashes, magic sniffing) is pure column
expressions and never touches Python.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.udfs import drop_zip_finders

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("media_type", StringType()),   # image | audio | video
    StructField("payload", BinaryType()),
])

DECODED_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build an opaque-binary media table from the documents corpus (the
    container ships no real media; payload bytes are the utf-8 text).  The
    pipeline downstream treats payloads as genuinely opaque."""
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata over opaque payloads — pure column expressions:
    byte size, content digest, 4-byte magic prefix (hex)."""
    return media.select(
        "media_id", "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.lower(F.substring(F.hex("payload"), 1, 8)).alias("magic"),
    )


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int, int]:
    """STUB codec. Real decode needs PIL/ffmpeg (absent here).

    With ``fake=True`` returns deterministic dimensions derived from the
    payload so tests can exercise the full pipeline shape.
    """
    if not fake:
        raise NotImplementedError(
            "media decoding requires an image/audio library not present in "
            "this environment; pass fake=True for the deterministic stub")
    import hashlib

    h = hashlib.md5(payload or b"").digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 30)


def _spread_for_python(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session's default parallelism
    before a Python (mapInPandas) generator stage when the upstream scan
    has fewer partitions (r17, guide §2.5 "input skew"): the harness
    corpus is one small parquet file → one scan partition, which
    serializes the whole per-payload Python codec chain on a single
    core.  Scale-adaptive, not a constant: on a real corpus the scan
    already has >= cores partitions and this is a no-op.  Row-to-task
    assignment is the only thing that changes — every per-payload result
    is a pure function of the row, so results are multiset-identical.

    Each extra task costs Python worker set-up (about 0.17-0.36 CPU-s on
    Spark 4.1.2 / Python 3.11 before ``udfs.drop_zip_finders``, about
    0.03 CPU-s on a reused worker since; SCALE.md "Python crossing fixed
    cost"), so the spread pays only where the per-payload work is heavier
    than that — the codec chains here.  Cheap vectorised passes
    size their task count from the row count instead (see
    ``similarity._python_tasks``)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _map_in_batches(df: DataFrame, fn, schema,
                    batch_size: int) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` with ``fn`` fed pandas frames of at
    most ``batch_size`` rows: each incoming Arrow batch is sliced inside
    the Python worker, so a codec chain holds at most ``batch_size``
    decoded payloads at a time.  Input batches themselves follow the
    session's ``spark.sql.execution.arrow.maxRecordsPerBatch``, like
    every other Python stage; the session conf is never written, so no
    later Arrow stage in the session is resized by this one."""

    def sliced(batches):
        drop_zip_finders()
        return fn(pdf.iloc[i:i + batch_size].reset_index(drop=True)
                  for pdf in batches
                  for i in range(0, len(pdf), batch_size))

    return df.mapInPandas(sliced, schema)


def decode_media(media: DataFrame, batch_size: int = 256,
                 fake: bool = True) -> DataFrame:
    """Arrow-batched decode via ``mapInPandas`` — the canonical shape for a
    Python-library step: batches arrive as pandas DataFrames, the codec runs
    per payload, and only typed metadata (not pixels) returns to the JVM."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            dims = [decode_image(p, fake=fake) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(p or b"") for p in pdf["payload"]],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "n_frames": [d[2] for d in dims],
            })

    return _map_in_batches(media, decode_batches, DECODED_SCHEMA, batch_size)


# --- real codecs (round 4) -------------------------------------------------
# BMP and WAV are fully decodable with the standard library (struct/wave) —
# no PIL/ffmpeg needed — so the codec step is REAL for these formats (PNG
# joined in round 7: zlib + five-filter unfiltering, see below); the fake
# path above remains for exercising pipeline shape with arbitrary bytes,
# and genuinely library-bound formats (JPEG/MP4) still raise.

def bmp_bytes(width: int, height: int, seed: bytes) -> bytes:
    """A valid 24-bit bottom-up BMP: 54-byte header + padded pixel rows
    (pixel content = repeated seed bytes; only the geometry matters)."""
    import struct

    row = ((3 * width + 3) // 4) * 4
    size = 54 + row * height
    header = (struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                            row * height, 2835, 2835, 0, 0))
    seed = seed or b"\x7f"
    px = (seed * (row * height // len(seed) + 1))[: row * height]
    return header + px


def wav_bytes(n_samples: int, sample_rate: int,
              frames: bytes | None = None) -> bytes:
    """A valid mono 16-bit PCM WAV (44-byte RIFF header); ``frames``
    defaults to silence."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames if frames is not None
                      else b"\x00\x00" * n_samples)
    return buf.getvalue()


def synth_waveform(doc_id: int, n_samples: int) -> "object":
    """Deterministic int16 test waveform, s_i = ((7·id + 13·i) mod 201) −
    100 — reproducible arithmetically by an external oracle."""
    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    return ((doc_id * 7 + 13 * i) % 201 - 100).astype("<i2")


def decode_payload(payload: bytes) -> dict:
    """REAL codec dispatch on magic bytes.  BMP/PNG/JPEG →
    (width, height); WAV → (n_channels, sample_rate, n_samples).
    Anything else raises — non-MJPEG video bitstreams need an external
    codec library (MJPEG-track MP4s demux via
    :func:`demux_mp4_frames`)."""
    import io
    import struct
    import wave

    if payload[:2] == b"BM":
        width, height = struct.unpack_from("<ii", payload, 18)
        return {"width": int(width), "height": abs(int(height)),
                "n_channels": None, "sample_rate": None, "n_samples": None}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        with wave.open(io.BytesIO(payload), "rb") as w:
            return {"width": None, "height": None,
                    "n_channels": w.getnchannels(),
                    "sample_rate": w.getframerate(),
                    "n_samples": w.getnframes()}
    if payload[:8] == _PNG_MAGIC:
        m = decode_png(payload)
        return {"width": m["width"], "height": m["height"],
                "n_channels": None, "sample_rate": None, "n_samples": None}
    if payload[:2] == b"\xff\xd8":
        m = decode_jpeg(payload)
        return {"width": m["width"], "height": m["height"],
                "n_channels": None, "sample_rate": None, "n_samples": None}
    if payload[4:8] == b"ftyp":
        meta = decode_mp4(payload)
        try:
            frames = demux_mp4_frames(payload)
        except ValueError as e:
            if "no track with a sample table" not in str(e):
                raise          # corrupt sample tables are parse errors
            frames = []        # valid metadata-only BMFF (no stbl)
        if frames:
            m = decode_jpeg(frames[0])
            meta["width"], meta["height"] = m["width"], m["height"]
        return {"width": meta["width"], "height": meta["height"],
                "n_channels": None, "sample_rate": None,
                "n_samples": len(frames)}
    raise NotImplementedError(
        f"no stdlib codec for magic {payload[:4]!r}")


def generate_media_real(docs: DataFrame, batch_size: int = 256) -> DataFrame:
    """Synthesize a media table with REAL payload bytes: even doc_ids get a
    BMP whose geometry, odd doc_ids a WAV whose sample count/rate, are
    deterministic functions of (doc_id, n_chars) — so an external oracle
    can recompute the expected decode output without parsing bytes."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"media_id": [], "media_type": [], "payload": []}
            for did, text, n_chars in zip(pdf["doc_id"], pdf["text"],
                                          pdf["n_chars"]):
                did = int(did)
                rows["media_id"].append(str(did))
                if did % 2 == 0:
                    rows["media_type"].append("image")
                    rows["payload"].append(bmp_bytes(
                        8 + did % 32, 8 + did % 17, text.encode()[:16]))
                else:
                    n = 100 + int(n_chars)
                    rows["media_type"].append("audio")
                    rows["payload"].append(wav_bytes(
                        n, 8000 * (1 + did % 2),
                        synth_waveform(did, n).tobytes()))
            yield pd.DataFrame(rows)

    return _map_in_batches(
        _spread_for_python(docs.select("doc_id", "text", "n_chars")),
        gen, MEDIA_SCHEMA, batch_size)


REAL_DECODED_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
])


def decode_media_real(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Arrow-batched REAL decode: stdlib BMP/WAV parsers inside
    ``mapInPandas``; only typed metadata returns to the JVM."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            metas = [decode_payload(bytes(p)) for p in pdf["payload"]]
            out = {"media_id": pdf["media_id"],
                   "media_type": pdf["media_type"],
                   "n_bytes": [len(p) for p in pdf["payload"]]}
            for k in ("width", "height", "n_channels", "sample_rate",
                      "n_samples"):
                out[k] = pd.array([m[k] for m in metas], dtype="Int32")
            yield pd.DataFrame(out)

    return _map_in_batches(media,
                           decode_batches, REAL_DECODED_SCHEMA, batch_size)


def resize_bmp(payload: bytes, target: int = 224) -> bytes:
    """REAL pixel resize: parse the BMP, nearest-neighbor-sample the pixel
    grid to the aspect-preserving target (same floor(x+0.5) arithmetic as
    :func:`resize_plan`), re-encode a valid BMP.  Pure numpy indexing —
    the actual pixel op, not a plan."""
    import struct

    import numpy as np

    meta = decode_payload(payload)
    w, h = meta["width"], meta["height"]
    if w is None:
        raise ValueError("not a BMP payload")
    row = ((3 * w + 3) // 4) * 4
    px = (np.frombuffer(payload, np.uint8, count=row * h, offset=54)
          .reshape(h, row)[:, : 3 * w].reshape(h, w, 3))
    scale = float(target) / max(w, h)
    nw = max(1, int(np.floor(w * scale + 0.5)))
    nh = max(1, int(np.floor(h * scale + 0.5)))
    yi = np.minimum((np.arange(nh) * (h / nh)).astype(np.int64), h - 1)
    xi = np.minimum((np.arange(nw) * (w / nw)).astype(np.int64), w - 1)
    out = px[yi][:, xi]
    orow = ((3 * nw + 3) // 4) * 4
    padded = np.zeros((nh, orow), np.uint8)
    padded[:, : 3 * nw] = out.reshape(nh, 3 * nw)
    header = (struct.pack("<2sIHHI", b"BM", 54 + orow * nh, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, nw, nh, 1, 24, 0,
                            orow * nh, 2835, 2835, 0, 0))
    return header + padded.tobytes()


def resize_media_exec(media: DataFrame, target: int = 224,
                      batch_size: int = 256) -> DataFrame:
    """Execute the pixel resize on every image row (Arrow-batched) and
    re-DECODE the produced bytes — emitting the parsed output geometry, so
    a green oracle row proves the pixel op wrote well-formed BMPs of
    exactly the planned dimensions."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            outs = [decode_payload(resize_bmp(bytes(p), target))
                    for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [0] * len(outs),
                "width": pd.array([o["width"] for o in outs], dtype="Int32"),
                "height": pd.array([o["height"] for o in outs], dtype="Int32"),
                "n_channels": pd.array([None] * len(outs), dtype="Int32"),
                "sample_rate": pd.array([None] * len(outs), dtype="Int32"),
                "n_samples": pd.array([None] * len(outs), dtype="Int32"),
            })

    return (_map_in_batches(media.filter(F.col("media_type") == "image"),
                            run, REAL_DECODED_SCHEMA, batch_size)
            .select("media_id", F.col("width").alias("out_width"),
                    F.col("height").alias("out_height")))


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("n_samples", IntegerType()),
    StructField("sum_sq", LongType()),
    StructField("rms", DoubleType()),
])


def audio_features(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """REAL DSP on real bytes: parse each WAV's PCM frames with the stdlib
    codec, compute energy features with vectorized numpy (sum of squares,
    RMS) — the transcription-pipeline feature-extraction shape, with
    actual signal math instead of a model stub.  Integer sum_sq is exact;
    RMS is floor-truncated to 6 dp for cross-engine hashing: both engines
    compute the identical IEEE double (exact ints → division → correctly
    rounded sqrt), but Python's round() is half-even while DuckDB's is
    half-away, so a value landing exactly on a 6-dp half boundary would
    diverge under round(); floor(x·1e6)/1e6 is the same function in both
    (round-4 ADVICE)."""
    import io
    import math
    import wave

    import numpy as np
    import pandas as pd

    def feat(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], "n_samples": [], "sum_sq": [], "rms": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    frames = w.readframes(w.getnframes())
                s = np.frombuffer(frames, dtype="<i2").astype(np.int64)
                ss = int((s * s).sum())
                # The floor(sqrt(ss/n)*1e6)/1e6 parity argument below
                # requires ss exact in a double: DuckDB converts ss to
                # double BEFORE dividing, which double-rounds once
                # ss >= 2^53 while Python's int/int stays exact
                # (round-5 ADVICE: enforce the precondition, don't
                # assume it).
                assert ss < 2 ** 53, (
                    f"sum_sq {ss} exceeds 2^53; cross-engine rms parity "
                    "precondition broken")
                out["media_id"].append(mid)
                out["n_samples"].append(len(s))
                out["sum_sq"].append(ss)
                out["rms"].append(
                    math.floor(math.sqrt(ss / len(s)) * 1e6) / 1e6
                    if len(s) else 0.0)
            yield pd.DataFrame(out)

    return _map_in_batches(media.filter(F.col("media_type") == "audio"),
                           feat, AUDIO_FEATURES_SCHEMA, batch_size)


def repartition_by_bytes(media: DataFrame, target_partition_bytes: int = 128 << 20,
                         size_col_bytes: int | None = None) -> DataFrame:
    """Partition a media table by byte budget: estimate total payload bytes,
    choose a partition count that keeps each under target size."""
    total = media.select(F.sum(F.octet_length("payload"))).first()[0] or 0
    n = max(1, int(total // target_partition_bytes) + 1)
    return media.repartition(n)


def frame_sample(decoded: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode sampled frame indices —
    downstream per-frame decode would join back to payloads."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    return (decoded.filter(F.col("media_type") == "video")
            .select("media_id",
                    F.explode(idx).alias("frame_idx")))


def resize_plan(decoded: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize + letterbox arithmetic for image rows —
    the planning half of a preprocessing resize (the pixel op itself would
    run next to the codec).  `floor(x + 0.5)` rather than round() because
    the two engines disagree on round-half semantics for doubles.
    Pure column expressions."""
    w, h = F.col("width"), F.col("height")
    scale = F.lit(float(target)) / F.greatest(w, h)
    new_w = F.greatest(F.lit(1), F.floor(w * scale + 0.5)).cast("int")
    new_h = F.greatest(F.lit(1), F.floor(h * scale + 0.5)).cast("int")
    return (decoded.filter(F.col("media_type") == "image")
            .select("media_id", "width", "height",
                    new_w.alias("new_width"), new_h.alias("new_height"),
                    F.floor((F.lit(target) - new_w) / 2).cast("int")
                    .alias("pad_left"),
                    F.floor((F.lit(target) - new_h) / 2).cast("int")
                    .alias("pad_top")))


def audio_chunks(media: DataFrame, chunk_bytes: int = 4096) -> DataFrame:
    """Fixed-size chunk boundaries for audio rows (the windowing step of a
    transcription/feature pipeline): explode (chunk_idx, offset, length)
    from the payload size — per-chunk decode would `substr` the payload
    next to the codec.  Column expressions only."""
    n = F.octet_length("payload")
    n_chunks = F.ceil(n.cast("double") / chunk_bytes).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return (media.filter(F.col("media_type") == "audio")
            .select("media_id", n.alias("n_bytes"),
                    F.explode(idx).alias("chunk_idx"))
            .select("media_id", "chunk_idx",
                    (F.col("chunk_idx") * chunk_bytes).alias("offset"),
                    F.least(F.lit(chunk_bytes),
                            F.col("n_bytes") - F.col("chunk_idx") * chunk_bytes)
                    .alias("length")))


EMBED_DIM = 4

EMBED_SCHEMA = StructType(
    [StructField("media_id", StringType())]
    + [StructField(f"f{i}", DoubleType()) for i in range(EMBED_DIM)])


def fake_embed(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Feature-extraction shape (CLIP-style embedding stand-in): an
    Arrow-batched ``mapInPandas`` step that maps each payload to a small
    float vector.  The real model is stubbed with a deterministic
    md5-derived projection (digest bytes scaled to [0, 1]) so the full
    Python-UDF plumbing — batch iteration, vector-typed output columns,
    JVM round-trip — is exercised AND SQL-oracle-checkable."""
    import hashlib

    import pandas as pd

    def embed_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            digs = [hashlib.md5(p or b"").digest() for p in pdf["payload"]]
            out = {"media_id": pdf["media_id"]}
            for i in range(EMBED_DIM):
                out[f"f{i}"] = [round(d[i] / 255.0, 6) for d in digs]
            yield pd.DataFrame(out)

    return _map_in_batches(media, embed_batches, EMBED_SCHEMA, batch_size)


# --- real PNG codec (round 7) ----------------------------------------------
# PNG needed no image library after all: the container format is chunks
# with CRC-32, the compression is zlib (stdlib), and the per-scanline
# filters (None/Sub/Up/Average/Paeth) are a page of integer arithmetic.
# Third REAL codec alongside BMP/WAV; JPEG/MP4 stay honestly stubbed
# (entropy coding / containers genuinely need libjpeg/ffmpeg).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colour type -> samples/pixel


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def png_bytes(width: int, height: int, a: int, b: int, d: int) -> bytes:
    """A valid non-interlaced 8-bit RGB PNG whose pixel bytes are the
    deterministic function p(x, y, ch) = (a·x + b·y + 11·ch + d) mod 256 —
    recomputable arithmetically by an external SQL oracle — and whose
    scanlines cycle through ALL FIVE filter types (filter(y) = y mod 5),
    so a correct pixel readback certifies every unfilter branch."""
    import struct
    import zlib

    import numpy as np

    x = np.arange(width, dtype=np.int64)
    y = np.arange(height, dtype=np.int64)
    ch = np.arange(3, dtype=np.int64)
    raw = ((a * x[None, :, None] + b * y[:, None, None] + 11 * ch[None, None, :]
            + d) % 256).astype(np.uint8).reshape(height, width * 3)
    out = bytearray()
    prior = np.zeros(width * 3, dtype=np.int64)
    for row in range(height):
        f = row % 5
        cur = raw[row].astype(np.int64)
        left = np.concatenate([np.zeros(3, np.int64), cur[:-3]])
        up_left = np.concatenate([np.zeros(3, np.int64), prior[:-3]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prior
        elif f == 3:
            enc = cur - (left + prior) // 2
        else:
            p = left + prior - up_left
            pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                          np.abs(p - up_left))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, up_left))
            enc = cur - pred
        out.append(f)
        out.extend((enc % 256).astype(np.uint8).tobytes())
        prior = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> dict:
    """REAL stdlib-only PNG decoder: chunk walk with CRC-32 verification,
    zlib inflate, and full scanline unfiltering (all five filter types)
    in integer numpy.  Supports non-interlaced 8-bit grayscale / RGB /
    gray+alpha / RGBA; palette or interlaced images raise.

    Returns {width, height, n_channels, pixels} where ``pixels`` is the
    recovered (height, width·channels) uint8 array — actual image bytes,
    not just geometry."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack_from(">I", payload, pos), \
            payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in _PNG_CHANNELS or interlace:
        raise NotImplementedError(
            f"PNG depth={depth} colour={ctype} interlace={interlace}: only "
            "non-interlaced 8-bit gray/RGB/GA/RGBA supported")
    nch = _PNG_CHANNELS[ctype]
    stride = width * nch
    data = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(data) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    data = data.reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for row in range(height):
        f = int(data[row, 0])
        cur = data[row, 1:].astype(np.int64)
        if f == 0:
            rec = cur
        elif f == 2:
            rec = (cur + prior) % 256
        elif f in (1, 3, 4):
            # left-neighbor recurrences are sequential per pixel; the
            # scanline loop is bounded by image width (small per row)
            rec = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = rec[i - nch] if i >= nch else 0
                up = prior[i]
                ul = prior[i - nch] if i >= nch else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else \
                        up if pb <= pc else ul
                rec[i] = (cur[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[row] = rec
        prior = rec
    return {"width": width, "height": height, "n_channels": nch,
            "pixels": out.astype(np.uint8)}


PNG_DECODED_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("pix_sum", LongType()),
])


def generate_media_png(docs: DataFrame, batch_size: int = 256) -> DataFrame:
    """Synthesize a PNG media table: geometry and the pixel-function
    coefficients are pure functions of doc_id (w = 4 + id%24,
    h = 4 + id%13, a = 3 + id%5, b = 7 + id%3, d = id%256), so an
    external oracle can recompute every decoded value — including the
    full pixel checksum — without parsing a byte."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": [png_bytes(4 + i % 24, 4 + i % 13, 3 + i % 5,
                                      7 + i % 3, i % 256) for i in ids],
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def decode_media_png(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Arrow-batched REAL PNG decode: geometry plus the exact integer sum
    of every recovered pixel byte.  Because the encoder cycles all five
    scanline filters, a matching pix_sum certifies the unfilter
    arithmetic end-to-end, not just header parsing."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            metas = [decode_png(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                "height": pd.array([m["height"] for m in metas],
                                   dtype="Int32"),
                "n_channels": pd.array([m["n_channels"] for m in metas],
                                       dtype="Int32"),
                "pix_sum": [int(m["pixels"].sum()) for m in metas],
            })

    return _map_in_batches(media,
                           decode_batches, PNG_DECODED_SCHEMA, batch_size)


# --- MP4 (ISO BMFF) metadata codec — fourth REAL codec ---------------------
# Container DEMUXING (frame decode) still needs ffmpeg and stays stubbed in
# decode_payload's dispatch error; the box-tree METADATA layer below is pure
# struct parsing, implemented byte-level like the BMP/WAV/PNG codecs.

_MP4_UNITY_MATRIX = b"".join(
    __import__("struct").pack(">i", v)
    for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))


def mp4_bytes(width: int, height: int, duration_ms: int,
              timescale: int = 1000) -> bytes:
    """A minimal VALID ISO BMFF file: ftyp + moov(mvhd + trak(tkhd)) +
    mdat.  Version-0 boxes, unity matrix, one video track whose tkhd
    width/height are 16.16 fixed-point — enough structure that any
    standard box walker (including ours) reads it."""
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    dur = duration_ms * timescale // 1000
    mvhd = box(b"mvhd",
               b"\x00\x00\x00\x00"                       # version/flags
               + struct.pack(">IIII", 0, 0, timescale, dur)
               + struct.pack(">i", 0x00010000)           # rate 1.0
               + struct.pack(">h", 0x0100)               # volume 1.0
               + b"\x00" * 10                            # reserved
               + _MP4_UNITY_MATRIX
               + b"\x00" * 24                            # pre_defined
               + struct.pack(">I", 2))                   # next_track_id
    tkhd = box(b"tkhd",
               b"\x00\x00\x00\x07"                       # v0, enabled flags
               + struct.pack(">III", 0, 0, 1)            # times, track_id
               + b"\x00" * 4                             # reserved
               + struct.pack(">I", dur)
               + b"\x00" * 8                             # reserved
               + struct.pack(">hhh", 0, 0, 0)            # layer/group/volume
               + b"\x00" * 2                             # reserved
               + _MP4_UNITY_MATRIX
               + struct.pack(">II", width << 16, height << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    mdat = box(b"mdat", b"\x00" * 8)
    return ftyp + moov + mdat


def _mp4_walk(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, box_end) for each box in [start, end)."""
    import struct

    off = start
    while off + 8 <= end:
        size, typ = struct.unpack_from(">I4s", buf, off)
        if size < 8 or off + size > end:
            raise ValueError(f"corrupt box {typ!r} at {off}: size {size}")
        yield typ, off + 8, off + size
        off += size


def decode_mp4(payload: bytes) -> dict:
    """REAL box-tree metadata parse: movie timescale/duration from mvhd,
    per-track 16.16 dimensions from tkhd, top-level box census.  Raises
    on anything that is not ISO BMFF (bytes 4:8 must be 'ftyp')."""
    import struct

    if payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    meta = {"width": None, "height": None, "duration_ms": None,
            "n_tracks": 0, "n_top_boxes": 0}
    for typ, s, e in _mp4_walk(payload, 0, len(payload)):
        meta["n_top_boxes"] += 1
        if typ != b"moov":
            continue
        for t2, s2, e2 in _mp4_walk(payload, s, e):
            if t2 == b"mvhd":
                timescale, dur = struct.unpack_from(">II", payload, s2 + 12)
                meta["duration_ms"] = dur * 1000 // timescale
            elif t2 == b"trak":
                meta["n_tracks"] += 1
                for t3, s3, e3 in _mp4_walk(payload, s2, e2):
                    if t3 == b"tkhd":
                        w, h = struct.unpack_from(">II", payload, e3 - 8)
                        meta["width"] = w >> 16
                        meta["height"] = h >> 16
    return meta


# --- JPEG (ITU T.81 baseline) codec — fifth REAL codec ---------------------
# Baseline sequential DCT, stdlib+numpy only: real marker structure
# (SOI/DQT/SOF0/DHT/DRI/SOS/EOI), real Huffman entropy coding (the
# decoder builds its tables FROM the file's DHT segments, so it is not
# tied to this encoder's table choice), zigzag + (run,size) RLE with
# ZRL/EOB, byte stuffing, DC prediction, FDCT/IDCT.  Grayscale, 4:4:4
# color, 4:2:0 subsampled (r9), DRI restart intervals (r10), and the
# whole {1,2}-factor sampling family incl. 4:2:2 via a generic
# interleaved-MCU loop (r10) are in scope; what stays out (and raises):
# progressive scans, sampling factors > 2, 16-bit quant tables.
#
# Exactness contract for the oracle: with a UNITY quantization table a
# flat 8x8 block round-trips BIT-EXACTLY (its FDCT is a single DC
# coefficient 8*(v-128), an exact integer; every AC is ~1e-13 and
# rounds to zero; the IDCT of that lone DC reproduces v in every
# pixel).  The generator therefore builds images from flat blocks whose
# value is arithmetic in doc_id, and the SQL oracle recomputes the
# decoded pixel sum without parsing a byte — while the codec itself
# runs the full general path (Huffman, zigzag, IDCT over all 64
# coefficients).  Lossy behavior on non-flat content is pinned by
# tolerance tests in tests/test_multimodal_jpeg.py.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

# Canonical Huffman tables written into DHT: all 12 DC size symbols at
# code length 4 (12/16 < 1, all-ones code unused) and all 162 baseline
# AC symbols at code length 9 (162/512 < 1).  Deliberately uniform —
# legal, simple, and forces the decoder to do real table-driven
# decoding; compression optimality is not the point of this codec.
_JPEG_DC_SYMBOLS = list(range(12))
_JPEG_AC_SYMBOLS = (
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)])
# Progressive AC scans additionally need the EOBn symbols (r<<4)|0 for
# r = 0..14 (end-of-band runs of 2^r..2^(r+1)-1 blocks, T.81 G.1.2.2);
# 0xF0 is (15<<4)|0 = ZRL.  176 symbols still fit one 9-bit canonical
# table (176/512 < 1).
_JPEG_AC_PROG_SYMBOLS = (
    [(r << 4) for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)])


_DCT_C = None


def _dct_matrix():
    global _DCT_C
    if _DCT_C is None:
        import numpy as np

        x = np.arange(8)
        c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        c[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
        _DCT_C = c
    return _DCT_C


def _huff_canonical(symbols: list[int], length: int) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits), all codes the same length, canonical order."""
    return {sym: (i, length) for i, sym in enumerate(symbols)}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1s per T.81
        return bytes(self.out)

    def restart_marker(self, n: int) -> None:
        """Byte-align (1-padding, T.81 F.1.2.3) then emit RSTn — markers
        are raw two-byte codes, never byte-stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _jpeg_mag_bits(v: int) -> tuple[int, int]:
    """(size, value-bits) for a DC diff / AC coefficient per T.81 F.1.2."""
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _encode_block(bw_writer: "_BitWriter", blk, qmat, dc_tab, ac_tab,
                  prev_dc: int) -> int:
    """FDCT + quantize + zigzag + (run,size) entropy-encode ONE level-
    shifted 8x8 block; returns the new DC predictor."""
    import numpy as np

    C = _dct_matrix()
    S = C @ blk @ C.T
    Sq = np.round(S / qmat).astype(np.int64)
    zz = Sq.reshape(64)[_JPEG_ZIGZAG]
    diff = int(zz[0]) - prev_dc
    prev_dc = int(zz[0])
    size, bits = _jpeg_mag_bits(diff) if diff else (0, 0)
    code, n = dc_tab[size]
    bw_writer.write(code, n)
    if size:
        bw_writer.write(bits, size)
    run = 0
    last_nz = max([i for i in range(1, 64) if zz[i]], default=0)
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, n = ac_tab[0xF0]            # ZRL
            bw_writer.write(code, n)
            run -= 16
        size, bits = _jpeg_mag_bits(v)
        code, n = ac_tab[(run << 4) | size]
        bw_writer.write(code, n)
        bw_writer.write(bits, size)
        run = 0
    if last_nz < 63:
        code, n = ac_tab[0x00]                # EOB
        bw_writer.write(code, n)
    return prev_dc


def jpeg_bytes(pixels, quant=None, restart_interval: int = 0) -> bytes:
    """Encode a grayscale uint8 array (h, w) as a baseline JPEG.  ``quant``
    is the 64-entry quantization table in natural order (default all
    ones — see the exactness contract above).  Dimensions need not be
    multiples of 8; partial blocks are edge-replicated.

    ``restart_interval`` > 0 (r10) writes a DRI segment and emits RSTn
    markers every that-many MCUs (byte-aligned, modulo-8 sequence, DC
    predictor reset) — the resync layout camera JPEGs use, and the
    variant a real-world corpus hits first beyond plain baseline."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    q = np.ones(64, dtype=np.int64) if quant is None else \
        np.asarray(quant, dtype=np.int64).reshape(64)
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.pad(px.astype(np.float64), ((0, bh * 8 - h), (0, bw * 8 - w)),
                    mode="edge")
    dc_tab = _huff_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tab = _huff_canonical(_JPEG_AC_SYMBOLS, 9)
    bw_writer = _BitWriter()
    prev_dc = 0
    qmat = q.reshape(8, 8)
    for by in range(bh):
        for bx in range(bw):
            mcu = by * bw + bx
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_writer.restart_marker(mcu // restart_interval - 1)
                prev_dc = 0
            blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
            prev_dc = _encode_block(bw_writer, blk, qmat, dc_tab, ac_tab,
                                    prev_dc)
    data = bw_writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, symbols: list[int], length: int) -> bytes:
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        return bytes([(cls << 4) | tid] + counts + symbols)

    zz_q = q[_JPEG_ZIGZAG]            # DQT body is in zigzag order
    dri = (seg(0xFFDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    out = (b"\xff\xd8"                                            # SOI
           + seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in zz_q))  # DQT
           + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
                 + bytes([1, 0x11, 0]))                           # SOF0
           + seg(0xFFC4, dht(0, 0, _JPEG_DC_SYMBOLS, 4))          # DHT DC
           + seg(0xFFC4, dht(1, 0, _JPEG_AC_SYMBOLS, 9))          # DHT AC
           + dri                                                  # DRI
           + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))           # SOS
           + data + b"\xff\xd9")                                  # EOI
    return out


def jpeg_bytes_color(pixels, quant_luma=None, quant_chroma=None) -> bytes:
    """Encode an RGB uint8 array (h, w, 3) as a baseline 4:4:4 COLOR JPEG
    (r9): BT.601 full-range RGB→YCbCr, three components with sampling
    0x11 (no subsampling), separate luma/chroma quantization tables (ids
    0/1) and separate luma/chroma Huffman table ids (DC0/AC0, DC1/AC1 —
    written independently so the decoder must honour per-component table
    selection), interleaved MCU scan (Y, Cb, Cr per MCU) with three
    independent DC predictors.

    Exactness contract for the oracle: a GRAY flat block (R=G=B=v) maps
    to Y=v ± ~1e-13, Cb=Cr=128 ± ~1e-15 — each block's single DC
    coefficient rounds to the exact integer, so under unity quant tables
    gray flat blocks round-trip bit-exactly through the full color path
    (interleaving, chroma predictors, YCbCr↔RGB).  True-color content is
    lossy (DCT rounding + color-matrix round trip) and is pinned by
    tolerance tests."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_bytes_color expects an (h, w, 3) RGB array")
    h, w = px.shape[:2]
    rgb = px.astype(np.float64)
    R, G, B = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [0.299 * R + 0.587 * G + 0.114 * B,
              -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0,
              0.5 * R - 0.418688 * G - 0.081312 * B + 128.0]
    ql = np.ones(64, dtype=np.int64) if quant_luma is None else \
        np.asarray(quant_luma, dtype=np.int64).reshape(64)
    qc = np.ones(64, dtype=np.int64) if quant_chroma is None else \
        np.asarray(quant_chroma, dtype=np.int64).reshape(64)
    qmats = [ql.reshape(8, 8), qc.reshape(8, 8), qc.reshape(8, 8)]
    bh, bw = -(-h // 8), -(-w // 8)
    padded = [np.pad(p, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
              for p in planes]
    dc_tab = _huff_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tab = _huff_canonical(_JPEG_AC_SYMBOLS, 9)
    bw_writer = _BitWriter()
    prev = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                blk = padded[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] \
                    - 128.0
                prev[ci] = _encode_block(bw_writer, blk, qmats[ci],
                                         dc_tab, ac_tab, prev[ci])
    data = bw_writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, symbols: list[int], length: int) -> bytes:
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        return bytes([(cls << 4) | tid] + counts + symbols)

    zz_ql, zz_qc = ql[_JPEG_ZIGZAG], qc[_JPEG_ZIGZAG]
    return (b"\xff\xd8"                                           # SOI
            + seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in zz_ql))
            + seg(0xFFDB, bytes([0x01]) + bytes(int(v) for v in zz_qc))
            + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                  + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))  # SOF0
            + seg(0xFFC4, dht(0, 0, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 0, _JPEG_AC_SYMBOLS, 9))
            + seg(0xFFC4, dht(0, 1, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 1, _JPEG_AC_SYMBOLS, 9))
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
            + data + b"\xff\xd9")                                 # EOI


def jpeg_bytes_420(pixels, quant_luma=None, quant_chroma=None,
                   restart_interval: int = 0) -> bytes:
    """Encode an RGB uint8 array (h, w, 3) as a baseline 4:2:0
    chroma-SUBSAMPLED JPEG (r9, one notch past :func:`jpeg_bytes_color`):
    luma sampling 0x22 against chroma 0x11, 16x16 macroblock MCUs of 4 Y
    blocks + 1 Cb + 1 Cr, chroma downsampled by exact 2x2 box average.

    Exactness contract: gray flat 16x16 macroblocks keep Y flat per
    block and Cb=Cr exactly 128 (the 2x2 average of a constant is that
    constant), so under unity quant tables they round-trip bit-exactly
    through the full subsampled path — the oracle for ``mm_jpeg_420``.
    True color loses chroma detail by design; tolerance tests pin the
    envelope.

    ``restart_interval`` > 0 (r10) emits DRI + per-interval RSTn markers
    over the 16x16-macroblock MCUs — 4:2:0 with restarts is the typical
    camera-output layout."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_bytes_420 expects an (h, w, 3) RGB array")
    h, w = px.shape[:2]
    rgb = px.astype(np.float64)
    R, G, B = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
    Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
    mbh, mbw = -(-h // 16), -(-w // 16)
    pad = ((0, mbh * 16 - h), (0, mbw * 16 - w))
    Y, Cb, Cr = (np.pad(p, pad, mode="edge") for p in (Y, Cb, Cr))
    # Exact 2x2 box-average chroma downsample.
    Cb = (Cb[0::2, 0::2] + Cb[0::2, 1::2]
          + Cb[1::2, 0::2] + Cb[1::2, 1::2]) / 4.0
    Cr = (Cr[0::2, 0::2] + Cr[0::2, 1::2]
          + Cr[1::2, 0::2] + Cr[1::2, 1::2]) / 4.0
    ql = np.ones(64, dtype=np.int64) if quant_luma is None else \
        np.asarray(quant_luma, dtype=np.int64).reshape(64)
    qc = np.ones(64, dtype=np.int64) if quant_chroma is None else \
        np.asarray(quant_chroma, dtype=np.int64).reshape(64)
    qy, qm = ql.reshape(8, 8), qc.reshape(8, 8)
    dc_tab = _huff_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tab = _huff_canonical(_JPEG_AC_SYMBOLS, 9)
    bw_writer = _BitWriter()
    prev = [0, 0, 0]
    for my in range(mbh):
        for mx in range(mbw):
            mcu = my * mbw + mx
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_writer.restart_marker(mcu // restart_interval - 1)
                prev = [0, 0, 0]
            for vy in range(2):
                for hx in range(2):
                    y0, x0 = my * 16 + vy * 8, mx * 16 + hx * 8
                    blk = Y[y0:y0 + 8, x0:x0 + 8] - 128.0
                    prev[0] = _encode_block(bw_writer, blk, qy,
                                            dc_tab, ac_tab, prev[0])
            for ci, plane in ((1, Cb), (2, Cr)):
                blk = plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] - 128.0
                prev[ci] = _encode_block(bw_writer, blk, qm,
                                         dc_tab, ac_tab, prev[ci])
    data = bw_writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, symbols: list[int], length: int) -> bytes:
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        return bytes([(cls << 4) | tid] + counts + symbols)

    zz_ql, zz_qc = ql[_JPEG_ZIGZAG], qc[_JPEG_ZIGZAG]
    dri = (seg(0xFFDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xff\xd8"                                           # SOI
            + seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in zz_ql))
            + seg(0xFFDB, bytes([0x01]) + bytes(int(v) for v in zz_qc))
            + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                  + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))  # SOF0
            + seg(0xFFC4, dht(0, 0, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 0, _JPEG_AC_SYMBOLS, 9))
            + seg(0xFFC4, dht(0, 1, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 1, _JPEG_AC_SYMBOLS, 9))
            + dri                                                 # DRI
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
            + data + b"\xff\xd9")                                 # EOI


def jpeg_bytes_422(pixels, quant_luma=None, quant_chroma=None,
                   restart_interval: int = 0) -> bytes:
    """Encode an RGB uint8 array (h, w, 3) as a baseline 4:2:2 JPEG
    (r10, completing the {1,2}-factor sampling family): luma 0x21
    against chroma 0x11 — chroma halved HORIZONTALLY only, the video /
    broadcast intermediate format — 16x8 MCUs of 2 Y blocks + 1 Cb +
    1 Cr, chroma downsampled by exact 1x2 horizontal box average.

    Exactness contract: gray flat 8-row x 16-col blocks keep every Y
    block flat and Cb=Cr exactly 128, so under unity quant tables they
    round-trip bit-exactly through the subsampled path (the oracle for
    ``mm_jpeg_422``).  ``restart_interval`` composes as in
    :func:`jpeg_bytes_420`."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_bytes_422 expects an (h, w, 3) RGB array")
    h, w = px.shape[:2]
    rgb = px.astype(np.float64)
    R, G, B = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
    Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
    mbh, mbw = -(-h // 8), -(-w // 16)
    pad = ((0, mbh * 8 - h), (0, mbw * 16 - w))
    Y, Cb, Cr = (np.pad(p, pad, mode="edge") for p in (Y, Cb, Cr))
    # Exact 1x2 horizontal box-average chroma downsample (rows kept).
    Cb = (Cb[:, 0::2] + Cb[:, 1::2]) / 2.0
    Cr = (Cr[:, 0::2] + Cr[:, 1::2]) / 2.0
    ql = np.ones(64, dtype=np.int64) if quant_luma is None else \
        np.asarray(quant_luma, dtype=np.int64).reshape(64)
    qc = np.ones(64, dtype=np.int64) if quant_chroma is None else \
        np.asarray(quant_chroma, dtype=np.int64).reshape(64)
    qy, qm = ql.reshape(8, 8), qc.reshape(8, 8)
    dc_tab = _huff_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tab = _huff_canonical(_JPEG_AC_SYMBOLS, 9)
    bw_writer = _BitWriter()
    prev = [0, 0, 0]
    for my in range(mbh):
        for mx in range(mbw):
            mcu = my * mbw + mx
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_writer.restart_marker(mcu // restart_interval - 1)
                prev = [0, 0, 0]
            for hx in range(2):
                y0, x0 = my * 8, mx * 16 + hx * 8
                blk = Y[y0:y0 + 8, x0:x0 + 8] - 128.0
                prev[0] = _encode_block(bw_writer, blk, qy,
                                        dc_tab, ac_tab, prev[0])
            for ci, plane in ((1, Cb), (2, Cr)):
                blk = plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] - 128.0
                prev[ci] = _encode_block(bw_writer, blk, qm,
                                         dc_tab, ac_tab, prev[ci])
    data = bw_writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, symbols: list[int], length: int) -> bytes:
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        return bytes([(cls << 4) | tid] + counts + symbols)

    zz_ql, zz_qc = ql[_JPEG_ZIGZAG], qc[_JPEG_ZIGZAG]
    dri = (seg(0xFFDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xff\xd8"                                           # SOI
            + seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in zz_ql))
            + seg(0xFFDB, bytes([0x01]) + bytes(int(v) for v in zz_qc))
            + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                  + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]))  # SOF0
            + seg(0xFFC4, dht(0, 0, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 0, _JPEG_AC_SYMBOLS, 9))
            + seg(0xFFC4, dht(0, 1, _JPEG_DC_SYMBOLS, 4))
            + seg(0xFFC4, dht(1, 1, _JPEG_AC_SYMBOLS, 9))
            + dri                                                 # DRI
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
            + data + b"\xff\xd9")                                 # EOI


# --- progressive JPEG encoder (r11) -----------------------------------------
# Spectral selection + successive approximation (T.81 Annex G), the layout
# most web JPEGs ship.  The coefficient math (FDCT, quantization, zigzag)
# is identical to baseline — progressive only re-ORDERS the entropy coding
# into multiple scans — so a progressive encode of the same pixels under
# the same quant tables holds bit-identical coefficients, and decoding
# both must give bit-identical pixels (pinned by tests).


def _quantized_zz_blocks(plane, qmat, pby: int, pbx: int):
    """Quantized ZIGZAG coefficient lists for every 8x8 block of an
    already-padded, level-shifted plane: [pby*pbx] lists of 64 ints.

    Per-block ``C @ blk @ C.T`` — the EXACT expression _encode_block
    uses — not a batched einsum: a different float summation order can
    flip np.round at a .5 boundary and desynchronize the progressive
    coefficients from the baseline encoders' (found the hard way on
    random-content round trips)."""
    import numpy as np

    C = _dct_matrix()
    blocks = (plane.reshape(pby, 8, pbx, 8).transpose(0, 2, 1, 3)
              .reshape(pby * pbx, 8, 8))
    out = []
    for blk in blocks:
        Sq = np.round((C @ blk @ C.T) / qmat).astype(np.int64).reshape(64)
        out.append(Sq[_JPEG_ZIGZAG].tolist())
    return out


class _ProgAcState:
    """Cross-block state of one progressive AC scan: the end-of-band run
    and (refinement only) the buffered correction bits that T.81 G.1.2.3
    defers until the next EOBn / ZRL / newly-significant code."""

    def __init__(self, bw: "_BitWriter", ac_tab) -> None:
        self.bw = bw
        self.ac_tab = ac_tab
        self.eobrun = 0
        self.corr = []          # deferred refinement correction bits

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            code, n = self.ac_tab[r << 4]
            self.bw.write(code, n)
            if r:
                self.bw.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        self.flush_corr()

    def flush_corr(self) -> None:
        for b in self.corr:
            self.bw.write(b, 1)
        self.corr = []

    def bump_eob(self) -> None:
        self.eobrun += 1
        if self.eobrun == 0x7FFF or len(self.corr) > 900:
            self.emit_eobrun()


def _enc_ac_first(st: "_ProgAcState", zz, ss: int, se: int, al: int) -> None:
    """One block of an AC FIRST scan (T.81 G.1.2.2): point transform =
    magnitude shift (truncate toward zero), zero runs + EOBn runs."""
    band = [(abs(zz[k]) >> al) * (1 if zz[k] >= 0 else -1)
            for k in range(ss, se + 1)]
    last = max((i for i, v in enumerate(band) if v), default=-1)
    if last < 0:
        st.bump_eob()
        return
    st.emit_eobrun()
    run = 0
    for i in range(last + 1):
        v = band[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, n = st.ac_tab[0xF0]
            st.bw.write(code, n)
            run -= 16
        size, bits = _jpeg_mag_bits(v)
        code, n = st.ac_tab[(run << 4) | size]
        st.bw.write(code, n)
        st.bw.write(bits, size)
        run = 0
    if last < se - ss:
        st.bump_eob()


def _enc_ac_refine(st: "_ProgAcState", zz, ss: int, se: int, al: int) -> None:
    """One block of an AC REFINEMENT scan (T.81 G.1.2.3): newly
    significant coefficients as (run, 1)+sign codes where the run counts
    only zero-HISTORY positions; already-significant coefficients emit
    deferred correction bits; trailing zero history folds into EOBn."""
    absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
    eob = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob = i
    run = 0
    pend = []
    for i, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= eob:
            st.emit_eobrun()
            code, n = st.ac_tab[0xF0]
            st.bw.write(code, n)
            run -= 16
            st.corr.extend(pend)
            st.flush_corr()
            pend = []
        if t > 1:
            pend.append(t & 1)    # history coefficient: correction bit
            continue
        st.emit_eobrun()
        code, n = st.ac_tab[(run << 4) | 1]
        st.bw.write(code, n)
        st.bw.write(1 if zz[ss + i] > 0 else 0, 1)
        st.corr.extend(pend)
        st.flush_corr()
        pend = []
        run = 0
    if run > 0 or pend:
        st.corr.extend(pend)
        st.bump_eob()


def jpeg_bytes_progressive(pixels, quant_luma=None, quant_chroma=None) -> bytes:
    """Encode as a PROGRESSIVE JPEG (SOF2, T.81 Annex G) — spectral
    selection + successive approximation, the multi-scan layout most web
    JPEGs use.  Grayscale for an (h, w) array; 4:2:0 color for an
    (h, w, 3) RGB array (same BT.601 plane prep and exact 2x2 box chroma
    downsample as :func:`jpeg_bytes_420`).

    Scan scripts mirror the classic libjpeg progression: a DC-first scan
    at Al=1 for all components, per-component AC-first scans with
    successive-approximation low bits, AC refinement scans, and a DC
    refinement scan — exercising EOBn runs, ZRL-in-refinement, deferred
    correction bits, and interleaved-DC/non-interleaved-AC block order.
    Quantized coefficients are bit-identical to the baseline encoders'
    (same FDCT path), so progressive and baseline decodes of the same
    pixels must agree bit-for-bit (tests/test_multimodal_jpeg_prog.py).
    """
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    ql = np.ones(64, dtype=np.int64) if quant_luma is None else \
        np.asarray(quant_luma, dtype=np.int64).reshape(64)
    qc = np.ones(64, dtype=np.int64) if quant_chroma is None else \
        np.asarray(quant_chroma, dtype=np.int64).reshape(64)
    if gray:
        factors = [(1, 1)]
        planes = [px.astype(np.float64)]
        qids = [0]
        quants = [ql]
        # scans: (kind, comp indices, Ss, Se, Ah, Al)
        script = [("dc", [0], 0, 0, 0, 1),
                  ("ac", [0], 1, 5, 0, 2),
                  ("ac", [0], 6, 63, 0, 2),
                  ("ac", [0], 1, 63, 2, 1),
                  ("ac", [0], 1, 63, 1, 0),
                  ("dc", [0], 0, 0, 1, 0)]
    else:
        rgb = px.astype(np.float64)
        R, G, B = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        Y = 0.299 * R + 0.587 * G + 0.114 * B
        Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
        Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
        mh, mw = -(-h // 16), -(-w // 16)
        pad = ((0, mh * 16 - h), (0, mw * 16 - w))
        Y, Cb, Cr = (np.pad(p, pad, mode="edge") for p in (Y, Cb, Cr))
        Cb = (Cb[0::2, 0::2] + Cb[0::2, 1::2]
              + Cb[1::2, 0::2] + Cb[1::2, 1::2]) / 4.0
        Cr = (Cr[0::2, 0::2] + Cr[0::2, 1::2]
              + Cr[1::2, 0::2] + Cr[1::2, 1::2]) / 4.0
        factors = [(2, 2), (1, 1), (1, 1)]
        planes = [Y, Cb, Cr]
        qids = [0, 1, 1]
        quants = [ql, qc, qc]
        script = [("dc", [0, 1, 2], 0, 0, 0, 1),
                  ("ac", [0], 1, 5, 0, 2),
                  ("ac", [1], 1, 63, 0, 1),
                  ("ac", [2], 1, 63, 0, 1),
                  ("ac", [0], 6, 63, 0, 2),
                  ("ac", [0], 1, 63, 2, 1),
                  ("dc", [0, 1, 2], 0, 0, 1, 0),
                  ("ac", [1], 1, 63, 1, 0),
                  ("ac", [2], 1, 63, 1, 0),
                  ("ac", [0], 1, 63, 1, 0)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mbw, mbh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    coefs, grids, cgrids = [], [], []
    for ci, ((hi, vi), plane, q) in enumerate(zip(factors, planes, quants)):
        pby, pbx = mbh * vi, mbw * hi          # interleaved (MCU) grid
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, pby * 8 - ph), (0, pbx * 8 - pw)),
                       mode="edge") - 128.0
        coefs.append(_quantized_zz_blocks(plane, q.reshape(8, 8), pby, pbx))
        grids.append((pby, pbx))
        # non-interleaved (component-dimension) grid, T.81 A.2.2
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        cgrids.append((-(-ch // 8), -(-cw // 8)))
    dc_tab = _huff_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tab = _huff_canonical(_JPEG_AC_PROG_SYMBOLS, 9)

    scan_bytes = []
    for kind, cis, ss, se, ah, al in script:
        bw_writer = _BitWriter()
        if kind == "dc":
            prev = {ci: 0 for ci in cis}
            if len(cis) > 1:
                order = [(ci, by, bx)
                         for my in range(mbh) for mx in range(mbw)
                         for ci in cis
                         for by in range(my * factors[ci][1],
                                         my * factors[ci][1] + factors[ci][1])
                         for bx in range(mx * factors[ci][0],
                                         mx * factors[ci][0] + factors[ci][0])]
            else:
                ci = cis[0]
                cby, cbx = cgrids[ci]
                order = [(ci, by, bx)
                         for by in range(cby) for bx in range(cbx)]
            for ci, by, bx in order:
                zz = coefs[ci][by * grids[ci][1] + bx]
                if ah == 0:                    # DC first: shifted diff
                    v = zz[0] >> al
                    diff = v - prev[ci]
                    prev[ci] = v
                    size, bits = _jpeg_mag_bits(diff) if diff else (0, 0)
                    code, n = dc_tab[size]
                    bw_writer.write(code, n)
                    if size:
                        bw_writer.write(bits, size)
                else:                          # DC refinement: raw bit
                    bw_writer.write((zz[0] >> al) & 1, 1)
        else:
            ci = cis[0]
            cby, cbx = cgrids[ci]
            st = _ProgAcState(bw_writer, ac_tab)
            for by in range(cby):
                for bx in range(cbx):
                    zz = coefs[ci][by * grids[ci][1] + bx]
                    if ah == 0:
                        _enc_ac_first(st, zz, ss, se, al)
                    else:
                        _enc_ac_refine(st, zz, ss, se, al)
            st.emit_eobrun()
        comps_hdr = bytes(
            b for ci in cis
            for b in (ci + 1, (qids[ci] << 4) | qids[ci]))
        sos = bytes([len(cis)]) + comps_hdr + bytes([ss, se, (ah << 4) | al])
        scan_bytes.append((sos, bw_writer.flush()))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, symbols: list[int], length: int) -> bytes:
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        return bytes([(cls << 4) | tid] + counts + symbols)

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in ql[_JPEG_ZIGZAG]))
    if not gray:
        out += seg(0xFFDB, bytes([0x01])
                   + bytes(int(v) for v in qc[_JPEG_ZIGZAG]))
    sof_comps = b"".join(
        bytes([ci + 1, (factors[ci][0] << 4) | factors[ci][1], qids[ci]])
        for ci in range(len(factors)))
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, len(factors))
               + sof_comps)                                        # SOF2
    for tid in sorted(set(qids)):
        out += seg(0xFFC4, dht(0, tid, _JPEG_DC_SYMBOLS, 4))
        out += seg(0xFFC4, dht(1, tid, _JPEG_AC_PROG_SYMBOLS, 9))
    for sos, data in scan_bytes:
        out += seg(0xFFDA, sos) + data
    out += b"\xff\xd9"                                             # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.buf):
                raise ValueError("truncated JPEG entropy data")
            byte = self.buf[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.buf) or self.buf[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1                     # unstuff
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        # Drop the consumed high bits: without this the accumulator grows
        # with stream position and every shift/mask above becomes
        # O(position) — quadratic total decode time on long non-DRI scans
        # (DRI streams were only saved by restart() zeroing acc).
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> int:
        """Byte-align, discard the pad bits, and consume the next RSTn
        marker (T.81 E.2.4).  Returns the marker's modulo-8 index so the
        caller can verify the restart sequence."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 2 > len(self.buf) or self.buf[self.pos] != 0xFF \
                or not (0xD0 <= self.buf[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        n = self.buf[self.pos + 1] - 0xD0
        self.pos += 2
        return n

    def peek(self, n: int) -> int:
        """The next ``n`` bits WITHOUT consuming them, virtually 1-padded
        past the end of the entropy segment / at a marker boundary (the
        encoder's own padding rule, so the padding can only ever extend
        a final code's unused low bits).  Fills the accumulator through
        the same unstuffing as :meth:`read` but STOPS at a marker
        instead of raising — the LUT decode peeks a fixed 16 bits, which
        near a restart marker extends past the real data."""
        while self.nbits < n and self.pos < len(self.buf):
            byte = self.buf[self.pos]
            if byte == 0xFF:
                if self.pos + 1 >= len(self.buf) \
                        or self.buf[self.pos + 1] != 0x00:
                    break                         # marker: stop filling
                self.pos += 2                     # unstuff
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        if self.nbits >= n:
            return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        pad = n - self.nbits
        return ((self.acc << pad) | ((1 << pad) - 1)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        """Consume ``n`` already-peeked bits (n must not exceed the real
        buffered bits — a code that needed the virtual padding means the
        stream was truncated)."""
        if n > self.nbits:
            raise ValueError("truncated JPEG entropy data")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1         # see read(): keep acc small


_HUFF_LUT_CACHE: dict = {}


def _huff_lut(table: dict[tuple[int, int], int]):
    """16-bit-prefix lookup table for one DHT table: entry i holds the
    (symbol, code length) of the unique code that prefixes the 16-bit
    string i, or symbol -1 if no code does.  Built with numpy SLICE
    assignments (one per symbol — each code owns a contiguous
    2^(16-len) index range), so construction is ~174 vectorized fills
    instead of 65k Python loop steps.  Turns the per-symbol decode from
    up-to-16 (read-1-bit + dict probe) Python steps into one peek(16) +
    two array indexings.

    MEMOIZED on the table contents: a corpus's files overwhelmingly
    share identical DHT tables (this repo's generators emit one
    canonical pair; real encoders ship the Annex K tables), so each
    worker builds a given LUT once and every subsequent file decodes
    against the cached arrays — without the memo, per-file build cost
    exceeds the decode savings on small images (measured on the
    flat-block fixture corpus)."""
    import numpy as np

    key = tuple(sorted(table.items()))
    hit = _HUFF_LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym = np.full(1 << 16, -1, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.uint8)
    for (length, code), s in table.items():
        lo = code << (16 - length)
        sym[lo:lo + (1 << (16 - length))] = s
        ln[lo:lo + (1 << (16 - length))] = length
    _HUFF_LUT_CACHE[key] = (sym, ln)
    if len(_HUFF_LUT_CACHE) > 64:     # corpus-of-many-encoders bound
        _HUFF_LUT_CACHE.pop(next(iter(_HUFF_LUT_CACHE)))
    return sym, ln


def _huff_decode_lut(reader: "_BitReader", lut) -> int:
    sym, ln = lut
    idx = reader.peek(16)
    s = int(sym[idx])
    if s < 0:
        raise ValueError("invalid Huffman code")
    reader.skip(int(ln[idx]))
    return s


def _jpeg_extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _dec_ac_first(reader, lut, zz, ss: int, se: int, al: int,
                  eobrun: int) -> int:
    """Decode one block of a progressive AC FIRST scan (T.81 G.2.2 /
    libjpeg decode_mcu_AC_first): EOBn runs skip whole blocks; new
    coefficients arrive at precision Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode_lut(reader, lut)
        r, s = sym >> 4, sym & 0xF
        if s == 0:
            if r < 15:                        # EOBn (current block counted)
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                break
            k += 16                           # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = _jpeg_extend(reader.read(s), s) << al
        k += 1
    return eobrun


def _dec_ac_refine(reader, lut, zz, ss: int, se: int, al: int,
                   eobrun: int) -> int:
    """Decode one block of a progressive AC REFINEMENT scan (T.81
    G.2.2 / libjpeg decode_mcu_AC_refine): runs count zero-HISTORY
    positions only; every already-nonzero position passed reads one
    correction bit; the EOB-run tail still carries correction bits."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode_lut(reader, lut)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break                     # tail handled below
                s_val = 0                     # ZRL: 16 zero-history skips
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                s_val = p1 if reader.read(1) else m1
            while k <= se:
                if zz[k] != 0:
                    if reader.read(1) and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                zz[k] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.read(1) and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg_progressive(h: int, w: int, comps, quant, huff,
                             scans) -> dict:
    """Progressive (SOF2) decode: accumulate coefficients scan by scan
    (interleaved DC scans over the MCU grid, non-interleaved AC scans
    over the component-dimension block grid per T.81 A.2.2), then one
    vectorized dequantize + IDCT + upsample + color pass."""
    import numpy as np

    factors = [((s >> 4), (s & 0xF)) for _, _, s in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mbw, mbh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grids = [(mbh * vi, mbw * hi) for hi, vi in factors]
    cgrids = []                       # non-interleaved block grids
    for hi, vi in factors:
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        cgrids.append((-(-ch // 8), -(-cw // 8)))
    coefs = [[[0] * 64 for _ in range(pby * pbx)]
             for pby, pbx in grids]
    cid_to_idx = {cid: i for i, (cid, _, _) in enumerate(comps)}

    for scan_tabs, ss, se, ah, al, ri, data, scan_huff in scans:
        # scan_huff is the per-scan SNAPSHOT of the Huffman tables as
        # defined at this scan's SOS (decode_jpeg captures them during the
        # marker walk) — a later DHT redefining a table id must not leak
        # backward into an earlier scan.
        reader = _BitReader(data)
        scan_cis = [cid_to_idx[cid] for cid in scan_tabs]

        def at_restart(unit: int, state_reset) -> None:
            if ri and unit and unit % ri == 0:
                expected = (unit // ri - 1) % 8
                n = reader.restart()
                if n != expected:
                    raise ValueError(
                        f"restart marker out of sequence: RST{n}, "
                        f"expected RST{expected}")
                state_reset()

        if ss == 0:                           # DC scan
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            preds = {ci: 0 for ci in scan_cis}
            if ah == 0:
                for ci in scan_cis:
                    if (0, scan_tabs[comps[ci][0]][0]) not in scan_huff:
                        raise ValueError(
                            "DC Huffman table undefined at scan's SOS")
                luts = {ci: _huff_lut(scan_huff[(0, scan_tabs[comps[ci][0]][0])])
                        for ci in scan_cis}
            else:
                luts = {}
            if len(scan_cis) > 1:             # interleaved MCU order
                units = []
                for my in range(mbh):
                    for mx in range(mbw):
                        blocks = []
                        for ci in scan_cis:
                            hi, vi = factors[ci]
                            for vy in range(vi):
                                for hx in range(hi):
                                    blocks.append(
                                        (ci, (my * vi + vy) * grids[ci][1]
                                         + mx * hi + hx))
                        units.append(blocks)
            else:
                ci = scan_cis[0]
                cby, cbx = cgrids[ci]
                units = [[(ci, by * grids[ci][1] + bx)]
                         for by in range(cby) for bx in range(cbx)]
            for ui, blocks in enumerate(units):
                at_restart(ui, lambda: preds.update(
                    {ci: 0 for ci in preds}))
                for ci, bi in blocks:
                    zz = coefs[ci][bi]
                    if ah == 0:
                        size = _huff_decode_lut(reader, luts[ci])
                        preds[ci] += _jpeg_extend(reader.read(size), size)
                        zz[0] = preds[ci] << al
                    elif reader.read(1):
                        zz[0] |= 1 << al
        else:                                 # AC scan: one component
            if len(scan_cis) != 1:
                raise ValueError("interleaved progressive AC scan")
            ci = scan_cis[0]
            if (1, scan_tabs[comps[ci][0]][1]) not in scan_huff:
                raise ValueError("AC Huffman table undefined at scan's SOS")
            lut = _huff_lut(scan_huff[(1, scan_tabs[comps[ci][0]][1])])
            cby, cbx = cgrids[ci]
            eobrun = 0
            unit = 0
            for by in range(cby):
                for bx in range(cbx):
                    if ri and unit and unit % ri == 0:
                        expected = (unit // ri - 1) % 8
                        n = reader.restart()
                        if n != expected:
                            raise ValueError("restart out of sequence")
                        eobrun = 0
                    zz = coefs[ci][by * grids[ci][1] + bx]
                    if ah == 0:
                        eobrun = _dec_ac_first(reader, lut, zz, ss, se,
                                               al, eobrun)
                    else:
                        eobrun = _dec_ac_refine(reader, lut, zz, ss, se,
                                                al, eobrun)
                    unit += 1

    C = _dct_matrix()
    planes = []
    for ci, (_cid, qid, _samp) in enumerate(comps):
        pby, pbx = grids[ci]
        qmat = quant[qid]
        plane = np.zeros((pby * 8, pbx * 8), dtype=np.float64)
        for bi, zz_list in enumerate(coefs[ci]):
            # per-block C.T @ S @ C — the baseline decode_block expression
            # exactly, so progressive and baseline decodes of identical
            # coefficients give bit-identical pixels (round() boundaries).
            S = np.zeros(64, dtype=np.float64)
            S[_JPEG_ZIGZAG] = zz_list
            blk = C.T @ (S.reshape(8, 8) * qmat) @ C + 128.0
            by, bx = divmod(bi, pbx)
            plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = blk
        planes.append(plane)
    for ci, (hi, vi) in enumerate(factors):
        if vi != vmax:
            planes[ci] = np.repeat(planes[ci], vmax // vi, 0)
        if hi != hmax:
            planes[ci] = np.repeat(planes[ci], hmax // hi, 1)
    if len(planes) == 1:
        pixels = np.clip(np.round(planes[0][:h, :w]), 0, 255) \
            .astype(np.uint8)
        return {"width": int(w), "height": int(h), "n_channels": 1,
                "pixels": pixels}
    Y, Cb, Cr = (p[:h, :w] for p in planes)
    rgb = np.stack([
        Y + 1.402 * (Cr - 128.0),
        Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0),
        Y + 1.772 * (Cb - 128.0)], axis=-1)
    pixels = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {"width": int(w), "height": int(h), "n_channels": 3,
            "pixels": pixels}


def _entropy_end(payload: bytes, start: int) -> int:
    """Index of the first real marker (not a stuffed 0x00, not RSTn)
    after ``start`` — the end of one scan's entropy-coded segment."""
    i = start
    n = len(payload)
    while i < n:
        i = payload.find(b"\xff", i)
        if i < 0 or i + 1 >= n:
            return n
        nxt = payload[i + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i += 2
            continue
        return i
    return n


def decode_jpeg(payload: bytes) -> dict:
    """REAL stdlib+numpy JPEG decoder: marker walk, DHT-driven
    Huffman entropy decode (byte unstuffing, DC prediction, magnitude
    extend, ZRL/EOB), dezigzag, dequantize, separable float IDCT,
    level shift + clamp.  Baseline sequential (SOF0): grayscale and any
    {1,2}-factor sampling (4:4:4, 4:2:0, 4:2:2, 4:4:0 — one generic
    interleaved-MCU loop, r10), plus DRI restart intervals (RSTn
    sequence verified, DC predictors reset per T.81 E.2.4).
    PROGRESSIVE (SOF2, r11): spectral selection + successive
    approximation per T.81 Annex G — multi-scan coefficient
    accumulation (interleaved DC scans, non-interleaved AC scans over
    the component-dimension block grid), EOBn runs, refinement
    correction bits, DRI restarts inside any scan.  Lossless/extended
    (SOF1/SOF3), factors > 2, and 16-bit quant tables raise.

    Returns {width, height, n_channels, pixels} with ``pixels`` the
    recovered (height, width) uint8 array."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = None
    data = None
    progressive = False
    scans = []        # progressive: (scan_tabs, ss, se, ah, al, ri, data)
    restart_interval = 0
    while pos + 4 <= len(payload):
        (marker, length) = struct.unpack_from(">HH", payload, pos)
        if marker == 0xFFD9:                      # EOI
            break
        body = payload[pos + 4: pos + 2 + length]
        if marker == 0xFFDB:                      # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_JPEG_ZIGZAG] = np.frombuffer(
                    body[off + 1: off + 65], dtype=np.uint8).astype(np.int64)
                quant[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker in (0xFFC0, 0xFFC2):          # SOF0 / SOF2 (r11)
            progressive = marker == 0xFFC2
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []    # (component id, quant id, sampling), SOF order
            for ci in range(ncomp):
                cid, samp, qid = body[6 + 3 * ci: 9 + 3 * ci]
                comps.append((cid, qid, samp))
            samps = [samp for _, _, samp in comps]
            if any((s >> 4) not in (1, 2) or (s & 0xF) not in (1, 2)
                   for s in samps):
                raise NotImplementedError(
                    f"sampling {samps}: factors must be 1 or 2 "
                    "(4:4:4 / 4:2:0 / 4:2:2 / 4:4:0)")
        elif marker in (0xFFC1, 0xFFC3):
            raise NotImplementedError("non-baseline JPEG scan")
        elif marker == 0xFFC4:                    # DHT
            off = 0
            while off < len(body):
                cls, tid = body[off] >> 4, body[off] & 0xF
                counts = list(body[off + 1: off + 17])
                syms = body[off + 17: off + 17 + sum(counts)]
                table: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for bit_len in range(1, 17):
                    for _ in range(counts[bit_len - 1]):
                        table[(bit_len, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(cls, tid)] = table
                off += 17 + sum(counts)
        elif marker == 0xFFDD:                    # DRI (r10)
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:                    # SOS
            ns = body[0]
            scan_tabs = {}      # component id -> (dc table id, ac table id)
            for ci in range(ns):
                cid, tabs = body[1 + 2 * ci], body[2 + 2 * ci]
                scan_tabs[cid] = (tabs >> 4, tabs & 0xF)
            if not progressive:
                data = payload[pos + 2 + length:]
                end = data.rfind(b"\xff\xd9")
                data = data[:end if end >= 0 else len(data)]
                break
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            dstart = pos + 2 + length
            dend = _entropy_end(payload, dstart)
            # Snapshot the REFERENCED table contents at SOS parse time
            # (r12, round-11 advice): a DHT between scans may REDEFINE a
            # table id (standard in libjpeg progressive output), so each
            # scan must decode with the tables as defined when its SOS
            # appeared — resolving ids against the post-walk dict would
            # decode every scan with the last definition.  DHT parsing
            # rebinds huff[(cls,tid)] to a fresh dict, so holding the
            # reference is a true snapshot.  Same per-scan capture as
            # restart_interval.
            scan_huff = {}
            for _cid, (dc_id, ac_id) in scan_tabs.items():
                for key in ((0, dc_id), (1, ac_id)):
                    if key in huff:
                        scan_huff[key] = huff[key]
            scans.append((dict(scan_tabs), ss, se, ahal >> 4, ahal & 0xF,
                          restart_interval, payload[dstart:dend], scan_huff))
            pos = dend
            continue
        pos += 2 + length
    if h is None or (data is None and not scans):
        raise ValueError("missing SOF0/SOS")
    if progressive:
        return _decode_jpeg_progressive(h, w, comps, quant, huff, scans)
    # Per-component decode state in SOF (= interleave) order; each DHT
    # table used by the scan becomes a 16-bit-prefix LUT (see _huff_lut)
    # so the hot loop decodes one symbol per peek instead of walking the
    # code tree bit by bit.
    luts: dict[tuple[int, int], object] = {}
    comp_info = []
    for cid, qid, _samp in comps:
        dc_id, ac_id = scan_tabs[cid]
        for key in ((0, dc_id), (1, ac_id)):
            if key not in luts:
                luts[key] = _huff_lut(huff[key])
        comp_info.append((quant[qid], luts[(0, dc_id)], luts[(1, ac_id)]))
    C = _dct_matrix()
    reader = _BitReader(data)
    prev = [0] * len(comp_info)

    def decode_block(qmat, dc_tab, ac_tab, prev_dc):
        zz = np.zeros(64, dtype=np.int64)
        size = _huff_decode_lut(reader, dc_tab)
        prev_dc += _jpeg_extend(reader.read(size), size)
        zz[0] = prev_dc
        i = 1
        while i < 64:
            sym = _huff_decode_lut(reader, ac_tab)
            if sym == 0x00:                   # EOB
                break
            if sym == 0xF0:                   # ZRL
                i += 16
                continue
            run, size = sym >> 4, sym & 0xF
            i += run
            if i > 63:
                raise ValueError("AC run past block end")
            zz[i] = _jpeg_extend(reader.read(size), size)
            i += 1
        S = np.zeros(64, dtype=np.float64)
        S[_JPEG_ZIGZAG] = zz
        S = S.reshape(8, 8) * qmat
        return C.T @ S @ C + 128.0, prev_dc

    def at_mcu_boundary(mcu_idx: int) -> None:
        """Before MCU ``mcu_idx``: if a DRI interval is in force and this
        index starts a new restart interval, consume the RSTn marker
        (byte-aligned), verify its modulo-8 sequence number, and reset
        every component's DC predictor (T.81 E.2.4) — the resync
        mechanism camera JPEGs emit so bit errors stay local."""
        if restart_interval and mcu_idx \
                and mcu_idx % restart_interval == 0:
            expected = (mcu_idx // restart_interval - 1) % 8
            n = reader.restart()
            if n != expected:
                raise ValueError(
                    f"restart marker out of sequence: RST{n}, "
                    f"expected RST{expected}")
            for i in range(len(prev)):
                prev[i] = 0

    # Generic interleaved-MCU loop (T.81 A.2.3, r10): component ci with
    # sampling factors (h_i, v_i) contributes v_i x h_i blocks per MCU
    # (row-major), an MCU covers 8*hmax x 8*vmax luma pixels, and each
    # chroma plane is replicate-upsampled by (vmax/v_i, hmax/h_i)
    # afterwards.  Subsumes grayscale, 4:4:4 (all 1x1), 4:2:0 (luma
    # 2x2), 4:2:2 (luma 2x1), and 4:4:0 (luma 1x2) in one loop —
    # factors are whitelisted to {1,2} at SOF parse.
    factors = [((s >> 4), (s & 0xF)) for s in samps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mbw, mbh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = [np.zeros((mbh * 8 * vi, mbw * 8 * hi), dtype=np.float64)
              for hi, vi in factors]
    for my in range(mbh):
        for mx in range(mbw):
            at_mcu_boundary(my * mbw + mx)
            for ci, (qmat, dc_tab, ac_tab) in enumerate(comp_info):
                hi, vi = factors[ci]
                for vy in range(vi):
                    for hx in range(hi):
                        blk, prev[ci] = decode_block(qmat, dc_tab, ac_tab,
                                                     prev[ci])
                        y0 = (my * vi + vy) * 8
                        x0 = (mx * hi + hx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = blk
    for ci, (hi, vi) in enumerate(factors):
        if vi != vmax:
            planes[ci] = np.repeat(planes[ci], vmax // vi, 0)
        if hi != hmax:
            planes[ci] = np.repeat(planes[ci], hmax // hi, 1)
    if len(planes) == 1:
        pixels = np.clip(np.round(planes[0][:h, :w]), 0, 255) \
            .astype(np.uint8)
        return {"width": int(w), "height": int(h), "n_channels": 1,
                "pixels": pixels}
    # BT.601 full-range YCbCr -> RGB (JFIF inverse matrix).
    Y, Cb, Cr = (p[:h, :w] for p in planes)
    rgb = np.stack([
        Y + 1.402 * (Cr - 128.0),
        Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0),
        Y + 1.772 * (Cb - 128.0)], axis=-1)
    pixels = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {"width": int(w), "height": int(h), "n_channels": 3,
            "pixels": pixels}


def jpeg_flat_blocks(doc_id: int):
    """The oracle-replayable JPEG fixture: (pixels, w, h) where the image
    is a grid of flat 8x8 blocks with value v(bx,by) = (a*bx + b*by + d)
    mod 256 and geometry pure functions of doc_id (bw = 1 + id%5 blocks,
    bh = 1 + id%4, a = 5 + id%7, b = 3 + id%5, d = id%256)."""
    import numpy as np

    i = int(doc_id)
    bw, bh = 1 + i % 5, 1 + i % 4
    a, b, d = 5 + i % 7, 3 + i % 5, i % 256
    bx = np.arange(bw, dtype=np.int64)
    by = np.arange(bh, dtype=np.int64)
    vals = (a * bx[None, :] + b * by[:, None] + d) % 256
    return np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)


JPEG_DECODED_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("pix_sum", LongType()),
])


def generate_media_jpeg(docs: DataFrame, batch_size: int = 256) -> DataFrame:
    """Synthesize a JPEG media table from the flat-block fixture — every
    payload a REAL baseline JPEG (markers, Huffman, stuffing)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": [jpeg_bytes(jpeg_flat_blocks(i)) for i in ids],
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def generate_media_jpeg_dri(docs: DataFrame,
                            batch_size: int = 256) -> DataFrame:
    """JPEG media table with RESTART INTERVALS (r10): the same flat-block
    fixture as :func:`generate_media_jpeg` but every payload carries a
    DRI segment with interval 1 + doc_id % 3 MCUs and the matching RSTn
    markers (byte-aligned, modulo-8 sequence, DC predictors reset) —
    the camera-output layout.  The fixture's geometry (up to 5x4 = 20
    MCUs) guarantees multiple restarts at every interval choice, and
    DRI never changes decoded pixels, so the mm_jpeg_decode arithmetic
    oracle applies unchanged."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": [jpeg_bytes(jpeg_flat_blocks(i),
                                       restart_interval=1 + i % 3)
                            for i in ids],
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def generate_media_jpeg_progressive(docs: DataFrame,
                                    batch_size: int = 256) -> DataFrame:
    """JPEG media table in PROGRESSIVE layout (r11): the flat-block
    fixture through :func:`jpeg_bytes_progressive` — SOF2, six scans
    (DC first at Al=1, spectral-selection AC firsts, AC refinements, DC
    refinement).  Progression re-orders entropy coding without changing
    coefficients, so the mm_jpeg_decode arithmetic oracle applies
    unchanged; the AC machinery on non-trivial coefficients is pinned
    bit-exactly against baseline decodes by
    tests/test_multimodal_jpeg_prog.py."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": [jpeg_bytes_progressive(jpeg_flat_blocks(i))
                            for i in ids],
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def decode_media_jpeg(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Arrow-batched REAL JPEG decode: geometry plus the exact integer sum
    of every recovered pixel (bit-exact on the flat-block fixture under
    the unity quantization table — see the codec header note)."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            metas = [decode_jpeg(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                "height": pd.array([m["height"] for m in metas],
                                   dtype="Int32"),
                "n_channels": pd.array([m["n_channels"] for m in metas],
                                       dtype="Int32"),
                "pix_sum": [int(m["pixels"].sum()) for m in metas],
            })

    return _map_in_batches(media,
                           decode_batches, JPEG_DECODED_SCHEMA, batch_size)


# --- MP4 MJPEG frame demux (r9) --------------------------------------------
# Closes the last honest stub: container DEMUXING without ffmpeg, for the
# one track format this repo can also DECODE — an MJPEG video track whose
# every sample is a complete baseline JPEG (decode_jpeg above).  The
# sample-table machinery (stsd/stts/stsc/stsz/stco|co64) is the real ISO
# 14496-12 layout and the walker is general: multi-chunk layouts, run-length
# stsc maps, and 64-bit chunk offsets all work.  Non-MJPEG sample formats
# (avc1/hev1...) still raise — bitstream decoding genuinely needs a codec
# library; the CONTAINER layer no longer does.


def _mp4_find(buf: bytes, start: int, end: int, path: list[bytes]):
    """Return (payload_start, box_end) of the first box at ``path`` under
    [start, end), descending one level per path element."""
    for typ in path:
        found = None
        for t, s, e in _mp4_walk(buf, start, end):
            if t == typ:
                found = (s, e)
                break
        if found is None:
            raise ValueError(f"missing box {typ!r}")
        start, end = found
    return start, end


def mp4_mjpeg_bytes(frames: list[bytes], width: int, height: int,
                    fps: int = 10, frames_per_chunk: int = 0,
                    use_co64: bool = False) -> bytes:
    """A valid ISO BMFF file with ONE video track of MJPEG samples
    ('jpeg' sample entry): ftyp + mdat(frames) + moov(mvhd + trak(tkhd +
    mdia(mdhd + hdlr + minf(vmhd + dinf + stbl(stsd stts stsc stsz
    stco))))).  mdat precedes moov so every chunk offset is known without
    patching (the layout every camera writes).  ``frames_per_chunk`` = 0
    puts all samples in one chunk; any other value exercises the
    multi-chunk stsc/stco path.  ``use_co64`` writes 64-bit chunk
    offsets (the >4 GiB-file table) so the demuxer's co64 branch is
    testable."""
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    n = len(frames)
    fpc = n if frames_per_chunk <= 0 else frames_per_chunk
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat = box(b"mdat", b"".join(frames))
    # Chunk offsets: frames are laid consecutively inside mdat.
    base = len(ftyp) + 8
    sizes = [len(f) for f in frames]
    chunk_offsets = []
    off = base
    for i in range(0, n, fpc):
        chunk_offsets.append(off)
        off += sum(sizes[i:i + fpc])

    timescale = 1000
    dur = n * timescale // fps

    mvhd = box(b"mvhd",
               b"\x00\x00\x00\x00"
               + struct.pack(">IIII", 0, 0, timescale, dur)
               + struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100)
               + b"\x00" * 10 + _MP4_UNITY_MATRIX + b"\x00" * 24
               + struct.pack(">I", 2))
    tkhd = box(b"tkhd",
               b"\x00\x00\x00\x07"
               + struct.pack(">III", 0, 0, 1) + b"\x00" * 4
               + struct.pack(">I", dur) + b"\x00" * 8
               + struct.pack(">hhh", 0, 0, 0) + b"\x00" * 2
               + _MP4_UNITY_MATRIX
               + struct.pack(">II", width << 16, height << 16))
    mdhd = box(b"mdhd",
               b"\x00\x00\x00\x00"
               + struct.pack(">IIII", 0, 0, timescale, dur)
               + struct.pack(">HH", 0x55C4, 0))       # language 'und'
    hdlr = box(b"hdlr",
               b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide"
               + b"\x00" * 12 + b"mjpeg\x00")
    vmhd = box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
    dinf = box(b"dinf", box(b"dref",
                            b"\x00\x00\x00\x00" + struct.pack(">I", 1)
                            + box(b"url ", b"\x00\x00\x00\x01")))
    entry = (struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6
             + struct.pack(">H", 1)                    # data_reference_index
             + b"\x00" * 16                            # pre_defined/reserved
             + struct.pack(">HH", width, height)
             + struct.pack(">II", 0x00480000, 0x00480000)
             + b"\x00" * 4 + struct.pack(">H", 1)      # frame_count
             + b"\x05mjpeg" + b"\x00" * 26             # compressorname
             + struct.pack(">Hh", 24, -1))
    stsd = box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + entry)
    stts = box(b"stts", b"\x00\x00\x00\x00" + struct.pack(">I", 1)
               + struct.pack(">II", n, timescale // fps))
    # stsc runs: one entry unless the LAST chunk is short.
    n_chunks = len(chunk_offsets)
    last = n - fpc * (n_chunks - 1)
    stsc_entries = [(1, fpc, 1)]
    if n_chunks > 1 and last != fpc:
        stsc_entries.append((n_chunks, last, 1))
    stsc = box(b"stsc", b"\x00\x00\x00\x00"
               + struct.pack(">I", len(stsc_entries))
               + b"".join(struct.pack(">III", *e) for e in stsc_entries))
    stsz = box(b"stsz", b"\x00\x00\x00\x00" + struct.pack(">II", 0, n)
               + b"".join(struct.pack(">I", s) for s in sizes))
    if use_co64:
        stco = box(b"co64", b"\x00\x00\x00\x00" + struct.pack(">I", n_chunks)
                   + b"".join(struct.pack(">Q", o) for o in chunk_offsets))
    else:
        stco = box(b"stco", b"\x00\x00\x00\x00" + struct.pack(">I", n_chunks)
                   + b"".join(struct.pack(">I", o) for o in chunk_offsets))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def demux_mp4_frames(payload: bytes) -> list[bytes]:
    """REAL sample-table demux: locate the video track's stbl, require an
    MJPEG ('jpeg'/'mjpa') sample entry, then resolve every sample's file
    offset from stsc (run-length sample→chunk map) + stco/co64 (chunk
    offsets) + stsz (sample sizes) and slice the frame bytes out of mdat.
    Raises on non-ISO-BMFF input, missing tables, and non-MJPEG sample
    formats (those need a real bitstream codec)."""
    import struct

    if payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    moov_s, moov_e = _mp4_find(payload, 0, len(payload), [b"moov"])
    stbl_s = stbl_e = None
    for t, s, e in _mp4_walk(payload, moov_s, moov_e):
        if t != b"trak":
            continue
        try:
            stbl_s, stbl_e = _mp4_find(payload, s, e,
                                       [b"mdia", b"minf", b"stbl"])
            break
        except ValueError:
            continue
    if stbl_s is None:
        raise ValueError("no track with a sample table")
    tables = {t: (s, e) for t, s, e in _mp4_walk(payload, stbl_s, stbl_e)}

    s, _ = tables[b"stsd"]
    fmt = payload[s + 12: s + 16]
    if fmt not in (b"jpeg", b"mjpa"):
        raise NotImplementedError(
            f"sample format {fmt!r}: only MJPEG tracks are demuxable "
            "without an external bitstream codec")

    s, _ = tables[b"stsz"]
    fixed, count = struct.unpack_from(">II", payload, s + 4)
    if fixed:
        sizes = [fixed] * count
    else:
        sizes = list(struct.unpack_from(f">{count}I", payload, s + 12))

    if b"stco" in tables:
        s, _ = tables[b"stco"]
        (n_chunks,) = struct.unpack_from(">I", payload, s + 4)
        offsets = list(struct.unpack_from(f">{n_chunks}I", payload, s + 8))
    elif b"co64" in tables:
        s, _ = tables[b"co64"]
        (n_chunks,) = struct.unpack_from(">I", payload, s + 4)
        offsets = list(struct.unpack_from(f">{n_chunks}Q", payload, s + 8))
    else:
        raise ValueError("missing stco/co64")

    s, _ = tables[b"stsc"]
    (n_runs,) = struct.unpack_from(">I", payload, s + 4)
    runs = [struct.unpack_from(">III", payload, s + 8 + 12 * i)
            for i in range(n_runs)]

    # Expand stsc runs to per-chunk sample counts.
    per_chunk = []
    for i, (first, spc, _desc) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_chunks
        per_chunk.extend([spc] * (last - first + 1))

    frames = []
    sample = 0
    for chunk_idx, spc in enumerate(per_chunk):
        off = offsets[chunk_idx]
        for _ in range(spc):
            if sample >= count:
                break
            frames.append(payload[off: off + sizes[sample]])
            off += sizes[sample]
            sample += 1
    if sample != count:
        raise ValueError(f"sample tables resolve {sample} of {count} samples")
    return frames


def jpeg_flat_blocks_frame(doc_id: int, frame_idx: int):
    """Per-frame variant of :func:`jpeg_flat_blocks`: geometry and the
    (a, b) gradients depend on doc_id only (MJPEG tracks keep fixed
    dimensions); the offset d advances 31 per frame, so consecutive
    frames differ everywhere."""
    import numpy as np

    i, f = int(doc_id), int(frame_idx)
    bw, bh = 1 + i % 5, 1 + i % 4
    a, b, d = 5 + i % 7, 3 + i % 5, (i + 31 * f) % 256
    bx = np.arange(bw, dtype=np.int64)
    by = np.arange(bh, dtype=np.int64)
    vals = (a * bx[None, :] + b * by[:, None] + d) % 256
    return np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)


MP4_FRAMES_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("pix_sum", LongType()),
])


def generate_media_mp4_mjpeg(docs: DataFrame,
                             batch_size: int = 64) -> DataFrame:
    """Synthesize an MJPEG-track MP4 per document: 1 + doc_id % 3 frames,
    each a REAL baseline JPEG of the per-frame flat-block fixture, muxed
    through the real sample-table builder (all-in-one-chunk layout)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                frames = [jpeg_bytes(jpeg_flat_blocks_frame(i, f))
                          for f in range(1 + i % 3)]
                px = jpeg_flat_blocks_frame(i, 0)
                payloads.append(mp4_mjpeg_bytes(
                    frames, px.shape[1], px.shape[0]))
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["video"] * len(ids),
                "payload": payloads,
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def demux_media_mp4(media: DataFrame, batch_size: int = 64) -> DataFrame:
    """Arrow-batched container demux + per-frame JPEG decode: one output
    row per video frame with its geometry and exact decoded pixel sum.
    The full 100 TB shape — binary video column in, typed per-frame rows
    out — with every byte of container AND codec parsing real."""
    import pandas as pd

    def demux_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "frame_idx", "width", "height", "pix_sum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for f, frame in enumerate(demux_mp4_frames(bytes(payload))):
                    m = decode_jpeg(frame)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["width"].append(m["width"])
                    out["height"].append(m["height"])
                    out["pix_sum"].append(int(m["pixels"].sum()))
            yield pd.DataFrame({
                "media_id": out["media_id"],
                "frame_idx": pd.array(out["frame_idx"], dtype="Int32"),
                "width": pd.array(out["width"], dtype="Int32"),
                "height": pd.array(out["height"], dtype="Int32"),
                "pix_sum": out["pix_sum"],
            })

    return _map_in_batches(media, demux_batches, MP4_FRAMES_SCHEMA, batch_size)


# --- Color JPEG (4:4:4) Spark plumbing (r9) --------------------------------

JPEG_COLOR_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("pix_sum", LongType()),
])


def generate_media_jpeg_color(docs: DataFrame,
                              batch_size: int = 256) -> DataFrame:
    """Synthesize 4:4:4 COLOR JPEGs: the grayscale flat-block fixture
    replicated into R=G=B, pushed through the full color encoder (three
    interleaved components, chroma tables, three DC predictors).  Gray
    content keeps the round trip bit-exact (see jpeg_bytes_color);
    true-color lossiness is pinned by tolerance tests."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                g = jpeg_flat_blocks(i)
                rgb = np.repeat(g[..., None], 3, axis=-1)
                payloads.append(jpeg_bytes_color(rgb))
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": payloads,
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def decode_media_jpeg_color(media: DataFrame,
                            batch_size: int = 256) -> DataFrame:
    """Arrow-batched color JPEG decode: geometry, channel count and the
    exact integer sum over ALL channels of the recovered pixels."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            metas = [decode_jpeg(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                "height": pd.array([m["height"] for m in metas],
                                   dtype="Int32"),
                "n_channels": pd.array([m["n_channels"] for m in metas],
                                       dtype="Int32"),
                "pix_sum": [int(m["pixels"].sum()) for m in metas],
            })

    return _map_in_batches(media,
                           decode_batches, JPEG_COLOR_SCHEMA, batch_size)


# --- 4:2:0 subsampled JPEG Spark plumbing (r9) -----------------------------


def jpeg_flat_macroblocks(doc_id: int):
    """16x16-macroblock variant of :func:`jpeg_flat_blocks` for the 4:2:0
    path: same per-block value arithmetic, 16-pixel granularity so every
    luma block AND every subsampled chroma block is flat (bit-exact
    round-trip contract of :func:`jpeg_bytes_420`)."""
    import numpy as np

    i = int(doc_id)
    bw, bh = 1 + i % 5, 1 + i % 4
    a, b, d = 5 + i % 7, 3 + i % 5, i % 256
    bx = np.arange(bw, dtype=np.int64)
    by = np.arange(bh, dtype=np.int64)
    vals = (a * bx[None, :] + b * by[:, None] + d) % 256
    return np.repeat(np.repeat(vals, 16, axis=0), 16, axis=1).astype(np.uint8)


def jpeg_flat_rects_422(doc_id: int):
    """8-row x 16-col flat-rectangle variant of :func:`jpeg_flat_blocks`
    for the 4:2:2 path: each rectangle spans one MCU, so every luma
    block AND every horizontally-subsampled chroma block is flat
    (bit-exact round-trip contract of :func:`jpeg_bytes_422`)."""
    import numpy as np

    i = int(doc_id)
    bw, bh = 1 + i % 5, 1 + i % 4
    a, b, d = 5 + i % 7, 3 + i % 5, i % 256
    bx = np.arange(bw, dtype=np.int64)
    by = np.arange(bh, dtype=np.int64)
    vals = (a * bx[None, :] + b * by[:, None] + d) % 256
    return np.repeat(np.repeat(vals, 8, axis=0), 16, axis=1).astype(np.uint8)


def generate_media_jpeg_422(docs: DataFrame,
                            batch_size: int = 256) -> DataFrame:
    """Synthesize 4:2:2 chroma-subsampled JPEGs from the gray
    flat-rectangle fixture replicated to R=G=B (bit-exact contract)."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                g = jpeg_flat_rects_422(i)
                payloads.append(jpeg_bytes_422(
                    np.repeat(g[..., None], 3, axis=-1)))
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": payloads,
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)


def generate_media_jpeg_420(docs: DataFrame,
                            batch_size: int = 256) -> DataFrame:
    """Synthesize 4:2:0 chroma-subsampled JPEGs from the gray
    flat-macroblock fixture replicated to R=G=B (bit-exact contract)."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                g = jpeg_flat_macroblocks(i)
                payloads.append(jpeg_bytes_420(
                    np.repeat(g[..., None], 3, axis=-1)))
            yield pd.DataFrame({
                "media_id": [str(i) for i in ids],
                "media_type": ["image"] * len(ids),
                "payload": payloads,
            })

    return _map_in_batches(_spread_for_python(docs.select("doc_id")),
                           gen, MEDIA_SCHEMA, batch_size)
