"""Multimodal plumbing: opaque binary columns, Arrow-batched decode stub."""

from __future__ import annotations

import pytest

from big_data_assignment_2_spark.operators.multimodal import (
    decode_image, decode_media, frame_sample, media_from_documents,
    media_metadata, repartition_by_bytes)
from big_data_assignment_2_spark.sources.io import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return media_from_documents(load_table(spark, sf_dir, "documents")).cache()


def test_metadata_pure_expressions(media):
    rows = media_metadata(media).collect()
    assert len(rows) == 500
    r = next(x for x in rows if x["n_bytes"] > 0)
    assert len(r["digest"]) == 32 and len(r["magic"]) == 8
    assert r["media_type"] in ("image", "audio", "video")


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)


def test_decode_media_deterministic(spark, media):
    out1 = sorted(tuple(r) for r in decode_media(media, fake=True).collect())
    out2 = sorted(tuple(r) for r in decode_media(media, fake=True).collect())
    assert out1 == out2
    widths = {r[3] for r in out1}
    assert all(64 <= w < 256 for w in widths)


def test_frame_sample_only_video(spark, media):
    decoded = decode_media(media, fake=True)
    fs = frame_sample(decoded, every_n=10)
    vids = decoded.filter("media_type = 'video'").count()
    assert fs.select("media_id").distinct().count() == vids
    assert fs.filter("frame_idx % 10 != 0").count() == 0


def test_repartition_by_bytes(media):
    out = repartition_by_bytes(media, target_partition_bytes=10_000)
    assert out.rdd.getNumPartitions() >= 2


def test_real_codecs_roundtrip():
    """decode_payload must read back exactly what the builders encode,
    byte-level, and refuse formats it cannot truly parse."""
    import pytest

    from big_data_assignment_2_spark.operators.multimodal import (
        bmp_bytes, decode_payload, wav_bytes)

    img = decode_payload(bmp_bytes(33, 21, b"seed"))
    assert (img["width"], img["height"]) == (33, 21)
    aud = decode_payload(wav_bytes(1234, 16000))
    assert (aud["n_channels"], aud["sample_rate"], aud["n_samples"]) \
        == (1, 16000, 1234)
    # PNG (round 7), baseline JPEG (round 8) and MP4 demux (round 9) are
    # REAL codecs: garbage after the magic is a parse error, not a stub;
    # only genuinely library-bound formats (non-MJPEG bitstreams, unknown
    # magic) still raise NotImplementedError.
    with pytest.raises(ValueError):
        decode_payload(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        decode_payload(b"\xff\xd8\xff\xe0JFIF....")
    with pytest.raises(ValueError):
        decode_payload(b"\x00\x00\x00\x18ftypisom")   # truncated box tree
    with pytest.raises(NotImplementedError):
        decode_payload(b"GIF89a" + b"\x00" * 16)


def test_decode_media_real_on_spark(spark, sf_dir):
    """Generated payloads decode distributedly; every row's parsed fields
    match the generator's arithmetic."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_media_real, generate_media_real)
    from big_data_assignment_2_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    out = decode_media_real(generate_media_real(docs))
    rows = out.collect()
    assert len(rows) == 60
    for r in rows:
        did = int(r["media_id"])
        if did % 2 == 0:
            assert r["media_type"] == "image"
            assert r["width"] == 8 + did % 32
            assert r["height"] == 8 + did % 17
            assert r["n_channels"] is None
        else:
            assert r["media_type"] == "audio"
            assert r["n_channels"] == 1 and r["sample_rate"] == 16000
            assert r["width"] is None


def test_resize_bmp_pixels():
    """Nearest-neighbor must replicate actual pixel values, not just fix
    the header: a half-red half-blue 2x2 upsampled 2x keeps the quadrant
    colors in the right places."""
    import numpy as np

    from big_data_assignment_2_spark.operators.multimodal import (
        bmp_bytes, decode_payload, resize_bmp)

    # hand-build a 2x2 BMP: rows are (B,G,R) triplets, 4-byte-padded
    red, blue = b"\x00\x00\xff", b"\xff\x00\x00"
    row0 = red + blue + b"\x00\x00"    # pad to 8 bytes
    row1 = blue + red + b"\x00\x00"
    payload = bmp_bytes(2, 2, b"x")[:54] + row0 + row1
    out = resize_bmp(payload, target=4)
    meta = decode_payload(out)
    assert (meta["width"], meta["height"]) == (4, 4)
    orow = ((3 * 4 + 3) // 4) * 4
    px = (np.frombuffer(out, np.uint8, count=orow * 4, offset=54)
          .reshape(4, orow)[:, :12].reshape(4, 4, 3))
    assert bytes(px[0, 0]) == red and bytes(px[0, 3]) == blue
    assert bytes(px[3, 0]) == blue and bytes(px[3, 3]) == red


def test_png_roundtrip_all_filters():
    """Each of the five PNG filter types must individually round-trip:
    force a single filter by encoding an image whose height covers only
    that filter row... simpler: the generator cycles filter(y)=y%5, so a
    height >= 5 image exercises every branch; pixel equality (not just
    geometry) certifies the unfilter arithmetic."""
    import numpy as np

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_png, png_bytes)

    for i in (0, 3, 17, 254, 511):
        w, h, a, b, d = 4 + i % 24, 4 + i % 13, 3 + i % 5, 7 + i % 3, i % 256
        m = decode_png(png_bytes(w, h, a, b, d))
        x, y, c = np.arange(w), np.arange(h), np.arange(3)
        exp = ((a * x[None, :, None] + b * y[:, None, None]
                + 11 * c[None, None, :] + d) % 256).reshape(h, w * 3)
        assert (m["width"], m["height"], m["n_channels"]) == (w, h, 3)
        assert (m["pixels"] == exp).all()


def test_png_corruption_detected():
    """Bit flips anywhere in the stream must raise (CRC-32 walk), and a
    truncated payload must raise rather than return garbage."""
    import pytest

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_png, png_bytes)

    p = png_bytes(12, 9, 3, 7, 42)
    for off in (12, 40, len(p) - 6):
        bad = bytearray(p)
        bad[off] ^= 0xFF
        with pytest.raises(ValueError):
            decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(p[: len(p) // 2])


def test_png_decode_payload_dispatch():
    """decode_payload must route PNG magic to the real decoder and still
    raise on genuinely library-bound formats."""
    import pytest

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_payload, png_bytes)

    meta = decode_payload(png_bytes(20, 6, 4, 8, 1))
    assert (meta["width"], meta["height"]) == (20, 6)
    # JPEG is real since round 8: a structurally empty stream is a parse
    # error; a truncated MP4 box tree is too (demux is real since r9).
    with pytest.raises(ValueError):
        decode_payload(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
    with pytest.raises(ValueError):
        decode_payload(b"\x00\x00\x00\x18ftypisom")


def test_png_decode_on_spark(spark, sf_dir):
    """End-to-end through mapInPandas at sf0.001: every decoded row's
    geometry and pixel sum must equal the direct in-process decode."""
    import numpy as np

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_media_png, generate_media_png)
    from big_data_assignment_2_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    rows = decode_media_png(generate_media_png(docs)).collect()
    assert len(rows) == 40
    for r in rows:
        i = int(r["media_id"])
        w, h, a, b, d = 4 + i % 24, 4 + i % 13, 3 + i % 5, 7 + i % 3, i % 256
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, 3)
        x, y, c = np.arange(w), np.arange(h), np.arange(3)
        exp = int((((a * x[None, :, None] + b * y[:, None, None]
                     + 11 * c[None, None, :] + d) % 256)).sum())
        assert r["pix_sum"] == exp


def test_codec_stages_leave_arrow_batch_conf_alone(spark):
    """The PNG and JPEG stages slice batches to ``batch_size`` inside the
    worker and never write ``arrow.maxRecordsPerBatch``: the conf reads
    the same after a run, and the rows equal those of a run with the conf
    pinned to ``batch_size``."""
    from big_data_assignment_2_spark.operators.multimodal import (
        decode_media_jpeg, decode_media_png, generate_media_jpeg,
        generate_media_png)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")

    def run():
        png = decode_media_png(generate_media_png(docs, batch_size=16),
                               batch_size=16).collect()
        jpg = decode_media_jpeg(generate_media_jpeg(docs, batch_size=16),
                                batch_size=16).collect()
        return sorted(map(tuple, png)), sorted(map(tuple, jpg))

    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        got = run()
        assert spark.conf.get(key) == "10000"
        spark.conf.set(key, "16")
        assert run() == got
    finally:
        spark.conf.set(key, saved)
    assert len(got[0]) == len(got[1]) == 50


def test_map_in_batches_slices_each_arrow_batch(spark):
    """One 100-row Arrow batch reaches the function as <= 16-row frames,
    each with a fresh 0-based index."""
    import pandas as pd

    from big_data_assignment_2_spark.operators.multimodal import (
        _map_in_batches)

    def sizes(frames):
        for pdf in frames:
            assert pdf.index[0] == 0
            yield pd.DataFrame({"n": [len(pdf)],
                                "lo": [int(pdf["id"].iat[0])]})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        frames = _map_in_batches(spark.range(0, 100, numPartitions=1),
                                 sizes, "n long, lo long", 16).collect()
    finally:
        spark.conf.set(key, saved)
    assert sorted(r["n"] for r in frames) == [4] + [16] * 6
    assert sorted(r["lo"] for r in frames) == list(range(0, 100, 16))


def test_mp4_box_roundtrip_and_corruption():
    """ISO BMFF generator/parser agreement at the byte level, plus
    rejection of corrupt structures."""
    import pytest

    from big_data_assignment_2_spark.operators.multimodal import (
        decode_mp4, mp4_bytes)

    b = mp4_bytes(640, 360, 12_345)
    m = decode_mp4(b)
    assert (m["width"], m["height"], m["duration_ms"]) == (640, 360, 12_345)
    assert m["n_tracks"] == 1 and m["n_top_boxes"] == 3
    # non-millisecond timescale: duration converts through the timescale
    assert decode_mp4(mp4_bytes(64, 64, 2000,
                                timescale=90_000))["duration_ms"] == 2000
    with pytest.raises(ValueError):
        decode_mp4(b"\x00" * 32)                    # no ftyp
    with pytest.raises(ValueError):
        decode_mp4(b[:4] + b"ftyp" + b"\x00\x00\x00\x03zzzz")  # size < 8
