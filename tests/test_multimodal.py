"""Multimodal plumbing: binary pack/meta round-trip, deterministic stub
features through real Arrow batches, frame sampling, and the
NotImplementedError gate on the real-codec path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators import multimodal
from de_gcp_lakehouse_iceberg_spark.operators.multimodal import (
    dhash_media,
    dhash_near_pairs,
)


def _media(spark):
    df = spark.createDataFrame(
        [(1, b"abcabc"), (2, b"\x00" * 10), (3, None)],
        "id long, data binary",
    )
    return multimodal.pack_media(
        df, id_col="id", payload_col=F.col("data"), kind="image",
        width=F.lit(8), height=F.lit(8),
    )


def test_pack_media_meta(spark):
    rows = {r.media_id: r for r in _media(spark).collect()}
    assert rows[1].meta.n_bytes == 6
    assert rows[2].meta.n_bytes == 10
    assert rows[3].meta.n_bytes is None  # null payload → null length
    assert rows[1].meta.width == 8 and rows[1].kind == "image"
    assert bytes(rows[1].payload) == b"abcabc"


def test_stub_features_deterministic(spark):
    feats = {r.media_id: r for r in
             multimodal.extract_features(_media(spark)).collect()}
    # null payload skipped
    assert set(feats) == {1, 2}
    r1 = feats[1]
    assert r1.n_bytes == 6
    assert abs(r1.byte_mean - (ord("a") + ord("b") + ord("c")) / 3) < 1e-12
    assert abs(r1.byte_entropy - math.log2(3)) < 1e-12  # 3 equally-likely bytes
    r2 = feats[2]
    assert r2.byte_entropy == 0.0 and r2.byte_mean == 0.0
    # FNV-1a of b"abcabc" head, recomputed independently
    h = 0xCBF29CE484222325
    for x in b"abcabc":
        h = ((h ^ x) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    assert r1.head_hash == h - 2**63


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
        + b"\x00\x00\x00\x00"  # CRC not validated by header parse
    )


def _jpeg(w: int, h: int, app0_pad: int = 0) -> bytes:
    app0 = b""
    if app0_pad:
        # an APP0 segment before the SOF — the walker must skip it
        app0 = b"\xff\xe0" + (2 + app0_pad).to_bytes(2, "big") + b"\x00" * app0_pad
    sof = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([3]) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def test_decode_media_png_jpeg_gif():
    d = multimodal.decode_media(_png(640, 480))
    assert d == {"format": "png", "width": 640, "height": 480}
    d = multimodal.decode_media(_jpeg(1920, 1080))
    assert d == {"format": "jpeg", "width": 1920, "height": 1080}
    # marker walk: APP0 before the SOF, and a progressive SOF2
    d = multimodal.decode_media(_jpeg(33, 44, app0_pad=14))
    assert (d["width"], d["height"]) == (33, 44)
    prog = _jpeg(12, 34).replace(b"\xff\xc0", b"\xff\xc2")
    assert multimodal.decode_media(prog)["width"] == 12
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    d = multimodal.decode_media(gif)
    assert d == {"format": "gif", "width": 320, "height": 200}


def test_decode_media_rejects_opaque_and_truncated():
    for bad in (b"", b"hello world", _png(1, 1)[:20], b"\xff\xd8\xff"):
        with pytest.raises(ValueError):
            multimodal.decode_media(bad)


def test_real_decode_in_extract_features(spark):
    df = spark.createDataFrame(
        [(1, _png(11, 22)), (2, _jpeg(33, 44)), (3, b"not an image")],
        "id long, data binary",
    )
    media = multimodal.pack_media(df, "id", F.col("data"), "image")
    feats = {
        r.media_id: r
        for r in multimodal.extract_features(media, decode_stub=False).collect()
    }
    assert (feats[1].format, feats[1].width, feats[1].height) == ("png", 11, 22)
    assert (feats[2].format, feats[2].width, feats[2].height) == ("jpeg", 33, 44)
    assert feats[3].format is None and feats[3].width is None
    # byte-level features still computed for every payload
    assert all(feats[i].n_bytes > 0 for i in (1, 2, 3))


def test_sample_frames(spark):
    df = spark.createDataFrame([(1, bytes(range(100)) * 30)], "id long, data binary")
    media = multimodal.pack_media(df, "id", F.col("data"), "video")
    frames = multimodal.sample_frames(media, every_n_bytes=1024, frame_bytes=16).collect()
    # 3000 bytes → 2 full strides
    assert [r.frame_no for r in frames] == [0, 1]
    assert bytes(frames[0].frame) == bytes(range(16))
    assert len(bytes(frames[1].frame)) == 16


def _raw_rgb(w, h, fn):
    import numpy as np

    idx = np.arange(w * h * 3, dtype=np.int64)
    return fn(idx).astype(np.uint8).tobytes()


def test_resize_media_nearest_neighbor_exact(spark):
    """Resized bytes must equal the textbook nearest-neighbor gather
    (out pixel (x,y) = in pixel (x*W//W2, y*H//H2)), down- AND
    up-scaling."""
    import numpy as np

    w, h = 7, 5
    payload = _raw_rgb(w, h, lambda i: (i * 11 + 3) % 256)
    df = spark.createDataFrame([(1, payload)], "id long, data binary")
    media = multimodal.pack_media(
        df, "id", F.col("data"), "raw_rgb",
        width=F.lit(w), height=F.lit(h),
    )
    for w2, h2 in ((4, 3), (14, 10), (1, 1)):
        got = multimodal.resize_media(media, w2, h2).collect()[0]
        img = np.frombuffer(payload, np.uint8).reshape(h, w, 3)
        ys = (np.arange(h2) * h) // h2
        xs = (np.arange(w2) * w) // w2
        want = img[ys][:, xs].tobytes()
        assert bytes(got.payload) == want, (w2, h2)
        assert (got.meta.width, got.meta.height) == (w2, h2)
        assert got.meta.n_bytes == w2 * h2 * 3


def test_resize_media_unsupported_policies(spark):
    df = spark.createDataFrame(
        [(1, _png(4, 4)), (2, _raw_rgb(2, 2, lambda i: i))],
        "id long, data binary",
    )
    png_media = multimodal.pack_media(
        df.filter(F.col("id") == 1), "id", F.col("data"), "png"
    )
    raw_media = multimodal.pack_media(
        df.filter(F.col("id") == 2), "id", F.col("data"), "raw_rgb",
        width=F.lit(2), height=F.lit(2),
    )
    both = png_media.unionByName(raw_media)
    # error: compressed container without a codec raises the documented stub
    with pytest.raises(Exception, match="NotImplementedError|pixel codec"):
        multimodal.resize_media(both, 1, 1, on_unsupported="error").collect()
    skipped = multimodal.resize_media(both, 1, 1, on_unsupported="skip").collect()
    assert [r.media_id for r in skipped] == [2]
    passed = {
        r.media_id: r
        for r in multimodal.resize_media(
            both, 1, 1, on_unsupported="passthrough"
        ).collect()
    }
    assert bytes(passed[1].payload) == _png(4, 4)       # untouched
    assert passed[2].meta.width == 1                     # resized


def test_pcm_resample_linear_interp_exact(spark):
    import numpy as np

    rate = 8, 4  # from 8 Hz to 4 Hz (and back up below)
    samples = np.array([0, 1000, -2000, 3000, 30000, -30000, 7, -7],
                       dtype="<i2")
    df = spark.createDataFrame([(1, samples.tobytes())], "id long, data binary")
    media = multimodal.pack_media(
        df, "id", F.col("data"), "pcm16", sample_rate=F.lit(8)
    )
    for to_rate in (4, 8, 16):
        got = multimodal.pcm_resample(media, to_rate).collect()[0]
        x = samples.astype(np.float64)
        m = int(np.ceil(len(x) * to_rate / 8))
        pos = np.arange(m) * (8 / to_rate)
        want = np.clip(
            np.rint(np.interp(pos, np.arange(len(x)), x)), -32768, 32767
        ).astype("<i2")
        assert np.array_equal(
            np.frombuffer(bytes(got.payload), "<i2"), want
        ), to_rate
        assert got.meta.sample_rate == to_rate
    # identity: same rate reproduces the exact samples
    same = multimodal.pcm_resample(media, 8).collect()[0]
    assert bytes(same.payload) == samples.tobytes()


def test_pcm_resample_unsupported_stub(spark):
    df = spark.createDataFrame([(1, b"\x00\x01")], "id long, data binary")
    mp3ish = multimodal.pack_media(df, "id", F.col("data"), "mp3")
    with pytest.raises(Exception, match="NotImplementedError|audio codec"):
        multimodal.pcm_resample(mp3ish, 16000).collect()
    assert multimodal.pcm_resample(
        mp3ish, 16000, on_unsupported="skip"
    ).count() == 0


# -- perceptual hashing (dHash) -------------------------------------------
def _rgb_payload(arr):
    import numpy as np

    return np.asarray(arr, dtype=np.uint8).tobytes()


def test_dhash_matches_reference_and_finds_planted_dups(spark):
    import numpy as np

    from de_gcp_lakehouse_iceberg_spark.operators.multimodal import (
        dhash_long,
        dhash_media,
        dhash_near_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 240, size=(12, 16, 3))
    near = base.copy()
    near[5, 7] = (near[5, 7] + 40) % 240  # a few-pixel edit
    far = rng.randint(0, 240, size=(12, 16, 3))
    rows = [
        (1, "raw_rgb", _rgb_payload(base), {"width": 16, "height": 12,
                                            "sample_rate": None,
                                            "n_bytes": 16 * 12 * 3}),
        (2, "raw_rgb", _rgb_payload(near), {"width": 16, "height": 12,
                                            "sample_rate": None,
                                            "n_bytes": 16 * 12 * 3}),
        (3, "raw_rgb", _rgb_payload(far), {"width": 16, "height": 12,
                                           "sample_rate": None,
                                           "n_bytes": 16 * 12 * 3}),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:bigint>",
    )
    sigs = {r["media_id"]: r["dhash"] for r in dhash_media(media).collect()}
    # Spark path == single-image reference implementation
    assert sigs[1] == dhash_long(_rgb_payload(base), 16, 12)
    assert 0 <= sigs[1] < (1 << 56)
    pairs = {
        (r["media_a"], r["media_b"]): r["distance"]
        for r in dhash_near_pairs(
            dhash_media(media), max_distance=10
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 10  # planted near-dup
    assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated


def test_dhash_identical_images_distance_zero(spark):
    import numpy as np

    from de_gcp_lakehouse_iceberg_spark.operators.multimodal import (
        dhash_media,
        dhash_near_pairs,
    )

    img = np.arange(10 * 8 * 3, dtype=np.uint8).reshape(8, 10, 3) % 240
    rows = [
        (i, "raw_rgb", _rgb_payload(img),
         {"width": 10, "height": 8, "sample_rate": None, "n_bytes": 240})
        for i in (1, 2)
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:bigint>",
    )
    out = dhash_near_pairs(dhash_media(media)).collect()
    assert len(out) == 1 and out[0]["distance"] == 0


def test_dhash_codec_stub_policy(spark):
    import pytest

    from de_gcp_lakehouse_iceberg_spark.operators.multimodal import (
        dhash_media,
    )

    media = spark.createDataFrame(
        [(1, "jpeg", b"\xff\xd8\xff", {"width": None, "height": None,
                                       "sample_rate": None, "n_bytes": 3})],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:bigint>",
    )
    with pytest.raises(Exception, match="pixel codec"):
        dhash_media(media).collect()
    assert dhash_media(media, on_unsupported="skip").count() == 0


# -- plan-shape guards: the properties that make these operators
# scale-safe must be visible in the physical plan, so a refactor that
# silently reintroduces a cartesian product, a full-corpus window, or
# a driver-side collapse fails here


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dhash_pairs_is_bucketed_not_cartesian(spark, sf_dir):
    sigs = spark.range(100).select(
        F.col("id").alias("media_id"), (F.col("id") % 17).alias("dhash")
    )
    p = _plan(dhash_near_pairs(sigs))
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_dhash_media_is_single_pass(spark):
    import numpy as np

    img = np.zeros(10 * 8 * 3, dtype=np.uint8).tobytes()
    media = spark.createDataFrame(
        [(1, "raw_rgb", img, {"width": 10, "height": 8,
                              "sample_rate": None, "n_bytes": 240})],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:bigint>",
    )
    p = _plan(dhash_media(media))
    assert "Exchange" not in p  # zero shuffle: embarrassingly parallel
