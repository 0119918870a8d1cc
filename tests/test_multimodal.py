"""Multimodal plumbing: schema, Arrow batch shape, stub gating."""

import pytest
from pyspark.sql import functions as F

from wos_crawler_spark.operators import multimodal as mm


def test_stub_gated(spark):
    media = mm.synth_media(spark, 4)
    with pytest.raises(NotImplementedError):
        mm.extract_features(media)  # no decoder available → explicit stub


def test_fake_features_deterministic(spark):
    media = mm.synth_media(spark, 32).repartition(4)
    f1 = mm.extract_features(media, deterministic_fake=True)
    rows = f1.orderBy("asset_id").collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r["features"]) == mm.FEATURE_DIM
        norm = sum(x * x for x in r["features"]) ** 0.5
        assert abs(norm - 1.0) < 1e-3
    # repartitioning must not change features (pure function of payload)
    f2 = mm.extract_features(media.repartition(8), deterministic_fake=True)
    rows2 = f2.orderBy("asset_id").collect()
    assert [r["features"] for r in rows] == [r["features"] for r in rows2]


def test_custom_decode_fn(spark):
    import numpy as np

    media = mm.synth_media(spark, 8)
    out = mm.extract_features(
        media, decode_fn=lambda p, m: np.array([float(len(p))], dtype=np.float32)
    ).collect()
    assert all(r["features"] == [float(len("image-payload-") + 64)] for r in out)


def test_resize_and_frame_sampling(spark):
    media = mm.synth_media(spark, 10, kind="video")
    resized = mm.resize_images(media, 224, 224)
    assert resized.select("meta.width").distinct().first()[0] == 224
    frames = mm.sample_frames(media, every_ms=1000)
    n = frames.groupBy("asset_id").count().collect()
    # duration = (id % 30 + 1) seconds → id+1 frames at 1fps
    expect = {r["asset_id"]: r["count"] for r in n}
    assert expect[0] == 1 and expect[9] == 10


# ------------------------------------------------- real netpbm decode


def _ppm(w, h, maxval=255, magic=b"P6", comment=True, px=None):
    import numpy as np

    channels = 3 if magic == b"P6" else 1
    if px is None:
        px = np.arange(w * h * channels, dtype=np.int64) % (maxval + 1)
    dt = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    head = magic + (b"\n# c\n" if comment else b"\n")
    head += b"%d %d\n%d\n" % (w, h, maxval)
    return head + np.asarray(px, dtype=np.int64).astype(dt).tobytes()


def test_decode_p6_golden():
    import numpy as np

    img = mm.decode_netpbm(_ppm(3, 2))
    assert img.shape == (2, 3, 3) and img.dtype == np.uint8
    assert img[0, 0].tolist() == [0, 1, 2]
    assert img[1, 2].tolist() == [15, 16, 17]


def test_decode_p5_and_16bit():
    import numpy as np

    g = mm.decode_netpbm(_ppm(4, 2, magic=b"P5"))
    assert g.shape == (2, 4) and g[1, 3] == 7
    big = mm.decode_netpbm(_ppm(2, 2, maxval=65535, magic=b"P5",
                                px=[0, 300, 65535, 7]))
    assert big.dtype == np.uint16 and big[0, 1] == 300 and big[1, 0] == 65535


def test_decode_malformed_raises():
    with pytest.raises(ValueError, match="magic"):
        mm.decode_netpbm(b"P3\n1 1\n255\n0 0 0")
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_netpbm(_ppm(3, 2)[:-1])
    with pytest.raises(ValueError, match="header"):
        mm.decode_netpbm(b"P6\nx 2\n255\n")


def test_grid_features_twin():
    """Engine grid means == an independent nested-loop recomputation."""
    import numpy as np

    payload = _ppm(8, 6)
    feats = mm.netpbm_grid_features(payload)
    img = mm.decode_netpbm(payload).astype(np.int64)
    want = {}
    for y in range(6):
        for x in range(8):
            cell = (y * 4 // 6) * 4 + (x * 4 // 8)
            want.setdefault(cell, []).append(int(img[y, x].sum() // 3))
    for c, vals in want.items():
        assert feats[c] == sum(vals) // len(vals)


def test_real_decode_through_arrow_path(spark):
    """synth PPM fixture → real decoder via extract_features == the
    closed-form pixel arithmetic, per cell (the oracle's claim,
    asserted in-process)."""
    media = mm.synth_ppm_media(spark, 12)
    rows = mm.extract_features(media, decode_fn=mm.netpbm_grid_features).collect()
    assert len(rows) == 12
    for r in rows:
        i = r["asset_id"]
        w, h = 8 + i % 5, 6 + i % 3
        cells = {}
        for y in range(h):
            for x in range(w):
                g = sum((i * 31 + x * 7 + y * 13 + c * 97) % 256
                        for c in (0, 1, 2)) // 3
                cells.setdefault((y * 4 // h) * 4 + (x * 4 // w), []).append(g)
        for c, vals in cells.items():
            assert r["features"][c] == sum(vals) // len(vals), (i, c)


# ------------------------------------------------- image dHash dedup


def test_dhash_exact_duplicate_zero_distance(spark):
    media = mm.synth_ppm_media(spark, 20, seed_mod=10)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_dup(media, max_hamming=0).collect()
    }
    for i in range(10):
        assert pairs.get((i, i + 10)) == 0, i


def _dhash_twin(payload):
    """Independent nested-loop dHash recomputation from decoded
    pixels — interval binning at minimum width 1 (the pinned rule)."""
    img = mm.decode_netpbm(payload).astype("int64")
    h, w = img.shape[:2]
    want = []
    for cy in range(8):
        y0, y1 = cy * h // 8, max((cy + 1) * h // 8, cy * h // 8 + 1)
        means = []
        for cx in range(9):
            x0 = cx * w // 9
            x1 = max((cx + 1) * w // 9, x0 + 1)
            vals = [
                int(img[y, x].sum() // 3) if img.ndim == 3 else int(img[y, x])
                for y in range(y0, y1)
                for x in range(x0, x1)
            ]
            means.append(sum(vals) // len(vals))
        b = 0
        for cx in range(8):
            if means[cx + 1] > means[cx]:
                b |= 1 << cx
        want.append(b)
    return want


def test_dhash_bytes_twin():
    """Engine row bytes == an independent nested-loop recomputation
    from decoded pixels."""
    assert mm.image_dhash_bytes(_ppm(12, 8)) == _dhash_twin(_ppm(12, 8))


def test_dhash_bytes_twin_short_image():
    """Images SHORTER/NARROWER than the 9×8 grid: interval binning at
    min width 1 gives every cell at least one pixel (adjacent cells
    share rows) — no structurally-zero bands, unlike the old
    assignment rule that skipped grid rows for h<8."""
    for w, h in [(4, 3), (8, 6), (2, 2), (1, 1), (9, 8)]:
        assert mm.image_dhash_bytes(_ppm(w, h)) == _dhash_twin(_ppm(w, h))


def test_dhash_banding_recall_vs_bruteforce(spark):
    """The banded candidate join finds EVERY pair the brute-force
    all-pairs Hamming scan finds at max_hamming <= 7 (pigeonhole)."""
    from itertools import combinations

    media = mm.synth_ppm_media(spark, 60, seed_mod=40)
    rows = mm.image_dhash(media).collect()
    bands = {}
    for r in rows:
        bands.setdefault(r["asset_id"], {})[r["band_id"]] = r["band"]
    brute = {}
    for a, b in combinations(sorted(bands), 2):
        hm = sum(
            bin(bands[a][k] ^ bands[b][k]).count("1") for k in range(8)
        )
        if hm <= 7:
            brute[(a, b)] = hm
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_dup(media, max_hamming=7).collect()
    }
    assert got == brute


def test_dhash_guard(spark):
    media = mm.synth_ppm_media(spark, 4)
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.image_near_dup(media, max_hamming=8)
    # 16-bit bands: 4 bands -> exact-recall bound is Hamming <= 3
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.image_near_dup(media, max_hamming=4, band_bits=16)
    with pytest.raises(ValueError, match="band_bits"):
        mm.image_dhash(media, band_bits=12)


def test_resize_netpbm_golden():
    import numpy as np

    # 4x2 P6 downsampled to 2x1: each target pixel = floor-mean of a
    # 2x2 cell per channel
    src = mm.decode_netpbm(_ppm(4, 2)).astype(np.int64)
    out = mm.decode_netpbm(mm.resize_netpbm_bytes(_ppm(4, 2), 2, 1))
    assert out.shape == (1, 2, 3)
    for cx in range(2):
        for c in range(3):
            want = int(src[0:2, 2 * cx : 2 * cx + 2, c].sum()) // 4
            assert int(out[0, cx, c]) == want
    # upscale: cells of width 1 repeat source pixels
    up = mm.decode_netpbm(mm.resize_netpbm_bytes(_ppm(2, 1), 4, 2))
    assert up.shape == (2, 4, 3)
    assert up[0, 0].tolist() == up[1, 1].tolist()  # both map to src (0,0)
    # P5 and 16-bit round-trip preserve magic/depth
    g = mm.decode_netpbm(
        mm.resize_netpbm_bytes(_ppm(4, 2, magic=b"P5"), 2, 2)
    )
    assert g.shape == (2, 2) and g.dtype == np.uint8
    big = mm.decode_netpbm(
        mm.resize_netpbm_bytes(
            _ppm(2, 2, maxval=65535, magic=b"P5", px=[0, 300, 65535, 7]),
            1, 1,
        )
    )
    assert big.dtype == np.uint16 and int(big[0, 0]) == (0 + 300 + 65535 + 7) // 4
    with pytest.raises(ValueError, match=">= 1"):
        mm.resize_netpbm_bytes(_ppm(2, 2), 0, 1)


def test_resize_images_real_arrow(spark):
    media = mm.synth_ppm_media(spark, 12)
    out = mm.resize_images_real(media, 3, 2).collect()
    assert len(out) == 12
    for r in out:
        assert r["meta"]["width"] == 3 and r["meta"]["height"] == 2
        img = mm.decode_netpbm(bytes(r["payload"]))
        assert img.shape == (2, 3, 3)


def _y4m(w=4, h=2, frames=2, cs=b"mono", fps=b"5:1", frame_params=b""):
    import numpy as np

    if cs == b"mono":
        fsz = w * h
    elif cs == b"444":
        fsz = 3 * w * h
    else:
        fsz = w * h + 2 * ((w // 2) * (h // 2))
    out = [b"YUV4MPEG2 W%d H%d F%s C%s\n" % (w, h, fps, cs)]
    for k in range(frames):
        out.append(b"FRAME" + frame_params + b"\n")
        out.append(
            (np.arange(fsz, dtype=np.int64) * 7 + k * 11)
            .astype(np.uint8)
            .tobytes()
        )
    return b"".join(out)


def test_decode_y4m_golden():
    import numpy as np

    luma, num, den = mm.decode_y4m(_y4m())
    assert luma.shape == (2, 2, 4) and (num, den) == (5, 1)
    assert int(luma[0, 0, 1]) == 7 and int(luma[1, 0, 0]) == 11
    # C444: chroma planes present in the stream, skipped in output
    luma444, _, _ = mm.decode_y4m(_y4m(cs=b"444"))
    assert luma444.shape == (2, 2, 4)
    assert np.array_equal(luma444, luma)
    # FRAME parameter tails are legal and ignored
    lp, _, _ = mm.decode_y4m(_y4m(frame_params=b" Xinterlace"))
    assert np.array_equal(lp, luma)


def test_decode_y4m_malformed_raises():
    with pytest.raises(ValueError, match="YUV4MPEG2"):
        mm.decode_y4m(b"RIFF....")
    with pytest.raises(ValueError, match="geometry"):
        mm.decode_y4m(b"YUV4MPEG2 F5:1 Cmono\nFRAME\n")
    with pytest.raises(ValueError, match="colorspace"):
        mm.decode_y4m(_y4m(cs=b"411"))
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_y4m(_y4m()[:-3])
    with pytest.raises(ValueError, match="FRAME"):
        good = _y4m(frames=1)
        mm.decode_y4m(good + b"JUNK")
    with pytest.raises(ValueError, match="no frames"):
        mm.decode_y4m(b"YUV4MPEG2 W4 H2 F5:1 Cmono\n")


def test_sample_frames_real_twin(spark):
    """Sampled rows == arithmetic: fps 5 → frame k = ts // 200;
    every sampled payload is a VALID P5 of the on-screen luma."""
    media = mm.synth_y4m_media(spark, 20)
    rows = mm.sample_frames_real(media, every_ms=100).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for aid, rs in by_asset.items():
        nf = 3 + aid % 4
        assert [r["frame_ts_ms"] for r in rs] == list(
            range(0, nf * 200, 100)
        )
        for r in rs:
            assert r["frame_idx"] == r["frame_ts_ms"] // 200
            img = mm.decode_netpbm(bytes(r["frame_payload"]))
            assert img.shape == (6 + aid % 3, 8 + aid % 5)
            # spot pixel from the closed form
            k = r["frame_idx"]
            assert int(img[0, 0]) == (aid * 31 + k * 41) % 256


def test_sample_frames_real_zero_duration_batch(spark):
    """A batch whose clips all last 0 ms (1 frame at 2000 fps) samples
    no frames: an empty result, not a schema error."""
    clip = _y4m(frames=1, fps=b"2000:1")
    luma, num, den = mm.decode_y4m(clip)
    assert len(luma) * 1000 * den // num == 0
    media = spark.createDataFrame(
        [(1, "video", clip), (2, "video", clip)],
        "asset_id long, kind string, payload binary",
    ).coalesce(1)
    assert mm.sample_frames_real(media, every_ms=100).collect() == []


def test_video_frames_compose_with_image_family(spark):
    """The emitted P5 frames flow straight into the image dedup
    family: identical frames from planted duplicate videos land at
    dHash distance 0."""
    from pyspark.sql import functions as F

    media = mm.synth_y4m_media(spark, 8, seed_mod=4)
    frames = mm.sample_frames_real(media, every_ms=200)
    as_images = frames.select(
        (F.col("asset_id") * 100 + F.col("frame_idx")).alias("asset_id"),
        F.col("frame_payload").alias("payload"),
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mm.image_near_dup(as_images, max_hamming=0).collect()
    }
    # video 4 duplicates video 0 → frame (0,k) pairs with (4,k)
    for k in range(3):
        assert (k, 400 + k) in pairs


def _wav(frames=6, ch=1, rate=8000, bits=16, data=None, fmt_code=1):
    import struct

    import numpy as np

    if data is None:
        arr = (np.arange(frames * ch, dtype=np.int64) * 1000 - 2000) % 65536
        if bits == 16:
            data = arr.astype("<u2").tobytes()
        else:
            data = (arr % 256).astype("u1").tobytes()
    step = bits // 8
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, fmt_code, ch, rate, rate * ch * step,
                      ch * step, bits)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_decode_wav_golden():
    import numpy as np

    s, rate = mm.decode_wav(_wav(frames=4, ch=2))
    assert s.shape == (4, 2) and s.dtype == np.int16 and rate == 8000
    # sample 0: (0*1000-2000)%65536 = 63536 → int16 wrap = -2000
    assert int(s[0, 0]) == -2000
    g, _ = mm.decode_wav(_wav(frames=3, ch=1, bits=8))
    assert g.shape == (3, 1) and g.dtype == np.uint8


def test_decode_wav_skips_unknown_chunks():
    import struct

    w = _wav(frames=2)
    # splice a LIST chunk between fmt and data
    head, data_part = w[:36], w[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    s, _ = mm.decode_wav(head + extra + data_part)
    assert s.shape == (2, 1)


def test_decode_wav_malformed_raises(spark):
    import struct

    with pytest.raises(ValueError, match="RIFF"):
        mm.decode_wav(b"RIFX" + _wav()[4:])
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_wav(_wav()[:-3])
    with pytest.raises(ValueError, match="PCM"):
        mm.decode_wav(_wav(fmt_code=3))
    with pytest.raises(ValueError, match="bit depth"):
        mm.decode_wav(_wav(bits=24))
    with pytest.raises(ValueError, match="before fmt"):
        w = _wav(frames=2)
        # data chunk alone, no fmt
        mm.decode_wav(w[:12] + w[36:])
    with pytest.raises(ValueError, match="whole number"):
        base = _wav(frames=2, ch=2)
        # RIFF(12) + fmt(8+16) = 36 header bytes; replace the data
        # chunk with a 2-byte body (block align is 4)
        mm.decode_wav(base[:36] + b"data" + struct.pack("<I", 2) + b"\x00\x00")


def test_wav_features_twin():
    """Engine segment means == an independent nested-loop
    recomputation from decoded samples (unsigned view, min-width-1
    interval binning)."""
    p = _wav(frames=11, ch=2)
    got = mm.wav_segment_features(p).tolist()
    s, _ = mm.decode_wav(p)
    u = [[(int(v) + 65536) % 65536 for v in row] for row in s]
    mono = [sum(row) // len(row) for row in u]
    n = len(mono)
    want = []
    for k in range(4):
        t0, t1 = k * n // 4, max((k + 1) * n // 4, k * n // 4 + 1)
        seg = mono[t0:t1]
        want.append(float(sum(seg) // len(seg)))
    assert got == want


def test_wav_through_arrow_path(spark):
    """synth_wav_media → extract_features(decode_fn=wav_segment_
    features): the real-audio Arrow pipeline, duplicate planting
    included."""
    media = mm.synth_wav_media(spark, 30, seed_mod=20)
    feats = mm.extract_features(media, decode_fn=mm.wav_segment_features)
    rows = {r["asset_id"]: r["features"] for r in feats.collect()}
    assert len(rows) == 30 and all(len(v) == 4 for v in rows.values())
    for i in range(10):
        assert rows[i] == rows[i + 20], i  # planted duplicates
    assert rows[0] != rows[1]


def test_band16_equals_band8_within_exact_bound(spark):
    """Within the 4-band pigeonhole bound (Hamming <= 3) both band
    widths are EXACT, so their outputs must be identical."""
    media = mm.synth_ppm_media(spark, 60, seed_mod=40)
    narrow = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_dup(media, max_hamming=3).collect()
    }
    wide = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_dup(
            media, max_hamming=3, band_bits=16
        ).collect()
    }
    assert narrow == wide and len(wide) >= 20


def test_bucket_cap_solid_image_skew(spark):
    """The degenerate web case bucket_cap guards: 1000 solid-black
    placeholders hash to identical all-zero bands; uncapped, their
    single bucket alone generates ~500k candidate pairs. With the cap
    the solid buckets drop out of pair generation (documented recall
    trade: no solid×solid pairs emitted) while planted duplicate
    pairs among the normal images all survive via their own small
    buckets."""
    solids = mm.synth_ppm_media(spark, 1000, solid_mod=1)
    normal = mm.synth_ppm_media(spark, 60, seed_mod=40).withColumn(
        "asset_id", F.col("asset_id") + 1_000_000
    )
    media = solids.unionByName(normal)
    out = mm.image_near_dup(
        media, max_hamming=3, band_bits=16, bucket_cap=50
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # no pair touches a solid asset (ids < 1000): every bucket a
    # solid occupies is over-full, and solids share no other bucket
    assert all(a >= 1_000_000 and b >= 1_000_000 for a, b in pairs)
    # every planted duplicate among the normals is still found
    for i in range(40, 60):
        assert (1_000_000 + i - 40, 1_000_000 + i) in pairs, i
    # sanity on the guardrail: candidate volume stayed far from the
    # ~500k the solid bucket alone would contribute
    assert len(pairs) < 5_000
