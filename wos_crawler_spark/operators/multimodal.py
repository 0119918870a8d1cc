"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The decode step is STUBBED (image/audio libs absent in this container,
per the build brief): ``decode_fn=None`` raises NotImplementedError at
plan-execution time, while ``deterministic_fake=True`` substitutes a
hash-derived featurizer so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested.
Swapping in PIL/ffmpeg later changes only the inner ``_decode_one``.

Schema convention:

    media(asset_id long, kind string, payload binary,
          meta struct<width int, height int, sample_rate int,
                      duration_ms int, mime string>)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16


def synth_media(spark, n: int, kind: str = "image") -> DataFrame:
    """Deterministic fake media table (payload = hash-keyed bytes)."""
    mime = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind]
    df = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.lit(kind).alias("kind"),
        # payload bytes derive from the id — deterministic, no RNG
        F.encode(
            F.concat(F.lit(f"{kind}-payload-"), F.sha2(F.col("id").cast("string"), 256)),
            "utf-8",
        ).alias("payload"),
        F.struct(
            (F.pmod(F.col("id") * 37, 512) + 32).cast("int").alias("width"),
            (F.pmod(F.col("id") * 53, 512) + 32).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            ((F.pmod(F.col("id"), 30) + 1) * 1000).cast("int").alias("duration_ms"),
            F.lit(mime).alias("mime"),
        ).alias("meta"),
    )
    return df


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real encoder: bytes → unit vector."""
    h = np.array([hash_bytes(payload, seed=s) for s in range(dim)], dtype=np.uint64)
    v = (h % 10_000).astype(np.float64) / 10_000.0 - 0.5
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def hash_bytes(b: bytes, seed: int = 0) -> int:
    h = 0xCBF29CE484222325 ^ (seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)
    for byte in b:
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, dict], np.ndarray] | None = None,
    deterministic_fake: bool = False,
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """payload → feature vector (array<float>), Arrow-batched.

    ``decode_fn(payload, meta) -> np.ndarray`` plugs in a real decoder
    (PIL / torchaudio / ffmpeg). With neither a decode_fn nor
    deterministic_fake, raises NotImplementedError (clearly-marked
    stub, per the brief)."""
    if decode_fn is None and not deterministic_fake:
        raise NotImplementedError(
            "media decoding requires an image/audio library not present in "
            "this container; pass decode_fn=... or deterministic_fake=True"
        )

    out_schema = "asset_id long, kind string, features array<float>"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            feats = [
                (decode_fn(p, m) if decode_fn else _fake_features(p, dim)).tolist()
                for p, m in zip(pdf["payload"], pdf["meta"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return media.select("asset_id", "kind", "payload", "meta").mapInPandas(
        _extract, out_schema
    )


def synth_ppm_media(
    spark, n: int, seed_mod: int | None = None, solid_mod: int | None = None
) -> DataFrame:
    """Deterministic REAL image fixture: valid binary PPM (P6) files
    generated per asset id with pure arithmetic — pixel (x, y) channel
    c is ``(i*31 + x*7 + y*13 + c*97) % 256`` over a w×h raster
    (w = 8+i%5, h = 6+i%3), serialized with a comment line in the
    header. Because the pixels are closed-form, a SQL oracle can
    recompute any pixel statistic WITHOUT parsing PPM — which turns
    the real decoder into a value-level-checked component instead of a
    snapshot pin.

    ``seed_mod`` plants exact duplicates: the pixel seed becomes
    ``asset_id % seed_mod``, so assets ``seed_mod..n-1`` are
    byte-identical copies of earlier assets under fresh ids — the
    image-dedup fixture.

    ``solid_mod`` plants DEGENERATE images: assets with
    ``asset_id % solid_mod == 0`` become solid black (every channel
    0) at their usual dimensions — the solid-placeholder skew case
    the near-dup ``bucket_cap`` guards (all-zero dHash bands pile
    into one bucket). Closed form for the oracle:
    ``gray = 0 WHEN i % solid_mod = 0``."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid in pdf["id"]:
                aid = int(aid)
                i = aid % seed_mod if seed_mod else aid
                w, h = 8 + i % 5, 6 + i % 3
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                base = (
                    i * 31
                    + xs[None, :, None] * 7
                    + ys[:, None, None] * 13
                    + np.array([0, 97, 194], dtype=np.int64)[None, None, :]
                ) % 256
                if solid_mod is not None and aid % solid_mod == 0:
                    base = np.zeros_like(base)
                payload = (
                    b"P6\n# synthetic fixture\n%d %d\n255\n" % (w, h)
                    + base.astype(np.uint8).tobytes()
                )
                rows.append(
                    {
                        "asset_id": aid,
                        "kind": "image",
                        "payload": payload,
                        "meta": {
                            "width": w,
                            "height": h,
                            "sample_rate": None,
                            "duration_ms": None,
                            "mime": "image/x-portable-pixmap",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(_gen, MEDIA_SCHEMA)


def decode_netpbm(payload: bytes) -> np.ndarray:
    """Pure-numpy binary Netpbm decoder — the pluggable real-decode
    example the brief's multimodal surface needs without external
    image libs. Supports P5 (grayscale → HxW) and P6 (RGB → HxWx3),
    8-bit and 16-bit (big-endian, per the spec) rasters, ``#``
    comments anywhere in the header whitespace. Raises ValueError on
    anything malformed (wrong magic, truncated raster, maxval out of
    range) — decode errors must surface, not produce garbage rows."""
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1:2] not in b"56":
        raise ValueError("not a binary netpbm payload (want P5/P6 magic)")
    is_rgb = payload[1:2] == b"6"
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed netpbm header")
        fields.append(int(payload[start:pos]))
    if pos >= len(payload) or not payload[pos : pos + 1].isspace():
        raise ValueError("missing single whitespace after maxval")
    pos += 1  # exactly ONE whitespace byte separates header and raster
    w, h, maxval = fields
    if not (0 < maxval < 65536):
        raise ValueError(f"maxval {maxval} out of range")
    channels = 3 if is_rgb else 1
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    need = w * h * channels * dtype.itemsize
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(
            f"truncated raster: need {need} bytes, have {len(raster)}"
        )
    img = np.frombuffer(raster, dtype=dtype).astype(
        np.uint16 if maxval > 255 else np.uint8
    )
    return img.reshape((h, w, 3)) if is_rgb else img.reshape((h, w))


def netpbm_grid_features(
    payload: bytes, meta: dict | None = None, grid: int = 4
) -> np.ndarray:
    """Real decode → grid-mean featurizer: decode the netpbm payload,
    integer grayscale ``(r+g+b)//3``, then the floor-mean of each cell
    of a ``grid×grid`` partition (cell of x = ``x*grid//w``) as a
    ``grid²`` vector. All-integer arithmetic, so the feature values
    are exactly restatable in SQL from the synthetic pixel formula —
    the decoder is the only component between fixture and oracle."""
    img = decode_netpbm(payload)
    gray = (
        img.astype(np.int64).sum(axis=2) // 3
        if img.ndim == 3
        else img.astype(np.int64)
    )
    h, w = gray.shape
    gx = (np.arange(w) * grid) // w
    gy = (np.arange(h) * grid) // h
    feats = np.zeros(grid * grid, dtype=np.float32)
    for cy in range(grid):
        rows = gray[gy == cy]
        for cx in range(grid):
            cell = rows[:, gx == cx]
            if cell.size:
                feats[cy * grid + cx] = float(int(cell.sum()) // cell.size)
    return feats


def synth_wav_media(spark, n: int, seed_mod: int | None = None) -> DataFrame:
    """Deterministic REAL audio fixture: valid RIFF/WAVE PCM files
    generated per asset id with pure arithmetic — sample t of channel
    c is the signed-16-bit wrap of ``(i*31 + t*7 + c*97) % 65536``
    over ``50 + i % 13`` frames of ``1 + i % 2`` channels at
    ``8000 + 4000·(i % 3)`` Hz. Because the samples are closed-form,
    a SQL oracle recomputes any sample statistic WITHOUT parsing WAV
    — the audio twin of :func:`synth_ppm_media`'s recipe.

    ``seed_mod`` plants exact duplicates exactly like the PPM
    fixture (sample seed = ``asset_id % seed_mod``)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for aid in pdf["id"]:
                aid = int(aid)
                i = aid % seed_mod if seed_mod else aid
                frames, ch = 50 + i % 13, 1 + i % 2
                rate = 8000 + 4000 * (i % 3)
                ts = np.arange(frames, dtype=np.int64)
                cs = np.arange(ch, dtype=np.int64)
                u = (i * 31 + ts[:, None] * 7 + cs[None, :] * 97) % 65536
                data = u.astype(np.uint16).astype("<u2").tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + struct.pack(
                        "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2,
                        ch * 2, 16,
                    )
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                rows.append(
                    {
                        "asset_id": aid,
                        "kind": "audio",
                        "payload": hdr + data,
                        "meta": {
                            "width": None,
                            "height": None,
                            "sample_rate": rate,
                            "duration_ms": frames * 1000 // rate,
                            "mime": "audio/wav",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(_gen, MEDIA_SCHEMA)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-numpy RIFF/WAVE PCM decoder — the audio member of the
    real-decode family (images: :func:`decode_netpbm`). Returns
    ``(samples, sample_rate)`` with samples shaped ``(frames,
    channels)``: dtype uint8 for 8-bit (WAV stores it unsigned),
    int16 for 16-bit little-endian. Walks RIFF chunks generically
    (unknown chunks skipped with even padding, ``fmt `` required
    before ``data``); raises ValueError on anything malformed —
    wrong magic, non-PCM format codes, unsupported bit depths,
    truncated chunks — decode errors must surface, not produce
    garbage rows."""
    import struct

    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk: need {size} bytes")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise ValueError(
                    f"unsupported audio format {audio_fmt} (PCM=1 only)"
                )
            if bits not in (8, 16):
                raise ValueError(f"unsupported bit depth {bits} (8/16 only)")
            if ch < 1:
                raise ValueError("channel count must be >= 1")
            fmt = (ch, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            ch, rate, bits = fmt
            step = bits // 8
            if size % (ch * step):
                raise ValueError("data size not a whole number of frames")
            dt = np.dtype("<i2") if bits == 16 else np.dtype("u1")
            arr = np.frombuffer(body, dtype=dt)
            return arr.reshape((-1, ch)), rate
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("missing fmt/data chunk")


#: audio feature geometry: segment means over the unsigned-16 view,
#: interval binning at minimum width 1 (the image grid rule).
WAV_SEGMENTS = 4


def wav_segment_features(
    payload: bytes, meta: dict | None = None, segments: int = WAV_SEGMENTS
) -> np.ndarray:
    """Real decode → segment-mean featurizer: decode the WAV payload,
    mix channels to mono by integer floor-mean of the UNSIGNED-16
    sample view (non-negative, so floor division is portable across
    engines), then the floor-mean of each of ``segments`` frame
    intervals (min-width-1 binning, the dHash rule). All-integer, so
    the feature values are exactly restatable in SQL from the
    synthetic sample formula — the decoder is the only component
    between fixture and oracle."""
    samples, _rate = decode_wav(payload)
    u = samples.astype(np.int64)
    if samples.dtype == np.int16:
        u = (u + 65536) % 65536  # unsigned view
    else:
        u = u * 257  # scale 8-bit to the 16-bit grid (0..65535)
    mono = u.sum(axis=1) // u.shape[1]
    n = mono.shape[0]
    feats = np.zeros(segments, dtype=np.float32)
    for k in range(segments):
        t0 = k * n // segments
        t1 = max((k + 1) * n // segments, t0 + 1)
        seg = mono[t0:t1]
        feats[k] = float(int(seg.sum()) // seg.size)
    return feats


#: dHash geometry: a 9-column × 8-row grid of grayscale floor-means;
#: each row yields one byte of 8 left<right comparisons → 64 bits as
#: 8 per-row band bytes (kept unpacked: packing bit 63 into a signed
#: BIGINT would overflow, and the bands are what the near-dup join
#: keys on anyway).
DHASH_COLS = 9
DHASH_ROWS = 8


def image_dhash_bytes(payload: bytes) -> list[int]:
    """Difference hash (the classic perceptual near-dup hash, integer
    variant): decode → integer grayscale ``(r+g+b)//3`` → floor-mean
    over a 9×8 cell partition → per row, bit ``cx`` set iff
    ``cell[cx+1] > cell[cx]``. Returns the 8 row bytes. All-integer,
    so a SQL oracle recomputes it from closed-form fixture pixels;
    unlike interpolation-based resizing, the grid floor-means are
    exactly portable across engines.

    Cell binning is INTERVAL-based with a minimum width of one pixel:
    grid row ``cy`` covers pixel rows ``[cy*h//R, max((cy+1)*h//R,
    cy*h//R + 1))`` (same for columns with C=9). For images at least
    as tall/wide as the grid this is the standard equal-interval
    partition; for SMALLER images adjacent grid cells share pixel
    rows instead of leaving structurally-zero cells — the old
    assignment rule (``y*R//h``) left grid rows with no mapped pixel
    row for h<8, so every short image trivially shared zero bands and
    inflated the banded join's fan-out."""
    img = decode_netpbm(payload)
    gray = (
        img.astype(np.int64).sum(axis=2) // 3
        if img.ndim == 3
        else img.astype(np.int64)
    )
    h, w = gray.shape
    cells = np.zeros((DHASH_ROWS, DHASH_COLS), dtype=np.int64)
    for cy in range(DHASH_ROWS):
        y0 = cy * h // DHASH_ROWS
        y1 = max((cy + 1) * h // DHASH_ROWS, y0 + 1)
        rows = gray[y0:y1]
        for cx in range(DHASH_COLS):
            x0 = cx * w // DHASH_COLS
            x1 = max((cx + 1) * w // DHASH_COLS, x0 + 1)
            cell = rows[:, x0:x1]
            cells[cy, cx] = int(cell.sum()) // cell.size
    out = []
    for cy in range(DHASH_ROWS):
        b = 0
        for cx in range(DHASH_COLS - 1):
            if cells[cy, cx + 1] > cells[cy, cx]:
                b |= 1 << cx
        out.append(b)
    return out


def image_dhash(media: DataFrame, band_bits: int = 8) -> DataFrame:
    """``(asset_id, band_id, band)`` — the dHash bands per asset, long
    format, via one zero-shuffle Arrow pass over the payloads.
    ``band_bits=8`` → 8 bands of one row byte each; ``band_bits=16``
    → 4 bands pairing adjacent rows (``b[2i] | b[2i+1] << 8``) — a
    65536-value keyspace per band instead of 256, which is what keeps
    the banded join's collision rate sane at 10^8+ assets."""
    if band_bits not in (8, 16):
        raise ValueError("band_bits must be 8 or 16")
    schema = "asset_id long, band_id int, band int"

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bids, vals = [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                bs = image_dhash_bytes(p)
                if band_bits == 16:
                    bs = [
                        bs[2 * i] | (bs[2 * i + 1] << 8)
                        for i in range(DHASH_ROWS // 2)
                    ]
                for bi, b in enumerate(bs):
                    ids.append(aid)
                    bids.append(bi)
                    vals.append(b)
            yield pd.DataFrame(
                {"asset_id": ids, "band_id": bids, "band": vals}
            )

    return media.select("asset_id", "payload").mapInPandas(_hash, schema)


def image_near_dup(
    media: DataFrame,
    max_hamming: int = 4,
    band_bits: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs ``(id_a, id_b, hamming)`` with
    dHash Hamming distance ≤ ``max_hamming`` — the multimodal member
    of the dedup family, same banded shape as SimHash text dedup:
    candidates must share one identical band (pigeonhole: with B
    bands, any pair within Hamming B-1 shares ≥1 intact band — EXACT
    recall for ``max_hamming ≤ B-1``, enforced), then the full band
    join verifies the exact distance. Only (asset_id, band) integers
    ride the shuffles — payloads are read once by the hash pass and
    never again.

    Scale guardrails (the SimHash twins' discipline,
    textdedup.simhash_near_pairs):

    - ``band_bits=16`` pairs adjacent row bytes into 4 bands of 16
      bits: the per-band keyspace grows 256× (expected collision rate
      of random non-dup pairs drops accordingly), at the price of a
      tighter exact-recall bound (``max_hamming ≤ 3``). The 8-bit
      default keeps ``max_hamming ≤ 7`` but its 2048-value total
      keyspace makes banding ~all-pairs at 10^8 assets — use 16 bits
      at scale.
    - ``bucket_cap`` drops over-full ``(band_id, band)`` buckets from
      candidate generation: degenerate-but-common web images (solid
      placeholders, white scans) hash to identical bands and their
      bucket's pair enumeration is quadratic. Pairs inside a dropped
      bucket that share no other surviving band are NOT emitted — a
      documented recall trade, exactly SimHash's ``bucket_cap``
      contract. The exact-Hamming verify always runs on the UNCAPPED
      band table, so emitted distances are exact regardless."""
    n_bands = DHASH_ROWS if band_bits == 8 else DHASH_ROWS // 2
    if not 0 <= max_hamming <= n_bands - 1:
        raise ValueError(
            f"max_hamming must be in [0, {n_bands - 1}] for exact "
            f"recall with {n_bands} bands of {band_bits} bits "
            f"(pigeonhole)"
        )
    bands = image_dhash(media, band_bits=band_bits).localCheckpoint(
        eager=True
    )
    blocked = bands
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band")
        blocked = (
            bands.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    cand = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
        )
        .distinct()
    )
    ja = bands.select(
        F.col("asset_id").alias("id_a"), "band_id",
        F.col("band").alias("_ba"),
    )
    jb = bands.select(
        F.col("asset_id").alias("id_b"), "band_id",
        F.col("band").alias("_bb"),
    )
    return (
        cand.join(ja, "id_a")
        .join(jb, ["id_b", "band_id"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("_ba").bitwiseXOR(F.col("_bb")).cast("long")
                )
            )
            .cast("long")
            .alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def resize_netpbm_bytes(payload: bytes, width: int, height: int) -> bytes:
    """REAL resize for binary Netpbm payloads: decode → integer
    box-downsample (cell floor-means over the min-width-1 interval
    grid — the dHash/grid-features binning rule, so resized pixels
    are exactly restatable in SQL from closed-form fixture pixels) →
    re-serialize. P6 stays P6 (per-channel means), P5 stays P5;
    16-bit rasters keep 16-bit output. Upscaling repeats source
    pixels (cells of width 1), downscaling floor-averages — both are
    the same interval rule."""
    if width < 1 or height < 1:
        raise ValueError("resize target must be >= 1x1")
    img = decode_netpbm(payload)
    is_rgb = img.ndim == 3
    maxval = 65535 if img.dtype == np.uint16 else 255
    h, w = img.shape[:2]
    src = img.astype(np.int64).reshape((h, w, -1))
    ch = src.shape[2]
    out = np.zeros((height, width, ch), dtype=np.int64)
    for cy in range(height):
        y0 = cy * h // height
        y1 = max((cy + 1) * h // height, y0 + 1)
        rows = src[y0:y1]
        for cx in range(width):
            x0 = cx * w // width
            x1 = max((cx + 1) * w // width, x0 + 1)
            cell = rows[:, x0:x1]
            npix = cell.shape[0] * cell.shape[1]
            out[cy, cx] = cell.sum(axis=(0, 1)) // npix
    magic = b"P6" if is_rgb else b"P5"
    dt = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    return (
        magic + b"\n%d %d\n%d\n" % (width, height, maxval)
        + out.astype(dt).tobytes()
    )


def resize_images_real(media: DataFrame, width: int, height: int) -> DataFrame:
    """Real image resize through the Arrow path: every payload is
    box-downsampled via :func:`resize_netpbm_bytes` and re-stamped.
    Zero shuffles — one mapInPandas projection; malformed payloads
    hard-error (the decode contract). Non-image kinds pass through
    untouched payload-wise but are NOT restamped — resize only means
    something for rasters."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = []
            metas = []
            for k, p, m in zip(pdf["kind"], pdf["payload"], pdf["meta"]):
                if k == "image":
                    payloads.append(resize_netpbm_bytes(p, width, height))
                    m = dict(m)
                    m["width"], m["height"] = width, height
                else:
                    payloads.append(p)
                metas.append(m)
            pdf = pdf.copy()
            pdf["payload"] = payloads
            pdf["meta"] = metas
            yield pdf

    return media.select("asset_id", "kind", "payload", "meta").mapInPandas(
        _resize, MEDIA_SCHEMA
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: payload → payload' + updated meta. Decode is
    stubbed; the fake path re-stamps metadata deterministically so the
    schema/partition contract is testable."""
    return media.withColumn(
        "meta",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.mime").alias("mime"),
        ),
    )


def synth_y4m_media(spark, n: int, seed_mod: int | None = None) -> DataFrame:
    """Deterministic REAL video fixture: valid YUV4MPEG2 (y4m) mono
    streams generated per asset id with pure arithmetic — luma pixel
    (x, y) of frame k is ``(i*31 + k*41 + x*7 + y*13) % 256`` over a
    w×h raster (w = 8+i%5, h = 6+i%3), ``3 + i % 4`` frames at 5 fps,
    ``C mono`` colorspace. Closed-form pixels → a SQL oracle
    recomputes any frame statistic WITHOUT parsing y4m — the video
    member of the real-decode family (images: synth_ppm_media,
    audio: synth_wav_media). ``seed_mod`` plants exact duplicates."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid in pdf["id"]:
                aid = int(aid)
                i = aid % seed_mod if seed_mod else aid
                w, h = 8 + i % 5, 6 + i % 3
                nf = 3 + i % 4
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                parts = [b"YUV4MPEG2 W%d H%d F5:1 Cmono\n" % (w, h)]
                for k in range(nf):
                    plane = (
                        i * 31 + k * 41 + xs[None, :] * 7 + ys[:, None] * 13
                    ) % 256
                    parts.append(b"FRAME\n")
                    parts.append(plane.astype(np.uint8).tobytes())
                rows.append(
                    {
                        "asset_id": aid,
                        "kind": "video",
                        "payload": b"".join(parts),
                        "meta": {
                            "width": w,
                            "height": h,
                            "sample_rate": None,
                            "duration_ms": nf * 200,  # 5 fps
                            "mime": "video/x-yuv4mpeg",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(_gen, MEDIA_SCHEMA)


def decode_y4m(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Pure-numpy YUV4MPEG2 decoder — the video member of the
    real-decode family. Returns ``(luma, fps_num, fps_den)`` with
    luma shaped ``(frames, h, w)`` uint8 (the Y plane; chroma planes
    of C420/C422/C444 streams are skipped, mono streams have none).
    Parses the header parameter list generically (W/H/F required,
    unknown params ignored), accepts FRAME parameter tails, and
    raises ValueError on anything malformed — wrong magic, missing
    geometry, unsupported colorspace, truncated frames."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing y4m header terminator")
    w = h = None
    num, den = 30, 1
    cs = b"420jpeg"  # spec default is 4:2:0
    for tok in payload[9:nl].split(b" "):
        if not tok:
            continue
        key, val = tok[:1], tok[1:]
        if key == b"W":
            w = int(val)
        elif key == b"H":
            h = int(val)
        elif key == b"F":
            num, den = (int(v) for v in val.split(b":"))
        elif key == b"C":
            cs = val
    if not w or not h:
        raise ValueError("y4m header missing W/H geometry")
    if num < 1 or den < 1:
        raise ValueError("bad y4m frame rate")
    y_size = w * h
    if cs.startswith(b"420"):
        frame_size = y_size + 2 * ((w // 2) * (h // 2))
    elif cs.startswith(b"422"):
        frame_size = y_size + 2 * ((w // 2) * h)
    elif cs.startswith(b"444"):
        frame_size = 3 * y_size
    elif cs == b"mono":
        frame_size = y_size
    else:
        raise ValueError(f"unsupported y4m colorspace {cs!r}")
    pos = nl + 1
    frames = []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        pos = fnl + 1
        body = payload[pos : pos + frame_size]
        if len(body) != frame_size:
            raise ValueError(
                f"truncated frame: need {frame_size} bytes, have {len(body)}"
            )
        frames.append(
            np.frombuffer(body[:y_size], dtype=np.uint8).reshape((h, w))
        )
        pos += frame_size
    if not frames:
        raise ValueError("y4m stream has no frames")
    return np.stack(frames), num, den


def sample_frames_real(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling: decode each y4m payload, then one
    row per sample instant ``t = 0, every_ms, … < duration`` carrying
    the frame on screen at ``t`` (``k = t·num // (1000·den)``) as a
    VALID P5 payload of its luma plane — directly composable with the
    image family (grid features, dHash near-dup across frames). One
    zero-shuffle Arrow pass; payloads are read once. A stream shorter
    than 1 ms (``duration = nf·1000·den // num`` is 0) yields no frames;
    that is not an error."""
    if every_ms < 1:
        raise ValueError("every_ms must be >= 1")
    schema = (
        "asset_id long, frame_ts_ms long, frame_idx long, frame_payload binary"
    )
    cols = ["asset_id", "frame_ts_ms", "frame_idx", "frame_payload"]

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                luma, num, den = decode_y4m(p)
                nf, h, w = luma.shape
                duration_ms = nf * 1000 * den // num
                hdr = b"P5\n%d %d\n255\n" % (w, h)
                t = 0
                while t < duration_ms:
                    k = t * num // (1000 * den)
                    rows.append(
                        {
                            "asset_id": aid,
                            "frame_ts_ms": t,
                            "frame_idx": k,
                            "frame_payload": hdr + luma[k].tobytes(),
                        }
                    )
                    t += every_ms
            # explicit columns: a batch of zero-duration clips has no rows
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "video").select(
        "asset_id", "payload"
    ).mapInPandas(_sample, schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled timestamp
    (decode stubbed — frame payloads are None until a real decoder is
    plugged in; the row structure and partitioning are real)."""
    ts = F.sequence(
        F.lit(0), F.col("meta.duration_ms") - 1, F.lit(every_ms)
    )
    return media.filter(F.col("kind") == "video").select(
        "asset_id",
        F.explode(ts).alias("frame_ts_ms"),
        F.lit(None).cast("binary").alias("frame_payload"),
    )
