"""Multimodal column plumbing: opaque binary media + typed metadata,
with decode / feature-extract / resize / frame-sample stages as
Arrow-batched ``mapInPandas`` transforms.

Design: media rides as ``binary`` next to a ``media_meta`` struct
(modality, format, n_bytes). The Spark-side plumbing — schema,
partition-preserving mapInPandas, batch shapes — is real and tested.
The decode step is REAL for PPM (``P6``) images: a ~10-line pure-Python
header parse, no codec library needed. For other formats it tries PIL
(absent in this container) and otherwise falls back to a clearly-marked
deterministic fake derived from the bytes (stable across
runs/executors). Swapping in a full decoder changes ONE function.

Scale: mapInPandas streams Arrow record batches — no per-row Python, no
driver collect; binary stays columnar end-to-end. Partitioning is
preserved (narrow), so upstream repartitioning (e.g. by media id)
carries through the decode stage.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sha", T.StringType()),
    ]
)


def with_media_meta(df: DataFrame, media_col: str = "media",
                    modality: str = "image", fmt: str = "raw") -> DataFrame:
    """Attach the typed metadata struct next to the opaque binary."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(fmt).alias("format"),
            F.length(F.col(media_col)).cast("long").alias("n_bytes"),
        ),
    )


# no ^ anchor: re.match() anchors at its pos argument anyway, while ^
# would only match at true string start and break positioned matching
# in _iter_ppm_frames
_PPM_HEADER = re.compile(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def _decode_one(data: bytes) -> tuple[int, int, int]:
    """Decode image dims.

    PPM ``P6`` (header: magic, width, height, maxval, then raw RGB) is
    decoded in pure Python, and baseline JPEG via the vendored
    public-spec codec (operators/jpeg_baseline.py — a real SOF marker
    walk, no codec library). Remaining formats try PIL; failing that,
    a deterministic fake derived from the byte content (NOT random —
    the same bytes always produce the same dims, so tests stay
    stable)."""
    m = _PPM_HEADER.match(data)
    if m:
        return int(m.group(1)), int(m.group(2)), 3
    if data[:2] == b"\xff\xd8":
        from .jpeg_baseline import jpeg_dims

        dims = jpeg_dims(data)
        if dims is not None:
            return dims
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from .png_codec import png_dims

        dims = png_dims(data)
        if dims is not None:
            return dims[0], dims[1], 3
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(data))
        return img.width, img.height, len(img.getbands())
    except Exception:
        # STUB: deterministic fake decode (container has no codecs for
        # the remaining formats: WebP/TIFF/...).
        digest = hashlib.sha256(data).digest()
        width = 16 + digest[0] % 1024
        height = 16 + digest[1] % 1024
        channels = 1 + digest[2] % 4
        return width, height, channels


def decode_image_features(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """binary -> (media_id, width, height, channels, sha) via
    mapInPandas. Arrow-batched; partition-preserving."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # null media must NOT poison the batch (Q4 philosophy):
            # null dims/sha out, DLQ-routable by the caller
            dims = [
                _decode_one(bytes(b)) if b is not None else (None, None, None)
                for b in pdf[media_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "sha": [
                        hashlib.sha256(bytes(b)).hexdigest()
                        if b is not None
                        else None
                        for b in pdf[media_col]
                    ],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media", T.BinaryType()),  # null = undecodable here
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _resize_ppm_one(data: bytes, out_w: int, out_h: int) -> bytes | None:
    """Nearest-neighbor resize of one P6 image, pure numpy — REAL pixel
    work, no codec library. Returns None for non-PPM bytes."""
    import numpy as np

    m = _PPM_HEADER.match(data)
    if not m:
        return None
    w, h = int(m.group(1)), int(m.group(2))
    need = w * h * 3
    if len(data) - m.end() < need:
        return None  # truncated payload
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=m.end())
    px = px.reshape(h, w, 3)
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    out = px[ri][:, ci]
    header = b"P6\n%d %d\n%s\n" % (out_w, out_h, m.group(3))
    return header + out.tobytes()


def resize_images(
    df: DataFrame,
    width: int = 224,
    height: int = 224,
    media_col: str = "media",
    id_col: str = "media_id",
) -> DataFrame:
    """Resize stage: REAL nearest-neighbor pixel resampling for PPM
    (numpy index-gather per Arrow batch) and for baseline JPEG (vendored
    T.81 decoder, emitted as raw P6); rows whose format needs an absent
    codec (PNG/WebP/...) come back with ``media`` null so the caller can
    route them DLQ-style instead of poisoning the batch (Q4 philosophy).

    Scale: narrow mapInPandas, partition-preserving; per-row cost is one
    O(out_pixels) gather — no Python per-pixel loops on the PPM path."""

    def _one(b, w=width, h=height):
        import numpy as np

        if b is None:
            return None
        data = bytes(b)
        if _PPM_HEADER.match(data):
            return _resize_ppm_one(data, w, h)
        # JPEG and PNG decode through the shared vendored-codec dispatch
        px = _codec_rgb(data)
        if px is None:
            return None
        in_h, in_w = px.shape[:2]
        ri = (np.arange(h) * in_h) // h
        ci = (np.arange(w) * in_w) // w
        out = px[ri][:, ci]
        return b"P6\n%d %d\n255\n" % (w, h) + out.tobytes()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_one(b) for b in pdf[media_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media": resized,
                    "width": [width if r is not None else None for r in resized],
                    "height": [height if r is not None else None for r in resized],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _iter_ppm_frames(data: bytes):
    """Split a raw 'video' (back-to-back P6 frames) into frame bytes.

    Positioned match — no data[pos:] re-slice per frame, which would
    make iteration O(total_bytes * frames) in copies on long videos."""
    pos = 0
    while pos < len(data):
        m = _PPM_HEADER.match(data, pos)
        if not m:
            return
        end = m.end() + int(m.group(1)) * int(m.group(2)) * 3
        if end > len(data):
            return
        yield data[pos:end]
        pos = end


def _iter_video_frames(data: bytes):
    """Dispatch on the container magic: RIFF/AVI Motion-JPEG (vendored
    public-spec walk), ISO-BMFF/MP4 Motion-JPEG (vendored 14496-12
    sample-table walk — each yielded frame is a standalone baseline
    JPEG the vendored T.81 codec decodes), or raw concatenated-PPM.
    Unknown bytes yield no frames (null-video philosophy, not a
    crash); a container with an unsupported codec (avc1/vp9/...)
    errors loudly inside the decoder and is mapped to zero frames
    here so one rogue file cannot poison an Arrow batch."""
    if data[:4] == b"RIFF":
        from .avi_mjpeg import decode_avi_frames

        try:
            for _, frame in decode_avi_frames(data):
                yield frame
        except ValueError:
            return
    elif data[4:8] == b"ftyp":
        from .mp4_mjpeg import decode_mp4_frames

        try:
            for _, frame in decode_mp4_frames(data):
                yield frame
        except ValueError:
            return
    else:
        yield from _iter_ppm_frames(data)


def sample_frames(
    df: DataFrame,
    every_n: int = 30,
    media_col: str = "media",
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame sampling: REAL for RIFF/AVI and ISO-BMFF/MP4
    Motion-JPEG containers (vendored public-spec walks —
    operators/avi_mjpeg.py and operators/mp4_mjpeg.py — each kept
    frame emitted as its standalone baseline-JPEG bytes) and for the
    raw concatenated-PPM format (header walk). Every every_n-th frame
    is kept, one output row per kept frame; tracks needing an absent
    codec (h264, vp9) yield no rows here.

    Scale: narrow mapInPandas; output fan-out is bounded by
    frames/every_n per row."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, raw in zip(pdf[id_col], pdf[media_col]):
                if raw is None:  # null video -> no frames, not a crash
                    continue
                for i, frame in enumerate(_iter_video_frames(bytes(raw))):
                    if i % every_n == 0:
                        ids.append(int(mid))
                        idxs.append(i)
                        frames.append(frame)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select(id_col, media_col).mapInPandas(fn, FRAME_SCHEMA)


def _codec_rgb(data: bytes):
    """Decode non-PPM image bytes to an RGB ndarray via the vendored
    public-spec codecs (baseline JPEG, PNG); None for anything else —
    one dispatch shared by the perceptual hashes."""
    if data[:2] == b"\xff\xd8":
        from .jpeg_baseline import decode_baseline_jpeg

        try:
            return decode_baseline_jpeg(data)
        except (ValueError, NotImplementedError):
            return None
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from .png_codec import decode_png

        try:
            return decode_png(data)
        except ValueError:
            return None
    return None


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dh_hi", T.LongType()),  # dHash bits 0..31 (non-neg)
        T.StructField("dh_lo", T.LongType()),  # dHash bits 32..63
    ]
)


def _dhash_one(data: bytes) -> tuple[int, int] | tuple[None, None]:
    """64-bit difference hash of one P6 or baseline-JPEG image:
    nearest-neighbor sample an 8x9 luminance grid (integer R+G+B sums —
    no division, so any engine reproduces the bits exactly), then bit
    (r, c) = grid[r][c] > grid[r][c+1]. Returned as two non-negative
    32-bit halves so Hamming math never touches the sign bit. None for
    undecodable bytes. JPEG rides the vendored T.81 decoder, so a
    re-encode of the same scene hashes a few bits from its raw
    original — exactly the near-dup case dHash exists for."""
    import numpy as np

    m = _PPM_HEADER.match(data)
    if not m:
        rgb = _codec_rgb(data)
        if rgb is None:
            return None, None
        h, w = rgb.shape[:2]
        if w < 9 or h < 8:
            return None, None
        g3 = rgb.astype(np.int64).sum(axis=2)
        return _dhash_grid(g3, w, h)
    w, h = int(m.group(1)), int(m.group(2))
    need = w * h * 3
    if len(data) - m.end() < need or w < 9 or h < 8:
        return None, None
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=m.end())
    g3 = px.reshape(h, w, 3).astype(np.int64).sum(axis=2)
    return _dhash_grid(g3, w, h)


def _dhash_grid(g3, w: int, h: int) -> tuple[int, int]:
    import numpy as np

    ri = (np.arange(8) * h) // 8
    ci = (np.arange(9) * w) // 9
    grid = g3[ri][:, ci]
    bits = (grid[:, :8] > grid[:, 1:]).astype(np.int64).ravel()  # r*8+c
    hi = int((bits[:32] << np.arange(32)).sum())
    lo = int((bits[32:] << np.arange(32)).sum())
    return hi, lo


def dhash_images(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """binary -> (media_id, dh_hi, dh_lo) perceptual difference hash,
    Arrow-batched. Unlike the content sha, near-identical IMAGES (small
    pixel perturbations, re-encodes of the same scene) land a few bits
    apart, so Hamming blocking finds visual near-duplicates the exact
    hash can't. Undecodable media hashes to null (DLQ-routable)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [
                _dhash_one(bytes(b)) if b is not None else (None, None)
                for b in pdf[media_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "dh_hi": [t[0] for t in hashes],
                    "dh_lo": [t[1] for t in hashes],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, DHASH_SCHEMA)


# DCT-II basis scaled by 2^14, embedded as LITERALS (not recomputed via
# cos() at runtime) so the Python operator and any SQL oracle use the
# byte-identical matrix — the whole pHash pipeline is then pure integer
# arithmetic, engine-exact like dHash.
DCT8_Q14 = [
    [16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384],
    [16069, 13623, 9102, 3196, -3196, -9102, -13623, -16069],
    [15137, 6270, -6270, -15137, -15137, -6270, 6270, 15137],
    [13623, -3196, -16069, -9102, 9102, 16069, 3196, -13623],
    [11585, -11585, -11585, 11585, 11585, -11585, -11585, 11585],
    [9102, -16069, 3196, 13623, -13623, -3196, 16069, -9102],
    [6270, -15137, 15137, -6270, -6270, 15137, -15137, 6270],
    [3196, -9102, 13623, -16069, 16069, -13623, 9102, -3196],
]

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ph_hi", T.LongType()),  # AC bits 0..31 (non-neg)
        T.StructField("ph_lo", T.LongType()),  # AC bits 32..62
    ]
)


def _phash_grid(g3, w: int, h: int) -> tuple[int, int]:
    """Frequency-domain perceptual hash of a luminance grid: 8x8
    average-pool (exact — region sums normalized by LCM-scaled integer
    factors, never a lossy division), integer 2D DCT-II (the Q14
    literal basis), then bit i = AC_i > median(AC) over the 63 AC
    coefficients (median = 32nd smallest, exact integer compare)."""
    import numpy as np

    rb = (np.arange(9) * h) // 8
    cb = (np.arange(9) * w) // 8
    sums = np.empty((8, 8), dtype=np.int64)
    for u in range(8):
        for v in range(8):
            sums[u, v] = int(g3[rb[u]:rb[u + 1], cb[v]:cb[v + 1]].sum())
    # Normalize region sums by SEPARATE row/col LCM scale factors:
    # pooled[u,v] = sums * (HL//rows[u]) * (WL//cols[v]) is the exact
    # average scaled by the constant HL*WL. A single LCM over the
    # distinct block SIZES (rows*cols products) grows ~ (h*w/64)^2 and
    # silently wraps int64 above ~250 px for non-multiple-of-8 dims;
    # the per-axis LCMs are bounded by (dim/8)*(dim/8 + 1). Hash bits
    # are scale-invariant (uniform positive scaling of the pooled grid
    # scales every DCT coefficient identically), so this matches the
    # prior formula bit-for-bit where that one didn't overflow.
    rows = np.diff(rb).astype(np.int64)
    cols = np.diff(cb).astype(np.int64)
    hl = int(np.lcm.reduce(np.unique(rows)))
    wl = int(np.lcm.reduce(np.unique(cols)))
    rscale = hl // rows  # exact by LCM construction
    cscale = wl // cols
    # |DCT| <= 64 * 16384^2 * max|pooled| = 2^34 * 765*HL*WL; stay in
    # int64 while the bound proves no wrap, else exact Python ints
    # (object dtype) — the matrices are 8x8, so the slow path is ~1k
    # bigint multiplies per image, negligible.
    if 765 * hl * wl < (1 << 29):
        pooled = sums * rscale[:, None] * cscale[None, :]
        c = np.array(DCT8_Q14, dtype=np.int64)
    else:
        pooled = sums.astype(object) * rscale[:, None] * cscale[None, :]
        c = np.array(DCT8_Q14, dtype=object)
    d = c @ pooled @ c.T
    ac = list(d.ravel()[1:])
    thr = sorted(ac)[31]
    bits = np.array([1 if a > thr else 0 for a in ac], dtype=np.int64)
    hi = int((bits[:32] << np.arange(32)).sum())
    lo = int((bits[32:] << np.arange(31)).sum())
    return hi, lo


def _phash_one(data: bytes) -> tuple[int, int] | tuple[None, None]:
    """64-bit-class DCT pHash of one P6 or baseline-JPEG image — the
    frequency-domain companion to _dhash_one: robust to uniform
    brightness/contrast-preserving changes dHash also survives, plus
    high-frequency noise dHash flips on (low-pass: only the pooled
    8x8 spectrum's coefficients vote)."""
    import numpy as np

    m = _PPM_HEADER.match(data)
    if not m:
        rgb = _codec_rgb(data)
        if rgb is None:
            return None, None
        h, w = rgb.shape[:2]
        if w < 8 or h < 8:
            return None, None
        g3 = rgb.astype(np.int64).sum(axis=2)
        return _phash_grid(g3, w, h)
    w, h = int(m.group(1)), int(m.group(2))
    need = w * h * 3
    if len(data) - m.end() < need or w < 8 or h < 8:
        return None, None
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=m.end())
    g3 = px.reshape(h, w, 3).astype(np.int64).sum(axis=2)
    return _phash_grid(g3, w, h)


def phash_images(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """binary -> (media_id, ph_hi, ph_lo) DCT perceptual hash,
    Arrow-batched; composes with hamming_near_dup_pairs via
    hi_col='ph_hi', lo_col='ph_lo'. Undecodable media hashes to null."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [
                _phash_one(bytes(b)) if b is not None else (None, None)
                for b in pdf[media_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "ph_hi": [t[0] for t in hashes],
                    "ph_lo": [t[1] for t in hashes],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, PHASH_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_sq", T.LongType()),  # integer energy: exact
    ]
)


def _decode_wav_one(data: bytes):
    """REAL RIFF/WAVE PCM parse, pure Python struct math — no codec
    library: header fields + per-sample integer energy (sum of squared
    int16 samples — integer, so any engine reproduces it exactly;
    float RMS would not hash-compare). None-tuple for non-WAV bytes or
    compressed (non-PCM) formats — codec-bound formats stay out of
    scope exactly like JPEG on the image side."""
    import struct

    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return (None,) * 5
    # walk chunks: fmt_ then data (canonical order not assumed)
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None or fmt[0] != 1:  # 1 = uncompressed PCM
        return (None,) * 5
    _tag, channels, rate, _byterate, _align, bits = fmt
    if bits != 16:
        return (None,) * 5
    n = len(pcm) // 2
    samples = struct.unpack_from(f"<{n}h", pcm, 0)
    return rate, channels, bits, n, sum(s * s for s in samples)


def decode_audio_features(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """binary -> (media_id, sample_rate, channels, bits_per_sample,
    n_samples, sum_sq) via Arrow-batched mapInPandas — the audio leg of
    the multimodal path, REAL for WAV/PCM16 the way the image leg is
    real for PPM. Undecodable media -> nulls (DLQ-routable)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_wav_one(bytes(b)) if b is not None else (None,) * 5
                for b in pdf[media_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "sample_rate": [f[0] for f in feats],
                    "channels": [f[1] for f in feats],
                    "bits_per_sample": [f[2] for f in feats],
                    "n_samples": [f[3] for f in feats],
                    "sum_sq": [f[4] for f in feats],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, AUDIO_FEATURES_SCHEMA)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("lum_sum", T.LongType()),  # integer: engine-exact
    ]
)


def image_pixel_stats(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """binary -> (media_id, width, height, lum_sum) where lum_sum is
    the exact integer sum of ALL channel bytes of the DECODED pixels —
    dims come from headers, lum_sum only from a real full decode, so a
    hash-green value proves the codec path end-to-end (PPM, baseline
    JPEG, PNG via the vendored codecs). Undecodable -> nulls."""
    import numpy as np

    def one(data: bytes):
        m = _PPM_HEADER.match(data)
        if m:
            w, h = int(m.group(1)), int(m.group(2))
            need = w * h * 3
            if len(data) - m.end() < need:
                return None, None, None
            px = np.frombuffer(data, dtype=np.uint8, count=need, offset=m.end())
            return w, h, int(px.astype(np.int64).sum())
        rgb = _codec_rgb(data)
        if rgb is None:
            return None, None, None
        h, w = rgb.shape[:2]
        return w, h, int(rgb.astype(np.int64).sum())

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [
                one(bytes(b)) if b is not None else (None, None, None)
                for b in pdf[media_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "width": [s[0] for s in stats],
                    "height": [s[1] for s in stats],
                    "lum_sum": [s[2] for s in stats],
                }
            )

    return df.select(id_col, media_col).mapInPandas(fn, PIXEL_STATS_SCHEMA)
