"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The 100 TB training-pipeline pattern: media travels as a ``binary`` column
with a typed metadata struct; decode / feature-extract / resize / frame-
sample run as Arrow-batched ``mapInPandas`` stages so the heavy bytes never
leave the executors and never explode into JVM row objects.

This container has no image/audio libraries, so the repo carries its own
pure-Python codecs for formats the stdlib can genuinely handle — PNG
(multimodal/png.py), GIF incl. LZW + interlacing (gif.py), RIFF/WAVE PCM +
float (wav.py), and YUV4MPEG2 raw video (y4m.py) — plus a legacy toy
container (``CGIM``/``CGVD``) kept for the synthetic asset generator.  The
decode UDFs dispatch on magic bytes; import-gated hooks (PIL / av) take
precedence for formats beyond those (JPEG etc.) when the libraries exist.
Real-media parity is oracle-verified end to end via the shipped fixture
(tools/make_media.py, queries/media.py).

Scale notes: every stage is map-only (no shuffle); Arrow batch size is the
knob for executor memory vs throughput (set in session.py); frame sampling
explodes rows inside the pandas iterator, keeping amplification streaming.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)

_MAGIC = {"image": b"CGIM", "audio": b"CGAU", "video": b"CGVD"}


def _blob(seed: str, n: int) -> bytes:
    """Deterministic pseudo-random bytes: md5 chain keyed by seed."""
    out = bytearray()
    h = seed.encode()
    while len(out) < n:
        h = hashlib.md5(h).digest()
        out.extend(h)
    return bytes(out[:n])


def encode_image(asset_id: int, width: int, height: int) -> bytes:
    """Toy container: CGIM | u16 w | u16 h | w*h grayscale bytes."""
    return (
        _MAGIC["image"]
        + struct.pack("<HH", width, height)
        + _blob(f"img:{asset_id}", width * height)
    )


def encode_video(asset_id: int, width: int, height: int, n_frames: int) -> bytes:
    """CGVD | u16 w | u16 h | u16 n_frames | n_frames×(w*h) bytes."""
    return (
        _MAGIC["video"]
        + struct.pack("<HHH", width, height, n_frames)
        + _blob(f"vid:{asset_id}", width * height * n_frames)
    )


def synth_assets(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic asset table: 60% images, 40% videos."""
    rows = []
    for i in range(n):
        if i % 5 < 3:
            w, h = 16 + (i % 7) * 4, 16 + (i % 5) * 4
            rows.append(
                (i, "image", encode_image(i, w, h), (w, h, None, 1, "cgim"))
            )
        else:
            w, h, nf = 16, 16, 4 + i % 5
            rows.append(
                (i, "video", encode_video(i, w, h, nf), (w, h, None, nf, "cgvd"))
            )
    return spark.createDataFrame(rows, ASSET_SCHEMA)


# --- decode hooks: real libraries if present, toy parser otherwise ---

try:  # pragma: no cover - not in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _parse_image(payload: bytes) -> tuple[int, int, bytes]:
    """Dispatch on magic: real PNG / GIF / baseline JPEG (pure-Python
    codecs) or the CGIM toy container; PIL, when present, takes precedence
    for formats beyond those (WebP etc.).  Unknown magics raise →
    quarantine."""
    from changegen_spark.multimodal.gif import GIF_SIGS, decode_gif
    from changegen_spark.multimodal.jpeg import JPEG_SOI, decode_jpeg
    from changegen_spark.multimodal.png import PNG_SIG, decode_png

    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:6] in GIF_SIGS:
        return decode_gif(payload)
    if payload[:2] == JPEG_SOI:
        return decode_jpeg(payload)
    if payload[:4] == _MAGIC["image"]:
        w, h = struct.unpack("<HH", payload[4:8])
        return w, h, payload[8 : 8 + w * h]
    if _HAVE_PIL:  # pragma: no cover - not in this container
        import io

        img = Image.open(io.BytesIO(payload)).convert("L")
        return img.width, img.height, img.tobytes()
    raise ValueError("unrecognized image payload (not PNG, GIF, JPEG, or CGIM)")


DECODED_SCHEMA = (
    "asset_id long, width int, height int, n_pixels long, mean_px double, ok boolean"
)


def decode_images(assets: DataFrame) -> DataFrame:
    """Decode stage: binary → dimensions + pixel stats, Arrow-batched.

    Error-tolerant per row (P7 quarantine semantics, SURVEY §2.2): bad
    payloads yield ok=false rows instead of failing the task.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, px = _parse_image(bytes(payload))
                    # integer-exact 6-dp mean ((s*1e6 + n/2) // n, half-up):
                    # bit-stable across engines, matches the fixture builder
                    n = len(px)
                    mean = ((sum(px) * 1_000_000 + n // 2) // n) / 1e6 if n else 0.0
                    out.append((asset_id, w, h, n, mean, True))
                except Exception:
                    out.append((asset_id, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=["asset_id", "width", "height", "n_pixels", "mean_px", "ok"],
            )

    return assets.filter(F.col("kind") == "image").select("asset_id", "payload").mapInPandas(
        fn, DECODED_SCHEMA
    )


RESIZED_SCHEMA = (
    "asset_id long, width int, height int, rwidth int, rheight int, "
    "rmean_e6 long, ok boolean"
)


def resize_images(assets: DataFrame, factor: int = 2) -> DataFrame:
    """Resize stage: decode → exact integer box-downsample by ``factor`` →
    stats, Arrow-batched, map-only (the thumbnail/preprocessing pass of a
    multimodal training pipeline).

    The resample is deterministic integer arithmetic: the image is cropped
    to factor-divisible dimensions and every factor×factor block becomes
    ``(block_sum + f²/2) // f²`` (half-up mean) — bit-identical on any
    engine, so the fixture builder's independently written resizer
    (tools/make_media.py, plain-Python loops vs numpy here) can serve as
    the oracle.  rmean_e6 is the e6-scaled mean of the RESIZED pixels
    under the same half-up integer convention as decode_images.

    Quarantine contract as decode_images: undecodable or
    too-small-to-resize payloads yield ok=false."""
    import numpy as np

    f = factor

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, px = _parse_image(bytes(payload))
                    w2, h2 = (w // f) * f, (h // f) * f
                    if w2 == 0 or h2 == 0:
                        raise ValueError("image smaller than resize factor")
                    a = (
                        np.frombuffer(bytes(px), dtype=np.uint8)[: w * h]
                        .reshape(h, w)[:h2, :w2]
                        .astype(np.int64)
                    )
                    blocks = a.reshape(h2 // f, f, w2 // f, f).sum(axis=(1, 3))
                    r = (blocks + (f * f) // 2) // (f * f)
                    n = r.size
                    rmean_e6 = int((int(r.sum()) * 1_000_000 + n // 2) // n)
                    out.append(
                        (asset_id, w, h, w2 // f, h2 // f, rmean_e6, True)
                    )
                except Exception:
                    out.append((asset_id, None, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id", "width", "height", "rwidth", "rheight",
                    "rmean_e6", "ok",
                ],
            )

    return assets.filter(F.col("kind") == "image").select(
        "asset_id", "payload"
    ).mapInPandas(fn, RESIZED_SCHEMA)


AUDIO_SCHEMA = (
    "asset_id long, sample_rate int, n_channels int, n_frames long, "
    "duration_e6 long, rms_e6 long, peak_e6 long, zero_crossings long, "
    "centroid_e3 long, rolloff_e3 long, ok boolean"
)


def decode_audio(assets: DataFrame) -> DataFrame:
    """Audio decode stage: WAV binary → integer feature row (time-domain +
    rfft spectral), Arrow-batched, map-only.  Same quarantine contract as
    ``decode_images``: malformed payloads yield ok=false rows.  Features
    are the shared definitions from multimodal/wav.py (see that module for
    why they are the parity check)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from changegen_spark.multimodal.wav import (
            audio_features,
            decode_wav,
            spectral_features,
        )

        cols = [
            "asset_id", "sample_rate", "n_channels", "n_frames",
            "duration_e6", "rms_e6", "peak_e6", "zero_crossings",
            "centroid_e3", "rolloff_e3", "ok",
        ]
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    rate, nch, arr = decode_wav(bytes(payload))
                    f = audio_features(rate, arr)
                    sp = spectral_features(rate, arr)
                    out.append(
                        (asset_id, rate, nch, f["n_frames"], f["duration_e6"],
                         f["rms_e6"], f["peak_e6"], f["zero_crossings"],
                         sp["centroid_e3"], sp["rolloff_e3"], True)
                    )
                except Exception:
                    out.append((asset_id,) + (None,) * 9 + (False,))
            yield pd.DataFrame(out, columns=cols)

    return assets.filter(F.col("kind") == "audio").select(
        "asset_id", "payload"
    ).mapInPandas(fn, AUDIO_SCHEMA)


MOTION_SCHEMA = "asset_id long, frame_idx int, mad_e6 long"


def frame_motion(assets: DataFrame) -> DataFrame:
    """Motion metric stage: per consecutive Y4M frame pair, the
    integer-exact e6-scaled mean absolute luma difference (scene-cut
    spikes, static runs near zero).  Map-only ``mapInPandas``; row k
    describes the (k-1, k) transition, so frame 0 emits nothing."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from changegen_spark.multimodal.y4m import Y4M_SIG, decode_y4m

        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                if not b.startswith(Y4M_SIG):
                    continue
                _w, _h, _fn, _fd, planes = decode_y4m(b)
                for k in range(1, len(planes)):
                    a = np.frombuffer(planes[k - 1], np.uint8).astype(np.int32)
                    c = np.frombuffer(planes[k], np.uint8).astype(np.int32)
                    s = int(np.sum(np.abs(a - c)))
                    n = a.size
                    rows.append((asset_id, k, (s * 1_000_000 + n // 2) // n))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "mad_e6"])

    return assets.filter(F.col("kind") == "video").select(
        "asset_id", "payload"
    ).mapInPandas(fn, MOTION_SCHEMA)


FEATURES_SCHEMA = "asset_id long, embedding array<float>"


def extract_features(assets: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction: payload → fixed-size float vector (chunk means),
    the plumbing shape of a real CNN/audio embedding stage.  Output feeds
    the similarity-search operators directly."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, vecs = [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                body = bytes(payload)[8:]
                arr = np.frombuffer(body, dtype=np.uint8)
                if len(arr) == 0:
                    vec = np.zeros(dim, dtype=np.float32)
                else:
                    chunks = np.array_split(arr, dim)
                    vec = np.array(
                        [c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32
                    ) / 255.0
                ids.append(asset_id)
                vecs.append(vec.tolist())
            yield pd.DataFrame({"asset_id": ids, "embedding": vecs})

    return assets.select("asset_id", "payload").mapInPandas(fn, FEATURES_SCHEMA)


def sample_frames(assets: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: video payload → one row per kept frame (every k-th).
    Dispatches on magic: real Y4M streams (luma plane per frame, integer-
    exact e6 mean → ``mean_px``) or the toy CGVD container.  Row
    amplification happens inside the pandas iterator — streaming, not a
    collected explode."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from changegen_spark.multimodal.y4m import (
            Y4M_SIG,
            decode_y4m,
            frame_mean_e6,
        )

        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                if b.startswith(Y4M_SIG):
                    _w, _h, _fn, _fd, planes = decode_y4m(b)
                    for k in range(0, len(planes), every):
                        rows.append(
                            (asset_id, k, planes[k], frame_mean_e6(planes[k]) / 1e6)
                        )
                    continue
                if b[:4] != _MAGIC["video"]:
                    continue
                w, h, nf = struct.unpack("<HHH", b[4:10])
                fsize = w * h
                for k in range(0, nf, every):
                    frame = b[10 + k * fsize : 10 + (k + 1) * fsize]
                    mean = sum(frame) / len(frame) if frame else 0.0
                    rows.append((asset_id, k, frame, round(mean, 6)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "frame_idx", "frame", "mean_px"]
            )

    return assets.filter(F.col("kind") == "video").select("asset_id", "payload").mapInPandas(
        fn, "asset_id long, frame_idx int, frame binary, mean_px double"
    )


MEL_SCHEMA = "asset_id long, band int, log_mel_e3 long, ok boolean"


def extract_mel(assets: DataFrame) -> DataFrame:
    """Mel-filterbank stage: WAV binary → long-format (asset_id, band,
    log_mel_e3) rows — the audio-ML front-end feature map, Arrow-batched
    and map-only like every decode stage.  Malformed payloads yield one
    ok=false row (band null), the standard quarantine contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from changegen_spark.multimodal.wav import decode_wav, mel_bands

        cols = ["asset_id", "band", "log_mel_e3", "ok"]
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    rate, _nch, arr = decode_wav(bytes(payload))
                    for b, v in enumerate(mel_bands(rate, arr)):
                        out.append((asset_id, b, v, True))
                except Exception:
                    out.append((asset_id, None, None, False))
            yield pd.DataFrame(out, columns=cols)

    return assets.filter(F.col("kind") == "audio").select(
        "asset_id", "payload"
    ).mapInPandas(fn, MEL_SCHEMA)


DHASH_SCHEMA = "asset_id long, dhash string, ok boolean"


def _grid_bounds(w: int, h: int) -> tuple[list[int], list[int]]:
    """Row/col block boundaries of the 8×9 dHash grid."""
    return [r * h // 8 for r in range(9)], [c * w // 9 for c in range(10)]


def _grid_cells(px: bytes, w: int, h: int):
    """8×9 rounded-mean luma grid (the dHash intermediate).  Exposed so
    the scale-fixture builder (sources/scaleup.py) can plant near-dups at
    exact Hamming distances by inverting individual cell comparisons."""
    import numpy as np

    a = np.frombuffer(bytes(px), dtype=np.uint8)[: w * h].reshape(h, w)
    a = a.astype(np.int64)
    rb, cb = _grid_bounds(w, h)
    cells = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        for c in range(9):
            blk = a[rb[r] : rb[r + 1], cb[c] : cb[c + 1]]
            s, area = int(blk.sum()), blk.size
            cells[r, c] = (s + area // 2) // area
    return cells


def _dhash_px(px: bytes, w: int, h: int) -> str:
    """64-bit dHash of a w×h luma plane as 16 hex chars (numpy region
    sums; the fixture builder's plain-loop twin is tools/make_media.py
    dhash_expected).  Shared by the image and video signature stages."""
    cells = _grid_cells(px, w, h)
    v = 0
    for r in range(8):
        for c in range(8):
            if cells[r, c] < cells[r, c + 1]:
                v |= 1 << (r * 8 + c)
    return f"{v:016x}"


def dhash_images(assets: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) stage: decode → 8×9 integer area
    grid → 64 horizontal-gradient bits as 16 hex chars — the image twin
    of the text fingerprints: near-identical images (recompression,
    slight crops/noise) land within a small Hamming distance, so image
    dedup becomes the same hash-groupBy / hamming-pair machinery the
    text side uses.  Arrow-batched map-only work (no shuffle, no driver
    traffic); numpy region sums here vs the fixture builder's plain
    loops (tools/make_media.py dhash_expected) — two independent
    implementations pinned equal by the oracle.

    Quarantine contract as decode_images; images narrower than 9 px or
    shorter than 8 px cannot fill the grid and are quarantined."""
    one = _dhash_px

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, px = _parse_image(bytes(payload))
                    if w < 9 or h < 8:
                        raise ValueError("image smaller than dhash grid")
                    out.append((asset_id, one(px, w, h), True))
                except Exception:
                    out.append((asset_id, None, False))
            yield pd.DataFrame(out, columns=["asset_id", "dhash", "ok"])

    return assets.filter(F.col("kind") == "image").select(
        "asset_id", "payload"
    ).mapInPandas(fn, DHASH_SCHEMA)


AUDIO_FP_SCHEMA = "asset_id long, afp_frames long, afp string, ok boolean"


def audio_fingerprints(assets: DataFrame) -> DataFrame:
    """Audio fingerprint stage: WAV decode → shared dominant-bin peak hash
    (multimodal.wav.peak_hash) — fingerprint equality is the audio dedup
    key (requantized/re-encoded copies collide; see the planted
    dup_wav_requant fixture).  Arrow-batched map-only work."""
    from changegen_spark.multimodal.wav import decode_wav, peak_hash

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    rate, _ch, arr = decode_wav(bytes(payload))
                    d = peak_hash(rate, arr)
                    out.append((asset_id, d["afp_frames"], d["afp"], True))
                except Exception:
                    out.append((asset_id, None, None, False))
            yield pd.DataFrame(out, columns=["asset_id", "afp_frames", "afp", "ok"])

    return assets.filter(F.col("kind") == "audio").select(
        "asset_id", "payload"
    ).mapInPandas(fn, AUDIO_FP_SCHEMA)


VIDEO_SIG_SCHEMA = "asset_id long, n_frames long, vsig string, ok boolean"


def video_signatures(assets: DataFrame) -> DataFrame:
    """Video signature stage: Y4M decode → per-frame luma dHash → md5 of
    the frame-hash sequence (first 16 hex) — chroma-format-independent
    (the signature reads only Y planes), so the same footage re-encoded
    420/422/444/mono collides (see the planted dup_y4m fixture)."""
    import hashlib

    from changegen_spark.multimodal.y4m import decode_y4m

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    w, h, _fn_, _fd, planes = decode_y4m(bytes(payload))
                    if w < 9 or h < 8:
                        raise ValueError("frame smaller than dhash grid")
                    hs = [_dhash_px(p, w, h) for p in planes]
                    vsig = hashlib.md5(",".join(hs).encode()).hexdigest()[:16]
                    out.append((asset_id, len(planes), vsig, True))
                except Exception:
                    out.append((asset_id, None, None, False))
            yield pd.DataFrame(out, columns=["asset_id", "n_frames", "vsig", "ok"])

    return assets.filter(F.col("kind") == "video").select(
        "asset_id", "payload"
    ).mapInPandas(fn, VIDEO_SIG_SCHEMA)
