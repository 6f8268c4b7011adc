"""Real-media decode parity queries over the shipped fixture.

The multimodal contract the reference world cares about — media as opaque
binary columns decoded executor-side — verified on REAL bytes: PNG, GIF,
and baseline JPEG images, PCM/float WAV audio, and Y4M raw video, all
generated without PIL/libav (tools/make_media.py).  The Spark side runs
the actual decode stages from multimodal/assets.py (Arrow-batched
``mapInPandas``, map-only); the DuckDB oracle reads the fixture's expected
columns, which were computed from the raw SOURCE arrays before encoding.
Lossless codecs must reproduce those arrays bit-for-bit, so a hash-match
is end-to-end evidence the decoders are correct — the same
shipped-artifact oracle pattern as ``q_external_decontaminate`` and
``q_reference_goldens``.  JPEG is lossy, so its expected values are a
decode-determinism pin instead (multimodal/jpeg.py docstring has the
two-implementation evidence chain).

Scale notes: every stage is map-only over a binary column (no shuffle, no
driver traffic); at 100 TB the fixture parquet is replaced by the media
lake and the plan is unchanged.  All outputs are integers (e6-scaled) so
the digest/oracle never compares engine float formatting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.multimodal.assets import (
    decode_audio,
    decode_images,
    frame_motion,
    sample_frames,
)

FIXDIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
)
ASSETS_PATH = os.path.join(FIXDIR, "media_assets.parquet")
FRAMES_PATH = os.path.join(FIXDIR, "media_frames.parquet")

FRAME_EVERY = 2  # q_media_frame_stats keeps every 2nd frame


def _assets(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(ASSETS_PATH)


def q_media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture image (PNG: all 5 filters x 4 color types; GIF: palette
    sizes 4..256, plain + interlaced) decoded to (width, height, e6 mean
    luma).  ``sf_dir`` is unused — the fixture is the versioned input."""
    a = _assets(spark)
    dec = decode_images(a).filter(F.col("ok"))
    fmts = a.select("asset_id", "fmt")
    return (
        dec.join(fmts, "asset_id")
        .select(
            "asset_id",
            "fmt",
            "width",
            "height",
            # decode_images computes mean_px as the integer-exact
            # ((sum*1e6 + n/2) // n) / 1e6, so *1e6 rounds back to the
            # builder's integer exactly
            F.round(F.col("mean_px") * 1_000_000).cast("long").alias("mean_e6"),
        )
        .orderBy("asset_id")
    )


Q_MEDIA_IMAGE_SQL = f"""
SELECT asset_id, fmt, CAST(exp_width AS INT) AS width,
       CAST(exp_height AS INT) AS height, exp_mean_e6 AS mean_e6
FROM '{ASSETS_PATH}' WHERE kind = 'image' ORDER BY asset_id
"""


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture WAV (PCM 8/16/24/32-bit and IEEE float32, mono+stereo)
    decoded to the shared integer feature set — time-domain (duration,
    rms, peak, zero crossings) AND rfft spectral (centroid, 85%-energy
    rolloff) — from multimodal/wav.py."""
    a = _assets(spark)
    dec = decode_audio(a).filter(F.col("ok"))
    fmts = a.select("asset_id", "fmt")
    return (
        dec.join(fmts, "asset_id")
        .select(
            "asset_id", "fmt", "sample_rate", "n_channels", "n_frames",
            "duration_e6", "rms_e6", "peak_e6", "zero_crossings",
            "centroid_e3", "rolloff_e3",
        )
        .orderBy("asset_id")
    )


Q_MEDIA_AUDIO_SQL = f"""
SELECT asset_id, fmt, CAST(exp_sample_rate AS INT) AS sample_rate,
       CAST(exp_n_channels AS INT) AS n_channels, exp_n_frames AS n_frames,
       exp_duration_e6 AS duration_e6, exp_rms_e6 AS rms_e6,
       exp_peak_e6 AS peak_e6, exp_zero_crossings AS zero_crossings,
       exp_centroid_e3 AS centroid_e3, exp_rolloff_e3 AS rolloff_e3
FROM '{ASSETS_PATH}' WHERE kind = 'audio' ORDER BY asset_id
"""


def q_media_mel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-mel filterbank energies per fixture WAV (8 HTK-mel triangular
    bands, e3 ints) — the canonical audio-ML front end as a decode stage
    (multimodal/assets.extract_mel; shared-definition parity against the
    fixture's pre-encoding arrays, like every media oracle)."""
    from changegen_spark.multimodal.assets import extract_mel

    a = _assets(spark)
    return (
        extract_mel(a)
        .filter(F.col("ok"))
        .select("asset_id", "band", "log_mel_e3")
        .orderBy("asset_id", "band")
    )


Q_MEDIA_MEL_SQL = f"""
SELECT asset_id,
       CAST(generate_subscripts(exp_mel_e3, 1) - 1 AS INT) AS band,
       unnest(exp_mel_e3) AS log_mel_e3
FROM '{ASSETS_PATH}' WHERE kind = 'audio'
ORDER BY asset_id, band
"""


def q_media_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y4M frame sampling (every 2nd frame, FRAME_EVERY) across chroma
    formats 420/422/444/mono → per-kept-frame integer mean luma."""
    a = _assets(spark)
    kept = sample_frames(a, every=FRAME_EVERY)
    return kept.select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.round(F.col("mean_px") * 1_000_000).cast("long").alias("mean_luma_e6"),
    ).orderBy("asset_id", "frame_idx")


Q_MEDIA_FRAMES_SQL = f"""
SELECT asset_id, frame_idx, exp_mean_e6 AS mean_luma_e6
FROM '{FRAMES_PATH}' WHERE frame_idx % {FRAME_EVERY} = 0
ORDER BY asset_id, frame_idx
"""


def q_media_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per consecutive frame pair of every Y4M asset: integer-exact mean
    absolute luma difference (the cheap motion metric)."""
    a = _assets(spark)
    return frame_motion(a).select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "mad_e6",
    ).orderBy("asset_id", "frame_idx")


Q_MEDIA_MOTION_SQL = f"""
SELECT asset_id, frame_idx, exp_mad_e6 AS mad_e6
FROM '{FRAMES_PATH}' WHERE frame_idx >= 1
ORDER BY asset_id, frame_idx
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture image decoded and box-downsampled 2x (the thumbnail /
    preprocessing stage): (asset_id, fmt, rwidth, rheight, rmean_e6).  The
    oracle reads expectations computed by the fixture builder's
    INDEPENDENT plain-Python resizer (numpy block-sum here vs nested
    loops there — tools/make_media.py resize2_expected); lossless formats
    chain source→encode→decode→resize, JPEG chains through its
    decode-determinism pin."""
    from changegen_spark.multimodal.assets import resize_images

    a = _assets(spark)
    res = resize_images(a).filter(F.col("ok"))
    return (
        res.join(a.select("asset_id", "fmt"), "asset_id")
        .select("asset_id", "fmt", "rwidth", "rheight", "rmean_e6")
        .orderBy("asset_id")
    )


Q_MEDIA_RESIZE_SQL = f"""
SELECT asset_id, fmt, CAST(exp_rwidth AS INT) AS rwidth,
       CAST(exp_rheight AS INT) AS rheight, exp_rmean_e6 AS rmean_e6
FROM '{ASSETS_PATH}' WHERE kind = 'image' ORDER BY asset_id
"""


def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture image's perceptual difference hash (dHash, 16 hex
    chars) — the multimodal dedup key.  The oracle reads expectations
    computed by the fixture builder's INDEPENDENT plain-Python
    implementation (tools/make_media.py dhash_expected vs the engine's
    numpy region sums); lossless formats chain source→encode→decode→hash,
    JPEG chains through its decode-determinism pin."""
    from changegen_spark.multimodal.assets import dhash_images

    a = _assets(spark)
    d = dhash_images(a).filter(F.col("ok"))
    return (
        d.join(a.select("asset_id", "fmt"), "asset_id")
        .select("asset_id", "fmt", "dhash")
        .orderBy("asset_id")
    )


Q_MEDIA_DHASH_SQL = f"""
SELECT asset_id, fmt, exp_dhash AS dhash
FROM '{ASSETS_PATH}' WHERE kind = 'image' ORDER BY asset_id
"""


DUP_HAM = 7  # pigeonhole: 8 bands of 8 bits -> any pair with hamming <= 7
# shares at least one exact band, so the banded join is COMPLETE, not
# approximate, at this threshold


def dup_pairs_from_dhash(
    d: DataFrame, ham: int = DUP_HAM, band_hex: int = 2
) -> DataFrame:
    """Banded Hamming join over a (asset_id, dhash) frame: split the
    16-hex dHash into ``16 // band_hex`` bands, equi-join on (band,
    substring), refine with the exact 64-bit Hamming distance ≤ ``ham``.

    Pigeonhole completeness: with ``b`` bands the join is EXACT for
    ``ham <= b - 1`` (any pair within the threshold shares ≥1 unchanged
    band).  Band width is the candidate-volume dial at scale: random
    uncorrelated hashes collide on a band with prob ``b / 16^band_hex``,
    so 8×8-bit bands (complete at ≤7) cost ~n²/64 candidates while
    4×16-bit bands (complete at ≤3) cost ~n²/16384 — the media ladder in
    tools/ladders.py measures both (SCALE.md)."""
    nbands = 16 // band_hex
    if ham > nbands - 1:
        raise ValueError(f"banding incomplete: ham={ham} > bands-1={nbands - 1}")
    cand = banded_candidates(d, band_hex)

    def _half(col, start):
        return F.conv(F.substring(col, start, 8), 16, 10).cast("long")

    hamming = (
        F.bit_count(_half("da", 1).bitwiseXOR(_half("db", 1)))
        + F.bit_count(_half("da", 9).bitwiseXOR(_half("db", 9)))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= ham)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def banded_candidates(d: DataFrame, band_hex: int = 2) -> DataFrame:
    """Distinct candidate pairs (id_a, da, id_b, db) colliding on ≥1 band —
    exposed separately so the media ladder can record candidate volume per
    band width (the collision-rate stat in SCALE.md)."""
    nbands = 16 // band_hex
    sig = d.select(
        "asset_id",
        "dhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.substring("dhash", 1 + band_hex * i, band_hex).alias("bs"),
                )
                for i in range(nbands)
            ])
        ).alias("s"),
    ).select("asset_id", "dhash", "s.band", "s.bs")
    a = sig.select(
        F.col("asset_id").alias("id_a"), F.col("dhash").alias("da"), "band", "bs"
    )
    b = sig.select(
        F.col("asset_id").alias("id_b"), F.col("dhash").alias("db"), "band", "bs"
    )
    return (
        a.join(b, ["band", "bs"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "da", "id_b", "db")
        .distinct()
    )


# --- multi-index Hamming search (r7: the 10^9-asset scale path) -------------
#
# Pigeonhole-complete banding has a random-collision term n²·b/2^bits whose
# best fixed constant over a 64-bit hash is 4/2^16 (4×16-bit bands, complete
# at ham ≤ 3): the r6 media ladder measured its candidate volume growing
# 79.6× for 10× assets — quadratic, hopeless at 10^9 images (SCALE.md).
# Multi-index Hamming search (Norouzi, Punjani & Fleet, "Fast Search in
# Hamming Space with Multi-Index Hashing", CVPR 2012 — public) replaces
# wider bands with PROBE ENUMERATION over narrower substring counts: split
# the 64-bit hash into m=2 halves of 32 bits; any pair within Hamming r has
# some half within floor(r/m) (pigeonhole over the halves), so for r ≤ 3
# probing each half's 32 one-bit flips (+ itself) against exact half keys is
# COMPLETE.  The random-collision term becomes n²·2·33/2^32 ≈ 1.5e-8·n² —
# four orders of magnitude below 16-bit bands — so candidates are dominated
# by the true near-dup mass (linear) into the 10^9-asset regime.  The cost
# is bounded row amplification: 66 probe rows per asset (id + key only; the
# hashes are re-attached by id AFTER the candidate join, so the big shuffle
# carries ~20-byte rows).

MIH_HAM = 3  # complete: 2 halves, radius-1 probes cover floor(3/2) = 1


def _mih_half(col, idx: int):
    """32-bit half ``idx`` (0 or 1) of a 16-hex dHash, as a long."""
    return F.conv(F.substring(col, 1 + 8 * idx, 8), 16, 10).cast("long")


def mih_candidates(d: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a, da, id_b, db) whose dHashes agree on
    some 32-bit half within Hamming ≤ 1 — a superset of all pairs with
    full-hash Hamming ≤ MIH_HAM.  Exact half keys (2 rows/asset) are
    equi-joined against radius-1 probe keys (66 rows/asset, ids only);
    both hashes re-attach by id after the join, so the probe shuffle rows
    stay ~20 bytes regardless of hash width."""
    exact = d.select(
        F.col("asset_id").alias("id_b"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(h).alias("h"), _mih_half("dhash", h).alias("key")
                )
                for h in range(2)
            ])
        ).alias("s"),
    ).select("id_b", "s.h", "s.key")
    probes = d.select(
        F.col("asset_id").alias("id_a"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(h).alias("h"),
                    key.alias("key"),
                )
                for h in range(2)
                for base in [_mih_half("dhash", h)]
                for key in [base]
                + [base.bitwiseXOR(F.lit(1 << j)) for j in range(32)]
            ])
        ).alias("s"),
    ).select("id_a", "s.h", "s.key")
    pairs = (
        probes.join(exact, ["h", "key"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b")
        .distinct()
    )
    da = d.select(F.col("asset_id").alias("id_a"), F.col("dhash").alias("da"))
    db = d.select(F.col("asset_id").alias("id_b"), F.col("dhash").alias("db"))
    return pairs.join(da, "id_a").join(db, "id_b").select(
        "id_a", "da", "id_b", "db"
    )


def dup_pairs_mih(d: DataFrame, ham: int = MIH_HAM) -> DataFrame:
    """Exact near-dup pairs at Hamming ≤ ``ham`` (≤ MIH_HAM for
    completeness) via multi-index candidates + exact 64-bit refine —
    byte-identical to the banded join's result filtered to the same
    threshold, with a ~linear candidate volume (tools/ladders.py media ladder)."""
    if ham > MIH_HAM:
        raise ValueError(
            f"mih radius-1 probing is complete only for ham <= {MIH_HAM}, "
            f"got {ham} — widen the probe radius or use banded bands"
        )
    cand = mih_candidates(d)

    def _half(col, start):
        return F.conv(F.substring(col, start, 8), 16, 10).cast("long")

    hamming = (
        F.bit_count(_half("da", 1).bitwiseXOR(_half("db", 1)))
        + F.bit_count(_half("da", 9).bitwiseXOR(_half("db", 9)))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= ham)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def q_media_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: dHash → 8 one-byte bands →
    (band, byte) equi-join → exact Hamming refine ≤ {DUP_HAM}.  By the
    pigeonhole principle every pair within the threshold collides on at
    least one band, so this is the EXACT result with an LSH-shaped plan
    (no all-pairs comparison) — the image twin of the banded MinHash
    join, and the reason dHash exists: the fixture plants a cross-format
    exact dup (PNG pixels re-encoded as GIF, hamming 0) and a noised
    re-encode (hamming 1).  The O(10^4)-asset scale path over the same
    machinery is dup_pairs_from_dhash + sources/scaleup.build_media_assets
    (tools/ladders.py media ladder)."""
    from changegen_spark.multimodal.assets import dhash_images

    d = dhash_images(_assets(spark)).filter(F.col("ok")).select("asset_id", "dhash")
    return dup_pairs_from_dhash(d)


Q_MEDIA_DUP_PAIRS_SQL = f"""
WITH img AS (
  SELECT asset_id, exp_dhash AS dhash FROM '{ASSETS_PATH}' WHERE kind = 'image'
), sig AS (
  SELECT asset_id, dhash, CAST(i AS INT) AS band,
         substr(dhash, 1 + 2 * CAST(i AS INT), 2) AS bs
  FROM img, (SELECT unnest(generate_series(0, 7)) AS i)
), cand AS (
  SELECT DISTINCT a.asset_id AS id_a, a.dhash AS da,
                  b.asset_id AS id_b, b.dhash AS db
  FROM sig a JOIN sig b ON a.band = b.band AND a.bs = b.bs
  WHERE b.asset_id > a.asset_id
), scored AS (
  SELECT id_a, id_b,
         CAST(bit_count(xor(CAST('0x' || substr(da, 1, 8) AS BIGINT),
                            CAST('0x' || substr(db, 1, 8) AS BIGINT)))
            + bit_count(xor(CAST('0x' || substr(da, 9, 8) AS BIGINT),
                            CAST('0x' || substr(db, 9, 8) AS BIGINT))) AS BIGINT)
           AS hamming
  FROM cand
)
SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {DUP_HAM}
ORDER BY id_a, id_b
"""


def q_media_dup_pairs_mih(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs at Hamming ≤ {MIH_HAM} via multi-index
    Hamming search — the 10^9-asset scale path (see mih_candidates): exact
    32-bit half keys joined against radius-1 probe keys, then the exact
    64-bit refine.  The oracle is a BRUTE-FORCE all-pairs Hamming scan on
    the fixture, so a green row is an independent completeness proof (no
    pair within the threshold escaped the probe scheme), not an
    implementation echo."""
    from changegen_spark.multimodal.assets import dhash_images

    d = dhash_images(_assets(spark)).filter(F.col("ok")).select("asset_id", "dhash")
    return dup_pairs_mih(d)


Q_MEDIA_DUP_PAIRS_MIH_SQL = f"""
WITH img AS (
  SELECT asset_id, exp_dhash AS dhash FROM '{ASSETS_PATH}' WHERE kind = 'image'
), scored AS (
  SELECT a.asset_id AS id_a, b.asset_id AS id_b,
         CAST(bit_count(xor(CAST('0x' || substr(a.dhash, 1, 8) AS BIGINT),
                            CAST('0x' || substr(b.dhash, 1, 8) AS BIGINT)))
            + bit_count(xor(CAST('0x' || substr(a.dhash, 9, 8) AS BIGINT),
                            CAST('0x' || substr(b.dhash, 9, 8) AS BIGINT))) AS BIGINT)
           AS hamming
  FROM img a JOIN img b ON b.asset_id > a.asset_id
)
SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {MIH_HAM}
ORDER BY id_a, id_b
"""


def q_media_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture audio asset's dominant-bin fingerprint (WAV decode →
    shared peak_hash) — fingerprint equality is the audio dedup key: the
    planted dup_wav_requant (float32 track requantized to 16-bit PCM)
    collides with its source."""
    from changegen_spark.multimodal.assets import audio_fingerprints

    a = _assets(spark)
    d = audio_fingerprints(a).filter(F.col("ok"))
    return (
        d.join(a.select("asset_id", "fmt"), "asset_id")
        .select("asset_id", "fmt", "afp_frames", "afp")
        .orderBy("asset_id")
    )


Q_MEDIA_AFP_SQL = f"""
SELECT asset_id, fmt, exp_afp_frames AS afp_frames, exp_afp AS afp
FROM '{ASSETS_PATH}' WHERE kind = 'audio' ORDER BY asset_id
"""


def q_media_video_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fixture video's luma-dHash sequence signature — chroma-format
    independent, so the planted dup_y4m444 (the mono footage re-encoded
    with 444 chroma) collides with y4mmono: the video dedup key."""
    from changegen_spark.multimodal.assets import video_signatures

    a = _assets(spark)
    d = video_signatures(a).filter(F.col("ok"))
    return (
        d.join(a.select("asset_id", "fmt"), "asset_id")
        .select("asset_id", "fmt", "n_frames", "vsig")
        .orderBy("asset_id")
    )


Q_MEDIA_VSIG_SQL = f"""
SELECT asset_id, fmt, exp_n_frames AS n_frames, exp_vsig AS vsig
FROM '{ASSETS_PATH}' WHERE kind = 'video' ORDER BY asset_id
"""


QUERIES = {
    "q_media_audio_fingerprint": q_media_audio_fingerprint,
    "q_media_video_signature": q_media_video_signature,
    "q_media_dhash": q_media_dhash,
    "q_media_dup_pairs": q_media_dup_pairs,
    "q_media_dup_pairs_mih": q_media_dup_pairs_mih,
    "q_media_image_decode": q_media_image_decode,
    "q_media_resize": q_media_resize,
    "q_media_audio_features": q_media_audio_features,
    "q_media_mel": q_media_mel,
    "q_media_frame_stats": q_media_frame_stats,
    "q_media_motion": q_media_motion,
}

ORACLES = {
    "q_media_audio_fingerprint": Q_MEDIA_AFP_SQL,
    "q_media_video_signature": Q_MEDIA_VSIG_SQL,
    "q_media_dhash": Q_MEDIA_DHASH_SQL,
    "q_media_dup_pairs": Q_MEDIA_DUP_PAIRS_SQL,
    "q_media_dup_pairs_mih": Q_MEDIA_DUP_PAIRS_MIH_SQL,
    "q_media_image_decode": Q_MEDIA_IMAGE_SQL,
    "q_media_resize": Q_MEDIA_RESIZE_SQL,
    "q_media_audio_features": Q_MEDIA_AUDIO_SQL,
    "q_media_mel": Q_MEDIA_MEL_SQL,
    "q_media_frame_stats": Q_MEDIA_FRAMES_SQL,
    "q_media_motion": Q_MEDIA_MOTION_SQL,
}
