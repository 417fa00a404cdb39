"""Multimodal decode queries — the driver-oracle rows for the REAL
image/audio codecs (operators/multimodal.py, operators/jpeg.py).

The r5 verdict's gap: the codecs were verified by 40 unit tests but
never by the DuckDB correctness gate, because binary columns are not
driver-hashable.  These queries close it with integer aggregates whose
expected values come from the fixture generators' CLOSED FORM — PNG
and WAV are lossless, so the decoded pixels/samples are exactly the
sha256 keystream the generator wrote, and the oracle is a literal
VALUES table computed from hashlib alone, never touching the decoder
under test.  A wrong unfilter branch, a mis-parsed chunk, a byte-order
slip — any of them changes pixel_sum/sq_sum and reds the row.

Reference parity: storm-dynamic-spout has no multimodal surface; this
family is part of the training-data-pipeline extension (brief §"beyond
the reference").
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

# ---------------------------------------------------------------------------
# Image: 24 PNGs covering gray / gray+alpha / RGB / RGBA and (via the
# generator's row-cycling) all five PNG filter types.
# ---------------------------------------------------------------------------

N_IMAGES = 24


def _image_params(doc_id: int) -> tuple[bytes, int, int, int]:
    """(seed, width, height, channels) for one fixture image — shared
    by the Spark payload generator and the oracle's closed form."""
    w = 8 + (doc_id % 3) * 4
    h = 8 + ((doc_id // 3) % 2) * 4
    c = (doc_id % 4) + 1
    return f"img-{doc_id}".encode(), w, h, c


def _keystream_sum(seed: bytes, tag: bytes, need: int) -> int:
    """Sum of the first ``need`` bytes of the generator keystream —
    the exact pixel/sample sum a correct lossless decode recovers."""
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(seed + tag + counter.to_bytes(4, "little")).digest()
        counter += 1
    return sum(out[:need])


def _image_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import make_png_image

    rows = []
    for d in range(N_IMAGES):
        seed, w, h, c = _image_params(d)
        pixel_sum = _keystream_sum(seed, b"png", w * h * c)
        sha = hashlib.sha256(make_png_image(seed, w, h, c)).hexdigest()
        rows.append(f"({d}, {w}, {h}, {c}, {pixel_sum}, '{sha}')")
    return ",\n      ".join(rows)


@query(
    "multimodal_image_stats",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.width AS BIGINT) AS width,
           CAST(v.height AS BIGINT) AS height,
           CAST(v.n_channels AS BIGINT) AS n_channels,
           CAST(v.pixel_sum AS BIGINT) AS pixel_sum,
           v.content_sha AS content_sha
    FROM (VALUES
      {_image_oracle_values()}
    ) AS v(doc_id, width, height, n_channels, pixel_sum, content_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under the correctness gate: generate one
    deterministic PNG per document (gray/gray+alpha/RGB/RGBA, all five
    filter types via the generator's row cycling), run it through the
    shipped ``decode_image(fake=False)`` mapInPandas operator, and
    reduce to integers — decoded dimensions plus the exact pixel sum
    (``mean × w × h × c`` rounds back losslessly).  The oracle is the
    generator's closed form (sha256 keystream sums, hashlib only), so
    Spark's zlib-inflate + unfilter + reshape path is verified against
    values that never touched the decoder.  Arrow-batched Python on a
    24-row input: the declared multimodal surface, not a relational
    hot path."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        decode_image,
        make_png_image,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_IMAGES)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_png_image(*_image_params(int(i))))

    decoded = decode_image(
        d.select("doc_id").withColumn("content", _payload("doc_id")), fake=False
    )
    return decoded.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.round(
            F.col("mean_intensity")
            * F.col("width")
            * F.col("height")
            * F.col("n_channels")
        )
        .cast("long")
        .alias("pixel_sum"),
        "content_sha",
    )


# ---------------------------------------------------------------------------
# Audio: 16 PCM16 WAVs with varied rates and lengths.
# ---------------------------------------------------------------------------

N_CLIPS = 16


def _audio_params(doc_id: int) -> tuple[bytes, int, int]:
    """(seed, sample_rate, n_samples) for one fixture clip."""
    rate = (8000, 16000, 22050, 44100)[doc_id % 4]
    n = 128 + (doc_id % 3) * 64
    return f"wav-{doc_id}".encode(), rate, n


def _audio_sq_sum(seed: bytes, n_samples: int) -> int:
    """Exact sum of squared int16 samples from the WAV keystream."""
    need = n_samples * 2
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(seed + b"wav" + counter.to_bytes(4, "little")).digest()
        counter += 1
    total = 0
    for i in range(n_samples):
        v = int.from_bytes(out[2 * i : 2 * i + 2], "little", signed=True)
        total += v * v
    return total


def _audio_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import make_wav_audio

    rows = []
    for d in range(N_CLIPS):
        seed, rate, n = _audio_params(d)
        sq = _audio_sq_sum(seed, n)
        sha = hashlib.sha256(make_wav_audio(seed, rate, n)).hexdigest()
        rows.append(f"({d}, {rate}, {n}, {sq}, '{sha}')")
    return ",\n      ".join(rows)


@query(
    "multimodal_audio_stats",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.sample_rate AS BIGINT) AS sample_rate,
           CAST(v.n_frames AS BIGINT) AS n_frames,
           CAST(v.sq_sum AS BIGINT) AS sq_sum,
           v.content_sha AS content_sha
    FROM (VALUES
      {_audio_oracle_values()}
    ) AS v(doc_id, sample_rate, n_frames, sq_sum, content_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV (PCM16) decode under the correctness gate: stdlib-wave
    fixtures at four sample rates, decoded by the shipped
    ``decode_audio(fake=False)`` operator, reduced to integers — frame
    count from duration×rate and the exact sum of squared samples
    recovered from the reported RMS (``rms² × n × 32768²`` rounds back
    losslessly; max ≈ 2.7e11 ≪ 2⁵³).  Oracle = keystream closed form,
    hashlib only."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        decode_audio,
        make_wav_audio,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_CLIPS)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_wav_audio(*_audio_params(int(i))))

    decoded = decode_audio(
        d.select("doc_id").withColumn("content", _payload("doc_id")), fake=False
    )
    return decoded.select(
        "doc_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.round(F.col("duration_s") * F.col("sample_rate")).cast("long").alias("n_frames"),
        F.round(
            F.col("rms") * F.col("rms")
            * F.round(F.col("duration_s") * F.col("sample_rate"))
            * F.lit(32768.0) * F.lit(32768.0)
        )
        .cast("long")
        .alias("sq_sum"),
        "content_sha",
    )


# ---------------------------------------------------------------------------
# Video: MJPEG-in-AVI container parse + evenly-spaced frame sampling.
# ---------------------------------------------------------------------------

N_VIDEOS = 6
FRAMES_PER_VIDEO = 4
_VID_W, _VID_H = 16, 16


def _video_params(doc_id: int) -> tuple[bytes, int]:
    """(seed, n_frames) for one fixture clip — 6/8/10 frames."""
    return f"vid-{doc_id}".encode(), 6 + (doc_id % 3) * 2


def _video_frame_jpeg(seed: bytes, index: int) -> bytes:
    """The exact JPEG bytes make_mjpeg_avi stores for one frame —
    rebuilt WITHOUT the container writer or parser, so the oracle
    checks the RIFF walk against independently-derived payloads."""
    import numpy as np

    from storm_dynamic_spout_spark.operators.jpeg import encode_baseline_jpeg

    n = _VID_W * _VID_H * 3
    raw = b""
    counter = 0
    while len(raw) < n:
        raw += hashlib.sha256(
            seed + b"avi" + index.to_bytes(4, "little") + counter.to_bytes(4, "little")
        ).digest()
        counter += 1
    arr = np.frombuffer(raw[:n], dtype=np.uint8).reshape(_VID_H, _VID_W, 3)
    return encode_baseline_jpeg(arr)


def _video_oracle_values() -> str:
    rows = []
    for d in range(N_VIDEOS):
        seed, n_frames = _video_params(d)
        take = min(FRAMES_PER_VIDEO, n_frames)
        picks = [
            round(i * (n_frames - 1) / max(take - 1, 1)) for i in range(take)
        ]  # same arithmetic as frame_sample_real, incl. Python rounding
        for fi in picks:
            sha = hashlib.sha256(_video_frame_jpeg(seed, fi)).hexdigest()
            rows.append(f"({d}, {fi}, {_VID_W}, {_VID_H}, '{sha}')")
    return ",\n      ".join(rows)


@query(
    "multimodal_video_stats",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.frame_index AS BIGINT) AS frame_index,
           CAST(v.width AS BIGINT) AS width,
           CAST(v.height AS BIGINT) AS height,
           v.frame_sha AS frame_sha
    FROM (VALUES
      {_video_oracle_values()}
    ) AS v(doc_id, frame_index, width, height, frame_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path under the correctness gate: MJPEG-in-AVI
    fixtures (variable frame counts), run through the shipped
    ``frame_sample_real`` operator — RIFF/AVI container walk, evenly-
    spaced frame picks, native baseline-JPEG decode of each pick — and
    reduced to integers + the extracted frame payload sha.  The oracle
    rebuilds each expected frame's JPEG bytes directly from the
    keystream + encoder, never touching the container writer OR
    parser, so a mis-walked chunk list, off-by-one frame offset, or
    wrong pick spacing reds the row; decoded width/height prove the
    frame actually decoded.  1:N mapInPandas explosion on a 6-row
    input — the declared Arrow surface."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        frame_sample_real,
        make_mjpeg_avi,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_VIDEOS)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        def make(i):
            seed, n_frames = _video_params(int(i))
            return make_mjpeg_avi(seed, _VID_W, _VID_H, n_frames)

        return ids.map(make)

    sampled = frame_sample_real(
        d.select("doc_id").withColumn("content", _payload("doc_id")),
        n_frames=FRAMES_PER_VIDEO,
    )
    return sampled.select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "frame_sha",
    )


#: Stride for the fixed-rate sampler: every 3rd frame of the 10 fps
#: fixture clips = one frame every 300 ms of stream time.
FRAME_STRIDE = 3
_VID_USEC_PER_FRAME = 100_000  # make_mjpeg_avi default fps=10


def _video_stride_oracle_values() -> str:
    rows = []
    for d in range(N_VIDEOS):
        seed, n_frames = _video_params(d)
        for fi in range(0, n_frames, FRAME_STRIDE):
            sha = hashlib.sha256(_video_frame_jpeg(seed, fi)).hexdigest()
            rows.append(
                f"({d}, {fi}, {fi * _VID_USEC_PER_FRAME}, "
                f"{_VID_W}, {_VID_H}, '{sha}')"
            )
    return ",\n      ".join(rows)


@query(
    "multimodal_video_frame_sample",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.frame_index AS BIGINT) AS frame_index,
           CAST(v.ts_micros AS BIGINT) AS ts_micros,
           CAST(v.width AS BIGINT) AS width,
           CAST(v.height AS BIGINT) AS height,
           v.frame_sha AS frame_sha
    FROM (VALUES
      {_video_stride_oracle_values()}
    ) AS v(doc_id, frame_index, ts_micros, width, height, frame_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-RATE frame sampling under the correctness gate
    (operators/multimodal.py frame_sample_stride): every 3rd frame of
    each MJPEG/AVI fixture clip, stamped with the container clock
    (frame_index × usec_per_frame from the avih header) — the
    transcript-alignment sampler, vs multimodal_video_stats' fixed-
    COUNT picks.  The oracle rebuilds each expected frame's JPEG bytes
    from the keystream + encoder and the timestamps from the known
    fixture fps, independent of the container writer AND parser — a
    mis-read header clock, wrong stride arithmetic, or mis-walked
    chunk reds the row; decoded width/height prove each pick actually
    decoded.  1:N mapInPandas explosion on a 6-row input — the
    declared Arrow surface."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        frame_sample_stride,
        make_mjpeg_avi,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_VIDEOS)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        def make(i):
            seed, n_frames = _video_params(int(i))
            return make_mjpeg_avi(seed, _VID_W, _VID_H, n_frames)

        return ids.map(make)

    return frame_sample_stride(
        d.select("doc_id").withColumn("content", _payload("doc_id")),
        stride=FRAME_STRIDE,
    ).select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("ts_micros").cast("long").alias("ts_micros"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "frame_sha",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup image pairs: 24 base PNGs + 12 brightness-
# shifted LOSSLESS-JPEG variants (cross-codec dedup: same content, a
# different container, must still pair up).
# ---------------------------------------------------------------------------

PHASH_SHIFT = 16  # variant brightness offset (clamped at 255)


def _phash_variant_docs() -> list[int]:
    """Base doc_ids that get a +PHASH_SHIFT variant (id + 100):
    lossless JPEG carries 1- or 3-channel images, so gray (c=1) and
    RGB (c=3) fixtures qualify."""
    return [d for d in range(N_IMAGES) if d % 4 in (0, 2)]


def _phash_pixels(img_id: int):
    """CLOSED-FORM pixels for fixture image ``img_id`` — hashlib
    keystream only, never a codec: base ids reproduce the PNG
    generator's pixel bytes; variant ids (>= 100) add the brightness
    shift the variant encoder bakes in."""
    import numpy as np

    seed, w, h, c = _image_params(img_id % 100)
    need = w * h * c
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(seed + b"png" + counter.to_bytes(4, "little")).digest()
        counter += 1
    arr = np.frombuffer(bytes(out[:need]), np.uint8).reshape(h, w, c)
    if c == 1:
        arr = arr[:, :, 0]
    if img_id >= 100:
        arr = np.clip(arr.astype(np.int64) + PHASH_SHIFT, 0, 255).astype(np.uint8)
    return arr


def _phash_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import phash64

    ids = list(range(N_IMAGES)) + [100 + d for d in _phash_variant_docs()]
    return ",\n      ".join(f"({i}, {phash64(_phash_pixels(i))})" for i in ids)


@query(
    "multimodal_image_phash_pairs",
    oracle=f"""
    WITH h AS (
      SELECT CAST(v.img_id AS BIGINT) AS img_id, CAST(v.phash AS BIGINT) AS phash
      FROM (VALUES
      {{values}}
      ) AS v(img_id, phash)
      JOIN documents d ON d.doc_id = v.img_id % 100
    ),
    b AS (
      SELECT img_id, phash, u.i AS band,
             (phash >> (CAST(u.i AS INTEGER) * 16)) & 65535 AS bv
      FROM h, UNNEST(range(0, 4)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS id_a, a.phash AS pa,
                      x.img_id AS id_b, x.phash AS pb
      FROM b a JOIN b x ON a.band = x.band AND a.bv = x.bv
                       AND a.img_id < x.img_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(pa, pb)) <= 10
    ORDER BY id_a, id_b
    """.replace("{values}", _phash_oracle_values()),
)
def multimodal_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection over the REAL decode
    path — the multimodal twin of simhash text dedup: 24 fixture PNGs
    plus 12 brightness-shifted LOSSLESS-JPEG variants (same content,
    different codec AND different exposure) run through the native
    decoders, hash to 63-bit DCT pHashes (operators/multimodal.py
    phash64), and pair up via the banded-hamming LSH join
    (phash_near_pairs).  The oracle recomputes every pHash from the
    keystream CLOSED FORM (hashlib + numpy, no codec) and replays the
    identical band/verify logic in SQL, so a decode bug in either
    container format reds the row.

    Why at 100 TB: decode+hash is the only Python stage (Arrow-batched,
    narrow); banding, the candidate equi-join and the hamming verify
    are JVM bit arithmetic keyed on 16-bit band values — never
    all-pairs.  Standard LSH recall: pairs at hamming ≤ 3 are
    guaranteed a clean band; beyond that recall decays geometrically
    (both engines compute the same candidate set, so the gate is
    exact)."""
    from storm_dynamic_spout_spark.operators.multimodal import phash_near_pairs

    return phash_near_pairs(_phash_hashed_images(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


def _phash_hashed_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded-and-hashed 36-image fixture set (24 PNG bases + 12
    lossless-JPEG brightness variants) shared by the pHash pair and
    dup-cluster queries: real decoders via Arrow-batched mapInPandas,
    one ``phash`` per image."""
    from storm_dynamic_spout_spark.operators.jpeg import encode_lossless_jpeg
    from storm_dynamic_spout_spark.operators.multimodal import (
        make_png_image,
        phash_images,
    )

    d = t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < N_IMAGES).select("doc_id")
    variants = d.filter(F.col("doc_id").isin(_phash_variant_docs())).select(
        (F.col("doc_id") + 100).alias("doc_id")
    )
    ids = base.unionByName(variants)

    @F.pandas_udf(T.BinaryType())
    def _payload(s: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            i = int(i)
            if i < 100:
                return make_png_image(*_image_params(i))
            return encode_lossless_jpeg(_phash_pixels(i))

        return s.map(mk)

    return phash_images(ids.withColumn("content", _payload("doc_id")))


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup pairs: 16 base WAVs + 16 gain-halved
# variants (same recording at lower amplitude must still pair up).
# ---------------------------------------------------------------------------


def _audio_samples(clip_id: int):
    """CLOSED-FORM int16 samples for fixture clip ``clip_id`` —
    hashlib keystream only, never the WAV decoder; variant ids
    (>= 100) apply the gain-halving (floor division) the variant
    encoder bakes in."""
    import numpy as np

    seed, _rate, n = _audio_params(clip_id % 100)
    need = n * 2
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(seed + b"wav" + counter.to_bytes(4, "little")).digest()
        counter += 1
    x = np.frombuffer(bytes(out[:need]), dtype="<i2").astype(np.int32)
    if clip_id >= 100:
        x = x // 2
    return x


def _audio_fp_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import audio_fingerprint63

    ids = list(range(N_CLIPS)) + [100 + d for d in range(N_CLIPS)]
    return ",\n      ".join(
        f"({i}, {audio_fingerprint63(_audio_samples(i))})" for i in ids
    )


@query(
    "multimodal_audio_fingerprint_pairs",
    oracle=f"""
    WITH h AS (
      SELECT CAST(v.clip_id AS BIGINT) AS clip_id, CAST(v.fp AS BIGINT) AS fp
      FROM (VALUES
      {{values}}
      ) AS v(clip_id, fp)
      JOIN documents d ON d.doc_id = v.clip_id % 100
    ),
    b AS (
      SELECT clip_id, fp, u.i AS band,
             (fp >> (CAST(u.i AS INTEGER) * 16)) & 65535 AS bv
      FROM h, UNNEST(range(0, 4)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.clip_id AS id_a, a.fp AS fa,
                      x.clip_id AS id_b, x.fp AS fb
      FROM b a JOIN b x ON a.band = x.band AND a.bv = x.bv
                       AND a.clip_id < x.clip_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 10
    ORDER BY id_a, id_b
    """.replace("{values}", _audio_fp_oracle_values()),
)
def multimodal_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection over the REAL WAV decode path — the
    audio twin of the image pHash pairs: 16 fixture clips plus 16
    gain-halved variants (same recording, half the amplitude) decode
    through the stdlib-wave path, fingerprint to 63-bit energy-delta
    signatures (operators/multimodal.py audio_fingerprint63 — integer
    domain end to end), and pair up via the SAME banded-hamming LSH
    join the image path uses (phash_near_pairs, hash_col swap only).
    The oracle recomputes every fingerprint from the keystream CLOSED
    FORM and replays the band/verify logic in SQL.

    Why at 100 TB: identical to the image path — decode+fingerprint is
    the only Python stage (Arrow-batched, narrow); candidates come
    from 16-bit band equi-joins in JVM bit arithmetic, never
    all-pairs."""
    from storm_dynamic_spout_spark.operators.multimodal import phash_near_pairs

    return phash_near_pairs(
        _audio_fps(spark, sf_dir), hash_col="fingerprint"
    ).orderBy("id_a", "id_b")


def _audio_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded-and-fingerprinted 32-clip fixture set (16 WAV bases
    + 16 gain-halved variants) shared by the fingerprint pair and
    dup-cluster queries."""
    import io
    import wave

    from storm_dynamic_spout_spark.operators.multimodal import (
        fingerprint_audio,
        make_wav_audio,
    )

    d = t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < N_CLIPS).select("doc_id")
    variants = d.filter(F.col("doc_id") < N_CLIPS).select(
        (F.col("doc_id") + 100).alias("doc_id")
    )
    ids = base.unionByName(variants)

    @F.pandas_udf(T.BinaryType())
    def _payload(s: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            i = int(i)
            seed, rate, _n = _audio_params(i % 100)
            if i < 100:
                return make_wav_audio(seed, rate, _n)
            x = _audio_samples(i).astype("<i2")
            bio = io.BytesIO()
            with wave.open(bio, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(rate)
                wf.writeframes(x.tobytes())
            return bio.getvalue()

        return s.map(mk)

    return fingerprint_audio(ids.withColumn("content", _payload("doc_id")))


# ---------------------------------------------------------------------------
# Video containment dedup: base MJPEG-AVIs + trimmed variants (prefix
# cut of the same footage) paired by shared frame fingerprints.
# ---------------------------------------------------------------------------


def _video_variant_frames(doc_id: int) -> int:
    """Frame count of the trimmed variant: the first half (min 3) of
    the base clip's frames — same (seed, index)-deterministic frame
    bytes, shorter container."""
    _seed, n = _video_params(doc_id)
    return max(3, n // 2)


def _video_fp_oracle_values() -> str:
    """(video_id, frame_sha) per SAMPLED frame — the frame_sample_real
    pick formula replayed over independently-rebuilt frame JPEGs
    (keystream + encoder, bypassing the container writer/parser)."""
    rows = []
    for vid in list(range(N_VIDEOS)) + [100 + d for d in range(N_VIDEOS)]:
        d = vid % 100
        seed, n = _video_params(d)
        if vid >= 100:
            n = _video_variant_frames(d)
        take = min(FRAMES_PER_VIDEO, n)
        picks = [round(i * (n - 1) / max(take - 1, 1)) for i in range(take)]
        for fi in picks:
            sha = hashlib.sha256(_video_frame_jpeg(seed, fi)).hexdigest()
            rows.append(f"({vid}, '{sha}')")
    return ",\n      ".join(rows)


VIDEO_CONTAIN_MIN = 0.5


@query(
    "multimodal_video_containment",
    oracle=f"""
    WITH f AS (
      SELECT CAST(v.vid AS BIGINT) AS vid, v.sha AS sha
      FROM (VALUES
      {{values}}
      ) AS v(vid, sha)
      JOIN documents d ON d.doc_id = v.vid % 100
    ),
    pairs AS (
      SELECT a.vid AS id_a, b.vid AS id_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM f a JOIN f b ON a.sha = b.sha AND a.vid < b.vid
      GROUP BY 1, 2
    ),
    sizes AS (SELECT vid, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1)
    SELECT p.id_a, p.id_b, p.n_shared,
           round(p.n_shared * 1.0 / least(sa.n, sb.n), 6) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.vid = p.id_a
    JOIN sizes sb ON sb.vid = p.id_b
    WHERE p.n_shared * 1.0 / least(sa.n, sb.n) >= {VIDEO_CONTAIN_MIN}
    ORDER BY p.id_a, p.id_b
    """.replace("{values}", _video_fp_oracle_values()),
)
def multimodal_video_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection by shared frame fingerprints — the
    trimmed-repost case: the fixture MJPEG-AVIs plus prefix-trimmed
    variants run through the REAL container walk + frame sampler
    (frame_sample_real), and videos sharing ≥ 50% of their sampled
    frames (containment on the smaller side) pair up.  Frame identity
    is the sha of the stored JPEG bytes — exact, no perceptual
    tolerance needed for container-level dedup.  The oracle rebuilds
    every sampled frame's bytes from the keystream + encoder
    (bypassing the container writer AND parser) and replays the pick
    formula, so a RIFF-walk or sampling bug reds the row.

    Why at 100 TB: the pair join is an EQUI-join on the frame sha (a
    64-hex key), never video×video; both sides are the post-sampling
    (video, frame) table — |videos| × frames-per-video rows, shrunk
    again by the pair aggregate.  Decode/sampling is the declared
    Arrow surface (1:N mapInPandas explosion)."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        frame_sample_real,
        make_mjpeg_avi,
    )

    d = t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < N_VIDEOS).select("doc_id")
    variants = d.filter(F.col("doc_id") < N_VIDEOS).select(
        (F.col("doc_id") + 100).alias("doc_id")
    )
    ids = base.unionByName(variants)

    @F.pandas_udf(T.BinaryType())
    def _payload(s: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            i = int(i)
            seed, n = _video_params(i % 100)
            if i >= 100:
                n = _video_variant_frames(i % 100)
            return make_mjpeg_avi(seed, _VID_W, _VID_H, n)

        return s.map(mk)

    # the decode+sample pass is the expensive Arrow stage and feeds
    # BOTH self-join sides (and the per-video frame counts) —
    # materialize it once or every consumer re-parses and re-hashes
    # every video (the containment_pairs grams rationale)
    sampled = local_checkpoint(
        frame_sample_real(
            ids.withColumn("content", _payload("doc_id")), n_frames=FRAMES_PER_VIDEO
        ).select(F.col("doc_id").alias("vid"), "frame_sha")
    )
    a = sampled.select(F.col("vid").alias("id_a"), F.col("frame_sha").alias("__sha"))
    b = sampled.select(F.col("vid").alias("id_b"), F.col("frame_sha").alias("__sha"))
    pairs = (
        a.join(b, "__sha")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sizes = sampled.groupBy("vid").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    sa = sizes.select(F.col("vid").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("vid").alias("id_b"), F.col("__n").alias("__nb"))
    contain = F.col("n_shared") * 1.0 / F.least("__na", "__nb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(contain >= VIDEO_CONTAIN_MIN)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(contain, 6).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Image resize: nearest-neighbor resample through the REAL decoder,
# verified against the keystream closed form + the SAME pure grid math.
# ---------------------------------------------------------------------------

RESIZE_W, RESIZE_H = 6, 5


def _resize_oracle_values() -> str:
    import numpy as np

    from storm_dynamic_spout_spark.operators.multimodal import (
        resize_pixels_nearest,
    )

    rows = []
    for d in range(N_IMAGES):
        _, _, _, c = _image_params(d)
        rz = resize_pixels_nearest(_phash_pixels(d), RESIZE_W, RESIZE_H)
        sha = hashlib.sha256(np.ascontiguousarray(rz).tobytes()).hexdigest()
        rows.append(f"({d}, {c}, {int(rz.sum())}, '{sha}')")
    return ",\n      ".join(rows)


@query(
    "multimodal_image_resize",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST({RESIZE_W} AS BIGINT) AS out_width,
           CAST({RESIZE_H} AS BIGINT) AS out_height,
           CAST(v.n_channels AS BIGINT) AS n_channels,
           CAST(v.resized_sum AS BIGINT) AS resized_sum,
           v.resized_sha AS resized_sha
    FROM (VALUES
      {_resize_oracle_values()}
    ) AS v(doc_id, n_channels, resized_sum, resized_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize through the REAL pixel-level decoder
    (``operators/multimodal.py resize_image_nearest``): every fixture
    PNG is decoded (zlib inflate + all five unfilter branches),
    nearest-neighbor-resampled to {RESIZE_W}×{RESIZE_H} with the pure
    integer floor grid, and reduced to the resized pixel sum + sha256
    of the resized raw bytes.  The oracle rebuilds the SAME grid over
    the generator keystream (hashlib + the shared pure resize fn —
    never the decoder), so a wrong gather order, axis swap, or
    off-by-one in the index math can't cancel out.

    The vision-pipeline preprocessing seam: Arrow-batched Python over
    a 24-row fixture; at scale a narrow per-partition transformation
    whose output is one short row per image."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        make_png_image,
        resize_image_nearest,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_IMAGES)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_png_image(*_image_params(int(i))))

    resized = resize_image_nearest(
        d.select("doc_id").withColumn("content", _payload("doc_id")),
        RESIZE_W,
        RESIZE_H,
    )
    return resized.select(
        "doc_id",
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        "resized_sum",
        "resized_sha",
    )


def _resample_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import halve_samples

    rows = []
    for d in range(N_CLIPS):
        _seed, rate, _n = _audio_params(d)
        res = halve_samples(_audio_samples(d))
        sha = hashlib.sha256(res.astype("<i2").tobytes()).hexdigest()
        rows.append(
            f"({d}, {rate // 2}, {int(res.shape[0])}, {int(res.sum())}, "
            f"{int((res * res).sum())}, '{sha}')"
        )
    return ",\n      ".join(rows)


@query(
    "multimodal_audio_resample",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.out_rate AS BIGINT) AS out_rate,
           CAST(v.n_out AS BIGINT) AS n_out,
           CAST(v.res_sum AS BIGINT) AS res_sum,
           CAST(v.res_sq_sum AS BIGINT) AS res_sq_sum,
           v.res_sha AS res_sha
    FROM (VALUES
      {_resample_oracle_values()}
    ) AS v(doc_id, out_rate, n_out, res_sum, res_sq_sum, res_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2:1 audio resample through the REAL sample-level WAV decoder
    (``operators/multimodal.py resample_audio_half``): every fixture
    clip is decoded, decimated with floor-mean pair averaging, and
    reduced to integer sample stats + sha256 of the int16-packed
    resampled stream.  The oracle rebuilds the SAME decimation over
    the generator keystream (hashlib + the shared pure
    ``halve_samples`` — never the decoder), so a byte-order, framing,
    or off-by-one error in the decode path can't cancel out.

    The audio-pipeline preprocessing seam: Arrow-batched Python over a
    16-row fixture; at scale a narrow per-partition transformation,
    one short row per clip."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        make_wav_audio,
        resample_audio_half,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_CLIPS)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_wav_audio(*_audio_params(int(i))))

    res = resample_audio_half(
        d.select("doc_id").withColumn("content", _payload("doc_id"))
    )
    return res.select(
        "doc_id",
        F.col("out_rate").cast("long").alias("out_rate"),
        "n_out",
        "res_sum",
        "res_sq_sum",
        "res_sha",
    )


#: |sample| below this counts as silence for the trim operator
#: (~25% of full-scale int16, so the uniform keystream fixture yields
#: nonempty trims on several clips).
TRIM_THRESHOLD = 8192


def _trim_oracle_values() -> str:
    from storm_dynamic_spout_spark.operators.multimodal import trim_silence_bounds

    rows = []
    for d in range(N_CLIPS):
        _seed, _rate, n = _audio_params(d)
        lead, trail, kept = trim_silence_bounds(_audio_samples(d), TRIM_THRESHOLD)
        sha = hashlib.sha256(kept.astype("<i2").tobytes()).hexdigest()
        rows.append(
            f"({d}, {n}, {lead}, {trail}, {int(kept.shape[0])}, "
            f"{int(kept.sum())}, '{sha}')"
        )
    return ",\n      ".join(rows)


@query(
    "multimodal_audio_silence_trim",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.n_in AS BIGINT) AS n_in,
           CAST(v.n_lead AS BIGINT) AS n_lead,
           CAST(v.n_trail AS BIGINT) AS n_trail,
           CAST(v.n_kept AS BIGINT) AS n_kept,
           CAST(v.kept_sum AS BIGINT) AS kept_sum,
           v.kept_sha AS kept_sha
    FROM (VALUES
      {_trim_oracle_values()}
    ) AS v(doc_id, n_in, n_lead, n_trail, n_kept, kept_sum, kept_sha)
    JOIN documents d ON v.doc_id = d.doc_id
    """,
)
def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim (endpointing) through the REAL
    sample-level WAV decoder (``operators/multimodal.py
    trim_silence_audio``): every fixture clip is decoded, bounded by
    its first/last loud sample (|s| >= {TRIM_THRESHOLD}), and reduced
    to trim counts + integer kept-sample stats + sha256 of the
    int16-packed kept stream.  The oracle rebuilds the SAME trim over
    the generator keystream (hashlib + the shared pure
    ``trim_silence_bounds`` — never the decoder), so a byte-order,
    framing, or boundary off-by-one in the decode path can't cancel
    out.

    The speech-pipeline preprocessing seam: Arrow-batched Python over
    a 16-row fixture; at scale a narrow per-partition transformation,
    one short row per clip."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        make_wav_audio,
        trim_silence_audio,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_CLIPS)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_wav_audio(*_audio_params(int(i))))

    res = trim_silence_audio(
        d.select("doc_id").withColumn("content", _payload("doc_id")),
        TRIM_THRESHOLD,
    )
    return res.select(
        "doc_id", "n_in", "n_lead", "n_trail", "n_kept", "kept_sum", "kept_sha"
    )


def _sobel_oracle_values() -> str:
    """Edge-energy VALUES rows from the fixture keystream + the SHARED
    pure sobel_energy (hashlib + numpy only — the PNG decoder under
    test is never imported here).  Pixel reconstruction reuses
    :func:`_phash_pixels` (the single keystream implementation; its
    c==1 squeeze is transparent — sobel_energy lumas (h, w) and
    (h, w, 1) identically)."""
    from storm_dynamic_spout_spark.operators.multimodal import sobel_energy

    rows = []
    for d in range(N_IMAGES):
        _, w, h, _ = _image_params(d)
        rows.append(f"({d}, {w}, {h}, {sobel_energy(_phash_pixels(d))})")
    return ",\n      ".join(rows)


@query(
    "multimodal_image_sobel",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.width AS BIGINT) AS width,
           CAST(v.height AS BIGINT) AS height,
           CAST(v.edge_energy AS BIGINT) AS edge_energy
    FROM (VALUES
      {_sobel_oracle_values()}
    ) AS v(doc_id, width, height, edge_energy)
    ORDER BY doc_id
    """,
)
def multimodal_image_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convolutional feature extraction under the correctness gate:
    decode the 24 fixture PNGs with the REAL decoder and compute
    integer Sobel gradient energy (valid-mode 3x3, ITU-R 601 luma —
    the complexity signal an image quality filter thresholds on;
    near-zero = flat/synthetic, high = textured content).  The oracle
    recomputes the energy from the generator keystream through the
    SAME shared pure function (operators/multimodal.py sobel_energy)
    without ever importing the decoder, so a single wrong pixel
    anywhere in the zlib-inflate + unfilter path reds the row — a
    stricter check than pixel_sum, which is permutation-blind.

    Why at 100 TB: decode + convolution is the declared Arrow surface
    (mapInPandas, narrow, partitioning preserved); the reduction
    leaves one 4-integer row per image, so everything downstream is
    relational."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        edge_energy_images,
        make_png_image,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_IMAGES)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_png_image(*_image_params(int(i))))

    return edge_energy_images(
        d.select("doc_id").withColumn("content", _payload("doc_id"))
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ViT-style patch extraction over the PNG fixtures.
# ---------------------------------------------------------------------------

PATCH = 4


def _patch_oracle_values() -> str:
    """Closed-form patch sums: keystream pixels (hashlib only, never
    the decoder) through the SAME shared pure function the operator
    uses (operators/multimodal.py patch_sums — the sobel sharing
    pattern)."""
    import numpy as np

    from storm_dynamic_spout_spark.operators.multimodal import patch_sums

    rows = []
    for d in range(N_IMAGES):
        s = patch_sums(_phash_pixels(d), PATCH)
        for (pr, pc), v in np.ndenumerate(s):
            rows.append(f"({d}, {pr}, {pc}, {int(v)})")
    return ",\n      ".join(rows)


@query(
    "multimodal_image_patches",
    oracle=f"""
    SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
           CAST(v.patch_row AS BIGINT) AS patch_row,
           CAST(v.patch_col AS BIGINT) AS patch_col,
           CAST(v.patch_sum AS BIGINT) AS patch_sum
    FROM (VALUES
      {_patch_oracle_values()}
    ) AS v(doc_id, patch_row, patch_col, patch_sum)
    JOIN documents d ON v.doc_id = d.doc_id
    ORDER BY doc_id, patch_row, patch_col
    """,
)
def multimodal_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization under the correctness gate: decode
    the 24 fixture PNGs with the REAL decoder and emit one row per
    non-overlapping 4x4 tile with its integer pixel sum — the tiling a
    vision-transformer training pipeline feeds to the patch-embedding
    projection.  The oracle rebuilds every patch sum from the
    generator keystream through the SAME shared pure tiling function
    without ever importing the decoder, so both the pixel VALUES and
    their spatial LAYOUT are checked (pixel_sum alone is
    permutation-blind; a transposed or row-shuffled decode reds this
    row).

    Why at 100 TB: decode + tiling is the declared Arrow surface
    (mapInPandas, narrow, partitioning preserved); fan-out is bounded
    at (w/4)·(h/4) integer rows per image and everything downstream is
    relational."""
    from storm_dynamic_spout_spark.operators.multimodal import (
        image_patch_features,
        make_png_image,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < N_IMAGES)

    @F.pandas_udf(T.BinaryType())
    def _payload(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make_png_image(*_image_params(int(i))))

    return image_patch_features(
        d.select("doc_id").withColumn("content", _payload("doc_id")), patch=PATCH
    ).orderBy("doc_id", "patch_row", "patch_col")


def _phash_cluster_oracle() -> str:
    """Recursive-CTE connected components over the SAME banded-hamming
    pair SQL as the multimodal_image_phash_pairs oracle."""
    return f"""
    WITH RECURSIVE h AS (
      SELECT CAST(v.img_id AS BIGINT) AS img_id, CAST(v.phash AS BIGINT) AS phash
      FROM (VALUES
      {_phash_oracle_values()}
      ) AS v(img_id, phash)
      JOIN documents d ON d.doc_id = v.img_id % 100
    ),
    b AS (
      SELECT img_id, phash, u.i AS band,
             (phash >> (CAST(u.i AS INTEGER) * 16)) & 65535 AS bv
      FROM h, UNNEST(range(0, 4)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS id_a, a.phash AS pa,
                      x.img_id AS id_b, x.phash AS pb
      FROM b a JOIN b x ON a.band = x.band AND a.bv = x.bv
                       AND a.img_id < x.img_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand WHERE bit_count(xor(pa, pb)) <= 10
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS img_id, least(a, min(b)) AS cluster_id
             FROM reach GROUP BY a),
    labeled AS (
      SELECT h.img_id, COALESCE(c.cluster_id, h.img_id) AS cluster_id
      FROM h LEFT JOIN comp c USING (img_id)
    )
    SELECT img_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM labeled ORDER BY img_id
    """


@query("multimodal_image_dup_clusters", oracle=_phash_cluster_oracle())
def multimodal_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal dedup pipeline end-to-end: decode (real PNG
    + lossless-JPEG codecs) -> 63-bit DCT pHash -> banded-hamming LSH
    pairs -> connected components -> per-image cluster id + cluster
    size — what a 100 TB image-corpus dedup job actually emits (keep
    one representative per CLUSTER, not per pair: a base image, its
    re-encoded copy and its brightness-shifted variant must collapse
    to one keeper even when only a chain of pairs links them).

    Spark side reuses the star-contraction connected_components
    (operators/dedup.py — O(log n) rounds); the oracle replays pairs +
    transitive closure as a recursive CTE over the closed-form pHash
    VALUES.  Decode is the only Python stage; banding, the pair join,
    the contraction joins and the size window are all JVM-side (the
    size window partitions by cluster_id — bounded fan-in per
    cluster, never a global window)."""
    from storm_dynamic_spout_spark.operators.dedup import connected_components
    from storm_dynamic_spout_spark.operators.multimodal import phash_near_pairs
    from pyspark.sql.window import Window as W

    hashed = _phash_hashed_images(spark, sf_dir)
    pairs = phash_near_pairs(hashed)
    cc = connected_components(
        pairs, hashed.select("doc_id"), "doc_id", method="star"
    )
    return (
        cc.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")).cast("long"),
        )
        .select(F.col("doc_id").alias("img_id"), "cluster_id", "cluster_size")
        .orderBy("img_id")
    )


def _audio_cluster_oracle() -> str:
    """Recursive-CTE connected components over the SAME banded-hamming
    pair SQL as the multimodal_audio_fingerprint_pairs oracle."""
    return f"""
    WITH RECURSIVE h AS (
      SELECT CAST(v.clip_id AS BIGINT) AS clip_id, CAST(v.fp AS BIGINT) AS fp
      FROM (VALUES
      {_audio_fp_oracle_values()}
      ) AS v(clip_id, fp)
      JOIN documents d ON d.doc_id = v.clip_id % 100
    ),
    b AS (
      SELECT clip_id, fp, u.i AS band,
             (fp >> (CAST(u.i AS INTEGER) * 16)) & 65535 AS bv
      FROM h, UNNEST(range(0, 4)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.clip_id AS id_a, a.fp AS fa,
                      x.clip_id AS id_b, x.fp AS fb
      FROM b a JOIN b x ON a.band = x.band AND a.bv = x.bv
                       AND a.clip_id < x.clip_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand WHERE bit_count(xor(fa, fb)) <= 10
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS clip_id, least(a, min(b)) AS cluster_id
             FROM reach GROUP BY a),
    labeled AS (
      SELECT h.clip_id, COALESCE(c.cluster_id, h.clip_id) AS cluster_id
      FROM h LEFT JOIN comp c USING (clip_id)
    )
    SELECT clip_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM labeled ORDER BY clip_id
    """


@query("multimodal_audio_dup_clusters", oracle=_audio_cluster_oracle())
def multimodal_audio_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio dedup pipeline closed end-to-end, symmetric to
    multimodal_image_dup_clusters: real WAV decode -> 63-bit
    energy-delta fingerprint -> banded-hamming LSH pairs ->
    star-contraction connected components -> per-clip cluster id +
    size.  Gain-halved re-encodes of the same recording must collapse
    into their base clip's cluster even when only a chain of pairs
    links them — keep one representative per CLUSTER, not per pair.

    Same scale shape as the image path: decode is the only Python
    stage; banding, the pair join, the contraction joins and the
    cluster-size window (partitioned by cluster_id, bounded fan-in)
    are all JVM-side."""
    from storm_dynamic_spout_spark.operators.dedup import connected_components
    from storm_dynamic_spout_spark.operators.multimodal import phash_near_pairs
    from pyspark.sql.window import Window as W

    fps = _audio_fps(spark, sf_dir)
    pairs = phash_near_pairs(fps, hash_col="fingerprint")
    cc = connected_components(
        pairs, fps.select("doc_id"), "doc_id", method="star"
    )
    return (
        cc.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")).cast("long"),
        )
        .select(F.col("doc_id").alias("clip_id"), "cluster_id", "cluster_size")
        .orderBy("clip_id")
    )
