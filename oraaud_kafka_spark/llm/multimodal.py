"""Multimodal column plumbing (SURVEY.md §2.2 LLM ops).

Images/audio/video are opaque BINARY columns plus typed metadata. The
Spark-side machinery that matters at 100 TB — schema, partitioning, Arrow
batch shape through mapInPandas, feature extraction signatures — is real
and tested here. ``decode_image`` / ``decode_audio`` genuinely parse
documented deterministic test formats (FIMG / FWAV) and raise
NotImplementedError for real codecs — no image/audio libs in this
container. q_multimodal_decode_stats and q_multimodal_audio_stats drive
the full encode -> decode -> featurize pipelines through those seams,
oracle-checked.

The fixture has no binary table, so ``documents.text`` is encoded to
bytes — the plumbing is identical for real media payloads.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import bounded_sort, load

THUMB_BYTES = 8


# Deterministic fake image format for end-to-end pipeline tests:
#   b"FIMG" | width (uint16 BE) | height (uint16 BE) | raw RGB bytes.
# Real formats (JPEG/PNG/...) still raise — no codec libs in this
# container; wire Pillow/opencv into the same decode seam in production.
FIMG_MAGIC = b"FIMG"


def encode_fake_image(doc_id: int, width: int, height: int) -> bytes:
    """Build a FIMG payload whose pixel bytes are a pure function of
    (doc_id, index) — reproducible on both engines for the oracle."""
    n = width * height * 3
    pixels = bytes((doc_id * 31 + i * 7) % 256 for i in range(n))
    return (
        FIMG_MAGIC
        + width.to_bytes(2, "big")
        + height.to_bytes(2, "big")
        + pixels
    )


def decode_image(payload: bytes) -> "object":
    """Decode an image payload to an HxWx3 uint8 array. Parses the FIMG
    test format for real; any other codec (JPEG/PNG/...) raises — the
    container has no image libraries. The decode seam, batch shape and
    schema are identical for production codecs."""
    import numpy as np

    if payload[:4] != FIMG_MAGIC:
        raise NotImplementedError("non-FIMG image decode requires a codec library")
    w = int.from_bytes(payload[4:6], "big")
    h = int.from_bytes(payload[6:8], "big")
    arr = np.frombuffer(payload[8 : 8 + w * h * 3], dtype=np.uint8)
    return arr.reshape(h, w, 3)


# Deterministic fake audio format, the FIMG analog for the audio path:
#   b"FWAV" | sample_rate (uint32 BE) | n_samples (uint32 BE) | int16 LE PCM.
# Samples are a pure function of (doc_id, index) so DuckDB reproduces
# every decoded statistic without seeing the bytes.
FWAV_MAGIC = b"FWAV"


def encode_fake_audio(doc_id: int, sample_rate: int, n_samples: int) -> bytes:
    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    samples = ((doc_id * 13 + i * 5) % 4096 - 2048).astype("<i2")
    return (
        FWAV_MAGIC
        + sample_rate.to_bytes(4, "big")
        + n_samples.to_bytes(4, "big")
        + samples.tobytes()
    )


def decode_audio(payload: bytes) -> tuple[int, "object"]:
    """Decode audio to (sample_rate, int16 PCM array). Parses the FWAV
    test format for real; any other codec (MP3/FLAC/...) raises — the
    container has no audio libraries. The decode seam, batch shape and
    schema are identical for production codecs."""
    import numpy as np

    if payload[:4] != FWAV_MAGIC:
        raise NotImplementedError("non-FWAV audio decode requires a codec library")
    rate = int.from_bytes(payload[4:8], "big")
    n = int.from_bytes(payload[8:12], "big")
    samples = np.frombuffer(payload[12 : 12 + 2 * n], dtype="<i2")
    return rate, samples


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched byte-level feature extraction over a binary column.
    Deterministic stand-in for decode+featurize: byte length, md5 of the
    payload, and a fixed-size prefix ("thumbnail")."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                "thumb_hex": payloads.map(lambda b: b[:THUMB_BYTES].hex()),
            }
        )


_FEATURES_ORACLE = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5,
       lower(hex(encode(substring(text, 1, {THUMB_BYTES})))) AS thumb_hex
FROM documents
WHERE doc_id < 100
ORDER BY doc_id
"""


@query("q_multimodal_features", oracle=_FEATURES_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    binary = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    feats = binary.mapInPandas(
        extract_features,
        "doc_id long, n_bytes int, payload_md5 string, thumb_hex string",
    )
    # bounded_sort: doc_id < 100 bounds the report; orderBy's range
    # sampling would run the Arrow feature stage twice per execution
    return bounded_sort(feats, "doc_id")


# Frame-sampling plumbing: given (media, n_frames, stride) pick frame
# offsets — pure Spark expressions; the decode of each frame is the
# stubbed step. Demonstrates the schema/partition shape for video.
_FRAMES_ORACLE = """
SELECT doc_id, frame_no, byte_offset
FROM (
  SELECT doc_id,
         unnest(range(4)) AS frame_no,
         unnest(range(4)) * (octet_length(encode(text)) // 4) AS byte_offset
  FROM documents WHERE doc_id < 20
)
ORDER BY doc_id, frame_no
"""


@query("q_multimodal_frame_offsets", oracle=_FRAMES_ORACLE)
def q_multimodal_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    n_bytes = F.octet_length(F.encode("text", "utf-8"))
    out = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("frame_no"),
            n_bytes.alias("n_bytes"),
        )
        .select(
            "doc_id",
            "frame_no",
            (F.col("frame_no") * (F.col("n_bytes") / 4).cast("long")).alias(
                "byte_offset"
            ),
        )
    )
    # doc_id < 20 bounds the report; skip the range-sampling re-scan
    return bounded_sort(out, "doc_id", "frame_no")


# Resize plumbing: target dimensions preserving aspect ratio, computed
# from typed metadata columns — the pure-arithmetic half of a resize
# stage (the pixel resample itself is the stubbed decode step). Source
# dims are deterministically derived from doc metadata in lieu of real
# image headers.
_RESIZE_MAX = 512

_RESIZE_ORACLE = f"""
SELECT doc_id, src_w, src_h,
       CAST(floor(src_w * scale) AS INT) AS dst_w,
       CAST(floor(src_h * scale) AS INT) AS dst_h
FROM (
  SELECT doc_id, src_w, src_h,
         CAST({_RESIZE_MAX} AS DOUBLE) / greatest(src_w, src_h) AS scale
  FROM (
    SELECT doc_id,
           640 + (n_chars % 1280) AS src_w,
           480 + ((n_chars * 7) % 720) AS src_h
    FROM documents WHERE doc_id < 100
  )
)
ORDER BY doc_id
"""


@query("q_multimodal_resize_dims", oracle=_RESIZE_ORACLE)
def q_multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    dims = d.select(
        "doc_id",
        (F.lit(640) + F.col("n_chars") % 1280).alias("src_w"),
        (F.lit(480) + (F.col("n_chars") * 7) % 720).alias("src_h"),
    )
    scale = F.lit(float(_RESIZE_MAX)) / F.greatest("src_w", "src_h")
    out = dims.select(
        "doc_id",
        "src_w",
        "src_h",
        F.floor(F.col("src_w") * scale).cast("int").alias("dst_w"),
        F.floor(F.col("src_h") * scale).cast("int").alias("dst_h"),
    )
    # doc_id < 100 bounds the report; skip the range-sampling re-scan
    return bounded_sort(out, "doc_id")


# Full encode -> decode -> featurize pipeline over the fake codec: the
# payload is BUILT as real bytes in one Arrow batch stage, DECODED back
# to pixel arrays in the next, and the stats are computed from the
# decoded array — exercising exactly the seams a production image
# pipeline has (binary col in, mapInPandas decode, numeric features
# out). Pixel bytes are a pure function of (doc_id, index), so DuckDB
# reproduces the stats without ever seeing the bytes.
def _dims(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        (F.lit(8) + F.col("n_chars") % 8).alias("w"),
        (F.lit(6) + F.col("n_chars") % 6).alias("h"),
    )


def _build_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    encode_fake_image(int(i), int(w), int(h))
                    for i, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"])
                ],
            }
        )


def _decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    rows: dict[str, list] = {"doc_id": [], "w": [], "h": [], "mean_pixel": [], "max_pixel": []}
    for pdf in batches:
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = decode_image(bytes(payload))
            h, w, _ = arr.shape
            rows["doc_id"].append(doc_id)
            rows["w"].append(w)
            rows["h"].append(h)
            # exact integer sum, ONE double division — bit-identical to SQL
            rows["mean_pixel"].append(int(arr.sum(dtype="int64")) / arr.size)
            rows["max_pixel"].append(int(arr.max()))
    yield pd.DataFrame(rows)


_DECODE_ORACLE = """
SELECT doc_id, w, h,
       CAST(psum AS DOUBLE) / (w * h * 3) AS mean_pixel,
       pmax AS max_pixel
FROM (
  SELECT doc_id, w, h,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(w * h * 3), i -> (doc_id * 31 + i * 7) % 256)),
           (a, x) -> a + x) AS psum,
         list_max(list_transform(range(w * h * 3),
                                 i -> (doc_id * 31 + i * 7) % 256)) AS pmax
  FROM (
    SELECT doc_id, 8 + (n_chars % 8) AS w, 6 + (n_chars % 6) AS h
    FROM documents WHERE doc_id < 100
  )
)
ORDER BY doc_id
"""


@query("q_multimodal_decode_stats", oracle=_DECODE_ORACLE)
def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = _dims(d).mapInPandas(
        _build_payloads, "doc_id long, payload binary"
    )
    stats = payloads.mapInPandas(
        _decode_stats,
        "doc_id long, w long, h long, mean_pixel double, max_pixel long",
    )
    # bounded_sort: doc_id < 100 bounds the report; orderBy's range
    # sampling re-executed BOTH MapInPandas stages per run (round-14
    # measurement — this was the roster's slowest bench entry)
    return bounded_sort(stats, "doc_id")


# Audio twin of q_multimodal_decode_stats: build FWAV payloads in one
# Arrow stage, decode in the next, report duration / peak / RMS — the
# exact seams of a speech-corpus pipeline (binary in, mapInPandas
# decode, numeric features out). Sum of squares is exact int64, the
# mean and sqrt are single IEEE ops, so even RMS hash-compares.
def _audio_dims(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        (F.lit(8000) + (F.col("n_chars") % 3) * F.lit(4000)).alias("rate"),
        (F.lit(64) + F.col("n_chars") % 64).alias("n_samples"),
    )


def _build_audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    encode_fake_audio(int(i), int(r), int(n))
                    for i, r, n in zip(pdf["doc_id"], pdf["rate"], pdf["n_samples"])
                ],
            }
        )


def _audio_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import math

    rows: dict[str, list] = {
        "doc_id": [], "rate": [], "n_samples": [],
        "duration_s": [], "peak": [], "rms": [],
    }
    for pdf in batches:
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, samples = decode_audio(bytes(payload))
            sumsq = int((samples.astype("int64") ** 2).sum())
            rows["doc_id"].append(doc_id)
            rows["rate"].append(rate)
            rows["n_samples"].append(len(samples))
            rows["duration_s"].append(len(samples) / rate)
            rows["peak"].append(int(abs(samples.astype("int64")).max()))
            rows["rms"].append(math.sqrt(sumsq / len(samples)))
    yield pd.DataFrame(rows)


_AUDIO_ORACLE = """
SELECT doc_id, rate, n_samples,
       CAST(n_samples AS DOUBLE) / rate AS duration_s,
       list_max(list_transform(range(n_samples),
                               i -> abs((doc_id * 13 + i * 5) % 4096 - 2048))) AS peak,
       sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(n_samples),
                i -> ((doc_id * 13 + i * 5) % 4096 - 2048)
                   * ((doc_id * 13 + i * 5) % 4096 - 2048))),
              (a, x) -> a + x) AS DOUBLE) / n_samples) AS rms
FROM (
  SELECT doc_id,
         8000 + (n_chars % 3) * 4000 AS rate,
         64 + n_chars % 64 AS n_samples
  FROM documents WHERE doc_id < 100
)
ORDER BY doc_id
"""


@query("q_multimodal_audio_stats", oracle=_AUDIO_ORACLE)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = _audio_dims(d).mapInPandas(
        _build_audio, "doc_id long, payload binary"
    )
    stats = payloads.mapInPandas(
        _audio_stats,
        "doc_id long, rate long, n_samples long, duration_s double, "
        "peak long, rms double",
    )
    # bounded_sort: doc_id < 100 bounds the report (see decode_stats)
    return bounded_sort(stats, "doc_id")


# ---------------------------------------------------------------------------
# Binary-payload dedup, two-level: the media pipeline's cheap-first
# discipline — a HEADER fingerprint (md5 of the first 64 payload bytes:
# magic + dimensions + first pixels for real codecs) buckets candidate
# copies, and the full-content md5 inside each bucket separates true
# byte-identical copies from same-header variants (re-encodes, crops
# with shared headers). Both hashes are computed JVM-side in one
# projection; the shuffle carries two 16-byte hashes + ids, never
# payload bytes. Report: one row per duplicated header bucket with the
# copy count, how many DISTINCT full payloads it still contains, the
# lowest-doc_id keeper, and the dropped ids.
# ---------------------------------------------------------------------------

_HEADER_BYTES = 64

_BINARY_DEDUP_ORACLE = f"""
WITH k AS (
  SELECT md5(substring(text, 1, {_HEADER_BYTES})) AS header_md5,
         md5(text) AS payload_md5, doc_id
  FROM documents
),
g AS (
  SELECT header_md5, count(*) AS n_copies,
         count(DISTINCT payload_md5) AS n_distinct_payloads,
         min(doc_id) AS keeper
  FROM k GROUP BY header_md5 HAVING count(*) > 1
)
SELECT g.header_md5,
       CAST(g.n_copies AS BIGINT) AS n_copies,
       CAST(g.n_distinct_payloads AS BIGINT) AS n_distinct_payloads,
       g.keeper AS keeper_doc_id,
       string_agg(CAST(k.doc_id AS VARCHAR), ',' ORDER BY k.doc_id)
         AS dropped_doc_ids
FROM g JOIN k USING (header_md5)
WHERE k.doc_id <> g.keeper
GROUP BY g.header_md5, g.n_copies, g.n_distinct_payloads, g.keeper
ORDER BY header_md5
"""


@query("q_multimodal_dedup", oracle=_BINARY_DEDUP_ORACLE)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.encode(F.substring("text", 1, _HEADER_BYTES), "UTF-8")).alias(
            "header_md5"
        ),
        F.md5(F.encode("text", "UTF-8")).alias("payload_md5"),
    )
    return (
        keyed.groupBy("header_md5")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.count_distinct("payload_md5").cast("long").alias(
                "n_distinct_payloads"
            ),
            F.min("doc_id").alias("keeper_doc_id"),
            F.array_join(
                F.expr(
                    # drop the first (= keeper, the min) element; a
                    # column-length slice, so no fixed cap a giant
                    # duplicate bucket could silently overflow
                    "slice(sort_array(collect_list(doc_id)), 2, "
                    "greatest(size(collect_list(doc_id)) - 1, 1))"
                ).cast("array<string>"),
                ",",
            ).alias("dropped_doc_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("header_md5")
    )


# ---------------------------------------------------------------------------
# Perceptual image hash (average-hash family): decode the payload,
# threshold 8 evenly-spaced pixel samples against the image's mean, and
# pack the bits — images that LOOK the same (re-encodes, minor noise)
# collide even when their bytes differ, which is what content-md5 dedup
# (q_multimodal_dedup) cannot see. The decode + hash run in ONE
# Arrow-batched mapInPandas stage (the honest codec seam — numpy over
# the decoded array); the oracle reproduces every bit from the FIMG
# pixel closed form, so the whole perceptual pipeline is value-checked
# end to end. Grouping: one partial-agg'd count per (w, h, ahash) joined
# back broadcast — at petabyte scale only (doc_id, 8-byte hash) rows
# shuffle, never pixels.
# ---------------------------------------------------------------------------

_AHASH_BITS = 8


def _perceptual_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    rows: dict[str, list] = {"doc_id": [], "w": [], "h": [], "ahash": []}
    for pdf in batches:
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = decode_image(bytes(payload))
            h, w, _ = arr.shape
            flat = arr.reshape(-1)
            n = flat.size
            step = n // _AHASH_BITS
            mean = int(flat.sum(dtype="int64")) / n
            bits = 0
            for k in range(_AHASH_BITS):
                if int(flat[k * step]) >= mean:
                    bits |= 1 << k
            rows["doc_id"].append(doc_id)
            rows["w"].append(w)
            rows["h"].append(h)
            rows["ahash"].append(bits)
    yield pd.DataFrame(rows)


_PHASH_ORACLE = """
WITH hashed AS (
  SELECT doc_id, w, h,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(8), k ->
             CASE WHEN CAST((doc_id * 31 + (k * ((w * h * 3) // 8)) * 7) % 256 AS DOUBLE)
                       >= CAST(psum AS DOUBLE) / (w * h * 3)
                  THEN CAST(2 AS BIGINT) ** k ELSE 0 END)),
           (a, x) -> a + x) AS ahash
  FROM (
    SELECT doc_id, w, h,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(w * h * 3), i -> (doc_id * 31 + i * 7) % 256)),
             (a, x) -> a + x) AS psum
    FROM (
      SELECT doc_id, 8 + (n_chars % 8) AS w, 6 + (n_chars % 6) AS h
      FROM documents WHERE doc_id < 100
    )
  )
)
SELECT doc_id, w, h, CAST(ahash AS BIGINT) AS ahash,
       CAST(count(*) OVER (PARTITION BY w, h, ahash) AS BIGINT) AS n_same_hash
FROM hashed
ORDER BY doc_id
"""


@query("q_multimodal_phash", oracle=_PHASH_ORACLE)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = _dims(d).mapInPandas(
        _build_payloads, "doc_id long, payload binary"
    )
    hashed = payloads.mapInPandas(
        _perceptual_hash, "doc_id long, w long, h long, ahash long"
    )
    wnd = Window.partitionBy("w", "h", "ahash")
    counted = hashed.withColumn(
        "n_same_hash", F.count("*").over(wnd).cast("long")
    )
    # bounded_sort: doc_id < 100 bounds the report; orderBy's range
    # sampling would re-run the window + both Arrow stages per run
    return bounded_sort(counted, "doc_id")


# ---------------------------------------------------------------------------
# Silence / voice-activity profile — the audio curation gate that drops
# dead air before transcription: the decoded PCM is scored in 16-sample
# frames, a frame is "silent" when its integer |amplitude| sum is under
# the threshold, and the report carries the silence ratio plus the
# leading/trailing trim frame counts. The whole pipeline runs
# encode -> decode -> frame-energy through the same Arrow mapInPandas
# seam as q_multimodal_audio_stats (payload bytes never shuffle; the
# decode batch shape is the production one), while the oracle
# reproduces every frame sum from the FWAV closed form — all integer
# arithmetic, no float tolerance anywhere.
# ---------------------------------------------------------------------------

_VAD_FRAME = 16
_VAD_THRESHOLD = 16384  # sum |amp| per frame; == mean 1024 of +-2048 PCM

_SILENCE_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 64 + n_chars % 64 AS n_samples
  FROM documents WHERE doc_id < 100
),
frames AS (
  SELECT doc_id, n_samples // {_VAD_FRAME} AS n_frames,
         list_transform(range(n_samples // {_VAD_FRAME}),
           f -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range({_VAD_FRAME}),
                    i -> abs((doc_id * 13 + (f * {_VAD_FRAME} + i) * 5)
                             % 4096 - 2048))),
                  (a, x) -> a + x) < {_VAD_THRESHOLD}) AS silent
  FROM dims
)
SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
       CAST(len(list_filter(silent, s -> s)) AS BIGINT) AS n_silent,
       round(CAST(len(list_filter(silent, s -> s)) AS DOUBLE)
             / n_frames, 6) AS silence_ratio,
       CAST(CASE WHEN list_position(silent, false) = 0 THEN n_frames
                 ELSE list_position(silent, false) - 1
            END AS BIGINT) AS lead_trim_frames,
       CAST(CASE WHEN list_position(list_reverse(silent), false) = 0
                 THEN n_frames
                 ELSE list_position(list_reverse(silent), false) - 1
            END AS BIGINT) AS trail_trim_frames
FROM frames
ORDER BY doc_id
"""


def _silence_profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    rows: dict[str, list] = {
        "doc_id": [], "n_frames": [], "n_silent": [],
        "silence_ratio": [], "lead_trim_frames": [], "trail_trim_frames": [],
    }
    for pdf in batches:
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, samples = decode_audio(bytes(payload))
            n_frames = len(samples) // _VAD_FRAME
            framed = np.abs(
                samples[: n_frames * _VAD_FRAME].astype("int64")
            ).reshape(n_frames, _VAD_FRAME)
            silent = framed.sum(axis=1) < _VAD_THRESHOLD
            n_silent = int(silent.sum())
            nonsilent = np.flatnonzero(~silent)
            lead = int(nonsilent[0]) if nonsilent.size else n_frames
            trail = (
                n_frames - 1 - int(nonsilent[-1]) if nonsilent.size else n_frames
            )
            rows["doc_id"].append(doc_id)
            rows["n_frames"].append(n_frames)
            rows["n_silent"].append(n_silent)
            rows["silence_ratio"].append(round(n_silent / n_frames, 6))
            rows["lead_trim_frames"].append(lead)
            rows["trail_trim_frames"].append(trail)
    yield pd.DataFrame(rows)


@query("q_multimodal_silence_ratio", oracle=_SILENCE_ORACLE)
def q_multimodal_silence_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level silence profile of every decoded audio payload:
    ratio + leading/trailing trim counts, integer-exact vs the FWAV
    closed form."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = _audio_dims(d).mapInPandas(
        _build_audio, "doc_id long, payload binary"
    )
    profile = payloads.mapInPandas(
        _silence_profile,
        "doc_id long, n_frames long, n_silent long, silence_ratio double, "
        "lead_trim_frames long, trail_trim_frames long",
    )
    # bounded_sort: doc_id < 100 bounds the report (see decode_stats)
    return bounded_sort(profile, "doc_id")


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) sub-file dedup: the shift-robust
# storage question byte-level dedup cannot answer — "how much would
# chunk-level dedup save when copies are EMBEDDED in otherwise
# different payloads?" (rsync/LBFS/FastCDC lineage; Muthitacharoen et
# al., SOSP'01). A chunk boundary falls wherever the rolling content
# window hashes below a mask (here: md5 of the trailing 16 bytes
# starting '00'..'03' -> boundary probability 1/64, ~64-byte average
# chunks), so an insertion only re-chunks its local neighborhood and
# shared runs between documents yield IDENTICAL interior chunks — the
# property the shift-robustness test pins. Scale shape: boundary
# detection and chunk hashing are MAP-ONLY JVM md5 expressions per
# row (no Python, no shuffle); only 16-byte chunk hashes + lengths
# shuffle to the chunk-hash aggregate (payload bytes never move), and
# the report is top-15 shared chunks + corpus dedup totals. The text
# column stands in for the binary payload exactly as in
# q_multimodal_dedup.
# ---------------------------------------------------------------------------

_CDC_W = 16  # rolling window bytes
_CDC_MASK = "04"  # md5 hex prefix < '04' -> P(boundary) = 4/256 = 1/64
_CDC_TOP = 15


def _cdc_bounds(text, n):
    """Boundary positions (window-END offsets) plus the [0, n] frame —
    a pure JVM expression; shared by the query and the robustness
    test."""
    inner = F.when(
        n - 1 >= _CDC_W,
        F.filter(
            F.sequence(F.lit(_CDC_W), n - 1),
            lambda i: F.md5(
                F.encode(text.substr(i - (_CDC_W - 1), F.lit(_CDC_W)), "UTF-8")
            ).substr(1, 2)
            < _CDC_MASK,
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.concat(F.array(F.lit(0)), inner, F.array(n))


def _cdc_chunks(text, bounds):
    """array<struct<h, len>> of content-defined chunks of ``text``
    given its materialized ``bounds`` column. The caller MUST
    single-eval the bounds expression behind a Generate barrier (the
    q_dedup_containment_eval explode trick) — referenced naked, the
    O(n)-md5 bounds subtree would be re-inlined by CollapseProject
    into every one of this lambda's five references and re-evaluated
    per chunk, turning the linear scan quadratic."""
    return F.transform(
        F.sequence(F.lit(0), F.size(bounds) - 2),
        lambda j: F.struct(
            F.md5(
                F.encode(
                    text.substr(
                        F.element_at(bounds, j + 1) + 1,
                        F.element_at(bounds, j + 2)
                        - F.element_at(bounds, j + 1),
                    ),
                    "UTF-8",
                )
            ).alias("h"),
            (
                F.element_at(bounds, j + 2) - F.element_at(bounds, j + 1)
            ).alias("len"),
        ),
    )


CDC_CHUNKS_ORACLE = f"""
WITH bnds AS (
  SELECT doc_id, text,
         list_concat(list_concat(
           [CAST(0 AS BIGINT)],
           CASE WHEN len(text) - 1 >= {_CDC_W}
                THEN list_filter(range({_CDC_W}, len(text)),
                     i -> substring(md5(substring(text, CAST(i AS INT) - {_CDC_W - 1}, {_CDC_W})), 1, 2)
                          < '{_CDC_MASK}')
                ELSE CAST([] AS BIGINT[]) END),
           [CAST(len(text) AS BIGINT)]) AS bounds
  FROM documents
  WHERE text IS NOT NULL AND len(text) > 0
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(bounds)),
           j -> {{'h': md5(substring(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                                     CAST(bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS INT))),
                 'len': bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)]}}),
                recursive := true)
  FROM bnds
),
agg AS (
  SELECT h AS chunk_md5, min(len) AS chunk_len,
         count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM chunks GROUP BY h
),
tot AS (
  SELECT CAST(sum(n_occ) AS BIGINT) AS total_chunks,
         CAST(count(*) AS BIGINT) AS distinct_chunks,
         CAST(sum(n_occ * chunk_len) AS BIGINT) AS total_bytes,
         CAST(sum(chunk_len) AS BIGINT) AS unique_bytes
  FROM agg
)
SELECT chunk_md5, CAST(chunk_len AS BIGINT) AS chunk_len,
       CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs,
       CAST((n_occ - 1) * chunk_len AS BIGINT) AS saved_bytes,
       total_chunks, distinct_chunks, total_bytes, unique_bytes,
       CAST(unique_bytes AS DOUBLE) / total_bytes AS dedup_ratio
FROM agg CROSS JOIN tot
WHERE n_docs > 1
ORDER BY saved_bytes DESC, chunk_md5
LIMIT {_CDC_TOP}
"""


@query("q_multimodal_cdc_chunks", oracle=CDC_CHUNKS_ORACLE)
def q_multimodal_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty/NULL payloads carry no chunkable content: _cdc_bounds on ''
    # would yield the degenerate [0, 0] frame and a zero-length chunk
    # whose ''-hash pollutes the dedup aggregate on both engines —
    # filter identically here and in the oracle's bnds CTE
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    # single-eval barrier: bounds (one md5 per byte position) must be
    # computed exactly once per row — see _cdc_chunks docstring.
    bounded = d.select(
        "doc_id",
        "text",
        F.explode(
            F.array(_cdc_bounds(F.col("text"), F.length("text")))
        ).alias("bounds"),
    )
    chunks = bounded.select(
        "doc_id",
        F.explode(
            _cdc_chunks(F.col("text"), F.col("bounds"))
        ).alias("c"),
    ).select("doc_id", F.col("c.h").alias("h"), F.col("c.len").alias("len"))
    agg = chunks.groupBy(F.col("h").alias("chunk_md5")).agg(
        F.min("len").cast("long").alias("chunk_len"),
        F.count("*").alias("n_occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    tot = agg.agg(
        F.sum("n_occ").cast("long").alias("total_chunks"),
        F.count("*").cast("long").alias("distinct_chunks"),
        F.sum(F.col("n_occ") * F.col("chunk_len"))
        .cast("long")
        .alias("total_bytes"),
        F.sum("chunk_len").cast("long").alias("unique_bytes"),
    )
    return (
        agg.filter(F.col("n_docs") > 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "chunk_md5",
            "chunk_len",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.col("n_docs").cast("long").alias("n_docs"),
            ((F.col("n_occ") - 1) * F.col("chunk_len"))
            .cast("long")
            .alias("saved_bytes"),
            "total_chunks",
            "distinct_chunks",
            "total_bytes",
            "unique_bytes",
            (
                F.col("unique_bytes").cast("double") / F.col("total_bytes")
            ).alias("dedup_ratio"),
        )
        .orderBy(F.desc("saved_bytes"), "chunk_md5")
        .limit(_CDC_TOP)
    )
