"""Multimodal workload: binary-column metadata projection, stub decode, and
stub feature extraction — each with an exact DuckDB oracle. The decode and
feature stubs are sha256-derived (operators/multimodal.py), so DuckDB can
recompute the identical values with ``sha256`` + hex slicing even though the
Spark side runs through the real Arrow-batched ``mapInPandas`` plumbing."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..operators.multimodal import (
    decode_media,
    extract_features,
    media_from_documents,
    media_metadata,
    media_real_from_documents,
    media_real_resized,
    resize_media,
)
from ..sources.testdata import load_table


def _sorted_out(df: DataFrame, *cols: str) -> DataFrame:
    """Final presentation sort WITHOUT re-running the Python stages under
    it: a global ``orderBy`` compiles to a range exchange whose partitioner
    SAMPLES its child by executing it, and when no exchange sits between
    the mapInPandas chain and the Sort, the whole codec pipeline runs twice
    (r14 measurement: media_decode_real 1.68 s with the plain orderBy vs
    0.84 s for the pipeline alone at sf0.1). A keyed repartition inserts a
    shuffle that AQE materializes as a stage boundary, so the sampling pass
    reads shuffle output instead of re-decoding payloads (guide §2.4: one
    exchange of domain-sized metadata rows buys back a full Python pass —
    at 100 TB the decode is corpus-sized, the metadata exchange is not).
    Rows and final order are identical; the sort keys are unique per row."""
    return df.repartition(*[F.col(c) for c in cols]).orderBy(*cols)


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return media_metadata(media).orderBy("media_id")


SQL_MEDIA_METADATA = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[doc_id % 3 + 1] AS kind,
       octet_length(encode(text)) AS n_bytes,
       substr(hex(encode(text)), 1, 8) AS magic_hex
FROM documents ORDER BY media_id
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub decode through mapInPandas; the sha256-byte pseudo-metadata is
    recomputed exactly by the DuckDB oracle (all-integer arithmetic)."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return _sorted_out(decode_media(media), "media_id")


SQL_MEDIA_DECODE = """
WITH m AS (
  SELECT doc_id AS media_id,
         (['image', 'audio', 'video'])[doc_id % 3 + 1] AS kind,
         sha256(text) AS hx
  FROM documents
), b AS (
  SELECT media_id, kind,
         CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) AS b0,
         CAST(('0x' || substr(hx, 3, 2)) AS INTEGER) AS b1,
         CAST(('0x' || substr(hx, 5, 2)) AS INTEGER) AS b2,
         CAST(('0x' || substr(hx, 7, 2)) AS INTEGER) AS b3
  FROM m
)
SELECT media_id, kind,
  CAST(CASE WHEN kind IN ('image', 'video') THEN 160 + (b0 % 8) * 80 END AS INTEGER) AS width,
  CAST(CASE WHEN kind IN ('image', 'video') THEN 120 + (b1 % 8) * 60 END AS INTEGER) AS height,
  CAST(CASE WHEN kind = 'image' THEN 1
            WHEN kind = 'video' THEN 24 + (b2 % 240) END AS INTEGER) AS n_frames,
  CAST(CASE WHEN kind = 'audio' THEN 8000 * (1 + (b1 % 6)) END AS INTEGER) AS sample_rate,
  CAST(CASE WHEN kind = 'audio' THEN 500 + b2 * 37
            WHEN kind = 'video' THEN 1000 + b3 * 91 END AS INTEGER) AS duration_ms
FROM b ORDER BY media_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub feature extraction (sha256-byte unit vectors via mapInPandas),
    exploded to (media_id, pos, value) so the driver's canonicalization has
    only hashable scalars; values rounded to 6dp on both sides. The float64
    path (`dtype="double"`) keeps Spark and DuckDB bit-comparable."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media, dtype="double")
    return (
        _sorted_out(
            feats.select(
                "media_id", F.posexplode("features").alias("pos", "value")
            ).select("media_id", "pos", F.round("value", 6).alias("value")),
            "media_id",
            "pos",
        )
    )


SQL_MEDIA_FEATURES = """
WITH b AS (
  SELECT doc_id AS media_id, CAST(j AS INTEGER) AS pos,
         CAST(('0x' || substr(sha256(text), j * 2 + 1, 2)) AS INTEGER) / 128.0 - 1.0 AS raw
  FROM documents, range(32) t(j)
), n AS (
  SELECT media_id, sqrt(sum(raw * raw)) AS nrm FROM b GROUP BY media_id
)
SELECT b.media_id, b.pos,
       round(CASE WHEN n.nrm = 0 THEN b.raw ELSE b.raw / n.nrm END, 6) AS value
FROM b JOIN n USING (media_id)
ORDER BY media_id, pos
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over decoded videos (every 24th frame; non-videos one
    frame 0) — native sequence/explode, completing the decode ->
    frame-sample stage pair with an exact oracle."""
    from ..operators.multimodal import sample_frames

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return _sorted_out(
        sample_frames(decode_media(media), stride=24), "media_id", "frame_index"
    )


SQL_MEDIA_FRAMES = """
WITH m AS (
  SELECT doc_id AS media_id,
         (['image', 'audio', 'video'])[doc_id % 3 + 1] AS kind,
         CAST(('0x' || substr(sha256(text), 5, 2)) AS INTEGER) AS b2
  FROM documents
)
SELECT media_id, kind, CAST(f AS INTEGER) AS frame_index
FROM m, LATERAL (
  SELECT unnest(CASE WHEN kind = 'video'
                     THEN range(0, 24 + (b2 % 240), 24)
                     ELSE [0] END) AS f
)
ORDER BY media_id, frame_index
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub resize through mapInPandas: visual payloads -> deterministic
    32-byte thumbnails (sha256(payload || '|64x64')); the oracle recomputes
    the identical digest in SQL. Binary projected to hex so the driver's
    canonicalization sees scalars."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    resized = resize_media(media, width=64, height=64)
    return _sorted_out(
        resized.select(
            "media_id", "kind", "width", "height",
            F.lower(F.hex("payload")).alias("resized_sha"),
        ),
        "media_id",
    )


SQL_MEDIA_RESIZE = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[doc_id % 3 + 1] AS kind,
       64 AS width, 64 AS height,
       CASE WHEN (['image', 'audio', 'video'])[doc_id % 3 + 1] IN ('image', 'video')
            THEN sha256(text || '|64x64') END AS resized_sha
FROM documents ORDER BY media_id
"""


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec decode (r14): payloads are actual PNG (dependency-free
    codec, functions/png.py), actual WAV (stdlib wave), and actual
    multi-frame GIF89a (functions/gif.py) bytes; decode_media must PARSE
    the containers — CRC-checked IHDR for images, RIFF/WAVE header for
    audio, block-structure walk for video — to produce metadata the oracle
    predicts arithmetically from the generation parameters. A fake decode
    cannot hash-match this instance."""
    media = media_real_from_documents(load_table(spark, sf_dir, "documents"))
    return _sorted_out(decode_media(media), "media_id")


SQL_MEDIA_DECODE_REAL = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[doc_id % 3 + 1] AS kind,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 24
                 WHEN doc_id % 3 = 2 THEN 4 + doc_id % 8 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 6 + (doc_id * 7) % 20
                 WHEN doc_id % 3 = 2 THEN 3 + doc_id % 6 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                 WHEN doc_id % 3 = 1 THEN 400 + (doc_id * 13) % 1000
                 ELSE 2 + doc_id % 7 END AS INTEGER) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 * (1 + doc_id % 4) END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 1
            THEN ((400 + (doc_id * 13) % 1000) * 1000) // (8000 * (1 + doc_id % 4))
            WHEN doc_id % 3 = 2
            THEN (2 + doc_id % 7) * (3 + doc_id % 5) * 10
            END AS INTEGER) AS duration_ms
FROM documents ORDER BY media_id
"""


_CORNER_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("corner_r", IntegerType(), False),
        StructField("corner_g", IntegerType(), False),
        StructField("corner_b", IntegerType(), False),
    ]
)


def q_media_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec resize round-trip (r14): real PNGs -> resize_media (full
    decode -> nearest-neighbor -> re-encode, functions/png.py) -> decode the
    RESIZED payload and emit the bottom-right pixel of the 5x4 thumbnail.
    Nearest-neighbor maps target (x, y) to source (x*W//5, y*H//4) and the
    source gradient is pixel(x,y,c) = (x*3 + y*5 + c*7 + id) % 256, so the
    oracle computes the exact corner RGB arithmetically — the whole
    encode/resample/re-encode/decode chain must be bit-correct to match.

    r15 (guide §4, r14 verdict #1): build+resize run FUSED in one
    mapInPandas (operators/multimodal.py media_real_resized — row-identical
    to the chain, test-pinned), so the corpus-sized source PNGs never cross
    the Arrow boundary; only the 5x4 thumbnails (~100 bytes/row) travel to
    the corner-decode stage. The plan drops from three MapInPandas over
    payload columns to two."""

    def _corner(batches):
        import pandas as _pd

        from ..functions.png import decode_png

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, pix = decode_png(bytes(payload))
                off = ((h - 1) * w + (w - 1)) * ch
                rows.append(
                    {"media_id": int(mid), "corner_r": int(pix[off]),
                     "corner_g": int(pix[off + 1]), "corner_b": int(pix[off + 2])}
                )
            yield _pd.DataFrame(rows, columns=[f.name for f in _CORNER_SCHEMA.fields])

    resized = media_real_resized(
        # Pre-filter the ids: a kind filter AFTER the builder cannot be
        # pushed through mapInPandas, so all three payload kinds would be
        # built and 2/3 discarded — 3x wasted codec CPU. id % 3 == 0
        # IS the image predicate (the builder's split rule); the kind
        # filter below stays as a no-op safety net. It runs AFTER the
        # fused build+resize, so should the two rules ever drift, the
        # non-image rows would pay codec and resize CPU before being
        # dropped (same output, wasted work).
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        ),
        width=5,
        height=4,
    ).filter(F.col("kind") == "image")
    return _sorted_out(
        resized.select("media_id", "payload").mapInPandas(
            _corner, schema=_CORNER_SCHEMA
        ),
        "media_id",
    )


SQL_MEDIA_RESIZE_REAL = """
WITH g AS (
  SELECT doc_id,
         (4 * (8 + doc_id % 24)) // 5 AS sx,
         (3 * (6 + (doc_id * 7) % 20)) // 4 AS sy
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id AS media_id,
       CAST((sx * 3 + sy * 5 + doc_id) % 256 AS INTEGER) AS corner_r,
       CAST((sx * 3 + sy * 5 + 7 + doc_id) % 256 AS INTEGER) AS corner_g,
       CAST((sx * 3 + sy * 5 + 14 + doc_id) % 256 AS INTEGER) AS corner_b
FROM g ORDER BY media_id
"""


def q_media_video_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container leg (r14): actual multi-frame GIF89a payloads
    (functions/gif.py) -> decode_media parses the block structure (frame
    count from image descriptors, duration from Graphic Control delays)
    -> sample_frames explodes every 3rd frame. The oracle predicts the
    sampled frame indices arithmetically from the generation parameters —
    a stubbed frame count cannot match."""
    from ..operators.multimodal import sample_frames

    media = media_real_from_documents(
        # Pre-filter the ids: a kind filter AFTER the builder cannot be
        # pushed through mapInPandas, so all three payload kinds would be
        # built and 2/3 discarded — 3x wasted codec CPU. id % 3 == 2
        # IS the video predicate (the builder's split rule); the kind
        # filter below stays as a no-op safety net.
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 2
        )
    ).filter(F.col("kind") == "video")
    return _sorted_out(
        sample_frames(decode_media(media), stride=3).select(
            "media_id", "frame_index"
        ),
        "media_id",
        "frame_index",
    )


SQL_MEDIA_VIDEO_REAL = """
WITH v AS (
  SELECT doc_id AS media_id, 2 + doc_id % 7 AS nf
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(f AS INTEGER) AS frame_index
FROM v, LATERAL (SELECT unnest(range(0, nf, 3)) AS f)
ORDER BY media_id, frame_index
"""


_PIXSTATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("pixel_sum", LongType(), False),
        StructField("pixel_sq_sum", LongType(), False),
    ]
)


def q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-consuming feature stage (r14): fully decode each PNG
    (inflate + unfilter, functions/png.py) and aggregate the raw samples —
    exact integer sum and sum-of-squares per image, the sufficient
    statistics for mean/variance features. Emitted as exact integers so
    both engines agree bit-for-bit (no float fold order); the oracle
    regenerates the gradient arithmetically with a LATERAL range. This is
    the leg the stub embedder never exercised: bytes -> pixels -> numbers."""

    def _stats(batches):
        import numpy as _np
        import pandas as _pd

        from ..functions.png import decode_png

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, pix = decode_png(bytes(payload))
                arr = _np.frombuffer(pix, dtype=_np.uint8).astype(_np.int64)
                rows.append(
                    {"media_id": int(mid), "n_samples": int(arr.size),
                     "pixel_sum": int(arr.sum()),
                     "pixel_sq_sum": int((arr * arr).sum())}
                )
            yield _pd.DataFrame(rows, columns=[f.name for f in _PIXSTATS_SCHEMA.fields])

    media = media_real_from_documents(
        # Pre-filter the ids: a kind filter AFTER the builder cannot be
        # pushed through mapInPandas, so all three payload kinds would be
        # built and 2/3 discarded — 3x wasted codec CPU. id % 3 == 0
        # IS the image predicate (the builder's split rule); the kind
        # filter below stays as a no-op safety net. It runs AFTER the
        # fused build+resize, so should the two rules ever drift, the
        # non-image rows would pay codec and resize CPU before being
        # dropped (same output, wasted work).
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        )
    ).filter(F.col("kind") == "image")
    return _sorted_out(
        media.select("media_id", "payload").mapInPandas(
            _stats, schema=_PIXSTATS_SCHEMA
        ),
        "media_id",
    )


SQL_MEDIA_PIXEL_STATS = """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 24 AS w, 6 + (doc_id * 7) % 20 AS h
  FROM documents WHERE doc_id % 3 = 0
), px AS (
  SELECT doc_id, w, h,
         ((i // 3) % w) * 3 + (i // (3 * w)) * 5 + (i % 3) * 7 + doc_id AS raw
  FROM g, LATERAL (SELECT unnest(range(0, w * h * 3)) AS i)
)
SELECT doc_id AS media_id,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(raw % 256) AS BIGINT) AS pixel_sum,
       CAST(SUM((raw % 256) * (raw % 256)) AS BIGINT) AS pixel_sq_sum
FROM px GROUP BY doc_id, w, h ORDER BY media_id
"""


_AUDSTATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("sample_sq_sum", LongType(), False),
    ]
)


def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-sample-consuming stage (r14) — the WAV twin of
    media_pixel_stats: parse the RIFF/WAVE container AND read the actual
    16-bit frames (stdlib wave + numpy), aggregating exact integer sum /
    sum-of-squares per clip. The generation samples are
    ((i*31 + id) % 65536) - 32768, so the oracle regenerates them with a
    LATERAL range — a decode that didn't really read the frames cannot
    hash-match."""

    def _stats(batches):
        import io
        import wave

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload))) as wf:
                    n = wf.getnframes()
                    raw = wf.readframes(n)
                arr = _np.frombuffer(raw, dtype="<i2").astype(_np.int64)
                rows.append(
                    {"media_id": int(mid), "n_samples": int(arr.size),
                     "sample_sum": int(arr.sum()),
                     "sample_sq_sum": int((arr * arr).sum())}
                )
            yield _pd.DataFrame(rows, columns=[f.name for f in _AUDSTATS_SCHEMA.fields])

    media = media_real_from_documents(
        # Pre-filter the ids: a kind filter AFTER the builder cannot be
        # pushed through mapInPandas, so all three payload kinds would be
        # built and 2/3 discarded — 3x wasted codec CPU. id % 3 == 1
        # IS the audio predicate (the builder's split rule); the kind
        # filter below stays as a no-op safety net.
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 1
        )
    ).filter(F.col("kind") == "audio")
    return _sorted_out(
        media.select("media_id", "payload").mapInPandas(
            _stats, schema=_AUDSTATS_SCHEMA
        ),
        "media_id",
    )


SQL_MEDIA_AUDIO_STATS = """
WITH a AS (
  SELECT doc_id, 400 + (doc_id * 13) % 1000 AS nf
  FROM documents WHERE doc_id % 3 = 1
), s AS (
  SELECT doc_id, nf, ((i * 31 + doc_id) % 65536) - 32768 AS v
  FROM a, LATERAL (SELECT unnest(range(0, nf)) AS i)
)
SELECT doc_id AS media_id,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(SUM(v * v) AS BIGINT) AS sample_sq_sum
FROM s GROUP BY doc_id ORDER BY media_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "media_metadata": q_media_metadata,
    "media_decode": q_media_decode,
    "media_features": q_media_features,
    "media_resize": q_media_resize,
    "media_frames": q_media_frames,
    "media_decode_real": q_media_decode_real,
    "media_resize_real": q_media_resize_real,
    "media_video_real": q_media_video_real,
    "media_pixel_stats": q_media_pixel_stats,
    "media_audio_stats": q_media_audio_stats,
}

ORACLE_SQL: dict[str, str] = {
    "media_metadata": SQL_MEDIA_METADATA,
    "media_decode": SQL_MEDIA_DECODE,
    "media_features": SQL_MEDIA_FEATURES,
    "media_resize": SQL_MEDIA_RESIZE,
    "media_frames": SQL_MEDIA_FRAMES,
    "media_decode_real": SQL_MEDIA_DECODE_REAL,
    "media_resize_real": SQL_MEDIA_RESIZE_REAL,
    "media_video_real": SQL_MEDIA_VIDEO_REAL,
    "media_pixel_stats": SQL_MEDIA_PIXEL_STATS,
    "media_audio_stats": SQL_MEDIA_AUDIO_STATS,
}
