"""Multimodal column plumbing (SURVEY.md §2.12): image/audio/video as
opaque ``binary`` payloads with typed metadata.

Execution: one Spark path per stage. The decode, resize and
feature-extraction stages are deterministic STUBS — metadata,
dimensions and feature vectors are pure arithmetic over
``length(payload)`` — so each is a plan of JVM column expressions: no
Python worker, and no payload bytes crossing an Arrow boundary for a
metadata-only query (an Arrow stub was the single worst bench ratio in
round 2: 24.7x vs the oracle, all of it transfer of bytes the query
never used). The one Arrow stage is ``decode_media(real_decode=True)``:
a ``mapInPandas`` kernel that runs the real codecs — PIL for images
when installed, the stdlib ``wave`` module for WAV audio — and raises a
targeted NotImplementedError for containers that need ffmpeg. Swapping
in more codecs touches only ``_real_decode_batch``.

Scale posture: payloads never pass through the driver; ``mapInPandas``
streams Arrow batches executor-side, and metadata-only downstream
queries prune the binary column at the parquet scan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def attach_payload(documents: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Deterministic fake media table from the documents fixture: the
    UTF-8 bytes of the text stand in for an opaque media payload, with
    a media_type derived from the id. Real pipelines read
    (id, media_type, payload) parquet directly — this adapter only
    exists because the fixtures carry no binary column."""
    return documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def _stub_dims(n):
    """The stub decoder's width/height arithmetic over the payload
    length ``n`` — the single place decode and resize derive stub
    dimensions from, so a formula change cannot desynchronize them.
    Replace with real probing in production."""
    return (
        (F.lit(16) + n % 624).cast("int"),
        (F.lit(16) + (n * 7) % 464).cast("int"),
    )


def _format_by_type():
    # built lazily: a module-level Column would be constructed at import
    # time inside Python WORKERS too (no SparkContext there) when this
    # module is imported to unpickle the real-decode kernel closure
    return (
        F.when(F.col("media_type") == "image", "RGB")
        .when(F.col("media_type") == "audio", "PCM16")
        .otherwise("H264")
    )


def decode_media(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Decode/probe stage over the media table. The binary column is
    consumed executor-side and does not appear in the output schema,
    so downstream plans never carry payload bytes.

    Default (the stub): metadata as JVM column expressions —
    whole-stage codegen, zero Python workers, and Catalyst can prune
    ``payload`` down to ``length()`` at the scan. ``real_decode=True``:
    the ``mapInPandas`` path the real codecs run on (Arrow batches in,
    metadata out; see :func:`_real_decode_batch`)."""
    if real_decode:
        return media.mapInPandas(
            lambda batches: map(_real_decode_batch, batches), DECODED_SCHEMA
        )
    n = F.length("payload").cast("long")
    w, h = _stub_dims(n)
    return media.select(
        F.col("doc_id"),
        F.col("media_type"),
        n.alias("n_bytes"),
        w.alias("width"),
        h.alias("height"),
        _format_by_type().alias("format"),
    )


def _decode_wav(b: bytes) -> tuple[int, int, str]:
    """Real audio-header decode via the stdlib ``wave`` module — no
    ffmpeg needed for RIFF/WAVE payloads. Returns (framerate,
    channels, 'PCM<bits>'); any other audio container still needs
    ffmpeg and raises the same targeted error as before."""
    import io
    import wave

    if not b.startswith(b"RIFF"):
        raise NotImplementedError(
            "real decode of non-WAV audio requires ffmpeg, not "
            "present; WAV decodes via the stdlib wave module"
        )
    try:
        with wave.open(io.BytesIO(b)) as w:
            return (
                w.getframerate(),
                w.getnchannels(),
                f"PCM{8 * w.getsampwidth()}",
            )
    except (wave.Error, EOFError) as e:
        # RIFF-but-not-WAVE (e.g. WebP also starts with RIFF) or a
        # truncated header — keep the documented targeted error, not
        # a raw codec exception out of the executor
        raise NotImplementedError(
            f"audio payload is RIFF but not a decodable WAV ({e}); "
            "other containers require ffmpeg, not present"
        ) from e


def _real_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Importable-optional real codecs: image payloads decode through
    PIL when it is installed (width/height/format from the actual
    bytes); WAV audio decodes through the stdlib ``wave`` module
    (width=sample rate, height=channels, format=PCM<bits> — the
    schema's spatial slots carry the audio geometry, documented
    here); non-WAV audio and video still need ffmpeg and raise.
    Executor-side imports — workers without PIL raise the same
    targeted error."""
    import io

    rows = []
    for doc_id, mt, payload in zip(
        pdf["doc_id"], pdf["media_type"], pdf["payload"]
    ):
        if payload is None:
            rows.append((doc_id, mt, None, None, None, None))
            continue
        if mt == "audio":
            rate, channels, fmt = _decode_wav(bytes(payload))
            rows.append((doc_id, mt, len(payload), rate, channels, fmt))
            continue
        if mt != "image":
            raise NotImplementedError(
                f"real decode of media_type={mt!r} requires ffmpeg, "
                "not present; 'image' decodes via PIL, WAV 'audio' "
                "via the stdlib wave module"
            )
        try:
            from PIL import Image
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "real image decoding requires PIL, not importable on "
                "this executor; run with real_decode=False for the "
                "deterministic stub"
            ) from e
        with Image.open(io.BytesIO(bytes(payload))) as im:
            rows.append(
                (doc_id, mt, len(payload), im.width, im.height, im.format)
            )
    out = pd.DataFrame(
        rows,
        columns=[
            "doc_id",
            "media_type",
            "n_bytes",
            "width",
            "height",
            "format",
        ],
    )
    out["n_bytes"] = out["n_bytes"].astype("Int64")
    out["width"] = out["width"].astype("Int32")
    out["height"] = out["height"].astype("Int32")
    return out


def decode_media_oracle_sql(table: str = "documents") -> str:
    """The stub decoder is deterministic, so it is oracle-checkable:
    DuckDB recomputes the same metadata from octet_length of the UTF-8
    text."""
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 + octet_length(encode(text)) % 624 AS INTEGER) AS width,
           CAST(16 + (octet_length(encode(text)) * 7) % 464 AS INTEGER)
             AS height,
           CASE WHEN doc_id % 3 = 0 THEN 'RGB'
                WHEN doc_id % 3 = 1 THEN 'PCM16'
                ELSE 'H264' END AS format
    FROM {table}
    """


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("scale", DoubleType()),
        StructField("payload_md5", StringType()),
    ]
)


def resize_media(
    media: DataFrame,
    target_w: int = 256,
    target_h: int = 256,
) -> DataFrame:
    """Resize stage over the media table: fit each item inside
    (target_w, target_h) preserving aspect ratio, never upscaling.
    The pixel kernel is the STUB (dimensions come from the
    deterministic fake decoder; ``payload_md5`` stands in for the
    resized bytes), so the stage is pure JVM expressions —
    ``length``/``least``/``md5`` — with no Python worker."""
    n = F.length("payload").cast("long")
    w, h = _stub_dims(n)
    # Spark least/greatest SKIP NULL args (DuckDB too) — a NULL
    # dimension would silently become scale 1.0, so NULL payloads are
    # guarded explicitly on every derived column.
    sc = F.when(
        n.isNotNull(),
        F.least(
            F.lit(float(target_w)) / w, F.lit(float(target_h)) / h, F.lit(1.0)
        ),
    )
    return media.select(
        "doc_id",
        "media_type",
        F.when(sc.isNotNull(), F.greatest(F.lit(1), F.floor(w * sc).cast("int")))
        .cast("int")
        .alias("out_width"),
        F.when(sc.isNotNull(), F.greatest(F.lit(1), F.floor(h * sc).cast("int")))
        .cast("int")
        .alias("out_height"),
        F.round(sc, 6).alias("scale"),
        F.md5("payload").alias("payload_md5"),
    )


def resize_media_oracle_sql(
    table: str = "documents", target_w: int = 256, target_h: int = 256
) -> str:
    return f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             16 + octet_length(encode(text)) % 624 AS w,
             16 + (octet_length(encode(text)) * 7) % 464 AS h,
             text
      FROM {table}
    ), s AS (
      -- explicit NULL text guard: DuckDB least/greatest IGNORE NULL
      -- args, which would turn a NULL dimension into sc = 1.0
      SELECT *, CASE WHEN text IS NULL THEN NULL
                     ELSE least({target_w}.0 / w, {target_h}.0 / h, 1.0)
                END AS sc
      FROM d
    )
    SELECT doc_id, media_type,
           CAST(CASE WHEN sc IS NULL THEN NULL
                     ELSE greatest(1, CAST(floor(w * sc) AS INTEGER))
                END AS INTEGER) AS out_width,
           CAST(CASE WHEN sc IS NULL THEN NULL
                     ELSE greatest(1, CAST(floor(h * sc) AS INTEGER))
                END AS INTEGER) AS out_height,
           round(sc, 6) AS scale,
           md5(text) AS payload_md5
    FROM s
    """


FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extraction stage (the "embed every image" step of a
    training-data pipeline). The model inference is the STUB — an
    ``FEATURE_DIM``-dim vector derived arithmetically from the payload
    length — so the array is built with ``transform(sequence(...))``
    JVM-side; its array<double> output feeds the similarity/dedup
    operators."""
    # long, like the sibling stages: a multi-GB payload times d would
    # overflow 32-bit int arithmetic (ANSI mode raises) while the
    # BIGINT oracle would not
    n = F.length("payload").cast("long")
    feats = F.transform(
        F.sequence(F.lit(1), F.lit(FEATURE_DIM)),
        lambda d: F.round(((n * d) % 1000) / 1000.0, 6),
    )
    return media.select(
        "doc_id",
        "media_type",
        F.when(n.isNotNull(), feats).alias("features"),
    )


def extract_features_oracle_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CASE WHEN text IS NULL THEN NULL
                ELSE list_transform(range(1, {FEATURE_DIM} + 1),
                          d -> round(((octet_length(encode(text)) * d) % 1000)
                                     / 1000.0, 6))
           END AS features
    FROM {table}
    """


def frame_sample(decoded: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: emit one row per sampled
    frame index (0, every_n, 2·every_n, …) with fake frame count
    n_bytes // 100 — the Spark-side explode/partitioning is the real
    part, the frame count stands in for container probing."""
    n_frames = (F.col("n_bytes") / 100).cast("int")
    # a zero-frame video samples NOTHING: the when() leaves the array
    # NULL and explode drops the row (greatest(n-1, 0) would emit a
    # phantom frame 0 of a frameless video)
    idx = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), n_frames - 1, F.lit(every_n)),
    )
    return (
        decoded.filter(F.col("media_type") == "video")
        .select(
            "doc_id",
            n_frames.alias("n_frames"),
            F.explode(idx).alias("frame_idx"),
        )
    )


def frame_sample_oracle_sql(table: str = "documents", every_n: int = 10) -> str:
    return f"""
    WITH decoded AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM {table} WHERE doc_id % 3 = 2
    )
    SELECT doc_id,
           CAST(n_bytes // 100 AS INTEGER) AS n_frames,
           CAST(u.f AS INTEGER) AS frame_idx
    FROM decoded,
         unnest(range(0, CAST(n_bytes // 100 AS INTEGER),
                {every_n})) AS u(f)
    """
