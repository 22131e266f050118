"""Multimodal catalog queries ([EXT] §2.12): the binary-media pipeline
(decode → resize / feature-extract / stats) exercised end-to-end
through the driver contract.

Oracle method (r4 verdict #5): payload bytes are pure functions of
media_id, so a driver-side single-threaded reference — the same
dependency-free decoders (decode_wav/decode_ppm/decode_bmp, pure
numpy/stdlib, no Spark) run sequentially with Decimal-exact
aggregation — computes the expected output at import time and is
emitted as a DuckDB `VALUES` table. The gate then checks that the
distributed mapInPandas pipeline (Arrow batching, partitioned
aggregation, shuffle order) reproduces the sequential reference
exactly: the same end-to-end determinism contract every other oracle
enforces. The fixture is intentionally sf-INdependent (64 rows at
every scale factor) so one static SQL string is correct at sf0.001,
sf0.01 and sf0.1 — fixture size never measured data scale anyway, and
bench excludes the media queries. `media_frame_sample` keeps its
deterministic-fake codec but its fan-out contract (3 frames, all
distinct) is likewise oracle-checked; `media_video_frames` (r10) runs
the REAL video path — MJPEG-in-AVI RIFF walk, even-spaced sampling,
baseline-JPEG frame decode — with an integer-only output.

Determinism: per-clip/per-image doubles are rounded to 6 dp before any
cross-row aggregate; group averages go through DECIMAL(38,6) sums and
a double division on both sides (CLAUDE.md dsum rule); float32
features are cast to double before rounding so Spark never rounds in
float32 space.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register

#: fixture rows — fixed across scale factors so the static oracle holds
_N_MEDIA = 64


def _audio_payload(i: int) -> bytes:
    from fegis_spark.operators.multimodal import make_wav

    return make_wav(400 + 10 * (i % 7), sample_rate=8000, n_channels=1 + i % 2, seed=i)


def _image_payload(i: int) -> tuple[bytes, str]:
    from fegis_spark.operators.multimodal import (
        make_bmp,
        make_gif,
        make_jpeg_prog_real,
        make_jpeg_real,
        make_png,
        make_ppm,
    )

    # alternate codecs so the magic-byte dispatch is exercised; PNG
    # rows (r10) run the REAL zlib inflate + unfilter pixel path
    # (decode_png), gray PNGs additionally exercise the 1→3 channel
    # uniformization in Codec.decode_image, JPEG rows (r10) run the
    # full baseline entropy-decode + IDCT path (jpegcodec — lossy but
    # a pure deterministic function of the bytes, which is all the
    # sequential-reference oracle needs), GIF rows (r10) run the
    # LZW + palette path (decode_gif, lossless), and PROGRESSIVE JPEG
    # rows (r11) run the multi-scan SOF2 path (DC/AC first+refine
    # scans, EOB runs) end-to-end under the oracle; RGBA PNG rows
    # (r11) run the alpha white-composite path; 4:2:0 JPEG rows (r11)
    # run the subsampled interleaved-MCU decode + chroma upsample;
    # restart-coded JPEG rows (r11) run the DRI/RSTn boundary path;
    # Adam7 PNG rows (r11) run the 7-pass interlaced scatter and
    # 16-bit PNG rows (r11) the uint16 join + exact round(v/257)
    # 16→8 reduction; low-bit PNG rows (r11) run the sub-byte
    # MSB-first unpack (4-bit palette Adam7 + 1-bit gray); GIF
    # variant rows (r11) run the 4-pass de-interlace and the
    # local-color-table override; progressive 4:2:0 JPEG rows (r11)
    # run the combined multi-scan + interleaved-subsampled-MCU path
    k = i % 17
    if k == 0:
        return make_ppm(16, 12, seed=i), "image/x-portable-pixmap"
    if k == 1:
        return make_bmp(16, 12, seed=i), "image/bmp"
    if k == 2:
        return make_png(16, 12, color_type=2, seed=i), "image/png"
    if k == 3:
        return make_png(16, 12, color_type=0, seed=i), "image/png"
    if k == 4:
        return make_jpeg_real(16, 12, seed=i), "image/jpeg"
    if k == 5:
        return make_jpeg_prog_real(16, 12, seed=i), "image/jpeg"
    if k == 6:
        return make_png(16, 12, color_type=6, seed=i), "image/png"
    if k == 7:
        return make_jpeg_real(16, 12, seed=i, y_samp=(2, 2)), "image/jpeg"
    if k == 8:
        return make_jpeg_real(16, 12, seed=i, restart_interval=2), "image/jpeg"
    if k == 10:
        return make_png(16, 12, color_type=2, seed=i, interlace=True), "image/png"
    if k == 11:
        return make_png(16, 12, color_type=0, seed=i, bit_depth=16), "image/png"
    if k == 12:
        return (
            make_png(16, 12, color_type=3, seed=i, bit_depth=4, interlace=True),
            "image/png",
        )
    if k == 13:
        return make_png(16, 12, color_type=0, seed=i, bit_depth=1), "image/png"
    if k == 14:
        return make_gif(16, 12, seed=i, interlace=True), "image/gif"
    if k == 15:
        return make_gif(16, 12, seed=i, local_palette=True), "image/gif"
    if k == 16:
        return (
            make_jpeg_prog_real(16, 12, seed=i, quality=75, y_samp=(2, 2)),
            "image/jpeg",
        )
    return make_gif(16, 12, seed=i), "image/gif"


def _media_df(spark: SparkSession, sf_dir: str, kind: str):
    """Deterministic media table: payload bytes derive only from
    media_id; size fixed at 64 rows for every sf (see module doc)."""
    from fegis_spark.operators.multimodal import MEDIA_SCHEMA

    rows = []
    for i in range(_N_MEDIA):
        if kind == "image":
            payload, mime = _image_payload(i)
            meta = {"mime": mime, "width": 16, "height": 12, "duration_ms": None}
        else:
            payload = _audio_payload(i)
            meta = {"mime": "audio/wav", "width": None, "height": None, "duration_ms": None}
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _r6(x: float) -> Decimal:
    """Spark-compatible round(x, 6): shortest decimal repr of the
    double (== Java Double.toString), then HALF_UP at 6 dp."""
    return Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _values_sql(cols: list[str], rows: list[tuple]) -> str:
    # Decimal cells must ship as DOUBLE literals: a bare 53.632813 in
    # a VALUES table is typed DECIMAL by DuckDB, and a Decimal-typed
    # output column can't hash-match Spark's DOUBLE at the driver
    def fmt(v) -> str:
        if isinstance(v, Decimal):
            return f"CAST({v} AS DOUBLE)"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ",\n      ".join(
        "(" + ", ".join(fmt(v) for v in r) + ")" for r in rows
    )
    return (
        f"SELECT * FROM (VALUES\n      {body}\n    ) AS t({', '.join(cols)})"
    )


def _audio_oracle() -> str:
    """Sequential reference for media_audio_stats: same decoder, same
    per-clip math, Decimal(38,6) sums + double division for the group
    averages — the dsum determinism recipe."""
    import numpy as np

    from fegis_spark.operators.multimodal import decode_wav

    groups: dict[int, list[tuple[int, Decimal, Decimal]]] = {}
    for i in range(_N_MEDIA):
        samples, sr = decode_wav(_audio_payload(i))
        x = samples.astype(np.float64)
        rms = float(np.sqrt((x * x).mean()))
        dur = 1000.0 * samples.shape[0] / sr
        peak = int(np.abs(samples).max())
        groups.setdefault(samples.shape[1], []).append(
            (samples.shape[0], _r6(dur), _r6(rms), peak)  # type: ignore[arg-type]
        )
    rows = []
    for nch in sorted(groups):
        g = groups[nch]
        n = len(g)
        total_frames = sum(r[0] for r in g)
        avg_dur = _r6(float(sum((r[1] for r in g), Decimal(0))) / n)
        avg_rms = _r6(float(sum((r[2] for r in g), Decimal(0))) / n)
        max_peak = max(r[3] for r in g)
        rows.append((nch, n, total_frames, avg_dur, avg_rms, max_peak))
    return _values_sql(
        ["n_channels", "n_clips", "total_frames", "avg_duration_ms", "avg_rms", "max_peak"],
        rows,
    )


def _image_oracle() -> str:
    """Sequential reference for media_image_features: decode → resize →
    PPM re-encode round-trip (lossless for uint8) → 16-dim mean-pool,
    exactly the distributed operator chain, run in-order on the driver."""
    from fegis_spark.operators.multimodal import (
        Codec,
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    codec = Codec()
    rows = []
    for i in range(_N_MEDIA):
        payload, _ = _image_payload(i)
        img = codec.decode_image(payload)
        out = decode_ppm(encode_ppm(resize_nearest(img, 8, 8)))
        feats = codec.extract_features(out)
        acc = 0.0
        for v in feats:
            acc += float(v)
        rows.append(
            (i, _r6(float(feats[0])), _r6(float(feats[15])), _r6(acc / len(feats)))
        )
    return _values_sql(["media_id", "f0", "f15", "feat_mean"], rows)


def _frames_oracle() -> str:
    """Reference fan-out for media_frame_sample: the deterministic fake
    codec emits n_frames sha256-derived payloads per input row."""
    from fegis_spark.operators.multimodal import Codec

    codec = Codec()
    rows = []
    for i in range(_N_MEDIA):
        payload, _ = _image_payload(i)
        frames = codec.frame_sample(payload, 3)
        rows.append((i, len(frames), len(set(frames))))
    return _values_sql(["media_id", "n_frames", "n_distinct_frames"], rows)


@register(
    "media_audio_stats",
    oracle=_audio_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] audio analysis over binary payloads: PCM16 WAV → per-clip
    (sample_rate, channels, frames, duration, rms, peak) via one
    mapInPandas pass, then a per-channel-count rollup. Bytes are
    dropped inside the Arrow batch; only fixed-width stats shuffle."""
    from fegis_spark.operators.multimodal import audio_stats

    stats = audio_stats(_media_df(spark, sf_dir, "audio")).select(
        "n_channels",
        "n_samples",
        F.round("duration_ms", 6).alias("dur6"),
        F.round("rms", 6).alias("rms6"),
        "peak",
    )
    n = F.count(F.lit(1))
    return (
        stats.groupBy("n_channels")
        .agg(
            n.alias("n_clips"),
            F.sum("n_samples").alias("total_frames"),
            F.round(
                F.sum(F.col("dur6").cast("decimal(38,6)")).cast("double") / n, 6
            ).alias("avg_duration_ms"),
            F.round(
                F.sum(F.col("rms6").cast("decimal(38,6)")).cast("double") / n, 6
            ).alias("avg_rms"),
            F.max("peak").alias("max_peak"),
        )
        .orderBy("n_channels")
    )


@register(
    "media_image_features",
    oracle=_image_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the pre-training image normalization path: decode (PPM and
    BMP via magic-byte dispatch) → nearest-neighbor resize to 8×8 →
    16-dim mean-pool features, all inside mapInPandas. Output is one
    row per image with its feature head — deterministic because the
    gradient payloads are pure functions of media_id."""
    from fegis_spark.operators.multimodal import media_features, resize_images

    imgs = _media_df(spark, sf_dir, "image")
    resized = resize_images(imgs, 8, 8)
    feats = media_features(resized.select("media_id", "payload"))
    return feats.select(
        "media_id",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("features", 16).cast("double"), 6).alias("f15"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double"))
            / F.size("features"),
            6,
        ).alias("feat_mean"),
    ).orderBy("media_id")


def _meta_payload(i: int) -> bytes:
    """Format-triage fixture: cycles all six header-parseable codecs
    (ppm / pgm / bmp / jpeg / png / gif, with some jpegs progressive
    and varied png color types) at per-row dimensions, so the
    magic-byte dispatch and every header walk (JPEG SOF, PNG IHDR,
    GIF logical screen — r8 verdict item 4 + r9 extensions) are
    exercised at every sf."""
    from fegis_spark.operators.multimodal import (
        make_bmp,
        make_gif,
        make_jpeg,
        make_pgm,
        make_png,
        make_ppm,
    )

    w, h = 16 + (i % 5), 12 + (i % 3)
    k = i % 6
    if k == 0:
        return make_ppm(w, h, seed=i)
    if k == 1:
        return make_pgm(w, h, seed=i)
    if k == 2:
        return make_bmp(w, h, seed=i)
    if k == 3:
        return make_jpeg(w, h, n_components=3, seed=i, progressive=(i % 12 == 3))
    if k == 4:
        return make_png(w, h, color_type=(2 if i % 12 == 4 else 6), seed=i)
    return make_gif(w, h, seed=i)


def _metadata_oracle() -> str:
    """Sequential reference for media_image_metadata: the same pure
    image_header parser over the same fixture bytes, run in-order on
    the driver — all-integer/string outputs, no float transit needed."""
    from fegis_spark.operators.multimodal import image_header

    rows = []
    for i in range(_N_MEDIA):
        payload = _meta_payload(i)
        fmt, w, h, nc = image_header(payload)
        rows.append((i, fmt, w, h, nc, len(payload)))
    return _values_sql(
        ["media_id", "format", "width", "height", "n_components", "payload_bytes"],
        rows,
    )


@register(
    "media_image_metadata",
    oracle=_metadata_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] image format triage WITHOUT pixel decode: magic-byte
    dispatch to header parsers (PNM grammar, BMP DIB, JPEG SOF-marker
    walk, PNG IHDR, GIF logical screen — the dependency-free upgrade
    of the r8 JPEG NotImplementedError SWAP POINT) inside one
    mapInPandas pass. The routing projection a crawl pipeline runs on
    every image byte stream before deciding decode/resize/drop."""
    from fegis_spark.operators.multimodal import MEDIA_SCHEMA, image_metadata

    rows = [
        (i, "image", _meta_payload(i), {"mime": None, "width": None, "height": None, "duration_ms": None})
        for i in range(_N_MEDIA)
    ]
    imgs = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return image_metadata(imgs).select(
        "media_id",
        "format",
        "width",
        "height",
        "n_components",
        "payload_bytes",
    ).orderBy("media_id")


@register(
    "media_frame_sample",
    oracle=_frames_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] video frame sampling plumbing: payload → n per-frame rows
    exploded inside the Arrow batch (no driver round-trip), then a
    rollup proving the expected fan-out and distinct frame bytes."""
    from fegis_spark.operators.multimodal import video_frame_sample

    vids = _media_df(spark, sf_dir, "image")  # payload bytes are opaque to the sampler
    frames = video_frame_sample(vids, n_frames=3)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.countDistinct("frame_payload").alias("n_distinct_frames"),
        )
        .orderBy("media_id")
    )


def _video_payload(i: int) -> bytes:
    from fegis_spark.operators.multimodal import make_avi_mjpeg

    # per-id frame counts vary so the even-spacing sampler is
    # exercised; every third clip carries DRI/RSTn restart-coded
    # frames (r12, r11 verdict #7 — the multi-frame AVI walk composed
    # with per-frame restart boundaries, both under the same
    # sequential-reference oracle)
    return make_avi_mjpeg(
        16, 12, n_frames=4 + (i % 5), seed=i,
        restart_interval=2 if i % 3 == 1 else 0,
    )


def _video_df(spark: SparkSession, sf_dir: str):
    from fegis_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [
        (
            i,
            "video",
            _video_payload(i),
            {"mime": "video/x-msvideo", "width": 16, "height": 12,
             "duration_ms": None},
        )
        for i in range(_N_MEDIA)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _video_oracle() -> str:
    """Sequential reference for media_video_frames: the same RIFF walk
    + even-spaced sampling + baseline-JPEG decode, exact-integer pixel
    sums — no floats anywhere in the output."""
    from fegis_spark.operators.multimodal import Codec

    codec = Codec()
    rows = []
    for i in range(_N_MEDIA):
        for idx, fr in enumerate(codec.frame_sample(_video_payload(i), 3)):
            img = codec.decode_image(fr)
            rows.append(
                (i, idx, int(img.sum()), int(img.size), len(fr))
            )
    return _values_sql(
        ["media_id", "frame_idx", "pixel_sum", "n_px", "frame_bytes"], rows
    )


@register(
    "media_video_frames",
    oracle=_video_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] REAL video frame extraction (r10): MJPEG-in-AVI payloads →
    RIFF container walk → 3 evenly-spaced frames per clip → baseline
    JPEG decode (operators/jpegcodec) → exact-integer pixel sums, all
    inside mapInPandas. Replaces the fake-codec fan-out contract with
    the full decode pipeline; output is integer-only (pixel_sum, n_px,
    frame_bytes), so the oracle is a driver-side sequential reference
    with no rounding surface at all."""
    from fegis_spark.operators.multimodal import Codec, video_frame_sample

    frames = video_frame_sample(_video_df(spark, sf_dir), n_frames=3)

    import pandas as pd
    from collections.abc import Iterator

    codec = Codec()

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "frame_idx", "pixel_sum", "n_px", "frame_bytes"]
        for pdf in batches:
            rows = []
            for mid, idx, fr in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame_payload"]
            ):
                img = codec.decode_image(bytes(fr))
                rows.append((mid, idx, int(img.sum()), int(img.size), len(fr)))
            yield pd.DataFrame(rows, columns=cols)

    return frames.mapInPandas(
        op,
        "media_id long, frame_idx int, pixel_sum bigint, n_px bigint, "
        "frame_bytes bigint",
    )


def _spectrum_oracle() -> str:
    """Sequential reference for media_audio_spectrum: same decoder +
    same numpy rfft feature function, integer-only outputs."""
    from fegis_spark.operators.multimodal import (
        audio_spectrum_features,
        decode_wav,
    )

    rows = []
    for i in range(_N_MEDIA):
        samples, sr = decode_wav(_audio_payload(i))
        ft = audio_spectrum_features(samples, sr)
        rows.append(
            (i, sr, ft["n_fft"], ft["dominant_bin"],
             ft["dominant_hz_micro"], ft["centroid_hz_micro"])
        )
    return _values_sql(
        ["media_id", "sample_rate", "n_fft", "dominant_bin",
         "dominant_hz_micro", "centroid_hz_micro"],
        rows,
    )


@register(
    "media_audio_spectrum",
    oracle=_spectrum_oracle(),
    covers=("[EXT]-multimodal",),
)
def media_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] real audio FEATURE extraction (r10): PCM16 WAV → rfft
    magnitude spectrum → dominant bin / dominant frequency / spectral
    centroid, micro-quantized to integers inside the same Python
    function both the distributed mapInPandas pass and the sequential
    oracle reference call — the audio counterpart of the image decode
    pipeline, with zero rounding surface in the output."""
    from fegis_spark.operators.multimodal import audio_spectrum

    return audio_spectrum(_media_df(spark, sf_dir, "audio"))
