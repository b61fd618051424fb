"""Multimodal column handling: opaque binary payloads + typed metadata.

Metadata extraction is REAL: container headers (PNG IHDR, JPEG SOF,
GIF block walk, WAV fmt/data chunks, MP4 box tree) are parsed from the
raw bytes by ``functions.media_codec`` — stdlib-only, no PIL/ffmpeg.
Pixel/sample kernels are REAL for everything stdlib can decode. Every
image format is a decode/encode pair in ``media_codec``, and its
``resize_*_nearest`` kernel runs decode → `resample_nearest` → encode:
24-bit BMP, 8-bit truecolor PNG — a genuinely COMPRESSED container —
via stdlib zlib inflate + per-scanline unfilter (sequential or Adam7),
GIF via a real LZW codec, baseline and PROGRESSIVE (SOF2) JPEG via a
real entropy decoder (Huffman + dequant + IDCT + pinned integer
YCbCr→RGB, 4:2:0 subsampling, restart markers, DC+AC first/refinement
scans), and TIFF in either byte order. Each pipeline shape is written
once over those pairs: `resize_blobs(df, kernel, w, h)`,
`pixel_stats(df, decode)`, and the `_fixture` frame behind every
``synthetic_*_media`` builder. WAV PCM16 sample statistics are
`pcm_features`. Only model inference (and codecs genuinely outside a
from-scratch scope: MP4 video frames) remains behind a clearly-marked
deterministic stub.

Design for 100 TB of media:
- media rows stay (id, media_type, blob BINARY, meta STRUCT); blobs
  never shuffle — extraction projects small typed columns first.
- mapInPandas streams Arrow batches, so peak executor memory is
  one batch of blobs, not one partition of decoded frames.
- a blob the sniffer can't claim yields NULL metadata, not an
  exception: at scale, corrupt files are data to audit, not crashes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unitdb_spark.functions import media_codec as mc
from unitdb_spark.functions.media_codec import parse_media
from unitdb_spark.operators.skew import fan_out

MEDIA_META_SCHEMA = (
    "id long, media_type string, container string, n_bytes long, "
    "width int, height int, n_frames int, sample_rate int, duration_s double"
)


def extract_media_meta(df: DataFrame) -> DataFrame:
    """(id, media_type, blob) -> one typed metadata row per blob, with
    the metadata parsed from the blob's REAL container header (see
    functions.media_codec): container sniffed from magic bytes, then
    width/height (PNG/JPEG/GIF/MP4), frame count (GIF descriptors,
    MP4 stsz), sample rate + duration (WAV fmt/data, MP4 mvhd).
    Unparseable blobs keep their row with NULL metadata.

    Arrow-batched mapInPandas: each batch decodes independently, blobs
    are dropped from the output immediately (never carried through a
    shuffle).
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [parse_media(b) for b in pdf["blob"]]
            out = pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "media_type": pdf["media_type"].values,
                    # object dtype end-to-end: None must reach Spark as
                    # NULL (a float column would smuggle NaN instead)
                    **{
                        k: pd.Series([m[k] for m in metas], dtype=object)
                        for k in (
                            "container", "width", "height",
                            "n_frames", "sample_rate", "duration_s",
                        )
                    },
                }
            )
            out.insert(
                2, "n_bytes",
                [len(bytes(b)) if b is not None else 0 for b in pdf["blob"]],
            )
            yield out[
                ["id", "media_type", "container", "n_bytes", "width",
                 "height", "n_frames", "sample_rate", "duration_s"]
            ]

    return df.select("id", "media_type", "blob").mapInPandas(_extract, MEDIA_META_SCHEMA)


def _media_ids(documents: DataFrame) -> DataFrame:
    """doc_id relation for the fixture builders, fanned out to the
    session's parallelism BEFORE the expensive per-blob kernel: the
    documents table is small enough to arrive as 1-2 parquet splits
    (5.9 MB even at sf1), and without this every per-blob
    encode/decode stage runs on 1-2 of the 32 cores — the round-9
    sweep found media_flac_pcm spending 18 of its 19.8 s at sf1
    single-threaded. Shuffling a bare id column is ~free; the blob
    work then scales with the cluster, which is the property that
    matters at real media-table sizes. An input that already has
    enough splits is left as it is (`skew.fan_out`)."""
    return fan_out(documents.select("doc_id"))


def _fixture(documents: DataFrame, make_blob, media_type="image") -> DataFrame:
    """(id, media_type, blob) fixture over the documents table: one row
    per doc_id holding ``make_blob(doc_id)``, built in one Arrow-batched
    mapInPandas after the `_media_ids` fan-out. ``media_type`` is the
    rows' media_type, or a function of doc_id for the mixed-container
    fixtures."""
    kind = media_type if callable(media_type) else lambda d: media_type

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "media_type": pd.Series([kind(d) for d in ids], dtype=object),
                    "blob": pd.Series([make_blob(d) for d in ids], dtype=object),
                }
            )

    return _media_ids(documents).mapInPandas(
        _build, "id long, media_type string, blob binary"
    )


def _pixels(w: int, h: int, channels, block: int = 1):
    """Closed-form (h·block, w·block, c) uint8 image: channel k of cell
    (x, y) is ``channels(X, Y)[k] % 256`` over the cell index grids X,
    Y, and every cell is a constant block×block square — the shape
    every image fixture's pixel formula takes."""
    X, Y = np.meshgrid(np.arange(w), np.arange(h))
    arr = (np.stack(channels(X, Y), axis=-1) % 256).astype(np.uint8)
    return arr.repeat(block, axis=0).repeat(block, axis=1)


def synthetic_media(documents: DataFrame) -> DataFrame:
    """Deterministic media fixture over the driver's documents table:
    every doc becomes a REAL container blob (media_codec builders) whose
    parameters are closed-form in doc_id — so an SQL oracle can predict
    the parsed metadata exactly, and a hash-match on
    ``extract_media_meta(synthetic_media(docs))`` proves the header
    parser actually inverts the container layout (if the parser read
    the wrong bytes, nothing would line up).

    Cycle by doc_id % 5: PNG, JPEG, GIF (animated), WAV, MP4.
    """

    def make_blob(d: int) -> bytes:
        t = d % 5
        if t == 0:
            return mc.build_png(d % 640 + 16, (d // 7) % 480 + 16, d % 64)
        if t == 1:
            return mc.build_jpeg(d % 320 + 16, (d // 5) % 240 + 16, d % 32)
        if t == 2:
            return mc.build_gif(d % 256 + 16, (d // 3) % 128 + 16, d % 4 + 1)
        if t == 3:
            return mc.build_wav([8000, 16000, 44100][d % 3], d % 4000 + 100)
        return mc.build_mp4(
            d % 1280 + 16, (d // 9) % 720 + 16, d % 60000 + 500, d % 300 + 1
        )

    kinds = ("image", "image", "image", "audio", "video")
    return _fixture(documents, make_blob, lambda d: kinds[d % 5])


def synthetic_media_ext(documents: DataFrame) -> DataFrame:
    """Second-wave container fixture: BMP, TIFF (both byte orders) and
    MP3 — same closed-form-parameters contract as ``synthetic_media``
    so the oracle predicts every parsed field, exercising the extended
    parsers (BMP info header, TIFF IFD walk in either endianness, MP3
    frame walk over an ID3v2 skip).

    Cycle by doc_id % 5: BMP, TIFF-LE, TIFF-BE, MP3, FLAC.
    """

    def make_blob(d: int) -> bytes:
        t = d % 5
        if t == 0:
            return mc.build_bmp(d % 512 + 8, (d // 5) % 256 + 8, d % 200)
        if t == 1:
            return mc.build_tiff(
                d % 1024 + 8, (d // 3) % 512 + 8, little_endian=True
            )
        if t == 2:
            return mc.build_tiff(
                d % 300 + 8, (d // 7) % 200 + 8, little_endian=False
            )
        if t == 3:
            return mc.build_mp3(
                [44100, 48000, 32000][d % 3], d % 50 + 1, id3_len=d % 100
            )
        return mc.build_flac(
            [8000, 22050, 44100][d % 3], d * 997 % 100000 + 1000,
            frame_len=d % 300,
        )

    return _fixture(
        documents, make_blob, lambda d: "audio" if d % 5 >= 3 else "image"
    )


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to decode
    (id, frame_idx) — generated JVM-side with sequence/explode, so the
    decode stage can repartition by id and stream frames without ever
    materializing a whole video's frames in one task."""
    meta = df
    return meta.filter(F.col("media_type") == "video").select(
        "id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def audio_chunk_plan(df: DataFrame, chunk_s: float = 30.0) -> DataFrame:
    """Audio chunking *plan* (the audio analog of frame_sample_plan):
    one output row per fixed-length window to decode/transcribe —
    (id, chunk_idx, start_s, end_s) from the typed metadata, generated
    JVM-side with sequence/explode. The decode/ASR stage repartitions
    by id and streams windows; no task ever materializes a whole
    recording."""
    # NULL duration (a real decoder that failed to extract it) must
    # DROP the row, not fabricate a window: greatest() skips NULLs, so
    # guard explicitly — sequence(0, NULL) is NULL and explode drops it
    # (same behavior as frame_sample_plan on NULL n_frames)
    n_chunks = F.when(
        F.col("duration_s").isNotNull(),
        F.greatest(
            F.ceil(F.col("duration_s") / F.lit(float(chunk_s))).cast("int"),
            F.lit(1),
        ),
    )
    return (
        df.filter(F.col("media_type") == "audio")
        .select(
            "id",
            "duration_s",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "id",
            "chunk_idx",
            (F.col("chunk_idx") * chunk_s).alias("start_s"),
            F.least(
                (F.col("chunk_idx") + 1) * chunk_s, F.col("duration_s")
            ).alias("end_s"),
        )
    )


def resize_images(
    df: DataFrame, width: int = 224, height: int = 224, decode_stub: bool = True
) -> DataFrame:
    """(id, media_type, blob) -> (id, width, height, blob) with image
    blobs resized to (width, height).

    Arrow-batched mapInPandas; output blob size is bounded by the
    target dims so the stage's memory and shuffle footprint is fixed
    regardless of input blob size — the property that matters when the
    input is 100 TB of mixed-size images. The stub "resize" is a
    deterministic byte resample (stride/repeat to width*height bytes);
    a real implementation replaces only ``_resample``.
    """
    if not decode_stub:
        # the REAL pixel path: magic-byte dispatch to the per-container
        # kernels (BMP24 / PNG inflate+unfilter / GIF LZW / baseline+
        # progressive JPEG / TIFF) in one Arrow-batched pass; output
        # schema additionally carries the sniffed input `container`
        # (NULL container/blob for unclaimed formats — the
        # honest-failure contract). Closed round 9 — was a
        # NotImplementedError stub.
        return resize_mixed_images(df, width, height)
    target = width * height

    def _resample(b: bytes) -> bytes:
        if not b:
            return bytes(target)
        if len(b) >= target:
            stride = len(b) // target
            return bytes(b[i * stride] for i in range(target))
        reps = target // len(b) + 1
        return (b * reps)[:target]

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf["media_type"] == "image"
            sub = pdf[mask]
            yield pd.DataFrame(
                {
                    "id": sub["id"].values,
                    "width": width,
                    "height": height,
                    "blob": [_resample(bytes(b)) for b in sub["blob"]],
                }
            )

    return df.select("id", "media_type", "blob").mapInPandas(
        _resize, "id long, width int, height int, blob binary"
    )


def _decode_rgb_any(bb: bytes):
    """Magic-byte dispatch to the repo's REAL per-container pixel
    decoders, normalized to an (h, w, 3) uint8 RGB array (BMP decodes
    BGR and is flipped here); None for unclaimed/undecodable blobs."""
    from unitdb_spark.functions.media_codec import (
        decode_bmp24,
        decode_gif_rgb,
        decode_jpeg_any_rgb,
        decode_png_rgb_any,
        decode_tiff_rgb,
    )

    c = sniff_container(bb)
    if c == "bmp":
        a = decode_bmp24(bb)
        return a[..., ::-1] if a is not None else None
    if c == "png":
        return decode_png_rgb_any(bb)
    if c == "gif":
        return decode_gif_rgb(bb)
    if c == "tiff":
        return decode_tiff_rgb(bb)
    if c == "jpeg":
        return decode_jpeg_any_rgb(bb)
    return None


def image_classical_features(df: DataFrame, gray_bins: int = 16) -> DataFrame:
    """(id, media_type, blob) -> (id, container, n_pixels, gray_hist,
    orient_hist): REAL pixel decode (magic-byte dispatch over the
    per-container kernels), then fully INTEGER classical image
    features, so a SQL oracle can replicate them exactly over
    closed-form fixtures:

    - integer luma  y = (77*R + 150*G + 29*B) >> 8   (BT.601-flavor
      fixed-point, pinned — no float anywhere);
    - ``gray_bins``-bin luma histogram (counts, bin = y div
      (256/gray_bins));
    - HOG-lite 8-octant orientation histogram over central
      differences on INTERIOR pixels: gx = y(x+1,y) - y(x-1,y),
      gy = y(x,y+1) - y(x,y-1), octant = 4*[gy<0] + 2*[gx<0] +
      [|gy|>|gx|] (pure integer comparisons — no atan2), weighted by
      the L1 magnitude |gx| + |gy|.

    Undecodable blobs keep their row with NULL container/histograms
    (the honest-failure contract shared with resize_mixed_images).

    Scale: Arrow-batched mapInPandas, one row out per blob (never
    pixels); the numpy kernel is vectorized over each image.
    """
    if 256 % gray_bins:
        raise ValueError("image_classical_features: gray_bins must divide 256")

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                bb = bytes(b) if b is not None else b""
                rgb = _decode_rgb_any(bb)
                if rgb is None:
                    rows.append((int(i), None, None, None, None))
                    continue
                r = rgb[..., 0].astype(np.int64)
                g = rgb[..., 1].astype(np.int64)
                bl = rgb[..., 2].astype(np.int64)
                y = (77 * r + 150 * g + 29 * bl) >> 8
                gray = np.bincount(
                    y.ravel() // (256 // gray_bins), minlength=gray_bins
                ).astype(np.int64)
                h, w = y.shape
                orient = np.zeros(8, dtype=np.int64)
                if h >= 3 and w >= 3:
                    gx = (y[1:-1, 2:] - y[1:-1, :-2]).ravel()
                    gy = (y[2:, 1:-1] - y[:-2, 1:-1]).ravel()
                    octant = (
                        4 * (gy < 0) + 2 * (gx < 0) + (np.abs(gy) > np.abs(gx))
                    )
                    orient = np.bincount(
                        octant, weights=np.abs(gx) + np.abs(gy), minlength=8
                    ).astype(np.int64)
                rows.append(
                    (
                        int(i),
                        sniff_container(bb),
                        int(y.size),
                        gray.tolist(),
                        orient.tolist(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "container", "n_pixels", "gray_hist", "orient_hist"],
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, container string, n_pixels long, "
        "gray_hist array<long>, orient_hist array<long>",
    )


def extract_features(
    df: DataFrame, dim: int = 64, decode_stub: bool = True
) -> DataFrame:
    """(id, media_type, blob) -> (id, feature array<float>) embedding
    extraction — the bridge from raw media to the similarity-search
    operators (operators.similarity).

    The stub features are a deterministic byte-histogram projection
    (numpy, vectorized per Arrow batch) so downstream ANN plumbing is
    exercised end-to-end; ``decode_stub=False`` switches to the REAL
    pixel path: magic-byte decode and a ``dim``-bin integer-luma
    histogram, L2-normalized (classical features — no model weights;
    closed round 9, was a NotImplementedError stub). A real model
    inference would replace only ``_featurize`` (same signature: one
    Arrow batch in, one out — which is also exactly the batch shape a
    GPU inference stage wants).
    """
    if not decode_stub:

        def _featurize_real(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import numpy as np

            for pdf in batches:
                feats = []
                for b in pdf["blob"]:
                    rgb = _decode_rgb_any(bytes(b) if b is not None else b"")
                    if rgb is None:
                        feats.append(None)
                        continue
                    r = rgb[..., 0].astype(np.int64)
                    g = rgb[..., 1].astype(np.int64)
                    bl = rgb[..., 2].astype(np.int64)
                    luma = (77 * r + 150 * g + 29 * bl) >> 8
                    hist = np.bincount(
                        (luma.ravel() * dim) >> 8, minlength=dim
                    ).astype(np.float32)
                    norm = float(np.linalg.norm(hist))
                    feats.append((hist / norm if norm else hist).tolist())
                yield pd.DataFrame(
                    {"id": pdf["id"].values, "feature": feats}
                )

        return df.select("id", "blob").mapInPandas(
            _featurize_real, "id long, feature array<float>"
        )

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for b in pdf["blob"]:
                a = np.frombuffer(bytes(b), dtype=np.uint8)
                if a.size == 0:
                    feats.append(np.zeros(dim, dtype=np.float32).tolist())
                    continue
                hist = np.bincount(a % dim, minlength=dim).astype(np.float32)
                norm = float(np.linalg.norm(hist))
                feats.append((hist / norm if norm else hist).tolist())
            yield pd.DataFrame({"id": pdf["id"].values, "feature": feats})

    return df.select("id", "blob").mapInPandas(
        _featurize, "id long, feature array<float>"
    )


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter for TESTDATA: treat document text bytes as opaque blobs
    (id, media_type cycling image/audio/video, blob). These are NOT
    valid containers — extract_media_meta yields NULL metadata for them
    (the honest-failure path); use ``synthetic_media`` for blobs with
    real parseable headers. Still the fixture for the stub resize/
    feature kernels, which operate on raw bytes."""
    return df.select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("blob"),
    )


# ----------------------------------------- real pixel/sample kernels
#
# These kernels do the actual work on the actual bytes of every image
# container (decode, true nearest-neighbor resample, re-encode) and of
# WAV/FLAC PCM16 samples (energy, RMS, zero-crossings). The
# `decode_stub` paths above are only the byte-level defaults of
# `resize_images`/`extract_features`; no image format needs them (JPEG
# included) — only MP4 video frames would need a decode library.


def synthetic_bmp_media(
    documents: DataFrame, seed_mod: int | None = None
) -> DataFrame:
    """Real-pixel BMP fixture: every doc becomes a VALID 24-bit BMP
    whose dimensions AND every pixel are closed-form in doc_id —
    pixel (x, y) holds BGR = ((s + 3x + 7y) % 256,
    (2s + 5x + 11y) % 256, (3s + x + 13y) % 256) with s = doc_id % 251
    — so an SQL oracle can predict any derived pixel statistic, and a
    hash-match proves the decode→resample→encode path touches the
    right bytes.

    ``seed_mod`` switches to the DUPLICATE-CLASS variant (fixed 16×16
    dims, s = doc_id % seed_mod): docs sharing a residue class carry
    byte-identical images — the planted ground truth for perceptual
    dedup. This variant uses a NONLINEAR pixel pattern
    (channel = (s+k)·(x+a)·(y+b) mod 256): a linear gradient
    thresholds at its mean into nearly the same bit pattern for every
    seed (the average-hash would then match everything to
    everything), while the products make different seeds genuinely
    different images."""

    def make_blob(d: int) -> bytes:
        if seed_mod is not None:
            s = d % seed_mod
            return mc.encode_bmp24(_pixels(16, 16, lambda X, Y: (
                (s + 1) * (X + 1) * (Y + 3),
                (s + 2) * (X + 3) * (Y + 1) + 5 * X,
                (s + 3) * (X + 2) * (Y + 2) + 11 * Y,
            )))
        s = d % 251
        return mc.encode_bmp24(_pixels(d % 24 + 4, (d // 3) % 20 + 4, lambda X, Y: (
            s + 3 * X + 7 * Y, 2 * s + 5 * X + 11 * Y, 3 * s + X + 13 * Y,
        )))

    return _fixture(documents, make_blob)


def resize_blobs(df: DataFrame, kernel, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize of the blob column through a
    ``media_codec`` kernel ``kernel(blob, width, height)`` — one
    decode → `resample_nearest` → encode pair per image format:
    `resize_bmp24_nearest`, `resize_png_nearest`,
    `resize_png_adam7_nearest` (re-encodes as Adam7),
    `resize_gif_nearest` (index space, palette kept),
    `resize_jpeg_nearest_png` / `resize_jpeg_any_nearest_png`
    (baseline / progressive JPEG, re-encoded LOSSLESSLY as PNG — a real
    pipeline never re-JPEGs intermediates), `resize_tiff_nearest`
    (input byte order kept). NULL blobs, blobs the kernel's decoder
    doesn't claim, and non-positive target dims keep their row with a
    NULL blob — the honest-failure contract.

    Output blob size is bounded by the target dims regardless of input
    size — the fixed-footprint property that matters at 100 TB."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                kernel(bytes(b), width, height) if b is not None else None
                for b in pdf["blob"]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "width": width,
                    "height": height,
                    "blob": pd.Series(out, dtype=object),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _resize, "id long, width int, height int, blob binary"
    )


def _px_stats(arr) -> tuple:
    """(width, height, px_sum, px_wsum) of one decoded image: the plain
    channel-value sum and the position-weighted checksum sum(v · p)
    over the flattened top-down array (p = 1-based position) —
    order-sensitive, so a flipped, transposed, or channel-swapped
    decode cannot hash-match. All None when ``arr`` is None (an
    undecodable blob)."""
    if arr is None:
        return (None,) * 4
    flat = arr.reshape(-1).astype(np.int64)
    return (
        int(arr.shape[1]),
        int(arr.shape[0]),
        int(flat.sum()),
        int((flat * (np.arange(flat.size) + 1)).sum()),
    )


def _px_stats_frame(ids, stats: list[tuple]) -> pd.DataFrame:
    out = pd.DataFrame(
        stats, columns=["width", "height", "px_sum", "px_wsum"], dtype=object
    )
    out.insert(0, "id", pd.array(ids, dtype="int64"))
    return out


def pixel_stats(df: DataFrame, decode) -> DataFrame:
    """Integer-exact pixel statistics (`_px_stats`) of every blob as
    decoded by ``decode``, a REAL ``media_codec`` decoder:
    `decode_bmp24` (stored BGR order), `decode_png_rgb` (inflate +
    unfilter), `decode_png_rgb_any` (either interlace method),
    `decode_gif_rgb` (LZW + palette mapping) or `decode_tiff_rgb`.
    NULL stats for NULL or undecodable blobs."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _px_stats_frame(
                pdf["id"].values,
                [
                    _px_stats(decode(bytes(b)) if b is not None else None)
                    for b in pdf["blob"]
                ],
            )

    return df.select("id", "blob").mapInPandas(
        _stats, "id long, width int, height int, px_sum long, px_wsum long"
    )


def pcm_features(df: DataFrame) -> DataFrame:
    """REAL audio features from WAV PCM16 sample decode: per blob the
    sample rate, sample count, integer energy (sum of squared
    samples), strict zero-crossing count (v[i-1]·v[i] < 0), min/max
    sample, and rms_r = round(sqrt(energy / n), 6) — one pinned float
    expression, everything else exact BIGINT, so an SQL oracle that
    regenerates the samples matches bitwise. NULL features for blobs
    that aren't mono PCM16 WAV — the stub `extract_features` remains
    the path for formats that genuinely need a model/decoder."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        from unitdb_spark.functions.media_codec import decode_wav_pcm16

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                dec = decode_wav_pcm16(bytes(b)) if b is not None else None
                if dec is None or len(dec[1]) == 0:
                    rows.append((int(i),) + (None,) * 6 + (None,))
                    continue
                sr, s = dec
                v = s.astype(np.int64)
                energy = int((v * v).sum())
                zc = int(((v[:-1] * v[1:]) < 0).sum()) if v.size > 1 else 0
                # same pinned expression as the SQL replay:
                # round(sqrt(double(energy) / double(n)), 6) — convert
                # each operand to double BEFORE dividing (int/int true
                # division would round once instead of twice and
                # diverge from SQL past 2^53) — half-up on the
                # shortest repr like Spark's round()
                from decimal import ROUND_HALF_UP, Decimal

                rms = float(
                    Decimal(
                        repr(math.sqrt(float(energy) / float(v.size)))
                    ).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                )
                rows.append(
                    (int(i), sr, int(v.size), energy, zc,
                     int(v.min()), int(v.max()), rms)
                )
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    "sample_rate": pd.Series([r[1] for r in rows], dtype=object),
                    "n_samples": pd.Series([r[2] for r in rows], dtype=object),
                    "energy": pd.Series([r[3] for r in rows], dtype=object),
                    "zero_crossings": pd.Series([r[4] for r in rows], dtype=object),
                    "v_min": pd.Series([r[5] for r in rows], dtype=object),
                    "v_max": pd.Series([r[6] for r in rows], dtype=object),
                    "rms_r": pd.Series([r[7] for r in rows], dtype=object),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, sample_rate int, n_samples long, energy long, "
        "zero_crossings long, v_min long, v_max long, rms_r double",
    )


def pcm_frame_features(df: DataFrame, frame: int = 256) -> DataFrame:
    """REAL windowed audio features from WAV PCM16 decode — the
    voice-activity/silence-detection primitive `pcm_features` (whole
    blob) cannot express: the samples are cut into fixed ``frame``-
    sample frames and each frame is reduced to exact integers —
    sample count, energy (Σv²), strict zero crossings (v[j-1]·v[j]<0
    attributed to the frame of j, so boundary crossings count exactly
    once corpus-wide), peak |v| — plus rms_r via the family's pinned
    round(sqrt(double/double), 6) finish. Blobs that aren't mono
    PCM16 WAV produce no rows (frame relation, not a per-doc one).

    Scale: the decode is Arrow-batched mapInPandas, embarrassingly
    partition-parallel; the per-frame reduction happens inside the
    batch (numpy reshape), so the exploded frame relation — the only
    output — is ~n_samples/frame rows per blob, never raw samples.
    """

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        from unitdb_spark.functions.media_codec import decode_wav_pcm16

        for pdf in batches:
            ids, fidx, ns, en, zcs, pks, rms = [], [], [], [], [], [], []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                dec = decode_wav_pcm16(bytes(b)) if b is not None else None
                if dec is None or len(dec[1]) == 0:
                    continue
                _, s = dec
                v = s.astype(np.int64)
                n = v.size
                nf = (n + frame - 1) // frame
                cross = np.zeros(n, dtype=np.int64)
                if n > 1:
                    cross[1:] = (v[:-1] * v[1:]) < 0
                for f in range(nf):
                    seg = v[f * frame:(f + 1) * frame]
                    e = int((seg * seg).sum())
                    ids.append(int(i))
                    fidx.append(f)
                    ns.append(int(seg.size))
                    en.append(e)
                    zcs.append(int(cross[f * frame:(f + 1) * frame].sum()))
                    pks.append(int(np.abs(seg).max()))
                    rms.append(
                        float(
                            Decimal(
                                repr(math.sqrt(float(e) / float(seg.size)))
                            ).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                        )
                    )
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(fidx, dtype="int64"),
                    "n": pd.array(ns, dtype="int64"),
                    "energy": pd.array(en, dtype="int64"),
                    "zero_crossings": pd.array(zcs, dtype="int64"),
                    "peak": pd.array(pks, dtype="int64"),
                    "rms_r": pd.array(rms, dtype="float64"),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, frame_idx long, n long, energy long, "
        "zero_crossings long, peak long, rms_r double",
    )


def bmp_ahash_chunks(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash from REAL BMP pixels: nearest-neighbor
    resample to grid×grid (integer index math), integer grayscale
    (b+g+r)//3, threshold strictly above the floor mean — 64 bits,
    emitted as four 16-bit chunks (the pigeonhole banding unit
    `ahash_pairs` joins on, and small positive ints that never touch
    the signed-64 edge). NULL chunks for undecodable blobs.

    Everything is integer arithmetic on closed-form-checkable pixels,
    so a SQL oracle replays the hash bit for bit — unlike library
    pHashes whose DCT floats are engine-specific."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << (15 - np.arange(16, dtype=np.int64))
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["id"].values, pdf["blob"]):
                arr = mc.decode_bmp24(bytes(blob)) if blob is not None else None
                if arr is None:
                    rows.append((int(i), None, None, None, None))
                    continue
                px = mc.resample_nearest(arr, grid, grid).astype(np.int64)
                gray = px.sum(axis=-1) // 3
                mean = int(gray.sum()) // (grid * grid)
                bits = (gray > mean).astype(np.int64).reshape(-1)
                cs = [
                    int((bits[16 * j : 16 * (j + 1)] * weights).sum())
                    for j in range(4)
                ]
                rows.append((int(i), *cs))
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    **{
                        f"c{j}": pd.Series(
                            [r[j + 1] for r in rows], dtype=object
                        )
                        for j in range(4)
                    },
                }
            )

    return df.select("id", "blob").mapInPandas(
        _hash, "id long, c0 long, c1 long, c2 long, c3 long"
    )


def ahash_pairs(hashes: DataFrame, max_distance: int = 3) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over the
    average-hash: the Manku '07 pigeonhole — any pair within distance
    ``max_distance`` ≤ 3 agrees EXACTLY on at least one of the four
    16-bit chunks — so candidates meet on (chunk_index, chunk_value)
    buckets, never all-pairs, and bit_count(xor) confirms exactly.
    Same candidate-join shape as `operators.dedup.simhash_pairs`, fed
    by pixels instead of text.

    Output: (id_a, id_b, hamming), hamming ≤ max_distance.

    The hash relation is cached — one narrow row per image (id + four
    16-bit chunks) — because it feeds FOUR consumers here (both
    candidate self-join sides and both confirm-join sides). When ``hashes`` is an expensive
    lineage (the per-blob codec decode in `bmp_ahash_chunks`), an
    uncached plan re-runs the whole decode per consumer (r13:
    media_dup_modularity re-ran the codec subtree 4+ times). The
    cache is not unpersisted (the result is lazy — same accumulation
    note as `graph.triangle_counts`).
    """
    if max_distance > 3:
        raise ValueError(
            "ahash_pairs: 4-chunk pigeonhole only covers distance <= 3"
        )
    h = hashes.filter(F.col("c0").isNotNull()).persist()
    melted = h.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), F.col(f"c{j}").alias("c"))
                for j in range(4)
            ])
        ).alias("kv"),
    ).select("id", "kv.j", "kv.c")
    a = melted.select(F.col("id").alias("id_a"), "j", "c")
    b = melted.select(F.col("id").alias("id_b"), "j", "c")
    cand = (
        a.join(b, ["j", "c"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = h.select(*[F.col(c).alias(f"{c}_a") for c in ("id", "c0", "c1", "c2", "c3")])
    hb = h.select(*[F.col(c).alias(f"{c}_b") for c in ("id", "c0", "c1", "c2", "c3")])
    dist = sum(
        F.bit_count(F.expr(f"c{j}_a ^ c{j}_b")) for j in range(4)
    )
    return (
        cand.join(ha, cand["id_a"] == ha["id_a"])
        .join(hb, cand["id_b"] == hb["id_b"])
        .select(cand["id_a"], cand["id_b"], dist.alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )


def _png_fixture_pixels(d: int):
    """(s, image) of the PNG fixtures — see `synthetic_png_media`."""
    s = d % 241
    return s, _pixels(d % 21 + 4, (d // 5) % 17 + 4, lambda X, Y: (
        s + 5 * X + 3 * Y, 2 * s + 7 * X + Y, 3 * s + 2 * X + 11 * Y,
    ))


def synthetic_png_media(documents: DataFrame) -> DataFrame:
    """Real-pixel PNG fixture — the COMPRESSED-container counterpart of
    `synthetic_bmp_media`: every doc becomes a VALID 8-bit truecolor
    PNG (zlib-deflated IDAT, real CRCs) whose dimensions AND every
    pixel are closed-form in doc_id — pixel (x, y) holds RGB =
    ((s + 5x + 3y) % 256, (2s + 7x + y) % 256, (3s + 2x + 11y) % 256)
    with s = doc_id % 241, sw = doc_id % 21 + 4, sh = (doc_id//5) % 17
    + 4 — so an SQL oracle can predict any derived pixel statistic.
    Each scanline is filtered with type (s + y) % 5, so a corpus
    exercises ALL five PNG filter reconstructions; a hash-match proves
    inflate + unfilter touch the right bytes."""

    def make_blob(d: int) -> bytes:
        s, arr = _png_fixture_pixels(d)
        return mc.encode_png_rgb(arr, [(s + y) % 5 for y in range(arr.shape[0])])

    return _fixture(documents, make_blob)


def synthetic_png7_media(documents: DataFrame) -> DataFrame:
    """Adam7-INTERLACED PNG fixture: the SAME closed-form pixels as
    `synthetic_png_media` (dims sw = d%21+4, sh = (d//5)%17+4, seed
    s = d%241, the same RGB formulas) packed through the interlaced
    writer — sequential scanline y (across the seven passes) filtered
    with type (s + y) % 5, so every pass exercises every filter. The
    pixel CONTENT is container-independent, which is the proof trick:
    the non-interlaced oracle matches bitwise iff the Adam7
    reconstruction scatters every pixel to its exact grid position."""

    def make_blob(d: int) -> bytes:
        s, arr = _png_fixture_pixels(d)
        n_lines = mc.adam7_scanline_count(arr.shape[1], arr.shape[0])
        return mc.encode_png_rgb_adam7(arr, [(s + y) % 5 for y in range(n_lines)])

    return _fixture(documents, make_blob)


def synthetic_agif_media(documents: DataFrame) -> DataFrame:
    """ANIMATED GIF fixture: every doc becomes a valid multi-frame
    GIF89a (NETSCAPE loop ext, per-frame GCE + REAL LZW data) whose
    frame count, dimensions, palette, and every frame's every index
    are closed-form in doc_id — frame f pixel (x, y) holds index
    (s + 5x + 3y + 11f) % 256 with s = doc_id % 241, sw = d % 13 + 4,
    sh = (d//5) % 11 + 4, nf = d % 7 + 2; palette entry p is RGB
    ((p + s) % 256, (2p + s) % 256, (3p + 2s) % 256). An SQL oracle
    predicts any sampled frame's statistics from doc_id alone."""

    def make_blob(d: int) -> bytes:
        sw, sh, s, nf = d % 13 + 4, (d // 5) % 11 + 4, d % 241, d % 7 + 2
        frames = [
            _pixels(sw, sh, lambda X, Y: (s + 5 * X + 3 * Y + 11 * f,))[..., 0]
            for f in range(nf)
        ]
        pal = [
            ((p + s) % 256, (2 * p + s) % 256, (3 * p + 2 * s) % 256)
            for p in range(256)
        ]
        return mc.encode_gif_animated(frames, pal)

    return _fixture(documents, make_blob, "video")


def gif_frame_stats(df: DataFrame, stride: int = 2) -> DataFrame:
    """REAL multi-frame decode + frame sampling — the video-pipeline
    primitive (decode, keep every ``stride``-th frame, reduce): each
    kept frame maps through the global palette to RGB and reduces to
    the family's order-sensitive integer statistics (`_px_stats`).
    Blobs outside `decode_gif_frames`' claim produce no rows.

    Scale: Arrow-batched mapInPandas; the emitted relation is
    ceil(frames/stride) rows per blob, never pixels.
    """

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                got = mc.decode_gif_frames(bytes(b)) if b is not None else None
                if got is None:
                    continue
                frames, pal = got
                for f in range(0, len(frames), stride):
                    rows.append(
                        (int(i), f, len(frames), *_px_stats(pal[frames[f]]))
                    )
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    "frame_idx": pd.array([r[1] for r in rows], dtype="int64"),
                    "n_frames": pd.array([r[2] for r in rows], dtype="int64"),
                    "width": pd.array([r[3] for r in rows], dtype="int64"),
                    "height": pd.array([r[4] for r in rows], dtype="int64"),
                    "px_sum": pd.array([r[5] for r in rows], dtype="int64"),
                    "px_wsum": pd.array([r[6] for r in rows], dtype="int64"),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _stats,
        "id long, frame_idx long, n_frames long, width long, "
        "height long, px_sum long, px_wsum long",
    )


def synthetic_gif_media(documents: DataFrame) -> DataFrame:
    """Real-pixel GIF fixture — the LZW counterpart of
    `synthetic_png_media`: every doc becomes a VALID single-image
    GIF87a (256-entry global color table, REAL LZW-compressed data)
    whose dimensions, every palette entry, and every index are
    closed-form in doc_id — index (x, y) = (s + 3x + 5y) % 256 with
    palette[i] = ((s + i) % 256, (2s + 3i) % 256, (3s + 7i) % 256),
    s = doc_id % 251, sw = doc_id % 19 + 4, sh = (doc_id // 7) % 15
    + 4 — so an SQL oracle can predict any derived pixel statistic.
    A hash-match proves the LZW decode (code-width growth, KwKwK
    chains), palette mapping, and row order are all byte-correct."""

    def make_blob(d: int) -> bytes:
        s = d % 251
        idx = _pixels(
            d % 19 + 4, (d // 7) % 15 + 4, lambda X, Y: (s + 3 * X + 5 * Y,)
        )[..., 0]
        pal = [
            ((s + i) % 256, (2 * s + 3 * i) % 256, (3 * s + 7 * i) % 256)
            for i in range(256)
        ]
        return mc.encode_gif_indexed(idx, pal)

    return _fixture(documents, make_blob)


def jpeg_fixture_pixels(d: int):
    """The JPEG fixtures' image for doc ``d`` — see
    `synthetic_jpeg_media`."""
    s = d % 241
    return _pixels(d % 3 + 2, (d // 5) % 3 + 2, lambda BX, BY: (
        s + 3 * BX + 5 * BY, 2 * s + 7 * BX + BY, 3 * s + BX + 11 * BY,
    ), block=8)


def synthetic_jpeg_media(documents: DataFrame) -> DataFrame:
    """Real-pixel baseline-JPEG fixture — the ENTROPY-CODED
    counterpart of `synthetic_png_media`: every doc becomes a VALID
    baseline JFIF (real FDCT, flat quant 8, Huffman-coded scan with
    byte stuffing) whose dimensions AND every decoded pixel are
    closed-form in doc_id. Pixels are CONSTANT per 8x8 block — a
    constant block carries only its DC coefficient 8·(v−128), which a
    flat quant of 8 stores exactly — so lossy-format decode is still
    bit-exact by construction and an SQL oracle can predict any
    derived statistic. Block (bx, by) holds YCbCr =
    ((s + 3bx + 5by) % 256, (2s + 7bx + by) % 256,
    (3s + bx + 11by) % 256) with s = doc_id % 241,
    sw = 8·(doc_id % 3 + 2), sh = 8·((doc_id//5) % 3 + 2)."""
    return _fixture(
        documents,
        lambda d: mc.encode_jpeg_baseline(jpeg_fixture_pixels(d), quant=8),
    )


def synthetic_jpeg_prog_media(documents: DataFrame) -> DataFrame:
    """PROGRESSIVE-JPEG fixture: the SAME closed-form block-constant
    pixels as `synthetic_jpeg_media` packed through the SOF2 encoder
    (DC first/refine + per-component AC first/refine scans — EOBs,
    ZRL, correction bits all in the stream). Pixel content is
    container-independent, so the baseline fixture's oracle matches
    bitwise iff every progressive scan reconstructs its exact
    coefficients — the Adam7-PNG proof trick, applied to entropy
    coding."""
    return _fixture(
        documents,
        lambda d: mc.encode_jpeg_progressive(jpeg_fixture_pixels(d), quant=8),
    )


def synthetic_jpeg420_media(documents: DataFrame) -> DataFrame:
    """4:2:0 baseline-JPEG fixture — the SUBSAMPLED counterpart of
    `synthetic_jpeg_media`, exercising the real-world MCU layout
    (four Y blocks + decimated chroma per 16x16 macroblock): pixels
    are CONSTANT per macroblock, so chroma decimation and the
    replication upsample are lossless and the DC-only/flat-quant-8
    exactness argument carries over — every decoded pixel stays
    closed-form in doc_id. Macroblock (mx, my) holds YCbCr =
    ((s + 7mx + 3my) % 256, (2s + mx + 5my) % 256,
    (3s + 4mx + my) % 256) with s = doc_id % 241,
    sw = 16·(doc_id % 2 + 1), sh = 16·((doc_id//7) % 2 + 1)."""

    def make_blob(d: int) -> bytes:
        s = d % 241
        arr = _pixels(d % 2 + 1, (d // 7) % 2 + 1, lambda MX, MY: (
            s + 7 * MX + 3 * MY, 2 * s + MX + 5 * MY, 3 * s + 4 * MX + MY,
        ), block=16)
        return mc.encode_jpeg_baseline(arr, quant=8, subsample="420")

    return _fixture(documents, make_blob)


def sniff_container(b: bytes) -> str | None:
    """Magic-byte container sniff — the dispatch key for mixed media
    columns (a real lake's `blob binary` column is never one format).
    Returns 'bmp' | 'png' | 'gif' | 'jpeg' | 'wav' | None; pure
    function so the mapInPandas kernels share it without a closure."""
    if b[:2] == b"BM":
        return "bmp"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    return None


def resize_mixed_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """ONE-pass mixed-container resize: sniff each blob's magic bytes
    and dispatch to the matching REAL pixel kernel (BMP24 / PNG
    inflate+unfilter / GIF LZW / baseline-JPEG entropy decode) inside
    a single Arrow-batched mapInPandas — no per-format scan, no
    per-format shuffle; at 100 TB a mixed media table is resized in
    one stage whose output size is bounded by the target dims.

    JPEG inputs re-encode LOSSLESSLY as PNG (the resize_jpeg_nearest_png
    contract: a real pipeline never re-JPEGs intermediates), so the
    output blob's container can differ from the input's — the emitted
    `container` column records the INPUT format. Unclaimed blobs keep
    their row with NULL container/blob (the honest-failure contract).
    """
    from unitdb_spark.functions.media_codec import (
        resize_bmp24_nearest,
        resize_gif_nearest,
        resize_jpeg_nearest_png,
        resize_png_nearest,
        resize_tiff_nearest,
    )

    kernels = {
        "bmp": resize_bmp24_nearest,
        "png": resize_png_nearest,
        "gif": resize_gif_nearest,
        "jpeg": resize_jpeg_nearest_png,
        "tiff": resize_tiff_nearest,
    }

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            conts, blobs = [], []
            for b in pdf["blob"]:
                bb = bytes(b) if b is not None else b""
                c = sniff_container(bb)
                k = kernels.get(c)
                out = k(bb, width, height) if k else None
                conts.append(c if out is not None else None)
                blobs.append(out)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "container": pd.Series(conts, dtype=object),
                    "width": width,
                    "height": height,
                    "blob": pd.Series(blobs, dtype=object),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _resize,
        "id long, container string, width int, height int, blob binary",
    )


def mixed_pixel_stats(df: DataFrame) -> DataFrame:
    """Integer-exact pixel statistics for a MIXED resized column:
    sniff the (resized) blob and decode with the matching kernel
    (BMP24 / PNG / GIF / TIFF — a resized JPEG is a PNG blob by the
    resize_mixed_images contract), then the same order-sensitive
    `_px_stats` as `pixel_stats`. The input's `container` column
    passes through so the report still says what each image WAS.
    NULL stats for undecodable blobs."""
    decoders = {
        "bmp": mc.decode_bmp24,
        "png": mc.decode_png_rgb,
        "gif": mc.decode_gif_rgb,
        "tiff": mc.decode_tiff_rgb,
    }

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = []
            for b in pdf["blob"]:
                bb = bytes(b) if b is not None else b""
                dec = decoders.get(sniff_container(bb))
                stats.append(_px_stats(dec(bb) if dec else None))
            out = _px_stats_frame(pdf["id"].values, stats)
            out.insert(1, "container", pd.Series(pdf["container"].values, dtype=object))
            yield out

    return df.select("id", "container", "blob").mapInPandas(
        _stats,
        "id long, container string, width int, height int, "
        "px_sum long, px_wsum long",
    )


def synthetic_tiff_media(documents: DataFrame) -> DataFrame:
    """Real-pixel TIFF fixture: every doc becomes a VALID baseline
    uncompressed RGB8 TIFF whose dimensions AND every pixel are
    closed-form in doc_id — pixel (x, y) holds RGB =
    ((s + 4x + 9y) % 256, (2s + 6x + 5y) % 256, (3s + 2x + 7y) % 256)
    with s = doc_id % 239, dims sw = d % 22 + 4, sh = (d//4) % 18 + 4
    — and the BYTE ORDER alternates by doc parity (even = II, odd =
    MM), so the decoder's endian handling is part of every oracle
    hash, not just a unit test."""

    def make_blob(d: int) -> bytes:
        s = d % 239
        arr = _pixels(d % 22 + 4, (d // 4) % 18 + 4, lambda X, Y: (
            s + 4 * X + 9 * Y, 2 * s + 6 * X + 5 * Y, 3 * s + 2 * X + 7 * Y,
        ))
        return mc.encode_tiff_rgb(arr, little_endian=d % 2 == 0)

    return _fixture(documents, make_blob)


def decimate_wav(df: DataFrame, factor: int) -> DataFrame:
    """REAL audio decimation over a WAV PCM16 column: every
    ``factor``-th sample kept, rate divided, re-encoded — the audio
    counterpart of the image resize kernels (output size bounded by
    input/factor). Unclaimed blobs keep their row with a NULL blob.
    Arrow-batched mapInPandas, one pass."""
    from unitdb_spark.functions.media_codec import decimate_wav_pcm16

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                decimate_wav_pcm16(bytes(b), factor)
                if b is not None
                else None
                for b in pdf["blob"]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "blob": pd.Series(out, dtype=object),
                }
            )

    return df.select("id", "blob").mapInPandas(_dec, "id long, blob binary")


def mulaw_roundtrip_features(df: DataFrame) -> DataFrame:
    """REAL telephony-codec pass: WAV PCM16 samples compressed to
    G.711 mu-law (8 bits/sample) and expanded back, reduced to exact
    integer fidelity statistics — decoded-signal energy, worst and
    total absolute roundtrip error, and the distinct code count (a
    full-range signal should touch most of the 256-code book). The
    codec is pure closed-form integer algebra, so an SQL oracle
    replays compress∘expand exactly. NULL-free rows only for blobs
    the WAV decoder claims.

    Scale: Arrow-batched mapInPandas, vectorized numpy codec; output
    is one row per blob.
    """

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_wav_pcm16,
            pcm16_to_ulaw,
            ulaw_to_pcm16,
        )

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                dec = decode_wav_pcm16(bytes(b)) if b is not None else None
                if dec is None or len(dec[1]) == 0:
                    continue
                _, s = dec
                v = s.astype(np.int64)
                codes = pcm16_to_ulaw(v)
                back = ulaw_to_pcm16(codes)
                err = np.abs(back - v)
                rows.append(
                    (
                        int(i), int(v.size),
                        int((back * back).sum()),
                        int(err.max()),
                        int(err.sum()),
                        int(np.unique(codes).size),
                    )
                )
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    "n_samples": pd.array([r[1] for r in rows], dtype="int64"),
                    "energy_dec": pd.array([r[2] for r in rows], dtype="int64"),
                    "max_abs_err": pd.array([r[3] for r in rows], dtype="int64"),
                    "sum_abs_err": pd.array([r[4] for r in rows], dtype="int64"),
                    "n_codes": pd.array([r[5] for r in rows], dtype="int64"),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, n_samples long, energy_dec long, max_abs_err long, "
        "sum_abs_err long, n_codes long",
    )


def synthetic_flac_media(documents: DataFrame) -> DataFrame:
    """FLAC fixture: the SAME closed-form PCM16 samples as the WAV
    fixture (sample j int16 LE from bytes (6j)%256 / (6j+3)%256,
    rate [8000,16000,44100][d%3], n = d%4000+100, on docs with
    doc_id%5==3) packed through the REAL fixed-prediction FLAC
    encoder. Losslessness is the proof trick: the WAV fixture's
    sample-statistics oracle matches bitwise iff the whole FLAC
    bitstream path (Rice, fixed predictors, CRCs, framing) inverted
    exactly."""

    def make_blob(d: int) -> bytes:
        j = np.arange(d % 4000 + 100, dtype=np.int64)
        raw = (6 * j) % 256 + 256 * ((6 * j + 3) % 256)
        v = np.where(raw >= 32768, raw - 65536, raw)
        return mc.encode_flac_fixed(v, [8000, 16000, 44100][d % 3], blocksize=1024)

    return _fixture(
        documents.filter(F.pmod("doc_id", F.lit(5)) == 3), make_blob, "audio"
    )


def flac_pcm_features(df: DataFrame) -> DataFrame:
    """`pcm_features` for FLAC blobs: REAL bitstream decode (Rice,
    fixed predictors, CRC verification), then the family's exact
    integer signal statistics and pinned round-6 RMS."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        from unitdb_spark.functions.media_codec import decode_flac_fixed

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                dec = decode_flac_fixed(bytes(b)) if b is not None else None
                if dec is None or len(dec[1]) == 0:
                    rows.append((int(i),) + (None,) * 6 + (None,))
                    continue
                sr, v = dec
                energy = int((v * v).sum())
                zc = int(((v[:-1] * v[1:]) < 0).sum()) if v.size > 1 else 0
                rms = float(
                    Decimal(
                        repr(math.sqrt(float(energy) / float(v.size)))
                    ).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                )
                rows.append(
                    (int(i), int(sr), int(v.size), energy, zc,
                     int(v.min()), int(v.max()), rms)
                )
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    "sample_rate": pd.Series([r[1] for r in rows], dtype=object),
                    "n_samples": pd.Series([r[2] for r in rows], dtype=object),
                    "energy": pd.Series([r[3] for r in rows], dtype=object),
                    "zero_crossings": pd.Series([r[4] for r in rows], dtype=object),
                    "v_min": pd.Series([r[5] for r in rows], dtype=object),
                    "v_max": pd.Series([r[6] for r in rows], dtype=object),
                    "rms_r": pd.Series([r[7] for r in rows], dtype=object),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, sample_rate int, n_samples long, energy long, "
        "zero_crossings long, v_min long, v_max long, rms_r double",
    )


def alaw_roundtrip_features(df: DataFrame) -> DataFrame:
    """`mulaw_roundtrip_features` for the A-law half of G.711 — the
    European companding curve (13-bit magnitude, even-bit inversion);
    same exact integer fidelity statistics, same arithmetic-only SQL
    replay."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            alaw_to_pcm16,
            decode_wav_pcm16,
            pcm16_to_alaw,
        )

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"].values, pdf["blob"]):
                dec = decode_wav_pcm16(bytes(b)) if b is not None else None
                if dec is None or len(dec[1]) == 0:
                    continue
                _, s = dec
                v = s.astype(np.int64)
                codes = pcm16_to_alaw(v)
                back = alaw_to_pcm16(codes)
                err = np.abs(back - v)
                rows.append(
                    (
                        int(i), int(v.size),
                        int((back * back).sum()),
                        int(err.max()),
                        int(err.sum()),
                        int(np.unique(codes).size),
                    )
                )
            yield pd.DataFrame(
                {
                    "id": pd.array([r[0] for r in rows], dtype="int64"),
                    "n_samples": pd.array([r[1] for r in rows], dtype="int64"),
                    "energy_dec": pd.array([r[2] for r in rows], dtype="int64"),
                    "max_abs_err": pd.array([r[3] for r in rows], dtype="int64"),
                    "sum_abs_err": pd.array([r[4] for r in rows], dtype="int64"),
                    "n_codes": pd.array([r[5] for r in rows], dtype="int64"),
                }
            )

    return df.select("id", "blob").mapInPandas(
        _feat,
        "id long, n_samples long, energy_dec long, max_abs_err long, "
        "sum_abs_err long, n_codes long",
    )
