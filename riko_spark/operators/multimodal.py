"""Multimodal columns: images and video as opaque binary + metadata.

Image (PNG/BMP/GIF/TIFF/JPEG) decode is REAL, dependency-free kernels
built from the public specs with stdlib ``struct``/``zlib``
(riko_spark/functions/imagecodec.py and the per-format codecs it
dispatches to) running inside the ``mapInPandas`` plumbing — one Arrow
batch of blobs per task, the right shape for batched CPU/GPU feature
extraction at 100 TB.  Formats whose coders need codec libraries the
package does not depend on (arithmetic JPEG, WebP, H.264) fall back
to a clearly-documented deterministic stub (images) or are skipped or
raise (video frames); swapping in PIL/ffmpeg is a one-function change per
modality.  Audio blobs are only sniffed (``media_metadata``), never
decoded.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from riko_spark.operators import register

MEDIA_META_SCHEMA = (
    "id bigint, n_bytes bigint, media_type string, magic string"
)

IMAGE_FEATURES_SCHEMA = (
    "id bigint, width int, height int, channels int, feature array<float>"
)

FRAME_SAMPLE_SCHEMA = "id bigint, frame_idx int, frame bytes".replace("bytes", "binary")

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"BM": "image/bmp",
    b"GIF8": "image/gif",
    b"II*\x00": "image/tiff",
    b"MM\x00*": "image/tiff",
    b"\x00\x00\x00": "video/mp4",
}

#: RIFF form types (bytes 9-12) — mirrors media_metadata_op's SQL
#: disambiguation so the Python helper and the Spark op always agree
_RIFF_FORMS = {b"WAVE": "audio/wav", b"AVI ": "video/avi",
               b"WEBP": "image/webp"}


def sniff_media_type(b: bytes | None) -> str:
    if not b:
        return "unknown"
    if b.startswith(b"RIFF"):
        return _RIFF_FORMS.get(b[8:12], "application/riff")
    for magic, mt in _MAGIC.items():
        if b.startswith(magic):
            return mt
    return "application/octet-stream"


def _decode_image_stub(b: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic fake decode: dimensions and a feature vector
    derived from the bytes.  Real impl: PIL.Image.open + resize +
    model forward — not available in this container."""
    h = hash_bytes = np.frombuffer(b[:64].ljust(64, b"\0"), dtype=np.uint8).astype(np.float32)
    width = int(64 + (len(b) % 512))
    height = int(64 + (hash_bytes.sum() % 512))
    feat = (hash_bytes / 255.0)[:16]
    return width, height, feat


@register("media_metadata")
def media_metadata_op(df: DataFrame, conf: dict | None = None,
                      field: str = "blob", id_col: str = "id") -> DataFrame:
    """Typed metadata over an opaque binary column — fully native
    (no decode needed): byte length + magic-number sniff."""
    blob = F.col(field)
    magic = F.hex(F.substring(blob, 1, 4))
    # RIFF containers disambiguate on the form type at bytes 9-12
    # (WAVE / AVI / WEBP share the same outer magic)
    form = F.hex(F.substring(blob, 9, 4))
    return df.select(
        F.col(id_col).alias("id"),
        F.octet_length(blob).cast("bigint").alias("n_bytes"),
        F.when(magic.startswith("89504E47"), "image/png")
        .when(magic.startswith("FFD8FF"), "image/jpeg")
        .when(magic.startswith("424D"), "image/bmp")
        .when(magic.startswith("47494638"), "image/gif")
        .when(magic.startswith("49492A00"), "image/tiff")
        .when(magic.startswith("4D4D002A"), "image/tiff")
        .when(magic.startswith("664C6143"), "audio/flac")
        .when(magic.startswith("52494646") & (form == "57415645"), "audio/wav")
        .when(magic.startswith("52494646") & (form == "41564920"), "video/avi")
        .when(magic.startswith("52494646") & (form == "57454250"), "image/webp")
        .when(magic.startswith("52494646"), "application/riff")
        .otherwise("application/octet-stream")
        .alias("media_type"),
        magic.alias("magic"),
    )


def _grid_feature(px: np.ndarray, grid: int = 4) -> np.ndarray:
    """``grid``×``grid`` mean-intensity descriptor in [0, 1]: intensity
    = mean over channels, cell boundaries at ``dim*i//grid`` (exact for
    multiples of ``grid``, deterministic for everything else).  The
    classic cheap near-dup / quality signal for image corpora — and,
    being pure integer sums underneath, exactly recomputable by an
    independent oracle from planted pixel formulas."""
    h, w, _c = px.shape
    gray = px.mean(axis=2, dtype=np.float64)
    feats = []
    for gy in range(grid):
        y0, y1 = h * gy // grid, h * (gy + 1) // grid
        for gx in range(grid):
            x0, x1 = w * gx // grid, w * (gx + 1) // grid
            cell = gray[y0:y1, x0:x1]
            feats.append(cell.mean() / 255.0 if cell.size else 0.0)
    return np.asarray(feats, dtype=np.float32)


@register("image_features")
def image_features_op(df: DataFrame, conf: dict | None = None,
                      field: str = "blob", id_col: str = "id",
                      on_undecodable: str = "stub") -> DataFrame:
    """Decode → feature-extract over Arrow batches.

    ``mapInPandas`` so each task holds one Arrow batch of images — the
    right shape for batched GPU/CPU inference.  PNG, BMP, GIF and
    JPEG (baseline AND progressive SOF2) decode with the REAL
    stdlib/numpy kernels (functions/imagecodec.py, functions/
    jpegcodec.py, functions/gifcodec.py): actual pixel grids, actual
    width/height/channels, and a 4×4 mean-intensity grid feature.
    Formats without a native kernel (arithmetic JPEG, WebP, ...)
    follow ``on_undecodable``: "stub" (default) emits the deterministic
    fake with ``channels=0`` marking the row synthetic, "skip" drops
    the row, "raise" aborts."""
    conf = conf or {}
    on_undecodable = conf.get("on_undecodable", on_undecodable)
    if on_undecodable not in ("stub", "skip", "raise"):
        raise ValueError("on_undecodable must be 'stub', 'skip' or 'raise'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from riko_spark.functions.imagecodec import decode_image

        for pdf in batches:
            rows = []
            for rid, b in zip(pdf[id_col], pdf[field]):
                if b is None:
                    continue
                b = bytes(b)
                try:
                    w, h, c, px = decode_image(b)
                except ValueError:
                    if on_undecodable == "raise":
                        raise
                    if on_undecodable == "skip":
                        continue
                    # stub path (channels=0 marks the FEATURE as
                    # synthetic) — but JPEG headers parse without an
                    # entropy decoder, so report the REAL dimensions
                    # when available (the size/aspect filters a corpus
                    # pipeline runs first work on real values)
                    try:
                        from riko_spark.functions.imagecodec import \
                            parse_jpeg_dims

                        w, h, _nc = parse_jpeg_dims(b)
                        _, _, feat = _decode_image_stub(b)
                    except ValueError:
                        w, h, feat = _decode_image_stub(b)
                    rows.append((rid, w, h, 0, feat.tolist()))
                    continue
                rows.append((rid, w, h, c, _grid_feature(px).tolist()))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "channels", "feature"]
            )

    return df.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


@register("frame_sample")
def frame_sample_op(df: DataFrame, conf: dict | None = None,
                    field: str = "blob", id_col: str = "id",
                    every: int = 4, max_frames: int = 8) -> DataFrame:
    """Sample every Nth frame from a video blob (UDTF shape: one row
    in → many rows out).

    RIFF/AVI blobs with raw-DIB or Motion-JPEG streams get REAL frame
    extraction (functions/avicodec.py): the emitted ``frame`` is the
    Nth frame's actual chunk payload (a DIB pixel array or a
    standalone baseline JPEG).  Animated GIFs get REAL frame
    extraction too (functions/gifcodec.py): each sampled frame is the
    fully-composited logical screen re-encoded as a standalone PNG —
    a self-contained image blob every downstream image op decodes
    natively (the video → frames → image_features pipeline shape).
    Other/compressed formats fall back to the documented deterministic
    stub slice (real impl for those: ffmpeg), so the op keeps its
    one-in/many-out plumbing contract on any input.
    """
    conf = conf or {}
    every = int(conf.get("every", every))
    max_frames = int(conf.get("max_frames", max_frames))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from riko_spark.functions.avicodec import avi_frame_payloads
        from riko_spark.functions.gifcodec import (GIF_MAGICS,
                                                   composite_gif_frames)
        from riko_spark.functions.imagecodec import encode_png

        for pdf in batches:
            rows = []
            for rid, b in zip(pdf[id_col], pdf[field]):
                if b is None:
                    continue
                b = bytes(b)
                if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    try:
                        _w, _h, _bpp, _codec, payloads = \
                            avi_frame_payloads(b)
                        for i, fi in enumerate(range(0, len(payloads), every)):
                            if i >= max_frames:
                                break
                            rows.append((rid, fi, payloads[fi]))
                        continue
                    except ValueError:
                        pass  # compressed/corrupt AVI: stub below
                if b[:6] in GIF_MAGICS:
                    try:
                        _w, _h, comp = composite_gif_frames(b)
                        for i, fi in enumerate(range(0, len(comp), every)):
                            if i >= max_frames:
                                break
                            rows.append((rid, fi, encode_png(comp[fi])))
                        continue
                    except ValueError:
                        pass  # corrupt GIF: stub below
                chunk = max(1, len(b) // max(1, max_frames * every))
                for i, off in enumerate(range(0, len(b), chunk * every)):
                    if i >= max_frames:
                        break
                    # frame_idx is the SOURCE frame position (0, every,
                    # 2*every, …) on both the real-AVI path and this
                    # stub path, so downstream joins/windows on it
                    # never depend on whether decode succeeded
                    rows.append((rid, i * every, b[off:off + chunk]))
            yield pd.DataFrame(rows, columns=["id", "frame_idx", "frame"])

    return df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


IMAGE_DHASH_SCHEMA = "id bigint, dhash bigint"


@register("image_dhash")
def image_dhash_op(df: DataFrame, conf: dict | None = None,
                   field: str = "blob", id_col: str = "id",
                   on_undecodable: str = "skip") -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels — the
    standard cheap image near-dup signature: intensity (mean over
    channels) is block-averaged onto a 8-row × 9-column grid and bit
    ``r*8 + c`` of the 64-bit hash is 1 iff ``grid[r][c+1] >
    grid[r][c]`` (row-wise gradient sign).  Robust to rescaling and
    small edits; near-dup pairs = small hamming distance, so the
    signature column feeds the same banded-hamming join strategy as
    SimHash (operators/dedupe.py).  Block boundaries at
    ``dim*i//blocks``; comparisons use exact integer pixel sums
    cross-multiplied by block areas (no float ties).  Undecodable
    blobs follow ``on_undecodable``: "skip" (default) / "raise"."""
    conf = conf or {}
    on_undecodable = conf.get("on_undecodable", on_undecodable)
    if on_undecodable not in ("skip", "raise"):
        raise ValueError("on_undecodable must be 'skip' or 'raise'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from riko_spark.functions.imagecodec import decode_image

        def dhash(px: np.ndarray) -> int:
            h, w, _c = px.shape
            sums = px.sum(axis=2, dtype=np.int64)  # channel sum per pixel
            block_sum = np.empty((8, 9), dtype=np.int64)
            area = np.empty((8, 9), dtype=np.int64)
            ys = [h * i // 8 for i in range(9)]
            xs = [w * j // 9 for j in range(10)]
            for r in range(8):
                for cc in range(9):
                    cell = sums[ys[r]:ys[r + 1], xs[cc]:xs[cc + 1]]
                    block_sum[r, cc] = int(cell.sum())
                    area[r, cc] = cell.size
            out = 0
            for r in range(8):
                for cc in range(8):
                    # mean[r][c+1] > mean[r][c] without division:
                    # s1/a1 > s0/a0  <=>  s1*a0 > s0*a1
                    if (block_sum[r, cc + 1] * area[r, cc]
                            > block_sum[r, cc] * area[r, cc + 1]):
                        out |= 1 << (r * 8 + cc)
            # two's complement into a signed bigint
            return out - (1 << 64) if out >= 1 << 63 else out

        for pdf in batches:
            rows = []
            for rid, b in zip(pdf[id_col], pdf[field]):
                if b is None:
                    continue
                try:
                    _w, _h, _c, px = decode_image(bytes(b))
                except ValueError:
                    if on_undecodable == "raise":
                        raise
                    continue
                rows.append((rid, dhash(px)))
            yield pd.DataFrame(rows, columns=["id", "dhash"])

    return df.mapInPandas(run, IMAGE_DHASH_SCHEMA)


@register("image_neardup")
def image_neardup_op(df: DataFrame, conf: dict | None = None,
                     field: str = "blob", id_col: str = "id",
                     bands: int = 8, max_hamming: int | None = None,
                     max_bucket_size: int | None = 1000,
                     on_undecodable: str = "skip") -> DataFrame:
    """Near-duplicate IMAGE pairs end-to-end: perceptual dHash over
    real decoded pixels (:func:`image_dhash_op`) -> banded bit-band
    self-join -> exact hamming verify, reusing the SimHash banding
    machinery (operators/dedupe.py:banded_hamming_pairs) — the corpus
    near-dup join for a multimodal training pipeline.

    100 TB shape: decode + hash is one mapInPandas scan (Arrow batch of
    blobs per task); candidate generation is ONE shuffle keyed on
    (band, band-bits) with pigeonhole recall for hamming <= bands-1;
    frequent buckets (solid-color boilerplate images all hash alike)
    are capped with non-silent drop accounting, and verification is a
    JVM-side bit_count on candidates only — no pairwise pixel
    comparison ever happens."""
    conf = conf or {}
    from riko_spark.operators.dedupe import banded_hamming_pairs

    sig = image_dhash_op(df, conf, field=field, id_col=id_col,
                         on_undecodable=on_undecodable)
    return banded_hamming_pairs(
        sig, "dhash", id_col="id",
        bands=int(conf.get("bands", bands)),
        max_hamming=conf.get("max_hamming", max_hamming),
        max_bucket_size=conf.get("max_bucket_size", max_bucket_size),
        log_dropped=bool(conf.get("log_dropped", True)),
        what="image_neardup")


VIDEO_FRAMES_SCHEMA = (
    "id bigint, frame_idx int, width int, height int, px_sum bigint"
)


@register("video_frames")
def video_frames_op(df: DataFrame, conf: dict | None = None,
                    field: str = "blob", id_col: str = "id",
                    every: int = 2, max_frames: int = 8,
                    on_undecodable: str = "skip") -> DataFrame:
    """REAL video decode stats: extract every Nth frame from an AVI
    blob — raw-DIB or Motion-JPEG (each '00dc' chunk a standalone
    baseline JPEG through functions/jpegcodec.py) — or an ANIMATED GIF
    (functions/gifcodec.py: every sampled frame is the composited
    logical screen with overlay/transparency/disposal applied) and
    emit its dimensions + exact pixel sum (int64 over all channel
    samples) — the decode-verification shape: a broken chunk walk,
    wrong row order, BGR mix-up, Huffman/IDCT bug, or LZW/disposal bug
    changes ``px_sum``.  For AVI only the SAMPLED payloads decode
    (avi_frame_payloads + decode_frame_payload — no wasted work on
    skipped frames); GIF frames are deltas against a running canvas,
    so the format itself forces decoding every frame up to the last
    sampled one.  Undecodable/compressed blobs follow
    ``on_undecodable``: "skip" (default — a mixed corpus never aborts
    on one MP4; no fabricated stats either) or "raise"."""
    conf = conf or {}
    every = int(conf.get("every", every))
    max_frames = int(conf.get("max_frames", max_frames))
    on_undecodable = conf.get("on_undecodable", on_undecodable)
    if on_undecodable not in ("skip", "raise"):
        raise ValueError("on_undecodable must be 'skip' or 'raise'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from riko_spark.functions.avicodec import (avi_frame_payloads,
                                                   decode_frame_payload)
        from riko_spark.functions.gifcodec import (GIF_MAGICS,
                                                   composite_gif_frames)

        for pdf in batches:
            rows = []
            for rid, b in zip(pdf[id_col], pdf[field]):
                if b is None:
                    continue
                b = bytes(b)
                if b[:6] in GIF_MAGICS:
                    try:
                        gw, gh, comp = composite_gif_frames(b)
                    except ValueError:
                        if on_undecodable == "raise":
                            raise
                        continue
                    for i, fi in enumerate(range(0, len(comp), every)):
                        if i >= max_frames:
                            break
                        rows.append((rid, fi, gw, gh,
                                     int(comp[fi].sum(dtype=np.int64))))
                    continue
                try:
                    w, h, bpp, codec, payloads = \
                        avi_frame_payloads(b)
                except ValueError:
                    if on_undecodable == "raise":
                        raise
                    continue
                for i, fi in enumerate(range(0, len(payloads), every)):
                    if i >= max_frames:
                        break
                    try:
                        px = decode_frame_payload(payloads[fi], w, h,
                                                  bpp, codec)
                    except ValueError:
                        # one truncated DIB / corrupt MJPEG frame
                        # drops that frame, not the whole blob/corpus
                        if on_undecodable == "raise":
                            raise
                        continue
                    rows.append((rid, fi, w, h,
                                 int(px.astype(np.int64).sum())))
            yield pd.DataFrame(rows, columns=[
                "id", "frame_idx", "width", "height", "px_sum"])

    return df.mapInPandas(run, VIDEO_FRAMES_SCHEMA)
