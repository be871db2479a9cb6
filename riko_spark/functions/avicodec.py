"""Dependency-free AVI frame extraction: RIFF/'AVI ' container walk +
uncompressed DIB ('00db') frame decode with stdlib ``struct``/numpy,
plus MJPEG ('00dc' with biCompression 'MJPG') via the baseline JPEG
kernel (functions/jpegcodec.py).

Video counterpart of imagecodec.py: frame sampling over AVIs whose
streams are raw BI_RGB DIBs — the interchange shape tools emit for
lossless capture — or Motion-JPEG — each '00dc' chunk is a standalone
baseline JPEG, the classic capture-card/webcam interchange codec —
decodes from the
public RIFF/AVI spec (msdn AVIMAINHEADER / AVISTREAMHEADER layout)
with no codec library.  Other compressed streams (H.264 etc., i.e.
any other non-zero biCompression) are rejected with a clear error:
they need entropy decoders this container doesn't ship, and the
caller falls back to the documented stub.

DIB frame payload layout matches the BMP pixel array (bottom-up rows,
BGR order, 4-byte row padding) without the BITMAPFILEHEADER — the
decode shares its conventions with functions/imagecodec.py's BMP
path.  MJPEG payloads are complete SOI..EOI JPEG streams.
"""

from __future__ import annotations

import struct

import numpy as np

#: biCompression fourcc 'MJPG' as the little-endian DWORD it is stored as
MJPG_FOURCC = 0x47504A4D


def _chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\0" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _list(form: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", form + body)


def encode_avi(frames: list[np.ndarray], fps: int = 25,
               codec: str = "dib") -> bytes:
    """Minimal spec-conformant AVI: hdrl (avih + one strl video
    stream) + movi with one chunk per frame.

    ``codec="dib"`` (default) writes BI_RGB 24-bit '00db' raw-DIB
    chunks from ``(h, w, 3)`` RGB frames.  ``codec="mjpg"`` writes
    Motion-JPEG: fccHandler/biCompression 'MJPG' and one '00dc' chunk
    per frame, each a standalone baseline JPEG from
    functions/jpegcodec.py (all-ones quant tables — the fixture
    exactness contract); frames may be ``(h, w)`` gray or ``(h, w, 3)``
    RGB."""
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    if codec not in ("dib", "mjpg"):
        raise ValueError("codec must be 'dib' or 'mjpg'")
    shape = np.asarray(frames[0]).shape
    if codec == "dib":
        if len(shape) != 3 or shape[2] != 3:
            raise ValueError("encode_avi writes 24-bit RGB frames")
        h, w = shape[:2]
    else:
        if len(shape) not in (2, 3) or (len(shape) == 3 and shape[2] != 3):
            raise ValueError("mjpg frames must be (h,w) gray or (h,w,3) RGB")
        h, w = shape[:2]
    row_len = (w * 3 + 3) & ~3
    payloads = []
    for f in frames:
        px = np.asarray(f, dtype=np.uint8)
        if px.shape != shape:
            raise ValueError("all frames must share one size")
        if codec == "mjpg":
            from riko_spark.functions.jpegcodec import encode_jpeg

            payloads.append(encode_jpeg(px))
            continue
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = px[y, :, ::-1].tobytes()  # RGB -> BGR
            body.extend(row)
            body.extend(b"\0" * (row_len - len(row)))
        payloads.append(bytes(body))
    frame_bytes = (row_len * h if codec == "dib"
                   else max(len(p) for p in payloads))
    handler = b"DIB " if codec == "dib" else b"MJPG"
    compression = 0 if codec == "dib" else MJPG_FOURCC
    chunk_tag = b"00db" if codec == "dib" else b"00dc"
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10,  # us/frame, rate, pad, HASINDEX-ish flags
        len(frames), 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", handler, 0, 0, 0, 0, 1, fps, 0, len(frames),
        frame_bytes, 0, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, compression,
                       frame_bytes, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(chunk_tag, p) for p in payloads))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def avi_frame_payloads(
        data: bytes) -> tuple[int, int, int, str, list[bytes]]:
    """AVI bytes -> ``(width, height, bits_per_pixel, codec, [frame
    chunk payloads])`` — the chunk walk without pixel decode, for
    callers that forward frame bytes verbatim (frame_sample).

    Walks the RIFF tree for the video strf (dimensions + bit depth +
    compression check), then collects the stream's frame chunks in
    movi.  ``codec`` is ``"dib"`` (biCompression 0, '00db' raw-DIB
    payloads) or ``"mjpg"`` (biCompression 'MJPG', '00dc' payloads
    that are standalone baseline JPEGs).  Any other compression
    raises ``ValueError`` — no silent garbage frames."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")

    w = h = bpp = None
    codec = None
    dib_payloads: list[bytes] = []
    dc_payloads: list[bytes] = []
    cur_stream = [None]  # fccType of the most recent strh (per strl)

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal w, h, bpp, codec
        while pos + 8 <= end:
            tag = buf[pos: pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body_off = pos + 8
            if tag == b"LIST":
                walk(buf, body_off + 4, body_off + ln)
            elif tag == b"strh" and ln >= 4:
                # remember which stream the NEXT strf describes — an
                # audio strl may legitimately precede the video one
                cur_stream[0] = buf[body_off: body_off + 4]
            elif tag == b"strf" and w is None:
                if cur_stream[0] != b"vids":
                    pass  # audio/text stream format: not ours
                elif ln < 20:
                    raise ValueError("AVI: video strf too short for "
                                     "BITMAPINFOHEADER")
                else:
                    _sz, bw, bh, _pl, bits, comp = struct.unpack_from(
                        "<IiiHHI", buf, body_off)
                    if comp == 0:
                        codec = "dib"
                    elif comp == MJPG_FOURCC:
                        codec = "mjpg"
                    else:
                        raise ValueError(
                            f"AVI: compressed video (biCompression="
                            f"{comp:#x}) needs a codec library; only raw "
                            "BI_RGB and MJPG decode")
                    w, h, bpp = bw, abs(bh), bits
            elif tag[2:4] == b"db":
                dib_payloads.append(buf[body_off: body_off + ln])
            elif tag[2:4] == b"dc":
                dc_payloads.append(buf[body_off: body_off + ln])
            pos = body_off + ln + (ln & 1)  # odd chunks carry a pad byte

    try:
        walk(data, 12, len(data))
    except struct.error as e:
        raise ValueError(f"corrupt AVI data: {e}") from e
    if codec == "dib":
        if dc_payloads and not dib_payloads:
            raise ValueError("AVI: BI_RGB strf but the stream carries "
                             "compressed ('dc') frames; no raw DIB "
                             "('db') frames to decode")
        if bpp not in (24, 32):
            raise ValueError(
                f"AVI: only 24/32-bit DIB frames supported, got {bpp}")
        payloads = dib_payloads
    else:
        payloads = dc_payloads
    if w is None or not payloads:
        raise ValueError("AVI: no decodable video stream found")
    return w, h, bpp, codec, payloads


def avi_dib_payloads(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Back-compat shape of :func:`avi_frame_payloads` for raw-DIB
    callers: AVI bytes -> ``(width, height, bits_per_pixel, [raw DIB
    chunk payloads])``; MJPEG (or any compressed) stream raises
    ``ValueError``."""
    w, h, bpp, codec, payloads = avi_frame_payloads(data)
    if codec != "dib":
        raise ValueError("AVI: stream carries compressed ('dc') frames; "
                         "only raw DIB ('db') frames decode on this path")
    return w, h, bpp, payloads


def decode_dib_payload(payload: bytes, w: int, h: int,
                       bpp: int) -> np.ndarray:
    """One raw DIB payload -> ``uint8 (h, w, 3)`` RGB, decoded
    bottom-up/BGR/padded (same pixel conventions as imagecodec's BMP
    path)."""
    c = bpp // 8
    row_len = (w * c + 3) & ~3
    if len(payload) < row_len * h:
        raise ValueError("AVI: truncated frame chunk")
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        row = np.frombuffer(payload, dtype=np.uint8, count=w * c,
                            offset=i * row_len).reshape(w, c)
        out[h - 1 - i] = row[:, [2, 1, 0]]
    return out


def decode_frame_payload(payload: bytes, w: int, h: int, bpp: int,
                         codec: str) -> np.ndarray:
    """One frame chunk payload -> ``uint8 (h, w, c)`` pixels: raw DIB
    via :func:`decode_dib_payload` (c=3), MJPEG via the baseline JPEG
    kernel (c=1 gray or c=3 RGB).  An MJPEG frame whose own SOF
    dimensions disagree with the container strf raises — no silently
    mis-shaped pixels."""
    if codec == "dib":
        return decode_dib_payload(payload, w, h, bpp)
    if codec == "mjpg":
        from riko_spark.functions.jpegcodec import decode_jpeg

        fw, fh, _c, px = decode_jpeg(payload)
        if (fw, fh) != (w, h):
            raise ValueError(
                f"AVI: MJPEG frame is {fw}x{fh} but the container strf "
                f"says {w}x{h}")
        return px
    raise ValueError(f"unknown AVI codec {codec!r}")


def decode_avi_frames(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    """AVI bytes -> ``(width, height, [uint8 (h, w, c) frames])`` —
    every frame decoded (c=3 for raw DIB / color MJPEG, c=1 for
    grayscale MJPEG).  Samplers that need only every Nth frame should
    use :func:`avi_frame_payloads` + :func:`decode_frame_payload` on
    the sampled payloads instead of paying for the full decode."""
    w, h, bpp, codec, payloads = avi_frame_payloads(data)
    return w, h, [decode_frame_payload(p, w, h, bpp, codec)
                  for p in payloads]
