"""Real media kernels: PNG/BMP decode against hand-assembled files
(independent filter application, not the encoder), AVI frame walks
against hand-packed RIFF bytes, and the Spark ops end-to-end."""

import struct
import zlib

import numpy as np
import pytest

from riko_spark.functions.imagecodec import (
    PNG_MAGIC,
    decode_bmp,
    decode_image,
    decode_png,
    encode_bmp,
    encode_png,
)


def _chunk(tag, body):
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _hand_png(px, filters):
    """Build a PNG with per-row filter types applied by PLAIN PYTHON
    loops — an independent implementation of the spec's filter math, so
    decoder tests aren't encoder round-trips."""
    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    flat = px.reshape(h, w * c).astype(int)
    for y, ft in zip(range(h), filters):
        raw.append(ft)
        for i in range(w * c):
            x = flat[y][i]
            a = flat[y][i - c] if i >= c else 0
            b = flat[y - 1][i] if y > 0 else 0
            cc = flat[y - 1][i - c] if (y > 0 and i >= c) else 0
            if ft == 0:
                v = x
            elif ft == 1:
                v = x - a
            elif ft == 2:
                v = x - b
            elif ft == 3:
                v = x - (a + b) // 2
            elif ft == 4:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                v = x - pred
            raw.append(v % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (PNG_MAGIC + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _px(h, w, c, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_decode_all_filters_hand_built(c):
    px = _px(5, 7, c, seed=c)
    data = _hand_png(px, filters=[0, 1, 2, 3, 4])
    w, h, ch, got = decode_png(data)
    assert (w, h, ch) == (7, 5, c)
    np.testing.assert_array_equal(got, px)


def test_png_decode_split_idat_and_ancillary_chunks():
    px = _px(4, 4, 3, seed=9)
    base = _hand_png(px, filters=[4, 4, 4, 4])
    # re-split the IDAT into two chunks with a tEXt chunk between them
    body = zlib.compress(bytes(bytearray(_rows_filtered(px))))
    rebuilt = (PNG_MAGIC
               + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
               + _chunk(b"IDAT", body[:10])
               + _chunk(b"tEXt", b"Comment\0hand built")
               + _chunk(b"IDAT", body[10:])
               + _chunk(b"IEND", b""))
    assert decode_png(rebuilt)[3].shape == (4, 4, 3)
    np.testing.assert_array_equal(decode_png(rebuilt)[3], px)
    np.testing.assert_array_equal(decode_png(base)[3], px)


def _rows_filtered(px):
    h, w, c = px.shape
    out = bytearray()
    for y in range(h):
        out.append(0)
        out.extend(px[y].reshape(-1).tobytes())
    return out


def test_png_roundtrip_every_encoder_filter():
    px = _px(6, 8, 4, seed=3)
    for ft in range(5):
        w, h, c, got = decode_png(encode_png(px, filter_type=ft))
        assert (w, h, c) == (8, 6, 4)
        np.testing.assert_array_equal(got, px)


def test_png_rejects_what_it_cannot_decode():
    with pytest.raises(ValueError, match="magic"):
        decode_png(b"JFIF not a png")
    px = _px(2, 2, 3)
    data = bytearray(encode_png(px))
    # flip IHDR bit depth to 16 (offset: 8 magic + 8 len/tag + 8 w/h)
    data[24] = 16
    with pytest.raises(ValueError, match="8-bit"):
        decode_png(bytes(data))
    data = bytearray(encode_png(px))
    data[25] = 5  # invalid color type
    with pytest.raises(ValueError, match="color type"):
        decode_png(bytes(data))


def test_bmp_decode_hand_built_24bit_padding():
    """3×2 24-bit BMP packed by hand: bottom-up rows, BGR order, rows
    padded to 4 bytes (3*3=9 -> 12)."""
    px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   [[10, 20, 30], [40, 50, 60], [70, 80, 90]]], dtype=np.uint8)
    rows = b""
    for y in (1, 0):  # bottom-up
        r = b"".join(bytes([px[y, x, 2], px[y, x, 1], px[y, x, 0]])
                     for x in range(3))
        rows += r + b"\0" * 3
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(rows),
                       0, 0, 0, 0)
    w, h, c, got = decode_bmp(hdr + info + rows)
    assert (w, h, c) == (3, 2, 3)
    np.testing.assert_array_equal(got, px)


def test_bmp_top_down_and_32bit():
    px = _px(2, 2, 4, seed=5)
    rows = b""
    for y in (0, 1):  # top-down: negative height, natural order
        rows += b"".join(bytes([px[y, x, 2], px[y, x, 1], px[y, x, 0],
                                px[y, x, 3]]) for x in range(2))
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(rows),
                       0, 0, 0, 0)
    w, h, c, got = decode_bmp(hdr + info + rows)
    assert (w, h, c) == (2, 2, 4)
    np.testing.assert_array_equal(got, px)


def test_bmp_roundtrip_and_dispatch():
    px = _px(5, 3, 3, seed=7)
    data = encode_bmp(px)
    np.testing.assert_array_equal(decode_bmp(data)[3], px)
    assert decode_image(data)[:3] == (3, 5, 3)
    assert decode_image(encode_png(px))[:3] == (3, 5, 3)
    with pytest.raises(ValueError, match="unsupported image format"):
        decode_image(b"TIFFII* not a supported format")
    # JPEG SOI / GIF magics now dispatch into the real decoders, which
    # raise their own diagnostics for a truncated/garbage stream
    with pytest.raises(ValueError, match="JPEG"):
        decode_image(b"\xff\xd8\xffJPEG...")
    with pytest.raises(ValueError, match="GIF"):
        decode_image(b"GIF89a not a real gif")


# ------------------------------------------------------- Spark ops e2e

def test_image_features_op_real_decode(spark):
    from riko_spark.operators.multimodal import image_features_op

    px_a = np.full((8, 8, 1), 100, dtype=np.uint8)  # gray PNG
    px_b = _px(4, 4, 3, seed=2)  # RGB BMP
    rows = [(1, bytearray(encode_png(px_a))),
            (2, bytearray(encode_bmp(px_b))),
            (3, bytearray(b"\xff\xd8\xffJPEG"))]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = {r["id"]: r for r in image_features_op(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (8, 8, 1)
    assert all(abs(f - 100 / 255) < 1e-6 for f in out[1]["feature"])
    assert (out[2]["width"], out[2]["height"], out[2]["channels"]) == (4, 4, 3)
    exp = px_b.mean(axis=2)  # 4x4 -> each grid cell is one pixel
    got = np.array(out[2]["feature"]).reshape(4, 4)
    np.testing.assert_allclose(got, exp / 255.0, atol=1e-6)
    assert out[3]["channels"] == 0  # stub fallback marks synthetic rows

    skipped = image_features_op(df, {"on_undecodable": "skip"}).collect()
    assert sorted(r["id"] for r in skipped) == [1, 2]


def test_png_palette_decode():
    """Color type 3 (indexed): PLTE lookup, hand-built file."""
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])  # 4 entries
    idx = np.array([[0, 1], [2, 3], [3, 0]], dtype=np.uint8)  # 2x3
    raw = bytearray()
    for row in idx:
        raw.append(0)
        raw.extend(row.tobytes())
    data = (PNG_MAGIC
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 8, 3, 0, 0, 0))
            + _chunk(b"PLTE", plte)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))
    w, h, c, got = decode_png(data)
    assert (w, h, c) == (2, 3, 3)
    exp = np.array(np.frombuffer(plte, dtype=np.uint8).reshape(4, 3))[idx]
    np.testing.assert_array_equal(got, exp)

    # out-of-range index is a hard error, not silent black
    bad_raw = bytearray()
    for row in (idx + 10):
        bad_raw.append(0)
        bad_raw.extend(row.tobytes())
    bad = (PNG_MAGIC
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", plte)
           + _chunk(b"IDAT", zlib.compress(bytes(bad_raw)))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(bad)
    # palette image without PLTE
    noplte = (PNG_MAGIC
              + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 8, 3, 0, 0, 0))
              + _chunk(b"IDAT", zlib.compress(bytes(raw)))
              + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(noplte)


def test_image_features_corrupt_blob_falls_back_not_aborts(spark):
    """Review regression: a text blob that happens to start with 'BM'
    (or a PNG with corrupt IDAT) must hit the on_undecodable handler —
    struct/zlib errors normalize to ValueError inside decode_image
    instead of aborting the whole job."""
    from riko_spark.functions.imagecodec import decode_image
    from riko_spark.operators.multimodal import image_features_op

    ok_png = encode_png(_px(4, 4, 1, seed=1))
    corrupt_png = bytearray(ok_png)
    corrupt_png[40] ^= 0xFF  # stomp IDAT -> zlib error
    rows = [(1, bytearray(b"BM plain text that is not a bitmap")),
            (2, corrupt_png),
            (3, bytearray(ok_png))]
    for blob in (bytes(rows[0][1]), bytes(rows[1][1])):
        with pytest.raises(ValueError):
            decode_image(blob)
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = {r["id"]: r for r in image_features_op(df).collect()}
    assert out[1]["channels"] == 0 and out[2]["channels"] == 0  # stubbed
    assert out[3]["channels"] == 1  # real decode still works
    skipped = image_features_op(df, {"on_undecodable": "skip"}).collect()
    assert [r["id"] for r in skipped] == [3]


def test_sniff_media_type_riff_forms():
    from riko_spark.operators.multimodal import sniff_media_type

    assert sniff_media_type(b"RIFF\x10\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert sniff_media_type(b"RIFF\x10\x00\x00\x00AVI LIST") == "video/avi"
    assert sniff_media_type(b"RIFF\x10\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert sniff_media_type(b"RIFF\x10\x00\x00\x00JUNK") == "application/riff"
    assert sniff_media_type(b"\x89PNGxxxx") == "image/png"


# ------------------------------------------------------------ AVI video

def _hand_avi(frames_px):
    """Hand-assemble a minimal AVI (independent of encode_avi): RIFF
    'AVI ' + LIST hdrl(avih + LIST strl(strh+strf)) + LIST movi with
    one raw-DIB '00db' chunk per frame."""
    import numpy as _np

    h, w, _c = frames_px[0].shape
    row_len = (w * 3 + 3) & ~3

    def ch(tag, body):
        pad = b"\0" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def li(form, body):
        return ch(b"LIST", form + body)

    avih = struct.pack("<IIIIIIIIIIIIII", 40000, 0, 0, 0x10,
                       len(frames_px), 0, 1, row_len * h, w, h, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0,
                       0, 1, 25, 0, len(frames_px), row_len * h, 0, 0,
                       0, 0, w, h)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_len * h,
                       0, 0, 0, 0)
    movi_body = b""
    for px in frames_px:
        dib = b""
        for y in range(h - 1, -1, -1):
            dib += bytes(int(px[y, x, 2 - k]) for x in range(w)
                         for k in range(3))
            dib += b"\0" * (row_len - w * 3)
        movi_body += ch(b"00db", dib)
    return ch(b"RIFF", b"AVI "
              + li(b"hdrl", ch(b"avih", avih)
                   + li(b"strl", ch(b"strh", strh) + ch(b"strf", strf)))
              + li(b"movi", movi_body))


def test_avi_decode_hand_built():
    from riko_spark.functions.avicodec import decode_avi_frames

    f0, f1 = _px(3, 5, 3, seed=20), _px(3, 5, 3, seed=21)
    w, h, got = decode_avi_frames(_hand_avi([f0, f1]))
    assert (w, h, len(got)) == (5, 3, 2)
    np.testing.assert_array_equal(got[0], f0)
    np.testing.assert_array_equal(got[1], f1)


def test_avi_roundtrip_and_rejects():
    from riko_spark.functions.avicodec import (decode_avi_frames,
                                               encode_avi)

    frames = [_px(4, 6, 3, seed=s) for s in range(3)]
    w, h, got = decode_avi_frames(encode_avi(frames))
    assert (w, h, len(got)) == (6, 4, 3)
    for a, b in zip(got, frames):
        np.testing.assert_array_equal(a, b)

    with pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # compressed strf rejected with a clear message
    data = bytearray(encode_avi(frames))
    i = data.index(struct.pack("<IiiHH", 40, 6, 4, 1, 24))
    comp_off = i + 16  # biCompression field inside strf
    data[comp_off:comp_off + 4] = struct.pack("<I", 0x34363248)  # 'H264'
    with pytest.raises(ValueError, match="codec library"):
        decode_avi_frames(bytes(data))
    with pytest.raises(ValueError, match="corrupt|no decodable"):
        decode_avi_frames(b"RIFF\x20\x00\x00\x00AVI " + b"\x01" * 8)


def test_frame_sample_real_avi_and_stub_fallback(spark):
    from riko_spark.operators.multimodal import frame_sample_op

    from riko_spark.functions.avicodec import encode_avi

    frames = [np.full((2, 2, 3), 10 * i, dtype=np.uint8) for i in range(6)]
    avi = encode_avi(frames)
    rows = [(1, bytearray(avi)), (2, bytearray(b"just text bytes" * 10))]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = frame_sample_op(df, {"every": 2, "max_frames": 2}).collect()
    real = sorted((r["frame_idx"], bytes(r["frame"])) for r in out
                  if r["id"] == 1)
    # every 2nd frame, capped at 2: frames 0 and 2; DIB payload of a
    # 2x2 constant frame = 2 rows x (6 px bytes + 2 pad)
    assert [i for i, _ in real] == [0, 2]
    assert real[0][1] == bytes([0, 0, 0] * 2 + [0, 0]) * 2
    assert real[1][1] == bytes([20, 20, 20] * 2 + [0, 0]) * 2
    assert any(r["id"] == 2 for r in out)  # stub path still UDTF-shaped


def test_video_frames_op_pixel_sums(spark):
    from riko_spark.functions.avicodec import encode_avi
    from riko_spark.operators.multimodal import video_frames_op

    frames = [_px(3, 4, 3, seed=30 + i) for i in range(5)]
    df = spark.createDataFrame([(9, bytearray(encode_avi(frames)))],
                               "id long, blob binary")
    out = sorted(video_frames_op(df, {"every": 2, "max_frames": 8}).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 2, 4]
    for r in out:
        assert (r["width"], r["height"]) == (4, 3)
        assert r["px_sum"] == int(frames[r["frame_idx"]].astype(np.int64).sum())


def test_png_adam7_interlaced_hand_built():
    """Interlace method 1: the test scatters pixels into the seven
    Adam7 passes itself (independent pass math) with filter 0 rows;
    the decoder must reassemble the original image.  Odd dims exercise
    empty/partial passes."""
    # spec table hard-coded here (PNG spec §8.2), NOT imported from the
    # decoder — a wrong table in the codec cannot self-certify
    adam7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    for (h, w, c) in [(5, 7, 3), (8, 8, 1), (1, 1, 1), (2, 3, 4), (9, 10, 2)]:
        px = _px(h, w, c, seed=h * 10 + w)
        raw = bytearray()
        for x0, y0, xs, ys in adam7:
            sub = px[y0::ys, x0::xs]
            if sub.size == 0:
                continue
            for row in sub:
                raw.append(0)
                raw.extend(row.reshape(-1).tobytes())
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        data = (PNG_MAGIC
                + _chunk(b"IHDR",
                         struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1))
                + _chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _chunk(b"IEND", b""))
        got_w, got_h, got_c, got = decode_png(data)
        assert (got_w, got_h, got_c) == (w, h, c)
        np.testing.assert_array_equal(got, px)


def test_image_dhash_properties(spark):
    """dHash: stable across formats for the same pixels, invariant to
    non-clipping brightness shift (gradient signs preserved), differs
    for a different image, and skips undecodable blobs by default."""
    from riko_spark.operators.multimodal import image_dhash_op

    base = _px(16, 16, 1, seed=40).astype(np.int16)
    base = (base // 2 + 30).astype(np.uint8)  # keep +20 shift clip-free
    shifted = (base + 20).astype(np.uint8)
    other = _px(16, 16, 1, seed=41)
    rows = [
        (1, bytearray(encode_png(base))),
        (2, bytearray(encode_bmp(np.repeat(base, 3, axis=2)))),
        (3, bytearray(encode_png(shifted))),
        (4, bytearray(encode_png(other))),
        (5, bytearray(b"\xff\xd8\xffJPEG junk")),
    ]
    df = spark.createDataFrame(rows, "id long, blob binary")
    got = {r["id"]: r["dhash"] for r in image_dhash_op(df).collect()}
    assert 5 not in got  # undecodable skipped
    assert got[1] == got[2]  # same pixels, different container
    assert got[1] == got[3]  # brightness shift invariant
    assert got[1] != got[4]  # different image

    with pytest.raises(Exception):
        image_dhash_op(df, {"on_undecodable": "raise"}).collect()


def test_avi_audio_stream_listed_before_video():
    """Review regression: a spec-valid AVI lists strl(audio) BEFORE
    strl(video); the walk must match strf chunks to their strh fccType
    instead of grabbing the first strf (a 16-byte WAVEFORMATEX) as the
    video format."""
    from riko_spark.functions.avicodec import decode_avi_frames, encode_avi

    frames = [_px(3, 4, 3, seed=50)]
    base = bytearray(encode_avi(frames))

    def ch(tag, body):
        pad = b"\0" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def li(form, body):
        return ch(b"LIST", form + body)

    # audio strl: 'auds' strh + 16-byte WAVEFORMATEX strf (PCM mono)
    astrh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"auds", b"\0\0\0\0",
                        0, 0, 0, 0, 1, 8000, 0, 100, 0, 0, 2, 0, 0, 0, 0)
    astrf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    audio_strl = li(b"strl", ch(b"strh", astrh) + ch(b"strf", astrf))
    # splice the audio strl in FRONT of the video strl inside hdrl
    i = bytes(base).index(b"LIST")  # hdrl LIST
    hdrl_len = struct.unpack_from("<I", base, i + 4)[0]
    vid_start = bytes(base).index(b"LIST", i + 8)  # first strl
    patched = (bytes(base[:i + 8])  # up to 'hdrl' form tag end... keep avih
               + bytes(base[i + 8:vid_start])  # avih chunk
               + audio_strl
               + bytes(base[vid_start:]))
    # fix the hdrl LIST length
    patched = bytearray(patched)
    struct.pack_into("<I", patched, i + 4, hdrl_len + len(audio_strl))
    w, h, got = decode_avi_frames(bytes(patched))
    assert (w, h, len(got)) == (4, 3, 1)
    np.testing.assert_array_equal(got[0], frames[0])


def test_jpeg_dims_parse():
    """SOF marker walk on a hand-built JPEG header stream: APP0 +
    comment + DQT-ish filler before SOF0, dims read without any pixel
    decode; progressive SOF2 also parses; DHT (C4) is NOT a frame
    marker."""
    from riko_spark.functions.imagecodec import parse_jpeg_dims

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    com = seg(0xFE, b"hand built")
    dht = seg(0xC4, b"\x00" + bytes(16) + b"\x01")  # must be skipped
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, 480, 640, 3) + b"\x01\x11\x00" * 3)
    data = b"\xff\xd8" + app0 + com + dht + sof0 + b"\xff\xd9"
    assert parse_jpeg_dims(data) == (640, 480, 3)

    sof2 = seg(0xC2, struct.pack(">BHHB", 8, 33, 77, 1) + b"\x01\x11\x00")
    assert parse_jpeg_dims(b"\xff\xd8" + sof2) == (77, 33, 1)

    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg_dims(b"\x89PNG")
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_dims(b"\xff\xd8" + app0 + b"\xff\xd9")


def test_image_features_jpeg_real_dims_stub_features(spark):
    from riko_spark.operators.multimodal import image_features_op

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    jpeg = (b"\xff\xd8"
            + seg(0xC0, struct.pack(">BHHB", 8, 120, 200, 3) + b"\x01\x11\x00" * 3)
            + b"\xff\xd9")
    df = spark.createDataFrame([(1, bytearray(jpeg))], "id long, blob binary")
    (r,) = image_features_op(df).collect()
    assert (r["width"], r["height"]) == (200, 120)  # REAL header dims
    assert r["channels"] == 0  # features remain marked synthetic
    assert len(r["feature"]) == 16


def test_image_neardup_planted_recall_and_parity(spark):
    """image_neardup (dHash -> banded self-join -> exact hamming) must
    find every planted one-pixel-edit copy pair, and its full output
    must equal a brute-force hamming join over image_dhash_op
    signatures (the banding may only lose pairs with hamming > bands-1,
    which the brute force filters identically)."""
    import numpy as np
    import pandas as pd

    from riko_spark.functions.imagecodec import encode_png
    from riko_spark.operators.multimodal import (image_dhash_op,
                                                 image_neardup_op)

    rows = []
    rng = np.random.RandomState(42)
    for i in range(12):
        w, h = 8 + 4 * (i % 4), 8 + 4 * ((i * 3 + 1) % 4)
        v = ((np.add.outer(5 * np.arange(h), 3 * np.arange(w)) + 17 * i)
             % 251).astype(np.uint8)
        rows.append((i, bytearray(encode_png(v))))
        vc = v.copy()
        vc[0, 0] = (int(vc[0, 0]) + 7) % 251  # one-pixel near dup
        rows.append((100 + i, bytearray(encode_png(vc))))
        noise = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        rows.append((200 + i, bytearray(encode_png(noise))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "blob"]))

    out = {(r.left_id, r.right_id): r.hamming
           for r in image_neardup_op(df).collect()}
    sigs = {r.id: r.dhash for r in image_dhash_op(df).collect()}
    brute = {}
    ids = sorted(sigs)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ham = bin((sigs[ids[a]] ^ sigs[ids[b]]) & (2**64 - 1)).count("1")
            if ham <= 7:
                # banding recall is GUARANTEED for hamming <= bands-1
                brute[(ids[a], ids[b])] = ham
    assert out == brute
    for i in range(12):  # every planted copy pair is found
        assert (i, 100 + i) in out, f"missed planted pair {i}"


# ------------------------------------------------------------ MJPEG AVI

def _mjpeg_gray_frames(n, bh=2, bw=3, seed=60):
    """Block-constant 8x8-tiled gray frames — the ones-quant JPEG
    round trip is EXACT for these (only the integer DC survives), so
    MJPEG AVI assertions stay integer-exact like the DIB ones."""
    rng = np.random.RandomState(seed)
    return [np.repeat(np.repeat(
        rng.randint(0, 256, size=(bh, bw)).astype(np.uint8), 8, 0), 8, 1)
        for _ in range(n)]


def test_avi_mjpeg_roundtrip_gray_exact():
    from riko_spark.functions.avicodec import (avi_frame_payloads,
                                               decode_avi_frames,
                                               encode_avi)

    frames = _mjpeg_gray_frames(3)
    avi = encode_avi(frames, codec="mjpg")
    w, h, bpp, codec, payloads = avi_frame_payloads(avi)
    assert (w, h, codec, len(payloads)) == (24, 16, "mjpg", 3)
    for p in payloads:  # each chunk is a standalone SOI..EOI JPEG
        assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    gw, gh, got = decode_avi_frames(avi)
    assert (gw, gh, len(got)) == (24, 16, 3)
    for a, b in zip(got, frames):
        assert a.shape == (16, 24, 1)
        np.testing.assert_array_equal(a[:, :, 0], b)


def test_avi_mjpeg_rgb_exact_and_dim_mismatch():
    from riko_spark.functions.avicodec import (decode_avi_frames,
                                               decode_frame_payload,
                                               encode_avi)
    from riko_spark.functions.jpegcodec import encode_jpeg

    # R=G=B block-constant: Y==v, Cb==Cr==128 -> bit-exact round trip
    rng = np.random.RandomState(61)
    bv = rng.randint(0, 251, size=(2, 2)).astype(np.uint8)
    g = np.repeat(np.repeat(bv, 8, 0), 8, 1)
    frames = [np.stack([g, g, g], axis=2), np.stack([g.T, g.T, g.T], axis=2).transpose(1, 0, 2)]
    w, h, got = decode_avi_frames(encode_avi(frames, codec="mjpg"))
    assert (w, h, len(got)) == (16, 16, 2)
    np.testing.assert_array_equal(got[0], frames[0])

    # a frame whose own SOF dims disagree with the container strf raises
    wrong = encode_jpeg(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError, match="container strf"):
        decode_frame_payload(wrong, 16, 16, 24, "mjpg")


def test_avi_mjpeg_dib_backcompat_rejects():
    """avi_dib_payloads is the raw-DIB-only compatibility surface: an
    MJPEG stream must raise there, not hand back JPEG bytes as DIBs."""
    from riko_spark.functions.avicodec import avi_dib_payloads, encode_avi

    avi = encode_avi(_mjpeg_gray_frames(2), codec="mjpg")
    with pytest.raises(ValueError, match="raw DIB"):
        avi_dib_payloads(avi)


def test_video_frames_op_mjpeg_pixel_sums(spark):
    from riko_spark.functions.avicodec import encode_avi
    from riko_spark.operators.multimodal import video_frames_op

    frames = _mjpeg_gray_frames(5, seed=62)
    df = spark.createDataFrame([(7, bytearray(encode_avi(frames,
                                                         codec="mjpg")))],
                               "id long, blob binary")
    out = sorted(video_frames_op(df, {"every": 2, "max_frames": 8}).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 2, 4]
    for r in out:
        assert (r["width"], r["height"]) == (24, 16)
        # gray MJPEG decodes to one channel: sum == planted pixel sum
        assert r["px_sum"] == int(frames[r["frame_idx"]].astype(np.int64).sum())


def test_video_frames_op_mjpeg_corrupt_frame_skips(spark):
    """One zeroed-out '00dc' chunk body drops that frame in skip mode
    (the rest of the blob still decodes) and aborts in raise mode."""
    from riko_spark.functions.avicodec import encode_avi
    from riko_spark.operators.multimodal import video_frames_op

    frames = _mjpeg_gray_frames(3, seed=63)
    avi = bytearray(encode_avi(frames, codec="mjpg"))
    # find the SECOND frame chunk and zero its body in place
    first = bytes(avi).index(b"00dc")
    second = bytes(avi).index(b"00dc", first + 4)
    (ln,) = struct.unpack_from("<I", avi, second + 4)
    avi[second + 8: second + 8 + ln] = b"\0" * ln
    df = spark.createDataFrame([(1, bytearray(avi))], "id long, blob binary")
    out = sorted(video_frames_op(df, {"every": 1, "max_frames": 8}).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 2]
    for r in out:
        assert r["px_sum"] == int(frames[r["frame_idx"]].astype(np.int64).sum())
    with pytest.raises(Exception):
        video_frames_op(df, {"every": 1, "on_undecodable": "raise"}).collect()


def test_frame_sample_mjpeg_payloads(spark):
    """frame_sample forwards the sampled '00dc' payloads verbatim —
    each emitted frame is a standalone baseline JPEG."""
    from riko_spark.functions.avicodec import encode_avi
    from riko_spark.operators.multimodal import frame_sample_op

    frames = _mjpeg_gray_frames(6, seed=64)
    df = spark.createDataFrame(
        [(1, bytearray(encode_avi(frames, codec="mjpg")))],
        "id long, blob binary")
    out = sorted(frame_sample_op(df, {"every": 3, "max_frames": 2}).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 3]
    from riko_spark.functions.jpegcodec import decode_jpeg
    for r in out:
        w, h, c, px = decode_jpeg(bytes(r["frame"]))
        assert (w, h, c) == (24, 16, 1)
        np.testing.assert_array_equal(px[:, :, 0], frames[r["frame_idx"]])
