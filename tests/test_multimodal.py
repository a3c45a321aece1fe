"""Multimodal tests: real PPM/BMP/WAV codecs, Arrow batch shape, and
stub gating for codecs that genuinely need PIL/ffmpeg."""

import math
import struct

import numpy as np
import pytest

from hogzilla_spark.operators import multimodal as MM

def _media(spark, n):
    return spark.createDataFrame(MM.synthetic_media_rows(n), MM.MEDIA_SCHEMA)

def test_ppm_roundtrip_and_features():
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(MM.decode_ppm(MM.encode_ppm(img)), img)
    feats = MM.image_features(img)
    gray = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    assert feats[0] == pytest.approx(gray.mean() / 255.0)
    assert feats[1] == pytest.approx(gray.std() / 255.0)
    assert sum(feats[2:]) == pytest.approx(1.0)  # histogram normalized

def test_bmp_decode_known_bytes():
    # hand-built 2x2 bottom-up 24bpp BMP: rows pad to 4 bytes (2*3→8)
    px_bottom = [(255, 0, 0), (0, 255, 0)]  # row y=1 in image coords
    px_top = [(0, 0, 255), (255, 255, 255)]  # row y=0
    rows = b""
    for r in (px_bottom, px_top):  # bottom-up storage
        for (R, G, B) in r:
            rows += bytes([B, G, R])
        rows += b"\x00\x00"  # padding
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    img = MM.decode_bmp(header + dib + rows)
    assert img.shape == (2, 2, 3)
    assert tuple(img[0, 0]) == (0, 0, 255) and tuple(img[0, 1]) == (255, 255, 255)
    assert tuple(img[1, 0]) == (255, 0, 0) and tuple(img[1, 1]) == (0, 255, 0)

def test_wav_roundtrip_and_features():
    rate = 8000
    t = np.arange(800) / rate
    sig = 0.5 * np.sin(2 * math.pi * 440.0 * t)
    back, got_rate = MM.decode_wav(MM.encode_wav(sig, rate))
    assert got_rate == rate
    assert np.abs(back - sig).max() < 1e-3  # 16-bit quantization only
    feats = MM.audio_features(back)
    assert feats[0] == pytest.approx(0.5 / math.sqrt(2), abs=1e-2)  # sine RMS
    assert 0.05 < feats[1] < 0.2  # 440 Hz at 8 kHz → ~0.11 crossings/sample

def test_decode_and_featurize_real_codecs(spark):
    media = _media(spark, 12)
    out = MM.decode_and_featurize(media)
    rows = out.collect()
    assert len(rows) == 12
    assert all(len(r.feature) == 8 for r in rows)
    assert all(len(r.sha256) == 64 for r in rows)
    # image rows (i%3==0) carry a real normalized histogram in [2:]
    for r in rows:
        if r.media_id % 3 == 0:
            assert sum(r.feature[2:]) == pytest.approx(1.0, abs=1e-5)
        if r.media_id % 3 == 1:  # audio: RMS of a 0.5-amp sine
            assert r.feature[0] == pytest.approx(0.5 / math.sqrt(2), abs=2e-2)
    # deterministic: same payload → same feature
    again = {r.media_id: r.feature for r in MM.decode_and_featurize(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)

def test_strict_mode_surfaces_stub_for_compressed_video_only(spark):
    # videos at i=2,5,8 cycle mjpeg-mp4, gif, avc1-mp4: only the avc1
    # row (media_id 8) is genuinely undecodable without ffmpeg
    media = _media(spark, 9)
    with pytest.raises(Exception, match="NotImplementedError|not decodable"):
        MM.decode_and_featurize(media, strict=True).collect()
    decodable = media.filter("media_id != 8")
    assert MM.decode_and_featurize(decodable, strict=True).count() == 8

# --- PNG codec --------------------------------------------------------------

def _rand_img(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)

@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter(filter_type):
    img = _rand_img(13, 9, seed=filter_type)
    back = MM.decode_png(MM.encode_png(img, filter_type=filter_type))
    assert np.array_equal(back, img)

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )

def _raw_png(w, h, depth, color, pixdata: bytes, extra: bytes = b"") -> bytes:
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        MM._PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + extra
        + _png_chunk(b"IDAT", zlib.compress(pixdata))
        + _png_chunk(b"IEND", b"")
    )

def test_png_grayscale_palette_alpha_16bit():
    # grayscale 2x2 (filter 0 rows)
    gray = _raw_png(2, 2, 8, 0, b"\x00\x0a\x14\x00\x1e\x28")
    assert np.array_equal(
        MM.decode_png(gray), np.array([[[10] * 3, [20] * 3], [[30] * 3, [40] * 3]])
    )
    # palette 2x1: indices 1,0 over a 2-entry PLTE
    plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 0, 255]))
    pal = _raw_png(2, 1, 8, 3, b"\x00\x01\x00", extra=plte)
    assert np.array_equal(MM.decode_png(pal), np.array([[[0, 0, 255], [255, 0, 0]]]))
    # RGBA 1x1: alpha dropped
    rgba = _raw_png(1, 1, 8, 6, b"\x00\x11\x22\x33\x80")
    assert np.array_equal(MM.decode_png(rgba), np.array([[[0x11, 0x22, 0x33]]]))
    # gray+alpha 1x1
    ga = _raw_png(1, 1, 8, 4, b"\x00\x55\xff")
    assert np.array_equal(MM.decode_png(ga), np.array([[[0x55] * 3]]))
    # 16-bit RGB 1x1: high bytes win
    rgb16 = _raw_png(1, 1, 16, 2, b"\x00" + b"\xab\x01\xcd\x02\xef\x03")
    assert np.array_equal(MM.decode_png(rgb16), np.array([[[0xAB, 0xCD, 0xEF]]]))

def test_png_rejects_corruption_and_interlace():
    img = _rand_img(4, 4)
    good = MM.encode_png(img)
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError):
        MM.decode_png(bytes(bad))
    interlaced = bytearray(good)
    interlaced[8 + 8 + 12] = 1  # IHDR interlace flag
    # fix the IHDR CRC so the interlace path (not CRC) is what raises
    import zlib as _z

    ihdr = bytes(interlaced[16:29])
    interlaced[29:33] = struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(NotImplementedError, match="interlaced"):
        MM.decode_png(bytes(interlaced))

# --- GIF codec --------------------------------------------------------------

def test_gif_lzw_roundtrip_with_dict_overflow():
    rng = np.random.default_rng(3)
    # 64k random 8-bit indices force the 4096-entry dict to overflow and
    # exercise the clear-code reset path in both directions
    idx = rng.integers(0, 256, 65536).tolist()
    assert MM._lzw_decode(MM._lzw_encode(idx, 8), 8) == idx
    # tiny alphabet → width growth from 3 bits upward
    idx2 = rng.integers(0, 4, 5000).tolist()
    assert MM._lzw_decode(MM._lzw_encode(idx2, 2), 2) == idx2

def test_gif_animated_roundtrip():
    rng = np.random.default_rng(5)
    frames = [
        (rng.integers(0, 6, (7, 9, 3)) * 40).astype(np.uint8) for _ in range(4)
    ]
    payload = MM.encode_gif(frames, delay_ms=250)
    got = MM.decode_gif(payload)
    assert [t for t, _ in got] == [0, 250, 500, 750]
    for (t, img), want in zip(got, frames):
        assert np.array_equal(img, want)

def test_gif_transparency_and_disposal():
    # frame 1: full red; frame 2: 1x1 green patch at (1,1) with disposal 2
    red = np.zeros((3, 3, 3), np.uint8)
    red[:, :, 0] = 255
    base = MM.encode_gif([red], delay_ms=100)
    # append a second frame manually: GCE disposal=2, then 1x1 image at (1,1)
    gce = b"\x21\xf9\x04" + bytes([0x08 | 0x04, 10, 0, 0, 0])
    lct = bytes([0, 255, 0] * 2)  # 2-entry table, color 0 = green
    desc = b"\x2c" + struct.pack("<HHHHB", 1, 1, 1, 1, 0x80)
    lzw = MM._lzw_encode([0], 2)
    frame2 = gce + desc + lct + bytes([2, len(lzw)]) + lzw + b"\x00"
    payload = base[:-1] + frame2 + b"\x3b"
    got = MM.decode_gif(payload)
    assert len(got) == 2
    assert np.array_equal(got[0][1], red)
    expect2 = red.copy()
    expect2[1, 1] = [0, 255, 0]
    assert np.array_equal(got[1][1], expect2)

def test_png_features_match_ppm_features(spark):
    """A PNG and a PPM of the same pixels must featurize identically —
    proves the PNG path decodes pixels, not a fake embedding."""
    img = _rand_img(6, 8, seed=7)
    rows = [
        (0, "image", "ppm", 8, 6, 0, MM.encode_ppm(img)),
        (1, "image", "png", 8, 6, 0, MM.encode_png(img, filter_type=4)),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in MM.decode_and_featurize(media, strict=True).collect()}
    assert feats[0] == feats[1]
